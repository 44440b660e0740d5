"""Named queries — the engine's driver-checked surface.

Every entry here implements an operator (or operator composition) from
SURVEY.md §2 and has, where SQL-expressible, a matching DuckDB oracle in
``sparkdiff.oracles``.  Each callable takes ``(spark, sf_dir)`` and
returns a lazy DataFrame.

Determinism rules (so the driver's order-insensitive value-hash matches):

- every computed column is explicitly aliased, identically to the oracle;
- double aggregation goes through exact integer/decimal arithmetic and is
  cast to double only at the end (Spark's partial-agg order can otherwise
  flip low bits vs a serial oracle);
- every top-k / argmax has a total tiebreak order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkdiff import testkit
from sparkdiff.functions.canonical import content_checksum
from sparkdiff.operators.diff import cell_diff, presence_diff, table_metrics
from sparkdiff.session import load_table, widen


def _cents(col: str | F.Column) -> F.Column:
    """Exact integer-cents representation of a 2-decimal double column.

    Integer arithmetic is associative, so distributed partial aggregation
    yields bit-identical results to any serial oracle — the determinism
    backbone for money-typed aggregates.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100, 0).cast("long")


# ---------------------------------------------------------------------------
# Diff family (SURVEY §2.3 J1/J4, §2.4 A1/A9/A10, §2.8 F6) — flagship
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped rollup over lineitem (SURVEY §2.4 A7/A10 class).

    Money math in integer cents (see ``_cents``) so the distributed sum is
    exact; rendered as doubles at the end.
    """
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    qty_c = _cents("l_quantity")
    price_c = _cents("l_extendedprice")
    disc_c = _cents("l_discount")
    tax_c = _cents("l_tax")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_c) / F.lit(100.0)).alias("sum_qty"),
            (F.sum(price_c) / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(price_c * (100 - disc_c)) / F.lit(10_000.0)).alias(
                "sum_disc_price"
            ),
            (F.sum(price_c * (100 - disc_c) * (100 + tax_c)) / F.lit(1e6)).alias(
                "sum_charge"
            ),
            (
                F.sum(qty_c).cast("double") / (F.count(F.lit(1)) * F.lit(100.0))
            ).alias("avg_qty"),
            (
                F.sum(price_c).cast("double") / (F.count(F.lit(1)) * F.lit(100.0))
            ).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q02_presence_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-presence diff on the perturbed pair (J1: pandas outer-merge with
    indicator → pk-only full-outer join)."""
    hive, sf = testkit.hive_sf_pair(spark, sf_dir)
    return presence_diff(hive, sf, "c_custkey")


def q03_cell_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-level diff with excluded column suppressed (J4 + X1: the
    per-id stored-proc loop as ONE distributed job)."""
    hive, sf = testkit.hive_sf_pair(spark, sf_dir)
    return cell_diff(hive, sf, "c_custkey", exclude_cols=testkit.EXCLUDE_COLS)


def q04_metrics_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``dw_data_metrics`` row (A9/A10, ``db-setup.sql:76-102``) with
    PK arrays rendered as sorted comma-joined strings (portable shape)."""
    hive, sf = testkit.hive_sf_pair(spark, sf_dir)
    m = table_metrics(
        hive, sf, "c_custkey", "customer", exclude_cols=testkit.EXCLUDE_COLS
    )
    return m.select(
        "table_name",
        "primary_column",
        "total_record_count_hive",
        "total_record_count_sf",
        "row_count_only_in_hive",
        F.array_join("hive_only_pk_values", ",").alias("hive_only_pks"),
        "row_count_only_in_sf",
        F.array_join("sf_only_pk_values", ",").alias("sf_only_pks"),
        "row_count_data_discrepancy",
    )


# ---------------------------------------------------------------------------
# Workload family (SURVEY §2.3 J2/J3, §2.5 W1/W2, §2.6 T7, §2.7 U1)
# ---------------------------------------------------------------------------

def q05_rownum_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+W2: CASE-derived priority key feeding row_number dedup — the
    ``forOrdering``/``rwn=1`` idiom of ``nw_customer_PRE_300.hql:21-43``."""
    from sparkdiff.operators.workload import case_ordering_key, dedup_latest

    o = load_table(spark, sf_dir, "orders")
    pri = case_ordering_key(
        [
            (F.col("o_orderpriority").like("1-%"), 3),
            (F.col("o_orderpriority").like("2-%"), 2),
        ],
        default=1,
    )
    o = o.withColumn("for_ordering", pri)
    best = dedup_latest(
        o,
        ["o_custkey"],
        [
            F.desc("for_ordering"),
            F.desc("o_orderdate"),
            F.desc("o_orderkey"),
        ],
    )
    return best.select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )


def q06_union_dedup_workload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+J3+W1: union of a joined 'derived' branch and an anti-join
    'non-derived' branch, then row_number dedup — the nw_customer script
    shape end-to-end."""
    from sparkdiff.operators.workload import dedup_latest

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    derived = c.join(o, c.c_custkey == o.o_custkey, "inner").select(
        "c_custkey",
        "c_name",
        F.col("o_orderdate").alias("last_ts"),
        F.col("o_orderkey").alias("tie"),
    )
    underived = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey",
        "c_name",
        F.lit(None).cast("timestamp").alias("last_ts"),
        F.lit(-1).cast("long").alias("tie"),
    )
    unioned = derived.unionByName(underived)
    best = dedup_latest(
        unioned,
        ["c_custkey"],
        [F.desc_nulls_last("last_ts"), F.desc("tie")],
    )
    return best.select(
        "c_custkey", "c_name", F.col("last_ts").cast("date").alias("last_orderdate")
    )


def q07_expr_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: expression-key equi join (substring+equality on derived keys,
    mirroring ``ON sc.x = substr(dw.x,1,20) AND upper(a)=upper(b)``) with
    a broadcast dimension join on top."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    pairs = c.join(
        s,
        (c.c_nationkey == s.s_nationkey)
        & (
            F.upper(F.substring(c.c_name, 10, 3))
            == F.upper(F.substring(s.s_name, 10, 3))
        ),
        "inner",
    )
    return (
        pairs.join(F.broadcast(n), pairs.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def q08_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: ``max_by`` over a struct ordering — the Hive ``collect_max_one``
    UDAF / Snowflake ``SUBSTRING(MAX(CONCAT(pad(ts),val)),14)`` trick
    (converter rule 13) as a native one-pass aggregate."""
    o = load_table(spark, sf_dir, "orders")
    ordering = F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderstatus", ordering).alias("last_status"),
        F.max_by(F.col("o_orderdate").cast("date"), ordering).alias(
            "last_orderdate"
        ),
    )


def q09_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: conditional sums (the closed/open/high-priority counters of
    ``slack_search_agent.py:460-463``) over order statuses."""
    o = load_table(spark, sf_dir, "orders")
    flag = lambda v: F.sum((F.col("o_orderstatus") == v).cast("long"))
    return o.groupBy("o_orderpriority").agg(
        flag("O").alias("n_open"),
        flag("F").alias("n_filled"),
        flag("P").alias("n_partial"),
        F.count(F.lit(1)).alias("n_total"),
        (F.sum(_cents("o_totalprice")) / F.lit(100.0)).alias("total_price"),
    )


def q10_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: histogram counts per key (status/priority/project counters of
    ``slack_search_agent.py:449-457``) over the events stream table."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
        ).alias("sum_value"),
    )


def q11_argmax_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: arg-max of a histogram ('most common status',
    ``slack_search_agent.py:470-482``) with a total tiebreak."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
        .limit(1)
    )


def q12_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: top-3 per group (top-3-per-platform budget of
    ``mcp_enhanced_search_agent.py:1090-1144``): biggest 3 orders per
    customer."""
    from sparkdiff.operators.workload import top_k_per_group

    o = load_table(spark, sf_dir, "orders")
    top = top_k_per_group(
        o,
        ["o_custkey"],
        [F.desc("o_totalprice"), F.desc("o_orderkey")],
        k=3,
    )
    return top.select("o_custkey", "o_orderkey", "o_totalprice", "rank")


def q13_minmax_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: MIN/MAX rollups per business key (``MIN(RowCreated),
    MAX(RowModified), MAX(Batch)``, converter example)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_partkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("first_ship"),
        F.max(F.col("l_shipdate").cast("date")).alias("last_ship"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q14_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5+P1: distinct-count aggregates ('#channels', '#spaces') and a
    distinct projection count in one pass."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Text / search analytics (SURVEY §2.8 F13–F21, §2.2 P9/P13, §2.7 U4/U5)
# plus training-data text analysis (lang-ID, quality, tokens, fingerprints)
# ---------------------------------------------------------------------------

SEARCH_TERMS = ["slow", "error", "merge"]


def q15_keyword_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9+F16: term-hit filter and +10/+5 scoring
    (``slack_tool.py:259-264``, ``slack_search_agent.py:660-673``)."""
    from sparkdiff.functions.text import term_hit_score, term_hits

    d = load_table(spark, sf_dir, "documents")
    resolved = F.col("source").isin("src1", "src2")
    scored = d.select(
        "doc_id",
        term_hits("text", SEARCH_TERMS).alias("n_hits"),
        term_hit_score("text", SEARCH_TERMS, resolved).cast("long").alias("score"),
    )
    return scored.filter(F.col("n_hits") > 0)


def q16_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: token-set Jaccard similarity between document pairs
    (``jira_tool.py:424-435``)."""
    from sparkdiff.functions.text import jaccard, tokens

    d = load_table(spark, sf_dir, "documents")
    # Join RAW texts first, tokenize after (round-9 batch-10): the join
    # carries strings instead of token arrays (the broadcast side ships
    # fewer bytes), and both tokenizations + the Jaccard set ops run in
    # the post-join projection — which the raw-text repartition widens
    # to full parallelism on a single-split scan (same jaccard∘tokens
    # expressions over the same pairs, so values are identical).
    a = widen(
        d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")),
        sf_dir,
        "documents",
    )
    b = d.select(
        (F.col("doc_id") - 250).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
    )
    return (
        a.join(b, "doc_a", "inner")
        .select(
            "doc_a",
            "doc_b",
            jaccard(tokens("text_a"), tokens("text_b")).alias("jaccard"),
        )
    )


def q17_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 + token counting: whitespace tokens, BPE-ish tokens, content
    tokens after stopword removal, mean alnum token length."""
    from sparkdiff.functions.textstats import (
        alnum_len,
        bpe_ish_token_count,
        ws_token_count,
    )
    from sparkdiff.functions.text import raw_tokens, tokens

    d = load_table(spark, sf_dir, "documents")
    # NOTE: the single-split repartition opt-in was A/B'd here and
    # REJECTED (round-9 batch-10: interleaved 0.48/0.51 vs 0.46/0.52 —
    # a wash; four per-row splits are lighter than they look).
    n_raw = F.size(F.filter(raw_tokens("text"), lambda t: F.length(t) > 0))
    return d.select(
        "doc_id",
        ws_token_count("text").alias("n_ws_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.size(tokens("text")).cast("long").alias("n_content_tokens"),
        (
            alnum_len("text").cast("double")
            / F.greatest(n_raw.cast("double"), F.lit(1.0))
        ).alias("mean_token_len"),
    )


def q18_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data quality scoring (length/punct/stopword heuristics)."""
    from sparkdiff.functions.textstats import quality_score

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "source", quality_score("text").alias("quality")
    )


def q19_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via md5 hash-groupBy (U4 class) over a corpus with
    injected duplicates (doc_id%50==0 re-inserted as doc_id+10000)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000
    )
    corpus = d.unionByName(dups)
    return (
        corpus.groupBy(F.md5("text").alias("fp"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_id"),
            F.array_join(
                F.sort_array(F.collect_list(F.col("doc_id").cast("string"))), ","
            ).alias("ids"),
        )
        .filter(F.col("n_copies") > 1)
    )


def q20_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (normalized md5) + canonical-doc election
    per fingerprint group (window min)."""
    from sparkdiff.functions.textstats import fingerprint

    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("fp")
    return (
        d.select("doc_id", fingerprint("text").alias("fp"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("is_canonical", (F.col("doc_id") == F.col("canonical_id")))
    )


def q21_relevance_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15: the weighted relevance blend (semantic/keyword/status+recency)
    of ``slack_search_agent.py:46-87`` with deterministic inputs:
    semantic = Jaccard vs the query tokens, keyword = hit ratio,
    status from source, recency from doc age in days (doc_id mod 1000)."""
    from sparkdiff.functions.text import (
        jaccard,
        recency_score,
        relevance_blend,
        status_weight,
        term_hits,
        tokens,
    )

    d = load_table(spark, sf_dir, "documents")
    # tokenize + Jaccard + substring term-hits per row: heavy enough to
    # widen a single-split scan (round-9 batch-10 A/B).
    d = widen(d.select("doc_id", "source", "text"), sf_dir, "documents")
    query_toks = F.array(*[F.lit(t) for t in SEARCH_TERMS])
    semantic = jaccard(tokens("text"), query_toks)
    keyword = term_hits("text", SEARCH_TERMS).cast("double") / F.lit(
        float(len(SEARCH_TERMS))
    )
    status = F.when(F.col("source").isin("src1", "src2"), "closed").otherwise(
        F.when(F.col("source").isin("src3", "src4"), "resolved").otherwise("open")
    )
    sr = (status_weight(status) + recency_score(F.col("doc_id") % 1000)) / F.lit(
        2.0
    )
    return d.select(
        "doc_id",
        relevance_blend(semantic, keyword, sr).alias("relevance"),
    )


def q22_snippet_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13/F21: windowed snippet extraction around the first hit of a
    term (``discrepancy_suggester_tool.py:85-93`` ±50-line window;
    ``direct_api_fallback.py:242-261`` 'solution:'+300-char variant)."""
    d = load_table(spark, sf_dir, "documents")
    pos = F.locate("slow", F.lower(F.col("text")))
    return (
        d.select(
            "doc_id",
            pos.cast("long").alias("hit_pos"),
            F.substring(
                F.col("text"), F.greatest(F.lit(1), pos - 30), 60
            ).alias("snippet"),
        )
        .filter(F.col("hit_pos") > 0)
    )


def q23_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic rollup: predicted lang vs labeled lang."""
    from sparkdiff.functions.textstats import lang_id

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Dedup + similarity search (training-data pipeline operators; SURVEY §2.8
# F14, §2.10 X6/X7 for the embedding path)
# ---------------------------------------------------------------------------

def q24_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14/X7: exact cosine top-k over the embeddings table (brute-force
    baseline; the broadcast-query plan scans the corpus once)."""
    from sparkdiff.operators.similarity import cosine_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    c = e.filter(F.col("vec_id") % 5 == 0)
    return cosine_topk(q, c, "vec_id", "vec_id", "embedding", "embedding", k=3)


def q25_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection over documents with injected
    near-duplicates (doc_id%25==0 re-inserted with a suffix at
    doc_id+20000).  Uses the md5-derived token hash so the full
    shingle→signature→band→verify pipeline is replayed value-for-value
    by the DuckDB oracle; the xxhash64 fast path is pinned by
    tests/test_dedup.py."""
    from sparkdiff.operators.dedup import near_dup_pairs

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 20_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra suffix words")))
    )
    # widened: a single-file corpus scan otherwise runs the whole
    # tokenize+shingle+signature fan-out in one task (round 9)
    corpus = widen(d.unionByName(dups), sf_dir, "documents")
    return near_dup_pairs(
        corpus,
        "doc_id",
        "text",
        threshold=0.6,
        hash_method="md5",
    )


def q26_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard near-dup with sorted-neighborhood blocking:
    each doc is compared only to neighbors within a bounded id window, so
    the pair count stays LINEAR in corpus size (the all-pairs variant was
    70 s at sf0.1 and O(n²) beyond — this is the exact counterpart that
    LSH (q25) approximates at full scale)."""
    from sparkdiff.operators.dedup import with_char_shingles

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    # persisted: BOTH self-join sides read the shingle sets, and their
    # differing downstream projections (the b side explodes two block
    # keys) defeat exchange reuse — one tokenize+shingle pass instead
    # of two, 1.62s -> 1.12s at sf0.1; MEMORY_AND_DISK spills.
    # widened BEFORE the char-shingle fan-out (q162's convention):
    # one shingle per corpus CHARACTER otherwise built in one task.
    sh = with_char_shingles(
        widen(d.select("doc_id", "text"), sf_dir, "documents"),
        "text",
        3,
        out="shg",
    ).select(
        "doc_id", F.array_distinct("shg").alias("sh")
    ).persist()
    # Equi-join on a block key instead of a pure range condition: a range
    # predicate becomes a nested-loop join whose condition (including the
    # pushed-down Jaccard!) runs on every row pair; with a block key the
    # set intersections only run on same-block pairs inside a hash join.
    # The right side publishes its own and the previous block so pairs
    # crossing a block boundary are still covered.
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.floor(F.col("doc_id") / 100).alias("block"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.explode(
            F.array(
                F.floor(F.col("doc_id") / 100),
                F.floor(F.col("doc_id") / 100) - 1,
            )
        ).alias("block"),
    )
    pairs = a.join(b, "block").filter(
        (F.col("doc_a") < F.col("doc_b"))
        & (F.col("doc_b") <= F.col("doc_a") + 100)
    )
    # One set-op per pair: |A∪B| = |A|+|B|-|A∩B| on the pre-distincted
    # arrays with precomputed sizes (array_union + repeated array_distinct
    # cost ~8 hash-set builds per pair — 10 s for 5k pairs).
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.col("n_a") + F.col("n_b") - inter
    jac = F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )
    return (
        pairs.withColumn("n_a", F.size("sh_a"))
        .withColumn("n_b", F.size("sh_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.25)
    )


def q27_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints over document tokens.  Uses the md5-derived
    60-bit token hash so the per-bit vote pipeline is fully replayed by
    the DuckDB oracle; Hamming-locality of the xxhash64 fast path is
    pinned by tests/test_dedup.py."""
    from sparkdiff.functions.text import tokens
    from sparkdiff.operators.dedup import simhash64

    d = load_table(spark, sf_dir, "documents")
    # NOTE: widening the scan was A/B'd here and REJECTED (round-9
    # batch-10: interleaved 1.25/1.47/1.28 vs 1.22/1.16/1.06 — the
    # exchange + wider 64-agg partial state cost more than the wide md5
    # bought on this input).
    return simhash64(d, "doc_id", tokens("text"), hash_method="md5")


# ---------------------------------------------------------------------------
# Events / time analytics (F12 date functions, F25 JSON, A6 keep-max) and
# sessionization (the batch shape of the streaming extension, §2.9)
# ---------------------------------------------------------------------------

def q28_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup (hourly date_trunc) over the events table —
    the batch equivalent of the streaming windowed agg (§2.9)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def q29_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap > 30 min starts a new session; per-user
    session and event counts (lag + conditional-sum windows)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    gap = ms - F.lag(ms).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1000), 1).otherwise(0)
    per_event = e.select("user_id", is_new.alias("is_new"))
    return per_event.groupBy("user_id").agg(
        F.sum("is_new").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q30_keepmax_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: keep-max dedup — one row per user with the highest-value event
    (``enhanced_thread_search_solution.py:95-101``) via one-pass max_by."""
    from sparkdiff.operators.workload import keep_max

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", "event_type"
    )
    best = keep_max(e, ["user_id"], ["value", "event_id"])
    return best.select("user_id", "event_id", "value", "event_type")


def q31_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F25: JSON parse of the ``props`` column + rollup on the extracted
    field (``from_json``/``get_json_object`` class)."""
    from sparkdiff.session import is_single_split

    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    per_row = e.select("event_type", k.alias("k"))
    # Single-split inputs gain nothing from the post-scan Exchange (the
    # scan is one task at any parallelism); coalesce(1) satisfies the
    # aggregation's distribution requirement so the query fuses into ONE
    # stage — round-9 verdict #2, measured 0.34 -> 0.31 s median at sf0.1
    # interleaved A/B.  Multi-split inputs keep the two-phase shuffle.
    if is_single_split(sf_dir, "events"):
        per_row = per_row.coalesce(1)
    return per_row.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.sum((F.col("k") > 50).cast("long")).alias("n_k_gt50"),
    )


def q32_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: the reference's epoch-millis timestamp idioms —
    ``unix_timestamp()*1000`` columns, ``to_date(from_unixtime(floor(x
    /1000)))``, ``ts + INTERVAL 1 SECOND`` (converter rules 14/32/34/36)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    # parquet ms-timestamps surface as TIMESTAMP_NTZ; session tz is pinned
    # UTC so the cast to (LTZ) TIMESTAMP is value-preserving
    epoch_ms = F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    return o.select(
        "o_orderkey",
        epoch_ms.alias("epoch_ms"),
        F.to_date(F.from_unixtime(F.floor(epoch_ms / 1000))).alias("as_date"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 SECOND")).alias("plus_1s"),
    )


# ---------------------------------------------------------------------------
# Macro expansion + workload-script execution parity (X4/X5, §3.2, J5/S6)
# ---------------------------------------------------------------------------

def q33_macro_workload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+X5 end-to-end: the Hive fixture script (macros, UNION ALL, LIKE
    filters, expression join, CASE ordering key, row_number dedup) is
    macro-expanded, dialect-rewritten and executed natively via
    ``spark.sql``."""
    from sparkdiff.plans.parity import run_script_pair

    hive_df, _ = run_script_pair(spark, sf_dir)
    return hive_df


def q34_script_pair_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole raison d'être in one lineage: run the Hive
    script and its intentionally-divergent Snowflake counterpart, diff
    the outputs, and report exactly the diverging columns (LastName,
    RowModified) with affected-id counts."""
    from sparkdiff.operators.diff import cell_diff
    from sparkdiff.plans.parity import run_script_pair

    hive_df, sf_df = run_script_pair(spark, sf_dir)
    cells = cell_diff(hive_df, sf_df, "ID")
    return cells.groupBy("column_name").agg(
        F.countDistinct("pk_value").alias("n_ids")
    )


# ---------------------------------------------------------------------------
# Entity extraction + lexicon classification + insight rollups (F18-F21,
# P8, P11/P12, U3, A2-A5 combos)
# ---------------------------------------------------------------------------

def q35_entity_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18/U3: regex entity extraction (Jira-key pattern) with distinct +
    sort normalization, over docs with synthesized keys."""
    from sparkdiff.functions.extract import JIRA_KEY_RE, extract_all

    d = load_table(spark, sf_dir, "documents")
    text2 = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(" PROJ-"), F.col("doc_id").cast("string")),
    ).otherwise(F.col("text"))
    keys = extract_all(text2, JIRA_KEY_RE)
    return (
        d.select(
            "doc_id",
            F.array_join(keys, ",").alias("keys"),
            F.size(keys).cast("long").alias("n_keys"),
        )
        .filter(F.col("n_keys") > 0)
    )


def q36_word_boundary_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 + P12/F20: word-boundary containment filter plus lexicon
    classification flags."""
    from sparkdiff.functions.extract import (
        ERROR_KEYWORDS,
        SOLUTION_KEYWORDS,
        contains_word,
        matches_lexicon,
    )

    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(contains_word("text", "merge"))
        .select(
            "doc_id",
            matches_lexicon("text", ERROR_KEYWORDS).alias("has_error"),
            matches_lexicon("text", SOLUTION_KEYWORDS).alias("has_solution"),
        )
    )


def q37_source_insights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-A5 insight rollup (the reference's histogram-insights stage,
    ``slack_search_agent.py:435-571``): per-source doc counts, mean
    length, and error-mention rate."""
    d = load_table(spark, sf_dir, "documents")
    has_err = F.contains(F.lower("text"), F.lit("error")).cast("long")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_chars"),
        (
            F.sum(has_err).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("error_rate"),
    )


# ---------------------------------------------------------------------------
# Metrics discovery, scalar-function surface, md5 change detection
# (S2/P4/T1, F2-F10/F23, J3/P7/F6)
# ---------------------------------------------------------------------------

def q38_metrics_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+P4+T1: the metrics-table discovery scan — keep rows with any
    records and any non-empty PK array, ordered (the exact WHERE/ORDER BY
    of ``tools/snowflake_tool.py:23-39``) — over a literal metrics
    relation shaped like ``db-setup.sql:76-102``."""
    # JVM-side VALUES (a python-list createDataFrame costs ~1.5 s in
    # py4j/Arrow conversion for even 4 rows)
    m = spark.sql("""
        SELECT * FROM VALUES
        (1L, 'CUSTOMER', 'ID', 1500L, 1500L, 0L, array(), 0L, array(), 1L, array('FTP_CSV_11')),
        (2L, 'TRANSACTION', 'ID', 408623L, 408653L, 1L, array('FTP_CSV_12'), 31L, array('KFK_0'), 375448L, array('FTP_CSV_11')),
        (3L, 'EMPTYTABLE', 'ID', 0L, 0L, 0L, array(), 0L, array(), 0L, array()),
        (4L, 'CLEANTABLE', 'ID', 10L, 10L, 0L, array(), 0L, array(), 0L, array())
        AS m(id, table_name, primary_column, total_record_count_hive,
             total_record_count_sf, row_count_only_in_hive, hive_only_pk_values,
             row_count_only_in_sf, sf_only_pk_values,
             row_count_data_discrepancy, data_discrepancy_pk_values)
    """)
    filtered = m.filter(
        (
            (F.col("total_record_count_hive") > 0)
            | (F.col("total_record_count_sf") > 0)
        )
        & (
            (F.size("hive_only_pk_values") > 0)
            | (F.size("sf_only_pk_values") > 0)
            | (F.size("data_discrepancy_pk_values") > 0)
        )
    )
    return filtered.select(
        "table_name",
        "total_record_count_hive",
        "total_record_count_sf",
        F.array_join("data_discrepancy_pk_values", ",").alias("discrepancy_pks"),
    ).orderBy("table_name")


def q39_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dialect function surface in one projection (converter rules
    7/9/10/12/21/35: locate/instr, sha2, md5, split[n], find_in_set,
    url_decode, trim/coalesce/if)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 50 == 0)
    name = F.col("c_name")
    encoded = F.regexp_replace(name, "#", "%23")
    return c.select(
        "c_custkey",
        F.locate("#", name).cast("long").alias("hash_pos"),
        F.instr(name, "0").cast("long").alias("zero_pos"),
        F.sha2(name, 256).alias("name_sha256"),
        F.md5(name).alias("name_md5"),
        F.split(name, "#")[1].alias("num_part"),
        F.find_in_set(
            F.col("c_mktsegment"),
            F.lit("BUILDING,AUTOMOBILE,MACHINERY,HOUSEHOLD,FURNITURE"),
        ).cast("long").alias("segment_slot"),
        F.url_decode(encoded).alias("decoded_name"),
        F.expr("if(c_acctbal >= 0, 'pos', 'neg')").alias("bal_sign"),
        F.trim(F.coalesce(F.col("c_mktsegment"), F.lit(""))).alias("segment"),
    )


def q40_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+P7+F6: the workload's md5-row-hash change detection — sparse
    LEFT OUTER JOIN dw, keep rows whose canonical row fingerprints differ
    (converter example ``script_converter_tool.py:168-170``).  Validates
    ``row_fingerprint`` itself cross-engine (md5 over canonical strings
    must be bit-identical)."""
    from sparkdiff.functions.canonical import row_fingerprint

    hive, sf = testkit.hive_sf_pair(spark, sf_dir)
    cols = ["c_name", "c_nationkey", "c_acctbal"]
    sparse = sf.select(
        F.col("c_custkey").cast("string").alias("pk_value"),
        row_fingerprint(sf, cols).alias("sparse_fp"),
    )
    dw = hive.select(
        F.col("c_custkey").cast("string").alias("pk_value"),
        row_fingerprint(hive, cols).alias("dw_fp"),
    )
    j = sparse.join(dw, "pk_value", "left_outer")
    return j.filter(
        F.col("dw_fp").isNull() | (F.col("sparse_fp") != F.col("dw_fp"))
    ).select("pk_value", "sparse_fp", F.coalesce("dw_fp", F.lit("MISSING")).alias("dw_fp"))


# ---------------------------------------------------------------------------
# Spark-native extensions the reference lacks (SURVEY §2 "MISSING" rows):
# rollup, set ops, full window suite, as-of join, pivot
# ---------------------------------------------------------------------------

def q41_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup totals (free in Spark; absent in reference)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(_cents("o_totalprice")) / F.lit(100.0)).alias("total_price"),
    )


def q42_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational INTERSECT / EXCEPT (§2.7 MISSING): customers with both
    open and filled orders vs only-open."""
    o = load_table(spark, sf_dir, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    filled_c = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    both = open_c.intersect(filled_c).select(
        F.lit("both").alias("tag"), "o_custkey"
    )
    only_open = open_c.exceptAll(filled_c).select(
        F.lit("only_open").alias("tag"), "o_custkey"
    )
    return both.unionByName(only_open)


def q43_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full window-function suite (§2.5 MISSING rows): dense_rank,
    lag/lead, ntile, and a running sum with an explicit ROWS frame."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 20 == 0)
    by_price = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    by_time = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = by_time.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(by_price).cast("long").alias("price_rank"),
        F.lag(F.col("o_orderdate").cast("date")).over(by_time).alias("prev_date"),
        F.lead(F.col("o_orderdate").cast("date")).over(by_time).alias("next_date"),
        (F.sum(_cents("o_totalprice")).over(running) / F.lit(100.0)).alias(
            "running_total"
        ),
        F.ntile(4).over(by_time).cast("long").alias("quartile"),
    )


def q44_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (§2.3 MISSING; no native Spark operator): for each
    click event, the latest error event of the same user at or before
    it.  Union+window composition — one shuffle, no pandas."""
    from sparkdiff.operators.asof import asof_join
    from sparkdiff.operators.workload import keep_max

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.col("event_id").alias("err_event_id"),
        F.col("value").alias("err_value"),
    )
    # unique right rows per (user, ts) so the carried row is well-defined
    errors = keep_max(errors, ["user_id", "ts"], ["err_event_id"])
    joined = asof_join(
        clicks, errors, key="user_id", ts="ts", value_cols=["err_event_id", "err_value"]
    )
    return joined.select(
        "user_id", "event_id", "err_event_id", "err_value"
    )


def q45_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide counts per status) with explicit value list so the
    output schema is static — absent combinations coalesced to 0."""
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_filled"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_partial"),
    )


def q46_lineitem_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP at production scale class: full-table presence + cell
    diff over a perturbed lineitem pair (~600k rows/side at sf0.1 — the
    scale the reference's TRANSACTION metrics imply, where it fell back
    to 3 ids per request).  One full-outer fingerprint join; counts plus
    numeric min/max of the discrepant pks."""
    from sparkdiff.functions.canonical import row_fingerprint

    hive, sf = testkit.lineitem_pair(spark, sf_dir)
    cols = [c for c in hive.columns if c != "li_pk"]
    h = hive.select(
        F.col("li_pk").alias("pk"), row_fingerprint(hive, cols).alias("fp_h")
    )
    s = sf.select(
        F.col("li_pk").alias("pk"), row_fingerprint(sf, cols).alias("fp_s")
    )
    j = h.join(s, "pk", "full_outer")
    hive_only = F.col("fp_s").isNull() & F.col("fp_h").isNotNull()
    sf_only = F.col("fp_h").isNull() & F.col("fp_s").isNotNull()
    mismatch = (
        F.col("fp_h").isNotNull()
        & F.col("fp_s").isNotNull()
        & (F.col("fp_h") != F.col("fp_s"))
    )
    return j.agg(
        F.sum(F.col("fp_h").isNotNull().cast("long")).alias("total_record_count_hive"),
        F.sum(F.col("fp_s").isNotNull().cast("long")).alias("total_record_count_sf"),
        F.sum(hive_only.cast("long")).alias("row_count_only_in_hive"),
        F.sum(sf_only.cast("long")).alias("row_count_only_in_sf"),
        F.sum(mismatch.cast("long")).alias("row_count_data_discrepancy"),
        F.min(F.when(mismatch, F.col("pk"))).alias("min_discrepant_pk"),
        F.max(F.when(mismatch, F.col("pk"))).alias("max_discrepant_pk"),
    )


# ---------------------------------------------------------------------------
# Multi-table join headliners (join planning / broadcast strategy at scale)
# ---------------------------------------------------------------------------

def q47_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: 3-way join + grouped revenue + top-10 (tests the
    join order + TakeOrderedAndProject path Catalyst picks)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    price_c = _cents("l_extendedprice")
    disc_c = _cents("l_discount")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"))
        .agg((F.sum(price_c * (100 - disc_c)) / F.lit(1e4)).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def q48_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped: 5-way join (two broadcast dims) + per-nation
    revenue — the canonical star-join planning test."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    price_c = _cents("l_extendedprice")
    disc_c = _cents("l_discount")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg((F.sum(price_c * (100 - disc_c)) / F.lit(1e4)).alias("revenue"))
    )


def q49_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: document chunking (500-char windows, 50 overlap — the
    reference's RAG chunker constants, ``tools/rag_tool.py:38-46``) as a
    native explode; chunk start positions stride by size-overlap."""
    from sparkdiff.sources.documents import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, ["doc_id"], "text", size=500, overlap=50)


def q50_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles WITHOUT unbounded buffering: the
    distribution method aggregates distinct (group, value) counts and
    interpolates from a cumulative-count window — ``F.percentile``'s
    answer, bit-for-bit (pinned by tests/test_quantiles.py), with spill-
    safe external sorts instead of an all-values aggregation buffer.
    ``method='approx'`` is the bounded-memory sketch for when rank error
    n/accuracy is acceptable."""
    from sparkdiff.operators.quantiles import grouped_quantiles

    l = load_table(spark, sf_dir, "lineitem")
    return grouped_quantiles(
        l,
        ["l_returnflag"],
        [
            ("p50_qty", "l_quantity", 0.5),
            ("p90_qty", "l_quantity", 0.9),
            ("p25_price", "l_extendedprice", 0.25),
        ],
        method="dist",
    )


def q51_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection (the vector-space dedup
    family member): vectors with ``vec_id % 20 == 0`` are re-inserted at
    ``vec_id + 100000`` with a deterministic ±3% per-element perturbation
    (cosine ≈ 0.9995), and the SRP-LSH pipeline must recover exactly
    those pairs at threshold 0.99.  The DuckDB oracle replays the full
    signature→band→verify pipeline with the same plane literals."""
    from sparkdiff.operators.similarity import embedding_near_dup_pairs

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    perturbed = (
        e.filter(F.col("vec_id") % 20 == 0)
        .withColumn("vec_id", F.col("vec_id") + 100_000)
        .withColumn(
            "v",
            F.transform(
                F.col("v"),
                lambda x, i: x
                * (F.lit(1.0) + F.lit(0.01) * (i % 7 - 3).cast("double")),
            ),
        )
    )
    corpus = e.unionByName(perturbed)
    return embedding_near_dup_pairs(corpus, "vec_id", "v", threshold=0.99)


def q52_refined_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q03's cell diff through the checksum-refinement prefilter
    (``operators.diff.refined_cell_diff``): per-bucket commutative
    checksums pick the dirty pk-buckets, only those are fingerprint-
    joined and unpivoted.  Lossless by construction — the oracle is the
    same full-diff SQL as q03, so a bucket wrongly skipped fails the
    driver hash."""
    from sparkdiff.operators.diff import refined_cell_diff

    hive, sf = testkit.hive_sf_pair(spark, sf_dir)
    return refined_cell_diff(
        hive, sf, "c_custkey", exclude_cols=testkit.EXCLUDE_COLS
    )


def q53_refined_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q04's ``dw_data_metrics`` row through the bucket-summary fast
    path (``operators.diff.refined_table_metrics``): totals come from
    the per-bucket distinct-pk sums, discrepancy fields from re-joining
    only the dirty buckets.  Lossless — oracle is q04's full-metrics
    SQL."""
    from sparkdiff.operators.diff import refined_table_metrics

    hive, sf = testkit.hive_sf_pair(spark, sf_dir)
    m = refined_table_metrics(
        hive, sf, "c_custkey", "customer", exclude_cols=testkit.EXCLUDE_COLS
    )
    return m.select(
        "table_name",
        "primary_column",
        "total_record_count_hive",
        "total_record_count_sf",
        "row_count_only_in_hive",
        F.array_join("hive_only_pk_values", ",").alias("hive_only_pks"),
        "row_count_only_in_sf",
        F.array_join("sf_only_pk_values", ",").alias("sf_only_pks"),
        "row_count_data_discrepancy",
    )


def q54_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment over the documents corpus
    (``operators/sampling.hash_split``): md5-derived unit variate per
    doc_id, 80/10/10 cumulative ranges, aggregated to per-split counts
    and char totals.  Engine-portable by construction — the oracle
    replays the same md5 → 60-bit → mod math."""
    from sparkdiff.operators.sampling import hash_split

    d = load_table(spark, sf_dir, "documents")
    s = hash_split(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="r2"
    )
    return s.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"),
    )


def q55_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-n-gram repetition signal per document (Gopher-style
    quality metric; ``functions/textstats.dup_fraction``): tokens AND
    gram arrays materialized once each — inlining the gram transform
    into both counts doubles the work per n (see dup_fraction)."""
    from sparkdiff.functions.textstats import dup_fraction, word_ngrams

    d = load_table(spark, sf_dir, "documents")
    # widened: two word_ngrams HOF fan-outs + two dup_fractions per
    # row is the heavy per-row class — the raw-text repartition buys
    # full-width map parallelism on a single-split scan (round-9 batch-10
    # A/B; `_toks` here is exactly _tokenized_docs' definition).
    toks = _tokenized_docs(widen(d, sf_dir, "documents")).select("doc_id", "_toks")
    grams = toks.select(
        "doc_id",
        word_ngrams(F.col("_toks"), 2).alias("_g2"),
        word_ngrams(F.col("_toks"), 3).alias("_g3"),
    )
    return grams.select(
        "doc_id",
        dup_fraction(F.col("_g2")).alias("rep2"),
        dup_fraction(F.col("_g3")).alias("rep3"),
    )


def q56_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the documents corpus
    (``functions/pii.py``): deterministic PII enrichment (emails /
    phones / IPs / SSN-shaped ids appended by doc_id residue, the q35
    idiom), per-pattern occurrence counts, and an md5 of the fully
    redacted text so the oracle checks the scrubbed bytes themselves."""
    from sparkdiff.functions.pii import PII_PATTERNS, pii_count, redact_pii

    d = load_table(spark, sf_dir, "documents")
    enriched = d.withColumn(
        "t2",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                    F.lit("-0199"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" from host 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 17 == 0,
                F.concat(
                    F.lit(" id 123-45-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    counts = {
        name: pii_count(F.col("t2"), pat) for name, pat, _ in PII_PATTERNS
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return (
        enriched.select(
            "doc_id",
            *[c.alias(f"n_{name}") for name, c in counts.items()],
            F.md5(redact_pii(F.col("t2"))).alias("redacted_md5"),
            total.alias("_total"),
        )
        .filter(F.col("_total") > 0)
        .drop("_total")
    )


def q57_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (``operators/packing.py``):
    whitespace token counts, 4 packing shards, 256-token context
    windows; each doc reports its starting window and span count.  The
    per-shard window formulation is the scale-safe prefix sum."""
    from sparkdiff.functions.textstats import ws_token_count
    from sparkdiff.operators.packing import pack_concat_chunks

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        ws_token_count("text").alias("n_tokens"),
        (F.col("doc_id") % 4).cast("long").alias("shard_key"),
    )
    packed = pack_concat_chunks(
        d, "doc_id", "n_tokens", capacity=256, shard_col="shard_key"
    )
    return packed.select("doc_id", "shard", "n_tokens", "window_id", "spans")


def q58_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-weighted sampling (``operators/sampling.py``): per-source
    keep rates applied through the content-hash variate (src1 kept
    whole, src2 half, src3 quarter, everything else 10%), rolled up to
    per-source counts/chars.  The recipe knob of pretraining data
    mixing, deterministic and engine-portable."""
    from sparkdiff.operators.sampling import weighted_domain_sample

    d = load_table(spark, sf_dir, "documents")
    kept = weighted_domain_sample(
        d,
        "doc_id",
        "source",
        {"src1": 1.0, "src2": 0.5, "src3": 0.25},
        default_rate=0.1,
        seed="mix-r2",
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"),
    )


def q59_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status) with GROUPING markers — the
    grouping-sets surface SURVEY §2.4 lists as a free Spark extension;
    money totals in exact integer cents."""
    o = load_table(spark, sf_dir, "orders")
    price_c = _cents("o_totalprice")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum(price_c) / F.lit(100.0)).alias("total_price"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
    )


def q60_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame suite beyond q43: percent_rank / cume_dist (total
    tiebreak order, so the rank fractions are deterministic),
    first/last_value over explicit ROWS frames, and a 3-row moving sum
    in exact cents."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 20 == 0)
    price_c = _cents("o_totalprice")
    w_price = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    w_time = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.percent_rank().over(w_price).alias("pr"),
        F.cume_dist().over(w_price).alias("cd"),
        F.first("o_orderkey")
        .over(w_time.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("first_key"),
        F.last("o_orderkey")
        .over(w_time.rowsBetween(Window.currentRow, Window.unboundedFollowing))
        .alias("last_key"),
        (
            F.sum(price_c).over(w_time.rowsBetween(-2, Window.currentRow))
            / F.lit(100.0)
        ).alias("mov3_price"),
    )


def q61_shuffle_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training
    export (``operators/sampling.shuffle_shards``): md5-keyed shard and
    in-shard rank replay one fixed permutation of the corpus on any
    cluster size; the rank window is per-shard, never global."""
    from sparkdiff.operators.sampling import shuffle_shards

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return shuffle_shards(d, "doc_id", n_shards=8, seed="shuf-r2").select(
        "doc_id", "shard", "pos"
    )


def q62_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (bucketed, §2.3 MISSING class): for each click,
    the error events of the same user in the NEXT 10 minutes — count and
    exact-decimal value sum.  ``range_join_bucketed`` turns the range
    condition into a (key, time-bucket) equi-join + exact refine, so the
    plan is a shuffle join, never a nested loop (guarded registry-wide
    in tests/test_plan_snapshots.py)."""
    from sparkdiff.operators.asof import range_join_bucketed

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("err_ts"),
        F.col("value").alias("err_value"),
    )
    j = range_join_bucketed(
        clicks, errors, "user_id", "click_ts", "err_ts",
        lower_ms=0, upper_ms=600_000,
    )
    return j.groupBy("user_id", "click_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_errors_10m"),
        F.sum(F.col("err_value").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_err_value"),
    )


def _tokenized_docs(d: DataFrame, extra: tuple = ()) -> DataFrame:
    """THE shared corpus projection: doc_id/text/n_chars plus the
    materialized lowercase token array every corpus-level pass (corpus
    stats, funnel gates, decontamination grams, dedup shingles) derives
    from.  One tokenizer definition -> branches computed from one scan
    (and, in q68, one cached projection) stay bit-identical.  ``extra``
    carries additional source columns (e.g. ``source``) through.

    The heavy fan-out consumers (q55, q66-q68, q79, q83) pass a
    :func:`~sparkdiff.session.widen`-ed scan: the repartition lands
    BEFORE tokenizing (the shuffle carries raw text, not token arrays),
    so the tokenizer and every downstream explode run wide.  The
    round-9 A/B showed the lighter consumers each lose ~0.1-0.25 s of
    stage overhead to it, so they keep the scan layout."""
    return d.select("doc_id", "text", "n_chars", *extra).select(
        "*",
        F.filter(
            F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: F.length(t) > 0
        ).alias("_toks"),
    )


def q63_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics pass: rare-token ratio per document.  Two-phase
    shape every corpus-level quality signal shares — (1) explode tokens
    and aggregate corpus frequencies (vocabulary-sized result), (2) join
    the stats back and roll up per document.  All-integer arithmetic
    until one final division, so the distributed partial aggregation is
    exact.  The vocabulary table is unbounded at web scale, so the join
    carries NO broadcast hint: AQE broadcasts it when its runtime size
    fits ``autoBroadcastJoinThreshold`` and falls back to a shuffled
    equi-join on the token key otherwise — forcing the broadcast would
    be a driver OOM at web-corpus vocabulary sizes."""
    d = load_table(spark, sf_dir, "documents")
    # persisted: the exploded token table feeds BOTH the frequency
    # aggregation and the join-back side — unpersisted, the tokenize +
    # explode lineage executes once per consumer (round-9 batch-7;
    # corpus-token-sized, MEMORY_AND_DISK spills rather than OOMs)
    toks = _tokenized_docs(d).select(
        "doc_id", F.explode("_toks").alias("token")
    ).persist()
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("corpus_freq"))
    joined = toks.join(freq, "token")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum((F.col("corpus_freq") <= 2).cast("long"))
        .cast("long")
        .alias("n_rare"),
        (
            F.sum((F.col("corpus_freq") <= 2).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("rare_ratio"),
    )


def q64_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document distinctive terms: the 3 tokens with the lowest
    document frequency (tf-idf's ranking with exact integers — df asc ≈
    idf desc, tf desc breaks ties, token asc totalizes).  Same two-phase
    corpus-stats shape as q63, then a top-k-per-group window.  Like q63,
    the document-frequency table is vocabulary-sized (unbounded at web
    scale) so the join is unhinted: AQE picks broadcast only when the
    runtime size allows."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = _tokenized_docs(d).select(
        "doc_id", F.explode("_toks").alias("token")
    )
    # persisted: tf feeds BOTH the document-frequency aggregate and the
    # join-back side — unpersisted, tokenize + explode + groupBy run
    # twice (round-9 batch-7; (doc, token)-sized, smaller than toks)
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")).persist()
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.asc("df"), F.desc("tf"), F.asc("token")
    )
    return (
        tf.join(df_, "token")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", F.col("tf").cast("long"), F.col("df").cast("long"), "rank")
    )


def q65_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate *clusters* from the q25 near-dup pair graph: alternating
    large-star/small-star connected components (`operators/cluster.py`)
    label every paired doc with the minimum member id of its component —
    the canonical representative a dedup pipeline keeps.  Pairs →
    clusters is the step the pairwise dedup family (q25/q26/q51) needs
    before it can actually drop rows: near-duplication chains (A~B~C
    with A!~C) must collapse to ONE keeper, which only a transitive
    closure provides."""
    d = load_table(spark, sf_dir, "documents")
    return _dup_cluster_labels(_tokenized_docs(d))


def _dup_cluster_labels(base: DataFrame) -> DataFrame:
    """q65's body over an already-tokenized base (doc_id/text/_toks) so
    q68 can feed its one cached corpus projection in.  The perturbed
    dups' tokens are derived by appending the three suffix tokens —
    equivalent to retokenizing the concatenated text (space-separated
    suffix; no null texts), with zero extra tokenizer work."""
    from sparkdiff.operators.cluster import dedup_clusters
    from sparkdiff.operators.dedup import near_dup_pairs

    d = base.select("doc_id", "text", "_toks")
    dups = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra suffix words")).alias("text"),
        F.concat(
            F.col("_toks"),
            F.array(F.lit("extra"), F.lit("suffix"), F.lit("words")),
        ).alias("_toks"),
    )
    corpus = d.unionByName(dups)
    pairs = near_dup_pairs(
        corpus,
        "doc_id",
        "text",
        threshold=0.6,
        hash_method="md5",
        tokens_col="_toks",
    )
    return dedup_clusters(pairs).select(
        F.col("id").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "cluster_size",
        "is_canonical",
    )


def q66_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that contain
    any word 8-gram from a held-out test set (the GPT-3/PaLM-style
    n-gram overlap screen every LLM training pipeline runs before
    training).  Test items here are verbatim 25-token snippets of every
    20th document — exactly how contamination arises in practice.

    Scale shape: the test side of the join is a benchmark suite (MBs)
    against a TB-scale corpus, so the distinct test grams BROADCAST and
    the corpus is scanned once with zero shuffle before the final
    per-doc aggregation; grams travel as xxhash64 longs (identity
    proxy only — no output carries a hash value, so Spark uses its
    cheapest codegen'd hash while the oracle replays with md5; the
    value-hash certifies the agreement), not strings, so the
    aggregation shuffle carries one long per hit."""
    d = load_table(spark, sf_dir, "documents")
    return _contamination_hits(_tokenized_docs(widen(d, sf_dir, "documents")))


def _contamination_hits(base: DataFrame, k: int = 8) -> DataFrame:
    """q66's body over an already-tokenized base (doc_id/_toks) so q68
    can feed its one cached corpus projection in."""
    from sparkdiff.operators.dedup import token_hash

    def grams(col):
        n = F.size(col)
        return F.when(n < k, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(col, i, k)),
            )
        )

    test = base.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("test_id"), F.slice("_toks", 5, 25).alias("_toks")
    )
    test_grams = test.select(
        "test_id", F.explode(F.array_distinct(grams(F.col("_toks")))).alias("g")
    ).select("test_id", token_hash("g", "xxhash64").alias("gh")).distinct()
    train_grams = base.select(
        "doc_id", F.explode(F.array_distinct(grams(F.col("_toks")))).alias("g")
    ).select("doc_id", token_hash("g", "xxhash64").alias("gh"))
    hits = train_grams.join(F.broadcast(test_grams), "gh")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("gh").cast("long").alias("n_hit_grams"),
        F.countDistinct("test_id").cast("long").alias("n_test_items"),
    )


def _funnel_flags(base: DataFrame) -> DataFrame:
    """Per-document curation-gate flags shared by q67/q68 over an
    already-tokenized base (:func:`_tokenized_docs`): doc_id, whitespace
    token count, and one boolean per filter (language, length, quality,
    repetition, PII) — all pure column expressions in ONE corpus scan.
    Tokens and trigram arrays are materialized in separate projections
    first: HOF lambdas re-evaluate captured expressions per element, so
    inlining the tokenizer into word_ngrams re-splits the text once per
    gram index — measured 11 s vs 0.4 s at sf0.1 (see word_ngrams /
    SCALE.md)."""
    from sparkdiff.functions.pii import PII_PATTERNS
    from sparkdiff.functions.textstats import (
        dup_fraction,
        lang_id,
        quality_score,
        word_ngrams,
        ws_token_count,
    )

    # f_pii only needs "any pattern matches" — one alternation rlike scan
    # (first-match short-circuit) instead of four regexp_extract_all
    # passes that build match arrays just to test Σ size == 0.  The
    # boolean is identical: Σ counts == 0 ⟺ no pattern matches ⟺ the
    # alternation never matches (round-9; guide §1.2-2).  NULL text:
    # rlike(NULL) is NULL where the old Σ-counts form gave false (size
    # of a NULL match array is -1), so f_pii is coalesced to false —
    # pinning the boolean identity over the FULL input domain (round-9
    # advisor finding; tests/test_textstats_equivalence.py has the
    # NULL row).
    pii_any = F.col("text").rlike(
        "|".join(f"(?:{pat})" for _, pat, _ in PII_PATTERNS)
    )
    # lang_id / quality_score read the materialized `_toks` instead of
    # re-splitting text (3 fewer lower+regex-split passes per row;
    # value-identical — see their docstrings).
    grams = base.select(
        "doc_id",
        "text",
        "n_chars",
        "_toks",
        word_ngrams(F.col("_toks"), 3).alias("_g3"),
    )
    return grams.select(
        "doc_id",
        ws_token_count("text").alias("n_tok"),
        (lang_id("text", toks=F.col("_toks")) == "en").alias("f_lang"),
        F.col("n_chars").between(100, 100_000).alias("f_len"),
        (quality_score("text", toks=F.col("_toks")) >= 0.45).alias("f_quality"),
        (dup_fraction(F.col("_g3")) <= 0.05).alias("f_rep"),
        F.coalesce(~pii_any, F.lit(False)).alias("f_pii"),
    )


def q67_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation filter-cascade funnel: the pipeline-observability report
    every large-scale curation run emits — an ordered filter chain
    (language → length → quality → repetition → PII), with docs-in /
    dropped / docs-out / surviving-token counts per stage, so retention
    is attributable to a specific filter rather than to "the pipeline".

    Scale shape: ONE corpus scan computes every stage flag as codegen'd
    column expressions (no UDFs), one map-side-combined aggregation
    reduces to a single row of funnel counters, and `stack` fans that
    row out to one row per stage — aggregate state is a dozen longs, so
    the shape is identical at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    # widened: the funnel's per-row work (PII regexes, quality
    # heuristics, trigram dup-fraction) is the q68 class — heavy enough
    # that the raw-text repartition pays for itself when the scan is a
    # single split (measured round-9 batch-10; as in q68).
    flags = _funnel_flags(_tokenized_docs(widen(d, sf_dir, "documents"))).drop("doc_id")
    surv = flags.select(
        "n_tok",
        F.col("f_lang").alias("s1"),
        (F.col("f_lang") & F.col("f_len")).alias("s2"),
        (F.col("f_lang") & F.col("f_len") & F.col("f_quality")).alias("s3"),
        (
            F.col("f_lang") & F.col("f_len") & F.col("f_quality") & F.col("f_rep")
        ).alias("s4"),
        (
            F.col("f_lang")
            & F.col("f_len")
            & F.col("f_quality")
            & F.col("f_rep")
            & F.col("f_pii")
        ).alias("s5"),
    )
    aggs = [F.count(F.lit(1)).alias("n0")]
    for i in range(1, 6):
        aggs.append(F.sum(F.col(f"s{i}").cast("long")).alias(f"n{i}"))
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col(f"s{i}"), F.col("n_tok"))), F.lit(0)
            ).alias(f"t{i}")
        )
    one = surv.agg(*aggs)
    stages = ["lang", "length", "quality", "repetition", "pii"]
    stacked = one.selectExpr(
        "stack(5, "
        + ", ".join(
            f"CAST({i + 1} AS BIGINT), '{name}', n{i}, n{i + 1}, t{i + 1}"
            for i, name in enumerate(stages)
        )
        + ") as (stage_idx, stage, n_in, n_out, tokens_out)"
    )
    return stacked.select(
        "stage_idx",
        "stage",
        "n_in",
        (F.col("n_in") - F.col("n_out")).alias("n_dropped"),
        "n_out",
        "tokens_out",
    )


def q68_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curated-corpus manifest: the document set a training
    run would actually tokenize — every funnel gate passed (q67's
    language/length/quality/repetition/PII cascade), not contaminated
    by the held-out test set (q66's 8-gram screen), and the canonical
    representative of its near-dup cluster (q65's connected
    components).  This is the composition the reference's users run the
    individual tools for, expressed as one lazy plan.

    Scale shape: the corpus is tokenized ONCE into a persisted
    projection (MEMORY_AND_DISK — spills rather than OOMs on a real
    cluster) that all three branches — funnel gates, decontamination
    grams, dedup shingles — read, instead of each branch re-scanning
    and re-tokenizing the corpus (the round-2 shape: 3 full scans,
    14.1 s at sf0.1).  The two exclusion sets (contaminated ids,
    non-canonical cluster members) are per-doc aggregates orders of
    magnitude smaller than the corpus, removed by anti-joins on a long
    key — AQE converts them to broadcast anti-joins whenever they fit,
    and they carry only doc_id either way."""
    d = load_table(spark, sf_dir, "documents")
    base = _tokenized_docs(widen(d, sf_dir, "documents")).persist()
    flags = _funnel_flags(base)
    keep = flags.filter(
        F.col("f_lang")
        & F.col("f_len")
        & F.col("f_quality")
        & F.col("f_rep")
        & F.col("f_pii")
    ).select("doc_id", "n_tok")
    contaminated = _contamination_hits(base).select("doc_id")
    losers = (
        _dup_cluster_labels(base)
        .filter(~F.col("is_canonical"))
        .select("doc_id")
    )
    return keep.join(contaminated, "doc_id", "left_anti").join(
        losers, "doc_id", "left_anti"
    )


def q69_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (the passage-granularity form of exact
    substring deduplication): chop every document's token stream into
    non-overlapping 20-token passages, hash each passage to a 60-bit
    md5 long, and report each passage that occurs in ≥2 distinct docs
    with its occurrence counts and the canonical keeper (min doc_id).
    Copied-prefix docs (doc_id % 12, re-inserted at +30000 with their
    first two passages) make the shared-passage set deterministic.

    Scale shape: explode + one groupBy on an 8-byte key with map-side
    combine — shared passages across a 100 TB corpus cost one shuffle
    of (hash, doc_id) pairs, never a pairwise comparison; the ≥2 filter
    drops the (dominant) unique-passage groups before any output."""
    from sparkdiff.operators.dedup import token_hash

    W = 20
    d = load_table(spark, sf_dir, "documents")
    base = _tokenized_docs(d).select("doc_id", "_toks")
    copies = base.filter(F.col("doc_id") % 12 == 0).select(
        (F.col("doc_id") + 30_000).alias("doc_id"),
        F.slice("_toks", 1, 2 * W).alias("_toks"),
    )
    corpus = base.unionByName(copies)
    n_pass = F.floor(F.size("_toks") / W).cast("int")
    passages = corpus.select(
        "doc_id",
        F.explode(
            F.when(
                n_pass >= 1,
                F.transform(
                    F.sequence(F.lit(1), n_pass),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("_toks"), (i - 1) * W + 1, W)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("passage"),
    )
    hashed = passages.select("doc_id", token_hash("passage", "md5").alias("ph"))
    return hashed.groupBy("ph").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.min("doc_id").alias("keeper_doc"),
    ).filter(F.col("n_docs") >= 2)


def q70_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the vector aggregation every
    clustering / domain-balance / IVF-codebook step needs, in the shape
    that scales: posexplode to (label, dim, value) rows, then ONE
    map-side-combined aggregation.  No collect, no numpy on the driver,
    no array-typed aggregation buffer — shuffle width is labels × dims
    regardless of corpus size.  Exactness: float32 values are dyadic
    rationals, so ``floor(v * 2^33)`` is the value itself as an exact
    integer (the testdata's deepest value has 33 fractional bits;
    deeper inputs quantize identically in both engines) — the sum is
    plain long arithmetic, order-independent under any partitioning,
    no decimal rounding ties (double→decimal casts round HALF_UP in
    Spark but half-even in DuckDB — hit in testing on an exact-tie
    float, so decimal routing is NOT engine-portable for floats)."""
    from sparkdiff.session import is_single_split

    scale = F.lit(8589934592)  # 2^33
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim_idx", "val"))
    # single-split input: the scan is one task, so coalesce(1) fuses the
    # whole query into one stage (q31's round-9 pattern — the post-scan
    # exchange adds no parallelism at this input class); multi-split
    # inputs keep the two-phase shuffle
    if is_single_split(sf_dir, "embeddings"):
        ex = ex.coalesce(1)
    return ex.groupBy("label", "dim_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        (
            F.sum(F.floor(F.col("val").cast("double") * scale)).cast("double")
            / (F.count(F.lit(1)) * scale).cast("double")
        ).alias("centroid"),
    )


def q71_quality_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold sweep: docs/tokens retained at each candidate
    quality cutoff — the tuning report a curation team reads before
    fixing q67's single threshold.  Same scale shape as the funnel: the
    corpus is scanned ONCE with the score and token count as codegen'd
    column expressions, conditional sums reduce everything to one row
    of counters (map-side combined, state = 19 longs), and `stack` fans
    out one row per threshold — no explode-per-threshold re-scan, no
    join, identical plan at 100 TB."""
    from sparkdiff.functions.textstats import quality_score, ws_token_count

    thresholds = [0.30, 0.35, 0.40, 0.45, 0.50, 0.55, 0.60, 0.65, 0.70]
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        quality_score("text").alias("q"), ws_token_count("text").alias("n_tok")
    )
    aggs = [F.count(F.lit(1)).alias("n_total")]
    for j, t in enumerate(thresholds):
        aggs.append(F.sum((F.col("q") >= t).cast("long")).alias(f"d{j}"))
        aggs.append(
            F.coalesce(F.sum(F.when(F.col("q") >= t, F.col("n_tok"))), F.lit(0))
            .cast("long")
            .alias(f"t{j}")
        )
    one = scored.agg(*aggs)
    stacked = one.selectExpr(
        f"stack({len(thresholds)}, "
        + ", ".join(
            f"CAST({t} AS DOUBLE), d{j}, t{j}, n_total"
            for j, t in enumerate(thresholds)
        )
        + ") as (threshold, n_docs, n_tokens, n_total)"
    )
    return stacked.select(
        "threshold",
        "n_docs",
        "n_tokens",
        (F.col("n_docs").cast("double") / F.col("n_total")).alias("retained_frac"),
    )


def q72_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup gate: which docs in a NEW batch near-duplicate
    the EXISTING corpus (`operators/dedup.incremental_near_dup_pairs`).
    The batch is every 17th doc re-inserted at +50000 with a 3-token
    suffix (Jaccard vs its source ≈ 0.9), so each batch doc must pair
    with exactly its origin.  Unlike the symmetric q25 shape, candidate
    generation joins batch band keys against corpus band keys only —
    corpus×corpus pairs are never enumerated, which is what makes
    per-ingest dedup affordable against a 100 TB corpus."""
    from sparkdiff.operators.dedup import incremental_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    base = _tokenized_docs(d).select("doc_id", "text", "_toks")
    batch = base.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 50_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" new batch revision")).alias("text"),
        F.concat(
            F.col("_toks"),
            F.array(F.lit("new"), F.lit("batch"), F.lit("revision")),
        ).alias("_toks"),
    )
    return incremental_near_dup_pairs(
        base,
        batch,
        "doc_id",
        "text",
        threshold=0.6,
        hash_method="md5",
        tokens_col="_toks",
        # NOTE: widening the input was A/B'd here and REJECTED
        # (round-9 batch-10: interleaved 1.38/1.45/1.43 vs
        # 1.07/0.96/1.01 — with tokens_col set the shuffle carries the
        # materialized token ARRAYS, which costs more than the wide
        # signature fan-out buys).
    )


def q73_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-recipe sampling: per source domain, keep a deterministic
    pseudo-random prefix of documents totalling ≤ 600 whitespace tokens
    (`operators/sampling.token_budget_sample`) — the "N tokens of
    domain X" knob a data-mixture config turns.  One scan, one
    per-domain window prefix-sum; the variate is the same md5 unit hash
    as q54/q58/q61, so the kept set is identical on any cluster size or
    engine."""
    from sparkdiff.functions.textstats import ws_token_count
    from sparkdiff.operators.sampling import token_budget_sample

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "source", ws_token_count("text").alias("n_tok")
    )
    return token_budget_sample(
        scored, "doc_id", "source", "n_tok", budget=600, seed="r3"
    )


def q74_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., MOSS): per doc, hash
    word 5-grams to 60-bit longs and keep the MINIMUM hash of every
    4-window — position-robust local fingerprints that survive edits
    the way whole-doc hashes (q20) and fixed passages (q69) don't.
    Pairs sharing ≥ 2 rare fingerprints are reported with the shared
    count; fingerprints appearing in > 10 docs are dropped first (the
    standard boilerplate/stop-fingerprint guard — it is ALSO the scale
    bound: the pair join fans out at most 10×9/2 pairs per fingerprint,
    never quadratic in corpus size).  Copied-prefix docs (doc_id % 14,
    re-inserted at +40000 with their first 60 tokens) make the shared
    set deterministic.

    The window minima are computed FLAT — posexplode the gram hashes
    and take `min` over a per-doc ROWS window — not as a nested HOF
    (`transform(sequence, i -> array_min(slice(_gh, i, W)))` re-inlines
    the md5 gram-hash transform into every window lambda: measured 65 s
    vs ~2 s at sf0.01 — the HOF CSE trap squared, see SCALE.md)."""
    from pyspark.sql import Window
    from sparkdiff.operators.dedup import token_hash

    K, W = 5, 4
    d = load_table(spark, sf_dir, "documents")
    base = _tokenized_docs(d).select("doc_id", "_toks")
    copies = base.filter(F.col("doc_id") % 14 == 0).select(
        (F.col("doc_id") + 40_000).alias("doc_id"),
        F.slice("_toks", 1, 60).alias("_toks"),
    )
    corpus = base.unionByName(copies)
    n = F.size("_toks")
    grams = corpus.select(
        "doc_id",
        F.when(
            n >= K,
            F.transform(
                F.sequence(F.lit(1), n - (K - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, K)),
            ),
        ).otherwise(F.array().cast("array<string>")).alias("_g"),
    )
    h_rows = grams.select(
        "doc_id", F.posexplode("_g").alias("pos", "_gram")
    ).select("doc_id", "pos", token_hash("_gram", "md5").alias("h"))
    wspec = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, W - 1)
    )
    per_doc = Window.partitionBy("doc_id")
    # persisted: three consumers (rarity filter + both pair-join sides)
    # would otherwise each re-run tokenize→gram→hash→window (13 s vs
    # 2 s at sf0.1); the fingerprint table is ~docs × fingerprints,
    # MEMORY_AND_DISK spills rather than OOMs
    fp_rows = (
        h_rows.withColumn("fp", F.min("h").over(wspec))
        .withColumn("m", F.count(F.lit(1)).over(per_doc))
        .filter(
            (F.col("pos") <= F.col("m") - W)
            | ((F.col("m") < W) & (F.col("pos") == 0))
        )
        .select("doc_id", "fp")
        .distinct()
        .persist()
    )
    rare = (
        fp_rows.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= 10))
        .select("fp")
    )
    shared = fp_rows.join(rare, "fp")
    a = shared.select(F.col("doc_id").alias("id_a"), "fp")
    b = shared.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("fp").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def q75_kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means over the embeddings table (k=4, two
    unrolled iterations, seeds = vec_id 0..3) — the IVF codebook trainer
    (`operators/similarity.ivf_cosine_topk`) as an oracled query.  The
    scalable Lloyd shape: the centroid table is k×d TINY regardless of
    corpus size, so assignment is a broadcast cross join + one codegen'd
    fold per (vector, centroid) — never a shuffle of the corpus — and
    the update step is posexplode → one map-side-combined aggregation
    (state = k×d rows), the q70 shape.  Exactness across engines: the
    distance fold runs left-to-right over dims on both sides (the q24
    pattern), and centroid updates sum ``floor(v·2^33)`` longs (float32
    values are dyadic — exact, order-independent under any partitioning)
    before ONE double division."""
    from sparkdiff.operators.retrieval import kmeans_assign

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    # dim -> codegen'd flat distance in the Lloyd rounds (round 9).
    # Deliberately NO repartition here: with the flat distance the
    # per-round map work at this n is milliseconds, and the A/B showed
    # the extra exchange + wide stages cost more than they buy.
    return kmeans_assign(
        e, "vec_id", "v", k=4, iters=2, dim=testkit.EMBED_DIM
    )


def q76_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed 3-term query — the retrieval
    scorer a RAG / search pipeline runs after the inverted index.  The
    idf uses BM25's rational core ``(N - df + 0.5)/(df + 0.5)`` WITHOUT
    the log wrap: libm ``log`` is not correctly-rounded and differs
    between the JVM and DuckDB in the last ulp, so the log form is not
    engine-portable at hash precision (monotone in the rational form, so
    ranking is unchanged).  Scale shape: corpus stats (N, Σdl, per-term
    df) reduce to ONE row (map-side combined) broadcast back over the
    scan; tf/dl are codegen'd column expressions; the per-term partial
    scores add in fixed term order so the double sum is associativity-
    stable.  Top-20 by (score desc, doc_id) is TakeOrderedAndProject —
    no global sort."""
    from sparkdiff.operators.retrieval import bm25_rank

    d = load_table(spark, sf_dir, "documents")
    return bm25_rank(
        _tokenized_docs(d),
        ["merge", "scan", "window"],
        id_col="doc_id",
        tokens_col="_toks",
        top_k=20,
    )


def q77_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE / SCD upsert-apply: fold a change batch (updates,
    inserts, deletes — with multiple versions per key) into the orders
    snapshot.  The warehouse op the reference's re-validation pipeline
    sits downstream of: latest-change-per-key is W1's row_number dedup,
    the apply is ONE full-outer join on the key — at 100 TB the change
    batch is orders of magnitude smaller than the snapshot, so AQE
    broadcasts it and the snapshot never shuffles; a partitioned base
    table additionally prunes to touched partitions.  Money math rides
    the q01 integer-cents rail (exact under any partitioning).
    Change batch (deterministic, derived from the base): every 13th key
    gets price+500 cents (seq 1), every 39th a second update +900 (seq
    2, must win), every 29th a delete (seq 3, beats both), and every
    31st key re-inserted at +2,000,000 (seq 1)."""
    from sparkdiff.operators.workload import cdc_apply

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    upd1 = o.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        (F.col("price_cents") + 500).alias("price_cents"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    upd2 = o.filter(F.col("o_orderkey") % 39 == 0).select(
        "o_orderkey",
        (F.col("price_cents") + 900).alias("price_cents"),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
    )
    dels = o.filter(F.col("o_orderkey") % 29 == 0).select(
        "o_orderkey",
        F.lit(None).cast("long").alias("price_cents"),
        F.lit("D").alias("op"),
        F.lit(3).alias("seq"),
    )
    ins = o.filter(F.col("o_orderkey") % 31 == 0).select(
        (F.col("o_orderkey") + 2_000_000).alias("o_orderkey"),
        F.col("price_cents"),
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
    )
    changes = upd1.unionByName(upd2).unionByName(dels).unionByName(ins)
    return cdc_apply(o, changes, "o_orderkey")


def q78_rolling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frames over the event stream: per user, the
    trailing 1-hour event count + value sum and the trailing 15-minute
    count at every event — the rate-limit / rolling-metrics shape (q60
    covers ROWS frames; this is the interval-bounded RANGE family).
    The frame orders by epoch MICROS (a long), so the range bound is
    numeric and tie rows (same ts) are frame peers in both engines —
    no tiebreak nondeterminism.  Values sum as ``floor(value·2^20)``
    longs (double multiply + floor is IEEE-deterministic; the long sum
    is exact), not raw doubles: a double RANGE sum depends on the
    engine's sliding-accumulator strategy and is NOT hash-portable.
    One shuffle on user_id serves all three frames."""
    from pyspark.sql import Window

    from sparkdiff.session import is_single_split

    vscale = F.lit(1048576)  # 2^20
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * vscale).alias("val_s"),
    )
    # single-split input: SinglePartition satisfies the windows'
    # ClusteredDistribution(user_id), so coalesce(1) drops the hash
    # exchange and the query fuses to one stage (q31's round-9 pattern)
    if is_single_split(sf_dir, "events"):
        e = e.coalesce(1)
    hour = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, 0)
    )
    quarter = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-900_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(hour).cast("long").alias("n_1h"),
        F.sum("val_s").over(hour).cast("long").alias("sum_val_1h"),
        F.count(F.lit(1)).over(quarter).cast("long").alias("n_15m"),
    )


def q79_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting lists for rare BIGRAM terms (document
    frequency 2..8): term → df + comma-joined sorted doc_id list —
    the phrase-index build a retrieval pipeline materializes.  Bigrams,
    not unigrams: the testdata vocabulary is ~31 words that all appear
    in hundreds of docs, so no unigram is ever rare.  Two-phase so the
    collect is bounded: document frequencies first (term-space-sized
    aggregate, map-side combined), THEN a semi-join restricts the
    posting-list collect to terms whose df is within the cap — the cap
    is the scale bound; no collect_list ever sees an unbounded group
    (the df-first + join-back shape of q63/q64).  At 100 TB the frequent
    tail that would blow a naive collect never reaches the aggregation."""
    from sparkdiff.operators.retrieval import posting_lists

    d = load_table(spark, sf_dir, "documents")
    t = _tokenized_docs(widen(d, sf_dir, "documents"))
    n = F.size("_toks")
    toks = t.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    n >= 2,
                    F.transform(
                        F.sequence(F.lit(1), n - 1),
                        lambda i: F.concat_ws(
                            " ",
                            F.col("_toks")[i - 1],
                            F.col("_toks")[i],
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            )
        ).alias("token"),
    # persisted: posting_lists consumes the term rows TWICE (df
    # aggregate + semi-join side) — unpersisted, the tokenize + bigram
    # transform + explode lineage executes per consumer (round-9
    # batch-7; distinct (doc, bigram) rows, MEMORY_AND_DISK)
    ).persist()
    return posting_lists(toks, "doc_id", "token", min_df=2, max_df=8)


def q80_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-fraction cleaning signal (the RefinedWeb/C4-style
    template-removal precursor): the TOP-50 most frequent word bigrams
    form the boilerplate set; each doc reports what fraction of its
    bigram instances are boilerplate.  Top-N, not a df threshold —
    thresholds drift with corpus size, while the top-N set is bounded
    BY CONSTRUCTION, which is also the scale story: the set is 50 rows,
    so the membership join is a guilt-free explicit broadcast (contrast
    q63/q64, where the unbounded vocabulary must NOT be hinted).
    Tie-break on (df desc, gram asc) keeps the set deterministic."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = _tokenized_docs(d)
    n = F.size("_toks")
    grams = t.select(
        "doc_id",
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.concat_ws(
                        " ", F.col("_toks")[i - 1], F.col("_toks")[i]
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    # persisted: the bigram rows feed BOTH the top-50 aggregate and the
    # membership-join side — unpersisted, tokenize + bigram transform +
    # explode execute twice (round-9 batch-7; corpus-bigram-sized,
    # MEMORY_AND_DISK)
    ).persist()
    # top-50 via orderBy+limit = TakeOrderedAndProject (each partition
    # keeps its local 50, the driver merges 50*P rows) — NOT a global
    # rank window, which would single-partition-sort the whole bigram
    # vocabulary (unbounded at corpus scale)
    top = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("gram"))
        .limit(50)
        .select("gram")
    )
    flagged = grams.join(
        F.broadcast(top).withColumn("is_bp", F.lit(1)), "gram", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.coalesce(F.sum("is_bp"), F.lit(0)).cast("long").alias("n_boiler"),
        (
            F.coalesce(F.sum("is_bp"), F.lit(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("boiler_frac"),
    )


def q81_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector (vec_id < 10), the top-2 most-similar vectors with a
    DIFFERENT label — the negatives that actually teach the margin.
    Same broadcast shape as q24 (query set broadcast over one corpus
    scan; the label inequality rides the join condition so same-label
    pairs never materialize); the 100 TB path swaps the scan for the
    LSH/IVF candidate generators in `operators/similarity` and keeps
    this ranking stage unchanged."""
    from pyspark.sql import Window
    from sparkdiff.operators.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    c = e.select(
        F.col("vec_id").alias("neg_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
        F.col("label").alias("neg_label"),
    )
    pairs = c.join(
        F.broadcast(q), F.col("neg_label") != F.col("qlabel")
    ).select(
        "query_id",
        "qlabel",
        "neg_id",
        "neg_label",
        cosine(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neg_id")
        )
    )
    return (
        pairs.withColumn("rank", rank.cast("int"))
        .filter(F.col("rank") <= 2)
    )


def q82_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    distinct 20-token passages they share — the dataset-governance
    report that catches one web source mirroring another before both
    are sampled into a training mix.  Passages hash to 64-bit longs
    (q69's rail, xxhash64 here — identity proxy only, q69's own output
    carries its hash so IT keeps md5); the per-(passage, source)
    projection is distinct-ed
    BEFORE the pair join, and passages present in > 10 sources are
    dropped first (same stop-cap argument as q74: the pair fan-out is
    bounded at 10·9/2 per passage, never quadratic in source count)."""
    from sparkdiff.operators.dedup import token_hash

    d = load_table(spark, sf_dir, "documents")
    t = _tokenized_docs(d, extra=("source",)).select("source", "_toks")
    n = F.size("_toks")
    n_pass = F.floor(n / 20).cast("int")
    p = t.select(
        "source",
        F.explode(
            F.when(
                n >= 20,
                F.transform(
                    F.sequence(F.lit(1), n_pass),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("_toks"), (i - 1) * 20 + 1, 20)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("passage"),
    ).select("source", token_hash("passage", "xxhash64").alias("ph")).distinct()
    # identity-proxy hash (round-9): ph never reaches the output — only
    # pair counts do — so Spark uses codegen'd xxhash64; the oracle
    # counts shared passages on its own md5 domain (q69, whose output
    # DOES carry the hash, keeps md5)
    # persisted: the distinct (source, passage-hash) table feeds THREE
    # consumers (source-spread aggregate + both pair-join sides) —
    # unpersisted, the passage transform + md5 + distinct execute once
    # per consumer (round-9 batch-7; distinct pairs only, ~16 B/row)
    p = p.persist()
    spread = p.groupBy("ph").agg(
        F.countDistinct("source").alias("ns")
    )
    keep = spread.filter(
        (F.col("ns") >= 2) & (F.col("ns") <= 10)
    ).select("ph")
    pk = p.join(keep, "ph")
    a = pk.select(F.col("source").alias("source_a"), "ph")
    b = pk.select(F.col("source").alias("source_b"), "ph")
    return (
        a.join(b, "ph")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.countDistinct("ph").cast("long").alias("n_shared_passages"))
    )


def q83_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-order novelty: per document, the fraction of its distinct
    word 8-grams never seen in any EARLIER document (smaller doc_id) —
    the marginal-information curve that tells a curation team when a
    source stops adding content.  ONE gram pass, ONE gram-keyed
    shuffle: ``min(doc_id) OVER (PARTITION BY gram-hash)`` labels each
    (doc, gram) row with its first-seen doc in the same exchange that
    groups the grams — the earlier aggregate + join-back shape built
    the gram table twice (the two exchanges' children differ, so
    Catalyst cannot reuse them) and shuffled it twice; the window form
    measured 2.1x faster at sf0.1 (2.61 s → 1.22 s, value-identical).
    A gram is novel exactly when its doc IS the minimum — no per-doc
    history state, no iteration, identical shape at 100 TB."""
    from pyspark.sql import Window
    from sparkdiff.operators.dedup import token_hash

    K = 8
    d = load_table(spark, sf_dir, "documents")
    t = _tokenized_docs(widen(d, sf_dir, "documents"))
    n = F.size("_toks")
    grams = t.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    n >= K,
                    F.transform(
                        F.sequence(F.lit(1), n - (K - 1)),
                        lambda i: F.concat_ws(
                            " ", F.slice(F.col("_toks"), i, K)
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            )
        ).alias("gram"),
    ).select("doc_id", token_hash("gram", "md5").alias("gh"))
    joined = grams.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("gh"))
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum((F.col("doc_id") == F.col("first_doc")).cast("long"))
        .cast("long")
        .alias("n_novel"),
        (
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("long"))
            .cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("novelty_frac"),
    )


def q84_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts over the event stream — the activation/
    churn report every product warehouse runs: users cohorted by the
    Monday-start week of their first event, then distinct active users
    per (cohort, whole-week offset) with the retention fraction against
    cohort size.  Three aggregations, two shuffle keys: user_id (first-
    seen min — map-side combined) then (cohort_week, week_offset).  The
    events->cohort join is a plain equi-join on user_id (AQE broadcasts
    the first-seen table only while it fits); the per-cell division is
    the single double op, after all counting is exact longs."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = e.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    cohort = first.select(
        "user_id",
        "cohort_d",
        F.to_date(F.date_trunc("week", "cohort_d")).alias("cohort_week"),
    )
    sizes = cohort.groupBy("cohort_week").agg(
        F.count_distinct("user_id").cast("long").alias("cohort_size")
    )
    act = (
        e.join(cohort, "user_id")
        .select(
            "cohort_week",
            "user_id",
            F.floor(F.datediff(F.col("d"), F.col("cohort_d")) / F.lit(7))
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").cast("long").alias("n_active"))
    )
    return act.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        (
            F.col("n_active").cast("double")
            / F.col("cohort_size").cast("double")
        ).alias("retention"),
    )


def q85_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style lexical importance weights (Xie et al. 2023,
    arXiv:2302.03169): score every document by how much its tokens look
    like a target domain (here lang='en') relative to the whole corpus,
    for importance resampling toward the target mixture.  The classic
    form sums per-token log-probability ratios; libm ``log`` is not
    correctly rounded (not hash-portable across engines), so the score
    sums the add-one-smoothed frequency RATIO in fixed point instead:
    ``floor((tf_target+1) * 2^20 / (tf_corpus+1))`` — monotone in the
    same per-token evidence, exact integer arithmetic end-to-end, one
    final double division for the per-token mean.  Shape is the q63/q64
    corpus-statistics rail: explode -> vocabulary aggregate (map-side
    combined, NO broadcast hint — vocabulary is unbounded at web scale,
    AQE decides) -> join back on token -> per-doc rollup."""
    SCALE = 1 << 20
    d = load_table(spark, sf_dir, "documents")
    # persisted: the exploded token table feeds the vocabulary
    # aggregate AND the join-back side — unpersisted, tokenize +
    # explode ran twice (the q63 defect; round-9, guide §5)
    toks = _tokenized_docs(d, extra=("lang",)).select(
        "doc_id", "lang", F.explode("_toks").alias("token")
    ).persist()
    vocab = toks.groupBy("token").agg(
        F.sum((F.col("lang") == "en").cast("long")).alias("tf_t"),
        F.count(F.lit(1)).alias("tf_s"),
    )
    ratio = F.expr(f"((tf_t + 1) * {SCALE}) div (tf_s + 1)")
    return (
        toks.select("doc_id", "token")
        .join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum(ratio).cast("long").alias("weight_s"),
            (
                F.sum(ratio).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_weight"),
        )
    )


def q86_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile of lineitem (`operators/profile.py`):
    per column, non-null count, EXACT distinct count, canonicalized
    min/max — the pre-diff table probe (pk candidates have
    ndv == n_rows).  Single aggregation; the multi-distinct Expand is
    the documented cost, with the HLL variant as the no-Expand path at
    exploratory scale (pinned within rtol in tests, not oracled —
    sketches are not engine-portable)."""
    from sparkdiff.operators.profile import profile_table

    li = load_table(spark, sf_dir, "lineitem")
    return profile_table(
        li,
        [
            "l_orderkey",
            "l_partkey",
            "l_quantity",
            "l_extendedprice",
            "l_returnflag",
            "l_shipdate",
        ],
        # not widened: the same-host A/B (round 9) showed the extra
        # repartition costs ~0.3 s more than the wide aggregate saves
        # at this scan size
    )


def q87_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample: the 3 lowest-hash-ranked documents
    of every (lang, source) stratum (`operators/sampling.
    stratified_sample`) — the deterministic eval-slice builder.  The
    rank window partitions BY the strata, so parallelism is the stratum
    count and no global sort exists; picks are stable under appends and
    engine-portable (md5 variate, replayed by the oracle)."""
    from sparkdiff.operators.sampling import stratified_sample

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    return stratified_sample(
        d, ["lang", "source"], "doc_id", 3, seed=":strat"
    )


def _semdedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q51/q88 planted-positive corpus: the embeddings table plus
    every 20th vector re-inserted at +100000 with the ±3% deterministic
    perturbation (cosine ≈ 0.9995 to its original; natural pair max is
    0.52)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    perturbed = (
        e.filter(F.col("vec_id") % 20 == 0)
        .withColumn("vec_id", F.col("vec_id") + 100_000)
        .withColumn(
            "v",
            F.transform(
                F.col("v"),
                lambda x, i: x
                * (F.lit(1.0) + F.lit(0.01) * (i % 7 - 3).cast("double")),
            ),
        )
    )
    return e.unionByName(perturbed)


def q88_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-duplicate pruning (`operators/similarity.
    semdedup`): k-means cells bound the all-pairs comparison, cosine ≥
    0.95 within a cell marks the larger id a duplicate.  Corpus = the
    embeddings table plus every 20th vector re-inserted at +100000 with
    the q51 ±3% deterministic perturbation (cosine ≈ 0.9995 to its
    original — the planted positives; the natural pair max is 0.52, so
    the planted set is exactly the expected answer).  The oracle
    replays Lloyd + the within-cell pair scan bit-for-bit."""
    from sparkdiff.operators.similarity import semdedup

    corpus = _semdedup_corpus(spark, sf_dir)
    # pair_salt=16: k is oracle-pinned at 4, so without salting the
    # whole within-cell pair scan lands on 4 reducers (guide §2.5);
    # the salt fans it to 64 blocks with the identical pair set.
    return semdedup(
        corpus, "vec_id", "v", k=4, iters=2, threshold=0.95,
        dim=testkit.EMBED_DIM, pair_salt=16,
    )


def q89_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization with per-vector exact error
    accounting (`operators/similarity.quantize_int8`) — the compression
    pass an embedding store runs before ANN indexing.  Pure per-row
    column expressions (floor/abs/divide are IEEE-correctly-rounded and
    engine-portable; the error total sums scaled longs): no shuffle, no
    UDF, the plan is a single project at any scale."""
    from sparkdiff.operators.similarity import quantize_int8

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    return quantize_int8(e, "vec_id", "v")


def q90_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the part↔supplier relationship graph
    (`operators/graph.pagerank`): distinct (partkey, suppkey) pairs from
    lineitem as undirected edges (both directions), two damped rounds,
    top-20 nodes.  The curation analogue: centrality as a document/
    entity quality prior.  Rank mass is fixed-point longs with rational
    damping (17/20) — bit-exact under any partitioning, replayed by the
    SQL oracle; per round one map-side-combined shuffle + one equi-join,
    the Pregel shape at any scale.  Node ids: part = 2·partkey,
    supplier = 2·suppkey+1."""
    from sparkdiff.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    edges = ps.unionAll(
        ps.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    r = pagerank(edges, iters=2)
    return (
        r.select(
            "node",
            (F.col("node") % 2).cast("int").alias("is_supplier"),
            "deg",
            "rank_s",
        )
        .orderBy(F.desc("rank_s"), F.asc("node"))
        .limit(20)
    )


def q91_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: per user the
    first view, the first click strictly AFTER that view, the first
    purchase strictly after that click; report users-reaching-stage and
    the conversion fraction — the product-analytics query every event
    warehouse runs.  Each stage is one filtered min-aggregate on
    user_id plus an equi-join to the previous stage (AQE broadcasts the
    shrinking stage tables); counts are exact longs, the fraction one
    double division.  The 3-row stage report normalizes via a window
    over itself — bounded by the funnel depth, never data-sized."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    stages = (
        v.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(F.lit("1_view").alias("stage"), "n_users")
        .unionByName(
            c.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
                F.lit("2_click").alias("stage"), "n_users"
            )
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
                F.lit("3_purchase").alias("stage"), "n_users"
            )
        )
    )
    w = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return stages.select(
        "stage",
        "n_users",
        (
            F.col("n_users").cast("double")
            / F.max("n_users").over(w).cast("double")
        ).alias("conversion"),
    )


def q92_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-diversity (Gini-impurity) score per document:
    ``1 - Σ tf² / n²`` over the doc's token distribution — the log-free
    twin of token entropy (libm log is not hash-portable; the Gini form
    is rational) and the diversity complement to q55's repetition
    ratios.  Both Σtf² and n are exact longs from one explode +
    two-level aggregation; the only double op is the final division."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        _tokenized_docs(d)
        .select("doc_id", F.explode("_toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_toks"),
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("sum_sq"),
        (
            F.lit(1.0)
            - F.sum(F.col("tf") * F.col("tf")).cast("double")
            / (F.sum("tf") * F.sum("tf")).cast("double")
        ).alias("gini"),
    )


def q93_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval rank fusion (`operators/retrieval.rrf_fuse`):
    BM25 top-50 (q76's scorer) fused with a raw term-frequency top-50
    for the same 3-term query via reciprocal-rank fusion
    ``Σ 1/(60+rank)`` — the standard lexical+second-signal merge.  The
    fusion join runs on two BOUNDED top-k lists, so the full-outer join
    and the final 100-row-max rank window cost nothing regardless of
    corpus size; each reciprocal is one correctly-rounded division and
    terms add in fixed ranker order (hash-portable)."""
    from pyspark.sql import Window

    from sparkdiff.operators.retrieval import bm25_rank, bm25_tf_base, rrf_fuse

    terms = ["merge", "scan", "window"]
    d = load_table(spark, sf_dir, "documents")
    t = _tokenized_docs(d)
    # ONE persisted (id, dl, tf0..tf2) projection feeds all three
    # consumers (BM25 stats, BM25 scoring, the lexical leg) — before,
    # each leg re-tokenized the corpus (round-9 batch-7).  The lexical
    # score Σ tf_j is exactly the sum of the projection's tf columns.
    base = bm25_tf_base(t, terms).persist()
    bm = bm25_rank(t, terms, top_k=50, base=base).select("doc_id", "rank")
    lex_scored = base.select(
        "doc_id",
        sum(
            [F.col(f"tf{j}") for j in range(len(terms))],
            F.lit(0).cast("long"),
        ).alias("score"),
    )
    # top-50 via TakeOrderedAndProject, then rank the bounded 50-row
    # result — never a rank window over the corpus-sized score table
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex = (
        lex_scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(50)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "rank")
    )
    return rrf_fuse([bm, lex], top_k=20)


def q94_value_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| > 3) over event values —
    the numeric anomaly screen of a data-quality pipeline.  Exactness
    rail: values quantize to ``floor(v·2^10)`` longs; per-type moment
    sums run in DECIMAL(38,0) (overflow-safe at any row count, exact in
    both engines); mean/variance/z then evaluate in one fixed double
    expression order, so the flagged set is hash-identical.  One
    aggregation + one equi-join back (AQE broadcasts the 5-row stats
    table); never a window over the full stream."""
    VS = 1024  # 2^10
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * VS).alias("vs"),
    )
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("vs").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum((F.col("vs") * F.col("vs")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = (F.col("vs").cast("double") - mean) / F.sqrt(var)
    return (
        e.join(stats, "event_type")
        .select("event_id", "event_type", z.alias("z"))
        .filter(F.abs(F.col("z")) > 3.0)
    )


def q95_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score per document — the
    KenLM-perplexity filtering step of CCNet-style curation (Wenzek et
    al. 2020), self-trained on the corpus and made engine-exact: the
    usual mean log-probability is replaced by the mean SCALED
    conditional probability ``floor(c(w1,w2) · 2^20 / c_prefix(w1))``
    (monotone per-bigram evidence, exact integer arithmetic; libm log
    is not hash-portable).  Shape: one bigram explode feeds BOTH count
    tables (bigram and prefix — map-side-combined aggregates), each
    joined back on its key with no broadcast hint (bigram vocabulary is
    unbounded at web scale; AQE decides).  Low scores = improbable
    token transitions = the gibberish/boilerplate tail a curation
    pipeline drops."""
    SCALE = 1 << 20
    d = load_table(spark, sf_dir, "documents")
    t = _tokenized_docs(d)
    n = F.size("_toks")
    bi = t.select(
        "doc_id",
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.struct(
                        F.col("_toks")[i - 1].alias("w1"),
                        F.concat_ws(
                            " ", F.col("_toks")[i - 1], F.col("_toks")[i]
                        ).alias("gram"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<w1:string,gram:string>>")
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.w1").alias("w1"), F.col("s.gram").alias("gram"))
    from sparkdiff.session import is_single_split

    # single-split corpus: every downstream distribution (two count
    # aggregates, two key joins, the final doc rollup) is satisfied by
    # one partition, collapsing this 5-exchange plan to ONE stage — the
    # registry's most stage-dense tiny query (q31's round-9 pattern).
    # Multi-split corpora keep the AQE-planned shuffles.
    if is_single_split(sf_dir, "documents"):
        bi = bi.coalesce(1)
    # persisted: the bigram rows feed THREE consumers (both count
    # aggregates + the join-back side) — unpersisted, tokenize + the
    # struct transform + explode execute once per consumer (round-9
    # batch-7; corpus-bigram-sized, MEMORY_AND_DISK)
    bi = bi.persist()
    cb = bi.groupBy("gram").agg(F.count(F.lit(1)).alias("cb"))
    cp = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("cp"))
    ratio = F.expr(f"(cb * {SCALE}) div cp")
    return (
        bi.join(cb, "gram")
        .join(cp, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(ratio).cast("long").alias("score_s"),
            (
                F.sum(ratio).cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("lm_score"),
        )
    )


def q96_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: the top-10 most common 3-step event
    sequences (per user, ordered by ts with event_id tiebreak) with
    occurrence and distinct-user counts — the "what do users actually
    do" companion to q91's fixed funnel.  One window (single shuffle on
    user_id) produces the two leads; the trigram aggregate is map-side
    combined and the top-10 is TakeOrderedAndProject over a
    path-vocabulary-sized table (|event_types|³ max), never a global
    sort of the stream."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        e.select(
            "user_id",
            F.col("event_type").alias("s1"),
            F.lead("event_type", 1).over(w).alias("s2"),
            F.lead("event_type", 2).over(w).alias("s3"),
        )
        .filter(F.col("s2").isNotNull() & F.col("s3").isNotNull())
        .select(
            "user_id",
            F.concat_ws(">", "s1", "s2", "s3").alias("path"),
        )
    )
    return (
        p.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(10)
    )


def q97_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity-resolution join over the part-name
    vocabulary: candidate pairs share a blocking key (the name's last
    token — the noun) and are refined by edit distance ≤ 4, the classic
    blocking→refine shape that replaces the quadratic all-pairs
    comparison every naive record-linkage does.  The self-join runs on
    the DISTINCT name vocabulary (bounded, ≪ corpus) with part counts
    joined back as match weights; at 100 TB the block key caps each
    candidate set at block size and `levenshtein` runs only inside
    blocks — never across them."""
    p = load_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    blocked = names.select(
        "p_name",
        "n_parts",
        F.element_at(F.split("p_name", " "), -1).alias("_blk"),
    )
    a = blocked.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_a"),
        "_blk",
    )
    b = blocked.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_b"),
        "_blk",
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("lev"),
            "n_a",
            "n_b",
        )
        .filter(F.col("lev") <= 4)
    )


def q98_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency: how many 30-min-gap sessions (q29
    semantics) are simultaneously open — the top-10 busiest among the
    concurrency CHANGE-POINT minutes (the running sum is evaluated at
    boundary-delta minutes, so a flat plateau spanning several minutes
    reports once, at its first minute; the oracle and tests pin the
    same change-point semantics).  The scale shape is the
    interval-counting classic done
    right: sessions emit +1/-1 boundary deltas, deltas aggregate onto
    minute buckets (map-side combined; the shuffle carries one row per
    DISTINCT minute, never one per event), and the running sum orders a
    table bounded by the time range in minutes — a year is 526k rows —
    not by the event stream."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    gap = ms - F.lag(ms).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1000), 1).otherwise(0)
    sid = F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = (
        e.select("user_id", "ts", sid.alias("sid"))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("t_start"), F.max("ts").alias("t_end"))
    )
    starts = sess.select(
        F.date_trunc("minute", "t_start").alias("m"), F.lit(1).alias("d")
    )
    ends = sess.select(
        (F.date_trunc("minute", "t_end") + F.expr("INTERVAL 1 MINUTE")).alias(
            "m"
        ),
        F.lit(-1).alias("d"),
    )
    deltas = (
        starts.unionAll(ends).groupBy("m").agg(F.sum("d").alias("delta"))
    )
    conc = deltas.select(
        "m",
        F.sum("delta")
        .over(
            Window.orderBy("m").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("long")
        .alias("concurrent"),
    )
    return conc.orderBy(F.desc("concurrent"), F.asc("m")).limit(10)


def q99_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill with last-observation-carried-forward: an
    hourly purchase-value panel per user (a 1-in-5 user sample keeps
    the panel honest without exploding it), missing hours filled from
    the user's most recent observation.  `sequence()` generates each
    user's own hour span (bounded by span, not by events), the
    observation join is per (user, hour), and the LOCF window is
    partitioned per user — every stage parallelizes on user_id.  The
    within-hour representative is the LATEST event ((ts, event_id)
    row_number), pinned so both engines pick the same row."""
    from pyspark.sql import Window

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .filter(F.col("user_id") % 5 == 0)
        .select(
            "user_id",
            F.date_trunc("hour", "ts").alias("h"),
            "ts",
            "event_id",
            "value",
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id", "h").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
    )
    obs = (
        e.select("user_id", "h", "value", rn.alias("rn"))
        .filter(F.col("rn") == 1)
        .select("user_id", "h", "value")
    )
    spans = obs.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    series = spans.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    filled = series.join(obs, ["user_id", "h"], "left")
    w = Window.partitionBy("user_id").orderBy("h")
    return filled.select(
        "user_id",
        "h",
        F.last("value", ignorenulls=True).over(w).alias("value_filled"),
        F.col("value").isNotNull().alias("is_observed"),
    )


def q100_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search: documents containing the exact phrase
    "hash value" (token-adjacency on the normalized token stream),
    ranked by hit count — the positional extension of q79's posting
    lists.  Computed in one codegen'd scan (see the shape note below);
    the oracle keeps the explicit positional-postings form (posexplode
    twice + equi-join on (doc_id, pos+1)), so the value-hash certifies
    the regexp form IS the adjacency join.  Top-20 is
    TakeOrderedAndProject over the matched docs."""
    # Adjacency counted in ONE pass, fully codegen'd: the normalized
    # token stream re-joined on single spaces is exactly
    # `trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))` (same
    # separator class the tokenizer splits on; empty tokens collapse
    # into one space, leading/trailing separators trim away), so
    # "token i = 'hash' AND token i+1 = 'value'" ⇔ one occurrence of
    # the space-delimited phrase — counted with a ZERO-WIDTH lookahead
    # so overlapping occurrences ("hash value hash value") all count,
    # exactly like the (p2 = p1 + 1) postings join this replaces
    # (round-9: 2 tokenize passes + a shuffle join → 1 scan, zero
    # pre-top-k exchanges; isolated 0.49 s → 0.22 s).  A first attempt
    # filtered per-element array indexes through a HOF — the projection
    # collapsed the tokenizer INTO the lambda (SCALE.md hazard #1/#6,
    # measured 5.0 s); the regexp form has no per-element expressions.
    s = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")),
        F.lit(" "),
    )
    n_hits = F.regexp_count(s, F.lit("(?= hash value )"))
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", n_hits.cast("long").alias("n_hits"))
        .filter(F.col("n_hits") >= 1)
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(20)
    )


def q101_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-Type-2 history build from a change stream: collapse each
    user's event sequence into state-validity intervals — a row per
    state CHANGE with ``valid_from`` / ``valid_to`` (NULL = current) —
    the slowly-changing-dimension reconstruction every warehouse runs
    over CDC feeds (the interval twin of q77's snapshot merge).  Two
    windows over the same (user_id | ts, event_id) spec → one shuffle;
    the change filter drops repeat states before the lead, so the
    second window sorts only the survivors."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        e.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.lag("event_type").over(w).alias("_prev"),
        )
        .filter(
            F.col("_prev").isNull()
            | (F.col("_prev") != F.col("event_type"))
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changed.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    )


def q102_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the co-purchase graph (parts appearing in the
    same order ≥ 2 times), via DEGREE-ORDERED edge orientation — the
    compact-forward algorithm that makes distributed triangle counting
    survive power-law graphs: every edge points from its lower-(deg,id)
    endpoint to the higher, so each wedge is enumerated exactly once at
    its lowest-degree apex and the per-node fan-out is capped at
    O(√m) instead of max-degree.  Wedge generation and the closing-edge
    check are plain equi-joins; the (deg,id) tuple order is a struct
    comparison both engines share."""
    li = load_table(spark, sf_dir, "lineitem")
    lp = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = lp.select("ok", F.col("pk").alias("u"))
    b = lp.select("ok", F.col("pk").alias("v"))
    # persisted: the edge list feeds degree counting, orientation, and
    # the closing-edge check — unpersisted, each consumer re-runs the
    # order self-join + weight aggregate; the w>=2 filter keeps it tiny
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
        .persist()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    du = deg.select(
        F.col("node").alias("u"), F.col("deg").alias("deg_u")
    )
    dv = deg.select(
        F.col("node").alias("v"), F.col("deg").alias("deg_v")
    )
    ed = edges.join(du, "u").join(dv, "v")
    ku = F.struct(F.col("deg_u").alias("d"), F.col("u").alias("i"))
    kv = F.struct(F.col("deg_v").alias("d"), F.col("v").alias("i"))
    # also persisted: consumed by both wedge sides and the closing-edge
    # check; edge-list-sized (the graph, not the corpus)
    oriented = ed.select(
        F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(ku < kv, F.col("deg_v")).otherwise(F.col("deg_u")).alias(
            "deg_dst"
        ),
    ).persist()
    o1 = oriented.select(
        "src", F.col("dst").alias("b"), F.col("deg_dst").alias("deg_b")
    )
    o2 = oriented.select(
        "src", F.col("dst").alias("c"), F.col("deg_dst").alias("deg_c")
    )
    wedges = (
        o1.join(o2, "src")
        .filter(
            F.struct(F.col("deg_b").alias("d"), F.col("b").alias("i"))
            < F.struct(F.col("deg_c").alias("d"), F.col("c").alias("i"))
        )
        .select(F.col("b").alias("wu"), F.col("c").alias("wv"))
    )
    closing = oriented.select(
        F.col("src").alias("wu"), F.col("dst").alias("wv")
    )
    tri = wedges.join(closing, ["wu", "wv"])
    # n_wedges WITHOUT executing the wedge join a second time: the
    # (deg,id) struct order is total, so of each unordered out-neighbor
    # pair exactly one orientation survives the filter — the wedge count
    # is exactly sum C(out_deg, 2) over the persisted oriented edges
    # (one key-sized aggregate instead of a full self-join execution).
    n_wedges = (
        oriented.groupBy("src")
        .agg(F.count(F.lit(1)).alias("od"))
        .agg(
            F.coalesce(
                F.sum(F.expr("od * (od - 1) DIV 2")), F.lit(0)
            )
            .cast("long")
            .alias("n_wedges")
        )
    )
    return (
        deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .crossJoin(edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges")))
        .crossJoin(n_wedges)
        .crossJoin(
            tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        )
    )


def q103_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation — the
    heavy-tail-safe twin of q94's z-scores (one wild value corrupts a
    mean + stddev; the median pair shrugs it off).  Values are
    integer-scaled (×1024) so both medians interpolate on exact
    integers (…0 or …5 halves — exact in doubles), and deviations are
    kept DOUBLED (``|2·vs − 2·med|``) so they stay integral; the flag
    is ``dev2 > 3·mad2`` in exact arithmetic.  Both medians use the
    scale-safe distribution method (`operators/quantiles.py`): the
    shuffle carries distinct values per event_type, never the raw
    stream."""
    from sparkdiff.operators.quantiles import grouped_quantiles

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1024).cast("long").alias("vs"),
    )
    # cum="window": vs is QUANTIZED (x1024 of a bounded metric domain),
    # so per-type distinct values are domain-bounded at any corpus size
    # — the one case where the single-window cumulative is both safe
    # and ~1s/call cheaper than the ranged rail at sf0.1
    # the per-type median table is tiny (one row per event_type) but its
    # lineage is the whole distinct+window+interpolate quantile chain,
    # and `dev` (which embeds it) feeds BOTH the MAD pass and the final
    # join — persisted, the median chain runs once instead of twice
    # (round 9; guide §5)
    med = grouped_quantiles(
        e, ["event_type"], [("med", "vs", 0.5)], cum="window"
    ).select("event_type", "med").persist()
    dev = e.join(med, "event_type").select(
        "event_id",
        "event_type",
        "vs",
        F.abs(
            F.col("vs") * 2 - (F.col("med") * 2).cast("long")
        ).alias("dev2"),
    )
    mad = grouped_quantiles(
        dev, ["event_type"], [("mad2", "dev2", 0.5)], cum="window"
    ).select("event_type", "mad2").persist()
    return (
        dev.join(mad, "event_type")
        .filter(F.col("dev2").cast("double") > 3 * F.col("mad2"))
        .select("event_id", "event_type", "vs", "dev2", "mad2")
    )


def q104_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of documents on (length, quality) —
    "longest AND highest-quality" curation picks with no weighting
    knob.  The scale shape is bucket-prune + bounded refine: bucket on
    length, per-bucket max quality (map-side combined), a strictly-
    higher-bucket running max over the BOUNDED bucket table, then only
    the docs beating that bound survive to the exact pairwise dominance
    check — the refine set is frontier-sized, so its non-equi self-join
    is guilt-free (contrast the naive all-pairs NOT EXISTS, quadratic
    in corpus).  Pruning is lossless: any doc at or under the
    higher-bucket bound has a strictly-longer, no-worse-quality
    dominator by construction."""
    from pyspark.sql import Window
    from sparkdiff.functions.textstats import quality_score

    W = 200
    d = load_table(spark, sf_dir, "documents")
    # narrow (id, x, y) projection persisted: the quality_score text
    # scan otherwise re-runs for each consumer of the candidate chain
    # (bucket maxima, candidate filter, both dominance sides) — 3
    # corpus-sized text passes for one 24-byte/row table
    # (PERSISTS_BY_DESIGN)
    pts = d.select(
        "doc_id",
        F.col("n_chars").alias("x"),
        quality_score("text").alias("y"),
    ).persist()
    bkt = pts.withColumn("b", F.floor(F.col("x") / W).cast("long"))
    bmax = bkt.groupBy("b").agg(F.max("y").alias("ymax"))
    w = Window.orderBy(F.desc("b")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    smax = bmax.select("b", F.max("ymax").over(w).alias("smax"))
    cand = (
        bkt.join(smax, "b")
        .filter(F.col("smax").isNull() | (F.col("y") > F.col("smax")))
        .select("doc_id", "x", "y")
    )
    # dominance depends only on DISTINCT points: dedup the right side
    # so heavy ties (duplicate (x, y) vectors, common in real corpora)
    # shrink the non-equi anti-join instead of squaring it — measured
    # 14.4 s -> linear at the 4x replica probe (tools/scaling_probe.py)
    c2 = cand.select(
        F.col("x").alias("x2"), F.col("y").alias("y2")
    ).distinct()
    dominated = (
        (F.col("x2") >= F.col("x"))
        & (F.col("y2") >= F.col("y"))
        & ((F.col("x2") > F.col("x")) | (F.col("y2") > F.col("y")))
    )
    return cand.join(c2, dominated, "left_anti")


def q105_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over the purchase stream — the
    warehouse-classic recency/frequency/monetary quintile scoring.
    Monetary sums are 1024-scaled longs (exact under any partitioning);
    the 12 quintile cuts come from ONE distribution-method quantile
    pass (`operators/quantiles.py` — never `ntile`, whose global sort
    single-partitions the corpus), broadcast back as a one-row table;
    scores are threshold comparisons, all engine-exact."""
    from sparkdiff.operators.quantiles import grouped_quantiles

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.floor(F.col("value") * 1024).cast("long").alias("vs"),
        )
    )
    anchor = e.groupBy().agg(F.max("d").alias("d_max"))
    rfm = (
        e.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.min(F.datediff(F.col("d_max"), F.col("d")))
            .cast("long")
            .alias("recency_d"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("vs").cast("long").alias("monetary_s"),
        )
    )
    specs = [
        (f"{m}_{int(p * 100)}", col, p)
        for m, col in (
            ("r", "recency_d"),
            ("f", "freq"),
            ("m", "monetary_s"),
        )
        for p in (0.2, 0.4, 0.6, 0.8)
    ]
    cuts = grouped_quantiles(
        rfm.withColumn("_g", F.lit(1)), ["_g"], specs
    ).drop("_g", "n")
    scored = rfm.crossJoin(F.broadcast(cuts))

    def up(col: str, pre: str) -> F.Column:
        s = F.lit(1)
        for p in (20, 40, 60, 80):
            s = s + (F.col(col).cast("double") > F.col(f"{pre}_{p}")).cast(
                "int"
            )
        return s

    def down(col: str, pre: str) -> F.Column:
        s = F.lit(1)
        for p in (80, 60, 40, 20):
            s = s + (F.col(col).cast("double") <= F.col(f"{pre}_{p}")).cast(
                "int"
            )
        return s

    return scored.select(
        "user_id",
        "recency_d",
        "freq",
        "monetary_s",
        down("recency_d", "r").alias("r_score"),
        up("freq", "f").alias("f_score"),
        up("monetary_s", "m").alias("m_score"),
        F.concat(
            F.lit("R"),
            down("recency_d", "r").cast("string"),
            F.lit("F"),
            up("freq", "f").cast("string"),
            F.lit("M"),
            up("monetary_s", "m").cast("string"),
        ).alias("segment"),
    )


def q106_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top-20 word bigrams by LIFT
    ``P(w1 w2) / (P(w1)·P(w2))`` with a minimum-count support filter —
    the PMI-style phrase detector (Mikolov et al.'s word2vec phrase
    pass) made engine-exact by ranking on the integer-scaled rational
    ``(cb · N · 2^20) div (c1 · c2)`` through DECIMAL(38,0)
    intermediates (no log, no doubles; products of two ~corpus-sized
    counts overflow BIGINT at web scale).  One bigram explode feeds the
    bigram AND both unigram count tables; joins are on the word keys,
    unhinted (vocabulary is unbounded — AQE decides)."""
    SCALE = 1 << 20
    d = load_table(spark, sf_dir, "documents")
    t = _tokenized_docs(d)
    n = F.size("_toks")
    bi = t.select(
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.struct(
                        F.col("_toks")[i - 1].alias("w1"),
                        F.col("_toks")[i].alias("w2"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<w1:string,w2:string>>")
            )
        ).alias("s")
    ).select("s.w1", "s.w2")
    uni = t.select(F.explode("_toks").alias("w"))
    cu = uni.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ntot = uni.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_uni"))
    cb = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
        .filter(F.col("cb") >= 20)
    )
    j = (
        cb.join(cu.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(cu.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(ntot))
    )
    lift = F.expr(
        f"CAST((CAST(cb AS DECIMAL(38,0)) * n_uni * {SCALE})"
        " div (CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)"
    )
    return (
        j.select(
            F.concat_ws(" ", "w1", "w2").alias("gram"),
            "cb",
            "c1",
            "c2",
            lift.alias("lift_s"),
        )
        .orderBy(F.desc("lift_s"), F.asc("gram"))
        .limit(20)
    )


def q107_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-profile drift between the hive/sf lineitem pair — the
    pre-diff sanity probe a re-validation pipeline runs BEFORE the
    row-level diff: per column, both sides' non-null count, exact NDV
    and canonical min/max joined on column name, with drift flags.
    Round 9 (guide §2.4): the two per-side q86-style profiles + final
    join fused into ONE side-tagged pipeline
    (`operators/profile.profile_pair`) — one base aggregation and one
    hash-melt NDV chain over the tagged union instead of two of each,
    value-identical per side.  The hash NDV encoding keeps the
    quantified 64-bit-collision contract the drift probe opted into
    (the exact injective default stays on q86)."""
    from sparkdiff.operators.profile import profile_pair

    hive, sf = testkit.lineitem_pair(spark, sf_dir)
    cols = ["l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"]
    pp = profile_pair(hive, sf, cols)
    return pp.select(
        "column",
        F.col("nn_l").alias("nn_h"),
        F.col("nn_r").alias("nn_s"),
        F.col("ndv_l").alias("ndv_h"),
        F.col("ndv_r").alias("ndv_s"),
        (F.col("nn_l") != F.col("nn_r")).alias("count_drift"),
        (F.col("ndv_l") != F.col("ndv_r")).alias("ndv_drift"),
        (
            (F.col("min_l") != F.col("min_r"))
            | (F.col("max_l") != F.col("max_r"))
        ).alias("range_drift"),
    )


def q108_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the core of warehouse
    materialized-view upkeep: a per-customer order rollup maintained as
    COMBINE(stored partial, delta partial) instead of a full rescan.
    Here the stored side is the pre-1999 partial aggregate and the
    delta is the 1999+ batch; the combine is a union of two partial-agg
    tables re-aggregated on the key (counts add, integer-cent sums add
    — both associative, so the combined result is bit-identical to the
    full recompute the oracle runs).  At 100 TB the stored partial is a
    table, not a scan, and only the delta is read."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        _cents("o_totalprice").alias("cents"),
    )
    cutoff = F.lit("1999-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        )

    stored = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    return (
        stored.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("total_cents").cast("long").alias("total_cents"),
        )
    )


def q109_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of l_extendedprice — the
    statistics-building primitive a CBO runs per column: 9 decile cut
    points from ONE distribution-method quantile pass (shuffle carries
    distinct values, never rows), broadcast back as a one-row table;
    each row's bin is the comparison-sum ``1 + Σ (v > cut_i)`` — no
    global sort, no ntile.  Per-bin counts land within ±1 distinct
    value of n/10 by construction."""
    from sparkdiff.operators.quantiles import grouped_quantiles

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v")
    )
    # ONE distinct-value table serves BOTH halves (round 9; guide
    # §2.3): the quantile rail consumes it pre-aggregated (count_col),
    # and the binning pass aggregates (value, count) rows instead of
    # re-scanning the corpus — a row's bin depends only on its value,
    # so SUM(count) per bin equals the old per-row COUNT bit-for-bit.
    # Persisted: the rail's sampler+shuffle and the bin pass are three
    # consumers (PERSISTS_BY_DESIGN).
    vc = (
        li.groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    specs = [
        (f"c{int(p * 10)}", "v", p)
        for p in (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
    ]
    cuts = grouped_quantiles(
        vc.withColumn("_g", F.lit(1)), ["_g"], specs, count_col="c"
    ).drop("_g", "n")
    binned = vc.crossJoin(F.broadcast(cuts))
    b = F.lit(1)
    for p in (1, 2, 3, 4, 5, 6, 7, 8, 9):
        b = b + (F.col("v") > F.col(f"c{p}")).cast("int")
    return (
        binned.select(b.alias("bin"), "v", "c")
        .groupBy("bin")
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.floor(F.min("v") * 100).cast("long").alias("min_cents"),
            F.floor(F.max("v") * 100).cast("long").alias("max_cents"),
        )
    )


def q110_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the load-validation report every
    warehouse runs after ingest: per FK relationship, child row count
    and orphan count (children whose parent key is missing), with a
    simulated partial parent load (orders with ``o_orderkey % 7 == 0``
    dropped) so the lineitem→orders edge actually reports orphans.
    Each orphan count is one left_anti join (parent side deduplicated
    to keys only — AQE broadcasts while it fits); the 3-row report
    unions one-row aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    o_part = o.filter(F.col("o_orderkey") % 7 != 0)

    def edge(name: str, child: DataFrame, ck: str, parent: DataFrame,
             pk: str) -> DataFrame:
        keys = parent.select(F.col(pk).alias(ck)).distinct()
        orphans = child.select(ck).join(keys, ck, "left_anti")
        return (
            child.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
            .crossJoin(
                orphans.agg(
                    F.count(F.lit(1)).cast("long").alias("n_orphans")
                )
            )
            .select(F.lit(name).alias("relationship"), "n_child", "n_orphans")
        )

    return (
        edge("lineitem->orders", li, "l_orderkey", o_part, "o_orderkey")
        .unionByName(edge("lineitem->part", li, "l_partkey", p, "p_partkey"))
        .unionByName(edge("orders->customer", o, "o_custkey", c, "c_custkey"))
    )


def q111_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the remaining member of the grouping
    family next to q41's ROLLUP and q59's CUBE: per-(priority, status)
    cells, per-priority margins, and the grand total in ONE aggregation
    pass (Catalyst expands to a single Expand + hash aggregate — one
    shuffle for all three granularities, vs three scans if issued
    separately).  GROUPING markers disambiguate NULL-as-margin from
    NULL-as-value; money in exact integer cents."""
    o = load_table(spark, sf_dir, "orders")
    o.select(
        "o_orderpriority", "o_orderstatus", "o_totalprice"
    ).createOrReplaceTempView("_q111_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS total_cents,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
        FROM _q111_orders
        GROUP BY GROUPING SETS (
            (o_orderpriority, o_orderstatus),
            (o_orderpriority),
            ()
        )
        """
    )


def q112_rank_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-rank window family in one pass — rank, dense_rank,
    percent_rank, cume_dist, ntile(4) over orders partitioned by
    priority, ordered by (price desc, orderkey) so every rank is
    tie-free and deterministic.  One shuffle (all five functions share
    the window spec); the rank <= 50 cut keeps the report per-partition
    bounded.  percent_rank/cume_dist divisions are the same two exact
    operands in both engines."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", _cents("o_totalprice").alias("cents")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("cents"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "cents",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.percent_rank().over(w).alias("prnk"),
            F.cume_dist().over(w).alias("cdist"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .filter(F.col("rnk") <= 50)
    )


def q113_dup_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-family size report over q65's connected-component
    clusters: how much of the corpus sits in families of 2, 3, ... —
    the dedup-savings estimate a curation team reads before committing
    a dedup pass.  Composes the full near-dup→CC pipeline and adds one
    bounded aggregation (family-size vocabulary is tiny); removable =
    all non-canonical members."""
    clusters = q65_dedup_clusters(spark, sf_dir)
    fam = clusters.filter(F.col("cluster_size") >= 2)
    return (
        fam.groupBy("cluster_size")
        .agg(
            F.count_distinct("cluster_id").cast("long").alias("n_families"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((~F.col("is_canonical")).cast("long"))
            .cast("long")
            .alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


def q114_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window event rates — 30-minute windows every 10 minutes
    (`F.window` with slide), the overlapping-window shape tumbling q28
    can't express: each event lands in 3 windows, counted with distinct
    users per window.  Window starts are exported as epoch seconds (one
    engine-neutral long; both engines align buckets to the epoch grid).
    State/shuffle is per (window, type) — bounded by time range ×
    vocabulary, not by the stream."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "30 minutes", "10 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("w_start"),
            "event_type",
            "n",
            "n_users",
        )
    )


def q115_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase credits the
    user's most recent non-purchase event within the preceding 60
    minutes — the marketing-attribution join every event warehouse
    runs.  The as-of shape is ONE window over the per-user stream
    (`F.last(touch, ignorenulls)` carries the running last touch to
    each purchase row — no self-join, no range join), then a
    vocabulary-sized rollup per touch type; "organic" = no touch in
    the window."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type") != "purchase",
        F.struct(F.col("ts").alias("t_ts"), F.col("event_type").alias("t_type")),
    )
    attributed = (
        e.select(
            "user_id",
            "ts",
            "event_type",
            "value",
            F.last(touch, ignorenulls=True).over(w).alias("lt"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("lt").isNotNull()
                & (
                    F.unix_millis("ts") - F.unix_millis("lt.t_ts")
                    <= 60 * 60 * 1000
                ),
                F.col("lt.t_type"),
            )
            .otherwise(F.lit("organic"))
            .alias("touch_type"),
            F.floor(F.col("value") * 1024).cast("long").alias("vs"),
        )
    )
    return attributed.groupBy("touch_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.sum("vs").cast("long").alias("value_s"),
    )


def q116_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: per (event_type, hour-of-
    day) the cross-day mean count is the baseline; a (day, hour) cell
    is anomalous when its count exceeds 2x baseline.  The comparison
    stays in exact integers — ``n·days > 2·total`` instead of a float
    mean — so the flag is engine-portable.  Two vocabulary-sized
    aggregates (cells, baselines) and one equi-join; nothing scans
    twice."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.hour("ts").cast("long").alias("hod"),
    )
    cells = e.groupBy("event_type", "day", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    base = cells.groupBy("event_type", "hod").agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    return (
        cells.join(base, ["event_type", "hod"])
        .filter(F.col("n") * F.col("n_days") > 2 * F.col("total"))
        .select("event_type", "day", "hod", "n", "total", "n_days")
    )


def q117_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto/ABC) curve: customers ranked by
    spend, bucketed into deciles by RANK (top-10% of customers first),
    each decile reporting its share of total revenue — the "does 20%
    of the base drive 80% of revenue" report.  The exact global rank
    and the customer count n come from the :func:`scalable_row_number`
    rail (NO single-partition Exchange; at warehouse scale 10^8
    customers would otherwise funnel through one reducer), and ntile's
    bucket arithmetic is reproduced from (rn, n) in exact integer DIV;
    revenue shares divide exact cent-longs by the one total at the
    end."""
    from sparkdiff.operators.quantiles import scalable_row_number

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(_cents("o_totalprice")).cast("long").alias("cents")
    )
    rn = scalable_row_number(
        per_cust, [F.desc("cents"), F.asc("o_custkey")], "rn", "_n"
    )
    # ntile(10) from (rn, n): the first n%10 buckets hold n DIV 10 + 1
    # rows, the rest n DIV 10 — identical to Spark/DuckDB NTILE.
    ranked = rn.select(
        "cents",
        F.expr(
            "CAST(CASE WHEN rn <= (_n % 10) * (_n DIV 10 + 1) "
            "THEN (rn - 1) DIV (_n DIV 10 + 1) + 1 "
            "ELSE (_n % 10) + (rn - (_n % 10) * (_n DIV 10 + 1) - 1)"
            " DIV (_n DIV 10) + 1 END AS BIGINT)"
        ).alias("decile"),
    )
    tot = ranked.groupBy().agg(
        F.sum("cents").cast("long").alias("total_cents")
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            "cents",
            (
                F.col("cents").cast("double")
                / F.col("total_cents").cast("double")
            ).alias("revenue_share"),
        )
    )


def q118_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level text statistics: segment each document on
    terminal punctuation, report sentence count, mean sentence length
    in whitespace tokens (exact 2^10-scaled integer ratio — no float
    division until the last column), and the longest sentence — the
    readability-profile features a quality classifier consumes.  Pure
    column expressions over one scan; the sentence arrays are
    materialized in their own projection before the HOF lambdas
    (SCALE.md expression-hazard #1)."""
    d = load_table(spark, sf_dir, "documents")
    sent = d.select(
        "doc_id",
        F.filter(
            F.transform(
                F.split("text", "[.!?]+"),
                lambda s: F.trim(s),
            ),
            lambda s: F.length(s) > 0,
        ).alias("_sents"),
    )
    toks_per = sent.select(
        "doc_id",
        F.transform(
            "_sents",
            lambda s: F.size(
                F.filter(F.split(s, "\\s+"), lambda t: F.length(t) > 0)
            ).cast("long"),
        ).alias("_lens"),
    )
    n_sent = F.size("_lens").cast("long")
    tot = F.aggregate(
        "_lens", F.lit(0).cast("long"), lambda a, x: a + x
    )
    return toks_per.filter(n_sent > 0).select(
        "doc_id",
        n_sent.alias("n_sentences"),
        tot.alias("n_tokens"),
        F.expr("aggregate(_lens, CAST(0 AS BIGINT), (a, x) -> a + x)"
               " * 1024 div size(_lens)").alias("mean_len_s"),
        F.array_max("_lens").cast("long").alias("max_len"),
    )


def q119_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped: revenue lost to returned items per customer —
    a 4-way join (lineitem⋈orders⋈customer⋈nation) with the return
    filter pushed to the lineitem scan, grouped revenue in exact cents,
    top-20 via TakeOrderedAndProject.  Catalyst broadcast-joins the
    dimension chain (nation is rows-sized; customer fits under AQE) so
    the fact table shuffles once for the aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("long").alias("revenue_s"))
        .orderBy(F.desc("revenue_s"), F.asc("c_custkey"))
        .limit(20)
    )


def q120_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped: customers with individual orders above a
    quantity threshold — the aggregate-then-semi-join pattern: the
    order quantity rollup (map-side combined) feeds a semi-join filter
    BEFORE the customer join, so only qualifying orders (a tiny set)
    reach the wide join.  Quantities are exact integer units."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    qty = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty")
    )
    big = qty.filter(F.col("sum_qty") > 250)
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_date"),
            _cents("o_totalprice").alias("total_cents"),
            F.col("sum_qty").cast("long").alias("sum_qty"),
        )
        .orderBy(F.desc("sum_qty"), F.asc("o_orderkey"))
        .limit(50)
    )


def q121_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verified IVF approximate-nearest-neighbor search
    (`operators/retrieval.ivf_topk_deterministic`): the deterministic
    Lloyd codebook partitions the embeddings into inverted lists, each
    query (vec_id < 5) probes its 2 nearest cells, and the candidates
    reduce to an exact L2 top-3.  Unlike the Spark-ML-quantizer IVF
    (`similarity.ivf_cosine_topk`, property-tested), every stage here —
    codebook, probe choice, candidates, ranking — is replayed
    value-for-value by the DuckDB oracle: the ANN *scale path* itself
    is under the hash gate, not just its exact twin."""
    from sparkdiff.operators.retrieval import ivf_topk_deterministic

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    return ivf_topk_deterministic(
        e,
        "vec_id",
        "v",
        k_clusters=4,
        iters=2,
        n_probe=2,
        top_k=3,
        query_pred=lambda c: c < 5,
        # codegen'd flat distance (round 9); no repartition — see q75
        dim=testkit.EMBED_DIM,
    )


def q122_binary_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-asset catalog report — the multimodal ingest probe
    (`multimodal/binaryops.py`) made driver-visible: documents become
    opaque ``binary`` payloads (UTF-8 encode — the container has no
    image codecs, but every op here is payload-agnostic), then per
    source: asset count, total bytes, distinct content digests, and
    distinct 4-byte magic prefixes — the dedup/auditing pass an asset
    lake runs before any decode.  All stats are digest/length ops on
    the binary column; nothing decodes."""
    d = load_table(spark, sf_dir, "documents")
    assets = d.select(
        "source",
        F.encode("text", "UTF-8").alias("payload"),
    ).select(
        "source",
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("digest"),
        F.substring(F.hex("payload"), 1, 8).alias("magic"),
    )
    return assets.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_assets"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.count_distinct("digest").cast("long").alias("n_digests"),
        F.count_distinct("magic").cast("long").alias("n_magics"),
    )


def q123_label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector simplified silhouette over the labeled embeddings —
    the cluster-quality diagnostic an embedding pipeline runs after
    training: a = squared-L2 to the OWN label centroid, b = min over
    other labels, s = (b − a)/max(a, b).  Centroids ride the q70
    dyadic-integer rail (exact under any partitioning) and broadcast
    as a labels×d table (q75 shape); per-vector silhouettes are pure
    row expressions, so the result is hash-stable — no cross-row
    double aggregation anywhere."""
    from sparkdiff.operators.retrieval import DYADIC_SCALE, squared_l2_flat

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    sums = (
        e.select("label", F.posexplode("v").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(
            F.sum(F.floor(F.col("val") * DYADIC_SCALE)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    cents = sums.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "s", "n"))),
            lambda t: t["s"].cast("double")
            / (t["n"] * F.lit(DYADIC_SCALE)).cast("double"),
        ).alias("c")
    )
    dists = (
        e.crossJoin(F.broadcast(cents))
        .withColumn("dist", squared_l2_flat("v", "c", testkit.EMBED_DIM))
        .groupBy("vec_id", "label")
        .agg(
            F.min(
                F.when(F.col("clabel") == F.col("label"), F.col("dist"))
            ).alias("a"),
            F.min(
                F.when(F.col("clabel") != F.col("label"), F.col("dist"))
            ).alias("b"),
        )
    )
    s = F.when(
        F.greatest("a", "b") == F.lit(0.0), F.lit(0.0)
    ).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    return dists.select(
        "vec_id", "label", "a", "b", s.alias("silhouette")
    )


def q124_dist_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift statistic between the hive/sf lineitem pair —
    the PSI-class check a re-validation pipeline runs per column when
    profiles (q107) disagree: fixed-width histograms per side, full-
    outer bucket join, and a chi-square-style score
    ``Σ (c1−c2)²·2^20 div (c1+c2)`` in exact integers through
    DECIMAL(38,0) (squared web-scale counts overflow BIGINT; log-based
    PSI is not hash-portable).  Buckets are value-domain-bounded, so
    the stat table is tiny regardless of row count.

    Both columns ride ONE ``stack`` fan-out per side (the q67/q71
    one-scan shape): each lineitem side is scanned once, bucketed into
    (column, bucket) pairs, and the two config-sized histograms meet
    in a single full-outer join keyed on (column, bucket) — replacing
    the old per-column branch tree (4 scans, 2 joins, 2 final
    aggregates, 1 union, ~10 stages) that made this query a per-stage
    scheduling-overhead canary on KB-sized data
    (BENCH_DETAIL_r07 retimes, VERDICT r7 #1)."""
    hive, sf = testkit.lineitem_pair(spark, sf_dir)
    widths = [("l_quantity", 100), ("l_extendedprice", 100_000)]
    stack_expr = "stack({n}, {args}) AS (column, bucket)".format(
        n=len(widths),
        args=", ".join(
            f"'{c}', CAST(FLOOR({c} * 100 / {w}) AS BIGINT)"
            for c, w in widths
        ),
    )

    # round 9 (guide §2.4): the two per-side histograms + full-outer
    # join (2 groupBy exchanges + a sort-merge join over them) collapse
    # into ONE conditional aggregation over the tagged union — a single
    # exchange on (column, bucket), map-side combined; a bucket absent
    # on one side yields a 0 count exactly as the old coalesce did
    def tagged(df: DataFrame, side: str) -> DataFrame:
        return df.selectExpr(stack_expr, f"'{side}' AS _side")

    j = (
        tagged(hive, "h")
        .unionByName(tagged(sf, "s"))
        .groupBy("column", "bucket")
        .agg(
            F.count(F.when(F.col("_side") == "h", 1)).alias("c1"),
            F.count(F.when(F.col("_side") == "s", 1)).alias("c2"),
        )
    )
    contrib = F.expr(
        "CAST((CAST(c1 - c2 AS DECIMAL(38,0)) * (c1 - c2) * 1048576)"
        " div CAST(c1 + c2 AS DECIMAL(38,0)) AS BIGINT)"
    )
    return j.groupBy("column").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(contrib).cast("long").alias("chi2_s"),
    )


def q125_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (the AllPairs/
    PPJoin family, Bayardo et al. 2007) — the deterministic-complete
    alternative to LSH for threshold Jaccard: order each doc's token
    set by ascending global frequency (rarest first); two sets with
    Jaccard ≥ t MUST share a token among their first
    ``⌊(1−t)·|x|⌋ + 1`` — so candidate pairs come from an equi-join on
    PREFIX tokens only, and the verify step computes exact Jaccard on
    candidates.  Unlike q25's MinHash (probabilistic recall), the
    result provably equals the all-pairs scan the oracle runs.  Prefix
    tokens are rare by construction, so on a natural corpus the join
    fans out tiny candidate lists (the synthetic testdata's 31-word
    vocabulary is the adversarial worst case — nearly every pair
    really is similar, so the candidate set is legitimately dense);
    token sets travel as 60-bit md5 longs (string intersects measured
    1.7x slower), and the 1-in-10 doc sample keeps the oracle's
    quadratic spec cheap.

    Two further PPJoin prunes run BEFORE the verify join, both exact
    integer forms of provable bounds (so no true pair is dropped and
    the oracle hash is unchanged):

    - length ratio: J ≥ 0.8 forces ``5·min(|x|,|y|) ≥ 4·max(|x|,|y|)``
      — applied per match row, ahead of the pair-dedup shuffle;
    - positional upper bound: a match at positions (pa, pb) bounds the
      total overlap by ``min(pa−1, pb−1) + 1 + min(|x|−pa, |y|−pb)``
      (shared-before tokens sit before the match in BOTH orders,
      shared-after sit after in both); the pair's tightest bound (a
      plain MIN aggregate replacing the old DISTINCT — same shuffle)
      must reach the overlap requirement ``⌈4(|x|+|y|)/9⌉``
      (= t/(1+t)·S for t = 0.8), checked as ``9·ub ≥ 4·S``.

    All of it lives in :func:`sparkdiff.operators.dedup.setsim_join`
    (threshold 4/5 as an exact rational); the oracle's double
    ``jaccard >= 0.8`` test agrees with the operator's exact-integer
    ``5·inter ≥ 4·union`` for every realistic set size (the nearest
    non-equal fraction differs by ≥ 1/(5·union) ≫ one double ulp)."""
    from sparkdiff.operators.dedup import setsim_join

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    toks = _tokenized_docs(d).select(
        "doc_id",
        F.transform(
            F.array_distinct("_toks"),
            lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast(
                "long"
            ),
        ).alias("s"),
    )
    return setsim_join(toks, 4, 5, id_col="doc_id", set_col="s")


def q126_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@3 of the deterministic IVF
    search (q121) against the exact brute-force top-3, per query —
    the measurement a pipeline runs before trusting an approximate
    index.  Both sides are deterministic, so the recall report itself
    is value-hash-checked: the driver verifies not just that the ANN
    runs, but exactly HOW approximate it is.  Exact side broadcasts
    the 5-query set over one corpus scan (q24 shape); the join of two
    top-3 lists is trivially small."""
    from sparkdiff.operators.retrieval import (
        ivf_topk_deterministic,
        squared_l2_flat,
    )
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ivf = q121_ivf_ann(spark, sf_dir).select(
        F.col("query_id"), F.col("corpus_id").alias("ivf_id")
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("_qid"), F.col("v").alias("_qv")
    )
    rn = F.row_number().over(
        Window.partitionBy("_qid").orderBy("dist", "vec_id")
    )
    exact = (
        e.crossJoin(F.broadcast(q))
        .withColumn("dist", squared_l2_flat("v", "_qv", testkit.EMBED_DIM))
        .withColumn("rn", rn)
        .filter(F.col("rn") <= 3)
        .select(F.col("_qid").alias("query_id"), F.col("vec_id").alias("ex_id"))
        # 15-row result of the one corpus-sized ranking scan; feeds the
        # hit semi-join AND the per-query denominator — persisted so the
        # exact scan runs once (PERSISTS_BY_DESIGN)
        .persist()
    )
    hits = exact.join(
        ivf,
        (exact["query_id"] == ivf["query_id"])
        & (exact["ex_id"] == ivf["ivf_id"]),
        "left_semi",
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(
                F.count(F.lit(1)).cast("long").alias("n_hit")
            ),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            (
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.col("n_exact").cast("double")
            ).alias("recall"),
        )
    )


def q127_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classifier evaluation over the labeled embeddings:
    leave-one-out 3-NN majority vote (exact L2, self excluded,
    ties broken toward the smaller label) scored against the true
    label, reported per class — the sanity eval an embedding pipeline
    runs to check that its vectors separate classes at all.  The eval
    sample is a FIXED budget — the 256 smallest md5(vec_id) hashes via
    TakeOrderedAndProject — so the broadcast side and the scan cost
    stay O(corpus x 256) at any corpus size (the previous ``vec_id % 4``
    sample grew the broadcast linearly with the corpus and made the
    scan O(n^2/4)).  Corpus-side work is one scan per the
    broadcast-queries shape (q24) with the FLAT codegen'd distance
    (the HOF fold is CodegenFallback — 4.5x slower here), and the
    vote is a bounded 3-row-per-query aggregate."""
    from pyspark.sql import Window
    from sparkdiff.operators.retrieval import squared_l2_flat

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    dim = testkit.EMBED_DIM  # fixture constant — no construction-time job
    q = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(256)
        .select(
            F.col("vec_id").alias("_qid"),
            F.col("label").alias("true_label"),
            F.col("v").alias("_qv"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("_qid").orderBy("dist", "vec_id")
    )
    # widen the corpus side before the ×256 broadcast fan-out (round
    # 9): the embeddings scan is one tiny file → ONE task otherwise
    # computes all n×256 distances (measured: the whole timed run was
    # a single 2 s task).  One tiny n-row shuffle buys 32-way distance
    # compute; a real multi-file corpus already has scan parallelism.
    corpus = widen(e, sf_dir, "embeddings")
    nn = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("_qid"))
        .withColumn("dist", squared_l2_flat("v", "_qv", dim))
        .withColumn("rn", rn)
        .filter(F.col("rn") <= 3)
    )
    votes = (
        nn.groupBy("_qid", "true_label", "label")
        .agg(F.count(F.lit(1)).alias("nv"))
        .withColumn(
            "vr",
            F.row_number().over(
                Window.partitionBy("_qid").orderBy(
                    F.desc("nv"), F.asc("label")
                )
            ),
        )
        .filter(F.col("vr") == 1)
        .select(
            "_qid",
            "true_label",
            F.col("label").alias("pred_label"),
        )
    )
    return votes.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(
            (F.col("pred_label") == F.col("true_label")).cast("long")
        )
        .cast("long")
        .alias("n_correct"),
        (
            F.sum(
                (F.col("pred_label") == F.col("true_label")).cast("long")
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("accuracy"),
    )


def q128_customer_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    single-number companion to q117's decile curve, computed with the
    rank formula ``G = (2·Σ i·cᵢ)/(n·Σcᵢ) − (n+1)/n`` entirely in
    exact integers (rank-weighted cent sums in DECIMAL(38,0) — i·cᵢ
    overflows BIGINT at warehouse scale) with ONE double division at
    the end.  The exact rank i comes from the
    :func:`scalable_row_number` rail — no single-partition Exchange
    even at 10^8 customers."""
    from sparkdiff.operators.quantiles import scalable_row_number

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(_cents("o_totalprice")).cast("long").alias("cents")
    )
    ranked = scalable_row_number(
        per_cust, [F.asc("cents"), F.asc("o_custkey")], "i"
    ).select("cents", "i")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(
            F.expr("CAST(i AS DECIMAL(38,0)) * cents")
        ).alias("_ws"),
    )
    gini = (
        F.lit(2.0) * F.col("_ws").cast("double")
        / (F.col("n").cast("double") * F.col("total_cents").cast("double"))
        - (F.col("n") + 1).cast("double") / F.col("n").cast("double")
    )
    return agg.select("n", "total_cents", gini.alias("gini"))


def q129_active_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user total ACTIVE time — each event opens a 5-minute
    activity window, overlapping windows merge, and the union length
    is reported: the gaps-and-islands pattern (new island when a
    window starts after the running max end; island id = running
    count of starts) that de-double-counts bursty activity the naive
    Σ durations would inflate.  Two windows over one (user | ts,
    event_id) spec → one shuffle; all arithmetic is epoch-millis
    longs."""
    from pyspark.sql import Window

    W_MS = 5 * 60 * 1000
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_millis("ts").alias("s"),
        (F.unix_millis("ts") + W_MS).alias("t"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("t").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = e.select(
        "user_id",
        "s",
        "t",
        "event_id",
        F.when(
            prev_max.isNull() | (F.col("s") > prev_max), 1
        ).otherwise(0).alias("is_new"),
    )
    island = F.sum("is_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = (
        marked.select("user_id", "s", "t", island.alias("island"))
        .groupBy("user_id", "island")
        .agg(F.min("s").alias("i_start"), F.max("t").alias("i_end"))
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start"))
        .cast("long")
        .alias("active_ms"),
    )


def q130_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month order revenue growth — the reporting staple:
    monthly totals in exact cents, previous month via lag over the
    BOUNDED month table (the time range in months, never the order
    stream), growth as the one final double division; NULL for the
    first month rides through both engines."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        # to_date: Spark date_trunc yields TIMESTAMP where DuckDB's
        # yields DATE — cast both sides so even a strict typed compare
        # (not just the driver's midnight-collapsing hash) agrees
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(_cents("o_totalprice")).cast("long").alias("cents"),
    )
    w = Window.orderBy("month")
    prev = F.lag("cents").over(w)
    return monthly.select(
        "month",
        "n_orders",
        "cents",
        (
            (F.col("cents") - prev).cast("double") / prev.cast("double")
        ).alias("growth"),
    )


def q131_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise corpus-source similarity by token-histogram
    intersection ``Σ min(p_i, q_i)`` — the domain-mixture diagnostic
    (how much do two sources' vocabulary distributions overlap) made
    engine-exact: with per-source counts c and totals N, the
    intersection is ``Σ min(c1·N2, c2·N1) / (N1·N2)``, all integer
    until the one final division (products of web-scale counts ride
    DECIMAL(38,0)).  Shape: one token explode → (source, token) counts
    → a token-key self-join (vocabulary-sized sides, unhinted) → a
    source-pair aggregate bounded by |sources|²."""
    d = load_table(spark, sf_dir, "documents")
    t = _tokenized_docs(d, extra=("source",))
    tok = t.select("source", F.explode("_toks").alias("w"))
    counts = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    totals = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = counts.join(totals, "source").select(
        F.col("source").alias("src_a"),
        "w",
        F.col("c").alias("c1"),
        F.col("n").alias("n1"),
    )
    b = counts.join(totals, "source").select(
        F.col("source").alias("src_b"),
        "w",
        F.col("c").alias("c2"),
        F.col("n").alias("n2"),
    )
    pairs = a.join(b, "w").filter(F.col("src_a") < F.col("src_b"))
    inter_term = F.expr(
        "least(CAST(c1 AS DECIMAL(38,0)) * n2,"
        " CAST(c2 AS DECIMAL(38,0)) * n1)"
    )
    return (
        pairs.groupBy("src_a", "src_b")
        .agg(
            F.sum(inter_term).alias("_s"),
            F.max("n1").alias("_n1"),
            F.max("n2").alias("_n2"),
        )
        .select(
            "src_a",
            "src_b",
            (
                F.col("_s").cast("double")
                / (F.col("_n1").cast("double") * F.col("_n2").cast("double"))
            ).alias("similarity"),
        )
    )


def q132_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: active users per day split into NEW
    (first-ever activity today) vs RETURNING — the DAU decomposition
    every product warehouse reports.  First-seen is one min-aggregate
    on user_id (map-side combined); the daily split is an equi-join of
    the per-(user, day) activity against it — no window over the
    stream, both tables are user- or day-bounded."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    active = e.distinct()
    first = active.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        active.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dau"),
            F.sum((F.col("day") == F.col("first_day")).cast("long"))
            .cast("long")
            .alias("new_users"),
            F.sum((F.col("day") != F.col("first_day")).cast("long"))
            .cast("long")
            .alias("returning_users"),
        )
    )


def q133_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement ratio every product
    warehouse tracks.  Rolling DISTINCT users can't ride a window
    aggregate (distinct state is not mergeable), so each (user, day)
    activity row CONTRIBUTES itself to the 7 trailing report days
    (a bounded ×7 explode — the standard contribution-table rewrite),
    and WAU is then a plain distinct count per report day.  Report
    days are restricted to those with ≥7 days of history so every WAU
    is a full window."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    active = e.distinct()
    dau = active.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    contrib = active.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), 6)
            )
        ).alias("rday"),
    )
    wau = contrib.groupBy("rday").agg(
        F.count_distinct("user_id").cast("long").alias("wau")
    )
    span = active.groupBy().agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    return (
        dau.join(wau, dau["day"] == wau["rday"])
        .crossJoin(F.broadcast(span))
        .filter(F.datediff(F.col("day"), F.col("d0")) >= 6)
        .select(
            "day",
            "dau",
            "wau",
            (
                F.col("dau").cast("double") / F.col("wau").cast("double")
            ).alias("stickiness"),
        )
    )


def q134_exact_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring benchmark decontamination — the companion pass to
    q66's 8-gram screen: flag every training document whose RAW text
    contains a held-out test string verbatim, for a suite whose items
    have MANY DIFFERENT lengths (here 30..54 chars, carved from every
    40th document at offset 11 — exactly how verbatim leakage looks).

    Variable-length multi-pattern substring search has no linear
    DataFrame expression (q66's window-hash trick needs one fixed
    length; ``rlike`` alternation is O(patterns × text)), so this rides
    ``operators/contamination.exact_contamination``: the benchmark-sized
    pattern side is collected once, compiled into one Aho-Corasick
    automaton, broadcast, and the corpus is scanned EXACTLY ONCE with
    zero pre-aggregation shuffle — O(text + matches) whatever the suite
    size.  Per doc: how many distinct test items hit, and how many of
    those are foreign (not the doc's own snippet)."""
    from sparkdiff.operators.contamination import exact_contamination

    d = load_table(spark, sf_dir, "documents")
    pats = d.filter(
        (F.col("doc_id") % 40 == 0) & (F.col("n_chars") >= 65)
    ).select(
        F.col("doc_id").alias("test_id"),
        F.expr("substring(text, 11, 30 + doc_id % 25)").alias("pat"),
    )
    hits = exact_contamination(d, pats, positions=True)
    return hits.groupBy("doc_id").agg(
        F.count_distinct("test_id").cast("long").alias("n_test_items"),
        F.count_distinct(
            F.when(F.col("test_id") != F.col("doc_id"), F.col("test_id"))
        )
        .cast("long")
        .alias("n_foreign_items"),
        F.min("first_pos").cast("long").alias("first_hit_pos"),
    )


def q135_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact probability-proportional-to-size corpus sampling: draw
    exactly 400 documents with probability proportional to whitespace
    token count (`operators/sampling.systematic_weighted_sample`) —
    the mixture-recipe knob q73's per-domain budget and q58's
    per-domain rates don't cover: one global sample whose inclusion
    odds track document WEIGHT, with heavy documents legitimately drawn
    multiple times (``n_copies`` = epoch multiplier, Σ = 400 exactly).

    The cumulative-weight axis rides the range-partitioned prefix-sum
    rail (no single-partition window), and the draw arithmetic is pure
    integer — both engines replay the identical sample bit-for-bit."""
    from sparkdiff.functions.textstats import ws_token_count
    from sparkdiff.operators.sampling import systematic_weighted_sample

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", ws_token_count("text").alias("n_tok")
    )
    return systematic_weighted_sample(d, "doc_id", "n_tok", k=400, seed="r4")


def q136_semdedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q88's SemDeDup corpus through the k ∝ n DEFAULT (``k=None`` →
    ``max(4, n // 100)``): the scale-safe form where expected cell
    population stays ~100 as the corpus grows — the round-4 probe
    measured FIXED k going 1.9×-the-ratio at 4× corpus, so auto-k is
    the operator default and this entry keeps it oracle-verified.
    Construction is deliberately eager (one corpus count derives k;
    tests/test_registry.py documents the exemption).  The oracle
    hard-codes k = max(4, 525 // 100) = 5 — the sf0.01 corpus the
    driver verifies against (500 vectors + every 20th re-inserted)."""
    from sparkdiff.operators.similarity import semdedup

    corpus = _semdedup_corpus(spark, sf_dir)
    return semdedup(
        corpus, "vec_id", "v", k=None, iters=2, threshold=0.95,
        dim=testkit.EMBED_DIM,
    )


def q137_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement — priority sampling
    (Duffield–Lund–Thorup): exactly 250 distinct documents chosen with
    token-count-biased inclusion odds, each carrying the
    ``est_weight = max(w, tau)`` subset-sum estimator (Σ est over the
    sample unbiasedly estimates total corpus tokens).  Completes the
    sampling family: q135 is WITH replacement (epoch multipliers),
    q87 is per-stratum uniform, this is the "k distinct, weight-biased"
    knob.  Priorities are ``double(w·10^6)/double(m+1)`` — exact
    integers through one correctly-rounded IEEE division, so both
    engines order candidates bit-identically; selection is
    TakeOrderedAndProject (no global sort), and the tau/estimate pass
    touches only the k+1 selected rows."""
    from sparkdiff.functions.textstats import ws_token_count
    from sparkdiff.operators.sampling import priority_sample

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", ws_token_count("text").alias("n_tok")
    )
    return priority_sample(d, "doc_id", "n_tok", k=250, seed="r5")


def q138_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): the
    first 8 merge rounds learned from the corpus, as ``(round, sym_l,
    sym_r, merged, cnt)`` — the trained artifact a subword tokenizer
    ships.  One corpus scan builds the word-frequency table (persisted,
    vocabulary-sized); each round is ONE job — a vocabulary-sized pair
    count topped by a 1-row ``orderBy().limit(1)`` argmax (count desc,
    pair asc — total order) whose single winning row is COLLECTED
    (bounded by construction: 1 row × rounds; ``operators/bpe.py``'s
    docstring records the measured 16 s → 2 s win over the rejected
    lazy-broadcast-crossJoin form), the merge then applied as a literal
    ``replace`` on the delimiter-wrapped symbol string (see
    ``operators/bpe.py`` for why the wrapping makes left-to-right
    replace EXACTLY the BPE merge).  The oracle replays all 8 rounds
    with chained CTEs bit-for-bit."""
    from sparkdiff.operators.bpe import bpe_merges

    d = load_table(spark, sf_dir, "documents")
    toks = _tokenized_docs(d).select(F.explode("_toks").alias("token"))
    return bpe_merges(toks, "token", rounds=8)


def q139_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (the multilingual-sampling
    rule of mBERT/XLM-R: p_i ∝ n_i^alpha): per-source sampling weights
    at alpha = 0.5 and the per-source epoch multiplier that fills a
    1M-token budget.  alpha = 0.5 is deliberate — sqrt is CORRECTLY
    ROUNDED in IEEE 754 (pow(x, 0.3) is not), so the weights are
    engine-exact.  The denominator Σ√n_i is summed in integer space
    (√n quantized by floor(·2^20) — exact: ·2^20 is a power-of-two
    scale, floor and the long sum are exact), because a float sum's
    partial-aggregation order is not portable.  One vocabulary-sized
    aggregate (20 sources), one broadcast one-row total."""
    from sparkdiff.functions.textstats import ws_token_count

    per = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(ws_token_count("text")).cast("long").alias("n_tok"))
    )
    q = F.floor(F.sqrt(F.col("n_tok").cast("double")) * F.lit(1048576.0)).cast(
        "long"
    )
    per = per.withColumn("_q", q)
    tot = per.groupBy().agg(
        F.sum("n_tok").cast("long").alias("_N"),
        F.sum("_q").cast("long").alias("_S"),
    )
    budget = 1_000_000
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tok",
            (F.col("n_tok").cast("double") / F.col("_N").cast("double")).alias(
                "nat_frac"
            ),
            (F.col("_q").cast("double") / F.col("_S").cast("double")).alias(
                "temp_weight"
            ),
            (
                F.lit(float(budget))
                * (F.col("_q").cast("double") / F.col("_S").cast("double"))
                / F.col("n_tok").cast("double")
            ).alias("epochs"),
        )
    )


def q140_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter ingest gate (`operators/bloom.py`): an 8192-bit /
    4-hash filter built over the "already ingested" corpus (docs with
    ``doc_id % 5 != 0``), probed by the full feed; per source: how many
    docs the gate flags as maybe-seen, how many it certifies new, and
    the actual false-positive count (flagged but genuinely novel) —
    zero false NEGATIVES is the filter's contract and the oracle
    checks the exact per-source flag counts.  Build is one scan +
    bit_or into m/64 packed longs; probe is an h-way position explode
    against the broadcast filter — the cheap pre-gate that lets novel
    content skip the exact dedup index."""
    from sparkdiff.operators.bloom import bloom_build, bloom_probe

    M, H, SEED = 8192, 4, "bloom-r5"
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 5 != 0).select("doc_id")
    filt = bloom_build(corpus, "doc_id", M, H, SEED)
    probed = bloom_probe(
        d.select("doc_id", "source"), "doc_id", filt, M, H, SEED
    )
    return probed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("maybe_seen"), 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        F.sum(F.when(~F.col("maybe_seen"), 1).otherwise(0))
        .cast("long")
        .alias("n_certified_new"),
        F.sum(
            F.when(F.col("maybe_seen") & (F.col("doc_id") % 5 == 0), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_false_pos"),
    )


def q141_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring report (Lee et al. 2022 "ExactSubstr",
    `operators/substring.py`): every maximal span of >= 30 chars that
    occurs verbatim more than once in the corpus, aggregated per
    source — docs affected, span count, repeated chars, longest span.
    Detection is stride-1 30-gram seeds: position table (one row per
    corpus char — the honest linear cost), skew-safe
    ``groupBy(hash)`` with map-side combine (never a window over the
    gram hash), HAVING-filtered join back, per-doc island merge.  The
    oracle replays seeds → gram counts → islands in SQL; each engine
    hashes grams with its own identity proxy (Spark xxhash64, DuckDB
    md5 — see substring.py), so spans match bit-for-bit."""
    from sparkdiff.operators.substring import repeated_spans

    d = load_table(spark, sf_dir, "documents")
    spans = repeated_spans(widen(d.select("doc_id", "text"), sf_dir, "documents"), 30)
    return (
        spans.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs_with_repeats"),
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("n_repeated_chars"),
            F.max(F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("max_span_len"),
        )
    )


def q142_substring_selfdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus self-deduplication by surgical excision
    (`operators/substring.py`): cut every >= 30-char repeated span
    except its corpus-first occurrence (min (doc, pos) — a total
    order, so the keeper election is engine-deterministic), rebuild
    each document with one JVM ``aggregate`` over its sorted span
    array, and report per source: docs, docs touched, chars removed,
    and a COMMUTATIVE per-source content digest — the SUM of bounded
    per-doc ``md5(doc_id ‖ chr31 ‖ clean_text)`` 60-bit digests
    (`functions.canonical.content_checksum`, the diff bucket-checksum
    idiom).  The digest still pins the full string surgery (any
    single-character change flips a summand), but every aggregation
    buffer is ONE decimal: a source's share of a 100 TB corpus never
    materializes in a collect_list.  The oracle rebuilds via complement
    segments (lag window + string_agg) and must reach the identical
    digest sum."""
    from sparkdiff.operators.substring import excise_repeated_spans

    d = load_table(spark, sf_dir, "documents")
    # widened: the seed-position explode AND the per-doc excision
    # rebuild both read this frame, so both run wide on a single split
    ex = excise_repeated_spans(
        widen(d.select("doc_id", "text"), sf_dir, "documents"), 30
    )
    return (
        ex.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_spans") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_touched"),
            F.sum("n_chars_excised").cast("long").alias("n_chars_removed"),
            content_checksum("doc_id", "clean_text").alias("corpus_digest"),
        )
    )


def q143_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout planning (`operators/layout.py`): simulate two
    physical layouts of the orders table — linear date-sorted vs
    Morton-interleaved (custkey × order-day) — at 500-row files, and
    report min/max file-skipping effectiveness for three range
    predicates (a customer band, a date quarter, and their
    conjunction).  The 100 TB story in one table: the linear layout
    prunes perfectly on its sort column and not at all on the other;
    Z-order prunes BOTH to small file fractions — the decision input
    for `OPTIMIZE ZORDER BY`-style compaction.  Everything is integer
    bit arithmetic on the scalable row-number rail (no SinglePartition
    exchange, no UDF); the oracle replays the same mask cascade and
    floor scaling bit-for-bit."""
    from sparkdiff.operators.layout import (
        scale16,
        skipping_report,
        zorder_key2,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("o_day"),
    )
    rng = o.agg(
        F.min("o_custkey").alias("ck_min"),
        F.max("o_custkey").alias("ck_max"),
        F.min("o_day").alias("d_min"),
        F.max("o_day").alias("d_max"),
    )
    z = o.crossJoin(F.broadcast(rng)).select(
        "o_orderkey",
        "o_custkey",
        "o_day",
        zorder_key2(
            scale16(F.col("o_custkey"), F.col("ck_min"), F.col("ck_max")),
            scale16(F.col("o_day"), F.col("d_min"), F.col("d_max")),
        ).alias("zkey"),
    )
    lo_ck, hi_ck = 100, 400
    lo_d, hi_d = 10_408, 10_499  # 1998-07-01 .. 1998-09-30
    rep = skipping_report(
        z,
        layouts={
            "linear_date": [F.col("o_day"), F.col("o_orderkey")],
            "zorder": [F.col("zkey"), F.col("o_orderkey")],
        },
        stat_cols=["o_custkey", "o_day"],
        predicates={
            "custkey_band": ("o_custkey", lo_ck, hi_ck),
            "date_quarter": ("o_day", lo_d, hi_d),
            # the conjunction: a two-column WHERE — the case Z-order
            # exists for (both clauses prune, multiplicatively)
            "custkey_and_quarter": [
                ("o_custkey", lo_ck, hi_ck),
                ("o_day", lo_d, hi_d),
            ],
        },
        rows_per_file=500,
    )
    return rep.orderBy("layout", "predicate")


def q144_quantile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quality-score calibration by quantile normalization
    (the microarray-era Bolstad et al. method, applied the way corpus
    curators align heterogeneous quality scores before a global
    threshold): each document's score is replaced by the GLOBAL
    empirical quantile at its within-source midpoint rank, so every
    source's calibrated distribution is a subsample of the same global
    one and one corpus-wide cutoff treats sources fairly.  Ranks are
    integers (row_number over (score, doc_id) — a total order), the
    midpoint index map is pure integer arithmetic, and the global rank
    table rides the scalable row-number rail; the only join is
    data-sized equi on the target index.  Output: per source, docs +
    min/median/max of raw and calibrated scores (scaled longs)."""
    from sparkdiff.functions.textstats import quality_score
    from sparkdiff.operators.quantiles import scalable_row_number
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.floor(quality_score("text") * F.lit(1_000_000.0))
        .cast("long")
        .alias("q"),
    )
    # global sorted table: g-th smallest score (g = 1..N).  The rail
    # persists `d`, so the corpus count and the per-source window below
    # read that cache too: one quality_score pass over the text.
    glob = scalable_row_number(d, [F.col("q"), F.col("doc_id")], "g").select(
        F.col("g").alias("_g"), F.col("q").alias("q_cal")
    )
    n_tot = d.agg(F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    ranked = (
        d.withColumn("r", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("source")))
        .crossJoin(F.broadcast(n_tot))
        # midpoint-rank index map: g = ceil((2r-1)*N / (2n)) via the
        # (num + den - 1) div den form — all terms positive, so trunc
        # and floor division agree on both engines; clamp to [1, N]
        .withColumn(
            "_g",
            F.greatest(
                F.lit(1).cast("long"),
                F.least(
                    F.col("_n").cast("long"),
                    F.expr("((2*r - 1) * _n + 2*n - 1) div (2*n)"),
                ),
            ).cast("long"),
        )
    )
    cal = ranked.join(glob, "_g")
    return (
        cal.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("q").cast("long").alias("raw_min"),
            F.max("q").cast("long").alias("raw_max"),
            F.min("q_cal").cast("long").alias("cal_min"),
            F.max("q_cal").cast("long").alias("cal_max"),
            F.sum("q_cal").cast("long").alias("cal_sum"),
        )
    )


def q145_selfdedup_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-dedup to the SPLICE FIXPOINT (``excise_repeated_spans(
    rescan=1)``, `operators/substring.py`): pass 1 cuts every non-first
    repeated span; cutting splices flanks together, and a splice can
    itself equal text that exists elsewhere — a repeat only a SECOND
    detection pass over the cleaned corpus can see.  rescan=1 runs that
    second pass (full detection pipeline against pass-1's output — the
    honest cost, since repetition is corpus-global), accumulating
    per-doc counts; the report is q142's rollup with the commutative
    per-doc digest over the FINAL text.  Runs on the doc_id%3 slice to
    bound the bench cost of the doubled detection.  Construction-eager
    by design (one bounded 1-row action checks whether pass 1 cut
    anything before scheduling pass 2 — `test_registry` documents it).
    The oracle chains the q142 CTE pipeline twice."""
    from sparkdiff.operators.substring import excise_repeated_spans

    d = load_table(spark, sf_dir, "documents")
    sub = d.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    # widened as in q142; the rescan pass reads pass 1's output, which
    # keeps this width, so it needs no repartition of its own
    ex = excise_repeated_spans(widen(sub, sf_dir, "documents"), 30, rescan=1)
    return (
        ex.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_spans") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_touched"),
            F.sum("n_chars_excised").cast("long").alias("n_chars_removed"),
            content_checksum("doc_id", "clean_text").alias("corpus_digest"),
        )
    )


def q146_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer END-TO-END: train 8 BPE merges on the doc_id%5 corpus
    slice (`operators/bpe.bpe_merges` — one scan + 8 bounded argmax
    jobs), collect the 8-rule artifact (configuration-sized, the
    shipped-tokenizer contract), apply it back over the same token
    stream with `bpe_segment` (pure chained literal replaces — no UDF,
    no shuffle beyond the per-source rollup), and report per source:
    tokens, chars, post-merge symbol count, and the compression ratio
    (chars per 1000 symbols, integer div).  This is the fit→apply→
    measure loop a tokenizer pipeline runs before committing to a
    vocabulary; symbol counts come from counting '(' wrappers so both
    engines count identically.  Construction-eager by design (training
    collects 1 row × 8 rounds — q138's documented convention).  The
    oracle replays training round-by-round (q138's CTE chain, token
    column carried through) and joins the trained word table back to
    the per-source stream."""
    from sparkdiff.operators.bpe import bpe_merges, bpe_segment

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    toks = (
        _tokenized_docs(d, extra=("source",))
        .select("source", F.explode("_toks").alias("token"))
        .filter(F.col("token").rlike("^[a-z0-9]+$"))
    )
    rules = bpe_merges(toks.select("token"), "token", rounds=8)
    merges = [
        (r["sym_l"], r["sym_r"]) for r in rules.orderBy("round").collect()
    ]
    seg = bpe_segment(toks, "token", merges, out_col="_syms")
    # symbol count == '(' wrapper count == size of the split array —
    # the same quantity the oracle counts on its seq string
    return (
        seg.select(
            "source",
            F.length("token").alias("_chars"),
            F.size("_syms").alias("_ns"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("_chars").cast("long").alias("n_chars"),
            F.sum("_ns").cast("long").alias("n_symbols"),
            F.expr(
                "(1000 * CAST(sum(_chars) AS BIGINT)) div "
                "CAST(sum(_ns) AS BIGINT)"
            ).alias("chars_per_1000_symbols"),
        )
    )


def q147_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus overlap matrix — the train/test-leakage and
    source-redundancy planning probe a curation pipeline runs before
    mixing sources: for every source pair, the EXACT shingle-set
    Jaccard (distinct (source, 3-word-shingle) rows → per-shingle
    source pairs → pair intersection counts; vocabulary-sized, never
    doc×doc) side by side with the 64-permutation MinHash ESTIMATE
    (per-source signatures = component-wise MIN over the source's
    shingle rows — the union semantics for free, `operators/dedup.
    minhash_signatures` grouped by source; md5 hash method so the
    oracle replays bit-for-bit).  The estimate column demonstrates the
    100 TB path (signatures are 64 ints per SOURCE — constant-size —
    while the exact path scales with vocabulary); reporting both pins
    the estimator's error on real data.  All-integer output."""
    from sparkdiff.operators.dedup import (
        _shingle_sets,
        minhash_signatures_from_exploded,
    )

    d = load_table(spark, sf_dir, "documents")
    # NOTE: a pre-shingle repartition was A/B'd here and REJECTED
    # (round-9 batch-11: interleaved wash — the signature/pair stages
    # dominate, not the shingle fan-out)
    sh = _shingle_sets(d, "source", "text", 3)
    # ONE distinct (source, shingle) table feeds ALL FOUR consumers —
    # sizes, both pair-fan-out stages, and (round 10) the MinHash
    # signature aggregation, which previously re-exploded + re-md5'd
    # the full per-document shingle stream: component-wise min is
    # idempotent over duplicates, so min over the per-SOURCE distinct
    # rows is bit-identical to min over the raw stream (guide §5/§2.4:
    # one explode+hash pass instead of two; the `sh` persist is gone
    # with its second consumer).  Persisted: lazy marking, q26's
    # persisted-shingle-table convention.
    ss = (
        sh.select(F.col("_id").alias("source"), F.explode("_sh").alias("t"))
        .distinct()
        .persist()
    )
    sizes = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    # per-shingle pair fan-out WITHOUT the shingle self-join (round-9,
    # q164's rewrite): group by shingle, sort the source list (bounded
    # by the SOURCE DOMAIN), expand ordered (i < j) pairs map-side —
    # identical counts to the (a.source < b.source) join, one exchange
    # instead of two shuffled join sides.
    _sl = F.sort_array(F.collect_list("source"))
    _pl = F.flatten(
        F.transform(
            F.col("_sl"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("_sl"),
                    i + F.lit(2),
                    F.size(F.col("_sl")) - i - F.lit(1),
                ),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        ss.groupBy("t")
        .agg(_sl.alias("_sl"))
        .select(F.explode(_pl).alias("_p"))
        .groupBy(
            F.col("_p.a").alias("source_a"),
            F.col("_p.b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    # estimate: per-source MinHash signatures — the 64-min-agg now runs
    # over the SAME persisted distinct (source, shingle) rows as the
    # exact path (md5 domain unchanged; see ss note above).  Persisted
    # (one row per source × 64 columns): BOTH sides of the signature
    # pair join consume it, and unpersisted the 64-min-agg ran twice
    # (round 9; guide §5)
    sig = minhash_signatures_from_exploded(ss, "source", "t", 64, "md5").persist()
    agree = sum(
        (F.col(f"x.m{j}") == F.col(f"y.m{j}")).cast("long") for j in range(64)
    )
    est = (
        sig.alias("x")
        .join(
            sig.alias("y"),
            F.col("x._id") < F.col("y._id"),
        )
        .select(
            F.col("x._id").alias("source_a"),
            F.col("y._id").alias("source_b"),
            agree.alias("minhash_agree"),
        )
    )
    return (
        pairs.join(
            sizes.select(
                F.col("source").alias("source_a"), F.col("n_sh").alias("n_sh_a")
            ),
            "source_a",
        )
        .join(
            sizes.select(
                F.col("source").alias("source_b"), F.col("n_sh").alias("n_sh_b")
            ),
            "source_b",
        )
        .join(est, ["source_a", "source_b"])
        .select(
            "source_a",
            "source_b",
            F.col("n_sh_a").cast("long").alias("n_sh_a"),
            F.col("n_sh_b").cast("long").alias("n_sh_b"),
            "n_common",
            F.expr(
                "(1000 * n_common) div (n_sh_a + n_sh_b - n_common)"
            ).alias("jaccard_milli"),
            "minhash_agree",
            F.expr("(1000 * minhash_agree) div 64").alias("est_jaccard_milli"),
        )
    )


def q148_bpe_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED BPE training — the production-vocabulary path (10⁴–10⁵
    merges train in rounds/m jobs, measured 0.047 s/merge vs 0.240
    sequential at 256 rounds, ``tools/bpe_probe.py``) — inside the
    driver-shaped correctness surface: 16 merges learned with
    ``batch_size=8`` on the doc_id%7 corpus slice.  Each JOB collects
    the top ``want×4`` pairs (bounded TakeOrderedAndProject) and
    greedily keeps the count-ordered prefix of pairwise SYMBOL-DISJOINT
    pairs — so the m literal replaces commute — recording each pair's
    PRE-batch count (``operators/bpe.bpe_merges`` batch contract).  The
    oracle replays the batch structure exactly: per job, a recursive
    CTE walks the ranked pairs carrying the used-symbol set (greedy
    selection is inherently sequential — 32 bounded steps), a second
    recursion applies the selected merges, and the next job re-counts;
    the job unroll is fully general (16 jobs — each job picks ≥1 while
    pairs remain), because real data DOES underfill batches (on this
    slice job 1 finds only 6 disjoint pairs in its top 32).
    Construction-eager by design (one bounded ``want×4``-row collect
    per job — q138's documented convention)."""
    from sparkdiff.operators.bpe import bpe_merges

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    toks = _tokenized_docs(d).select(F.explode("_toks").alias("token"))
    return bpe_merges(toks, "token", rounds=16, batch_size=8)


def q149_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: every near-dup FAMILY lands on
    one side of the boundary (``operators/sampling.leakage_safe_split``
    — pairs from the banded LSH join, families from large-star/
    small-star CC, split keyed on the family id).  Runs on the q25
    corpus (injected near-dups at doc_id+20000) so families are
    non-trivial, with q25's md5 hash method so the oracle replays
    pairs → CC (q65's recursive min-label propagation) → family
    coalesce → the md5 unit-variate split chain value-for-value.
    Split weights 75/12.5/12.5 make every cumulative bound (0.75,
    0.875) EXACTLY representable in binary, so the Spark WHEN chain and
    the SQL CASE compare bit-identical doubles.  ``family_size`` is
    joined on so the oracle check exercises the transitive closure, not
    just the labels.  Construction-eager by design (the CC fixpoint)."""
    from sparkdiff.operators.sampling import leakage_safe_split

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 20_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra suffix words")))
    )
    corpus = d.unionByName(dups)
    out = leakage_safe_split(
        corpus,
        "doc_id",
        "text",
        {"train": 0.75, "val": 0.125, "test": 0.125},
        threshold=0.6,
        hash_method="md5",
        seed="split-v1",
    )
    sizes = out.groupBy("family").agg(
        F.count(F.lit(1)).cast("long").alias("family_size")
    )
    return out.join(sizes, "family").select(
        "doc_id", F.col("family").cast("long").alias("family"), "family_size", "split"
    )


def q150_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized ANN recall: per query, how much of the EXACT float
    cosine top-k survives int8 quantization
    (``operators/similarity.quantize_embeddings`` — symmetric
    per-vector scale, 4× less memory/shuffle at corpus scale, and the
    quantized similarity is EXACT integer arithmetic: long dot product
    and sums of squares, one sqrt·sqrt·divide at the end).  Same
    query/corpus slices as q24 (vec_id<10 broadcast against vec_id%5),
    k=3; output = per-query overlap count and recall per mille — the
    accept/reject evidence a pipeline needs before committing to the
    quantized index.  The oracle replays both rankings value-for-value
    (the q24 float fold verbatim; the integer path has no float-order
    concerns at all)."""
    from pyspark.sql import Window

    from sparkdiff.operators.similarity import (
        cosine_topk,
        int_dot,
        quantize_embeddings,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    c = e.filter(F.col("vec_id") % 5 == 0)
    exact = cosine_topk(q, c, "vec_id", "vec_id", "embedding", "embedding", k=3)

    qq = quantize_embeddings(q, "vec_id", "embedding").select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("qa"),
        F.col("qss").alias("sa"),
    )
    qc = quantize_embeddings(c, "vec_id", "embedding").select(
        F.col("vec_id").alias("corpus_id"),
        F.col("qvec").alias("qb"),
        F.col("qss").alias("sb"),
    )
    d = int_dot(F.col("qa"), F.col("qb"))
    cos_q = F.when(
        (F.col("sa") == 0) | (F.col("sb") == 0), F.lit(0.0)
    ).otherwise(
        d.cast("double")
        / (F.sqrt(F.col("sa").cast("double")) * F.sqrt(F.col("sb").cast("double")))
    )
    scored = qc.join(F.broadcast(qq)).select(
        "query_id", "corpus_id", cos_q.alias("qcos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("corpus_id"))
    quant_topk = scored.withColumn("qrank", F.row_number().over(w)).filter(
        F.col("qrank") <= 3
    )
    overlap = (
        exact.select("query_id", "corpus_id")
        .join(quant_topk.select("query_id", "corpus_id"), ["query_id", "corpus_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0).cast("long")).alias("n_overlap"),
            F.expr("(1000 * coalesce(n_overlap, 0)) div 3").alias("recall_milli"),
        )
    )


def q151_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-global paragraph dedup with reassembly
    (`operators/dedup.paragraph_dedup`): documents are segmented into
    non-overlapping 10-word chunks (the synthetic corpus has no
    newline paragraph breaks), every chunk of >= 20 chars survives only
    at its first (doc_id, position) occurrence corpus-wide, and each
    document is rebuilt around the holes.  Output: per-doc clean text
    plus segment/drop/chars-removed accounting.  Scale shape: one
    map-side-combined group-min by segment text, one co-partitioned
    join back, one per-doc reassembly whose state is bounded by the
    document's own length — never corpus-sized buffers, no windows over
    unpartitioned data."""
    from sparkdiff.operators.dedup import paragraph_dedup

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return paragraph_dedup(d, segment_words=10, min_chars=20)


def q152_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC recall
    (`operators/retrieval.pq_encode` + `pq_adc_topk`): the corpus's
    64-dim embeddings compress to 4 subspace codes (4 centroids each,
    deterministic dyadic-exact Lloyd — 8 bits/vector instead of 256
    float bytes), queries rank the corpus by asymmetric distance
    through a broadcast m×k lookup table, and the query reports how
    much of the EXACT L2 top-5 the PQ ranking recovers (per mille).
    Completes the ANN family (exact / LSH / IVF / int8 scalar / PQ).
    The full pipeline — per-subspace codebooks, codes, lookup
    distances, ADC fold, both rankings — is value-hash replayed by the
    oracle."""
    from pyspark.sql import Window

    from sparkdiff.operators.retrieval import (
        pq_adc_topk,
        pq_encode,
        squared_l2_flat,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # flat sub_dim distance rides inside pq_encode (round 9); no
    # repartition — see q75
    codes, codebook = pq_encode(e, "vec_id", "v", m=4, sub_dim=16, k=4, iters=2)
    pq_top = pq_adc_topk(
        codes,
        codebook,
        q,
        id_col="vec_id",
        query_id_col="query_id",
        vec_col="qv",
        m=4,
        sub_dim=16,
        top_k=5,
    )
    exact_rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy("dist", "vec_id")
    )
    exact = (
        e.crossJoin(F.broadcast(q))
        .withColumn("dist", squared_l2_flat("v", "qv", testkit.EMBED_DIM))
        .withColumn("rnk", exact_rn)
        .filter(F.col("rnk") <= 5)
        .select("query_id", "vec_id")
    )
    overlap = (
        exact.join(pq_top.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return (
        q.select("query_id")
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0).cast("long")).alias("n_overlap"),
            F.expr("(1000 * coalesce(n_overlap, 0)) div 5").alias("recall_milli"),
        )
    )


def q153_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export manifest — the integrity artifact a
    pipeline writes NEXT TO its shards so a consumer can verify the
    export without re-reading it: deterministic global shuffle into 8
    shards (`operators/sampling.shuffle_shards`), concat-and-chunk
    packing into 512-token context windows (`operators/packing
    .pack_concat_chunks`), then per shard: doc/token/window/span counts
    plus the commutative `content_checksum` over (doc_id, text) —
    order- and partitioning-independent, so the manifest of a re-export
    on any cluster layout matches byte-for-byte.  ``n_windows`` is the
    observed ``max(window_id + spans)`` — certifying the packing's
    window accounting, not just re-deriving ceil(total/capacity)."""
    from sparkdiff.functions.canonical import content_checksum
    from sparkdiff.functions.textstats import ws_token_count
    from sparkdiff.operators.packing import pack_concat_chunks
    from sparkdiff.operators.sampling import shuffle_shards

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shuffle_shards(
        d, "doc_id", n_shards=8, seed="export-r7", shard_col="shard_key"
    )
    t = sh.select(
        "doc_id", "text", "shard_key", "pos", ws_token_count("text").alias("n_tok")
    )
    packed = pack_concat_chunks(
        t, "pos", "n_tok", capacity=512, shard_col="shard_key"
    )
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.max(F.col("window_id") + F.col("spans")).cast("long").alias("n_windows"),
        F.sum("spans").cast("long").alias("n_spans"),
        content_checksum(F.col("doc_id"), F.col("text")).alias("checksum"),
    )


def q154_countmin_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters (`operators/sketch.py`): build
    the deterministic 4×1024 CMS over all token occurrences, take the
    exact top-10 tokens as probes, and report exact count beside the
    sketch's min-estimate and its (one-sided, >= 0) overcount.  The
    sketch is THE mergeable counts structure at 100 TB — every
    partition sketches independently into d·w integers and grids add —
    and because the hash rows are the md5-60-bit construction, every
    cell and estimate is value-hash replayed by the oracle."""
    from sparkdiff.functions.text import tokens
    from sparkdiff.operators.sketch import cms_estimate, count_min_sketch

    occ = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens("text")).alias("token")
    )
    exact = occ.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    # the sketch hashes the VOCAB-sized frequency table (weighted
    # build), not d× every occurrence — identical cells, ~d·|occ| fewer
    # exploded rows; the exact aggregation was needed anyway for probes
    sketch = count_min_sketch(
        exact, "token", d=4, w=1024, salt="cms-r7-", weight_col="exact_cnt"
    )
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("token")).limit(10)
    est = cms_estimate(sketch, top.select("token"), "token", d=4, w=1024, salt="cms-r7-")
    return top.join(est, "token").select(
        "token",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


def q155_jl_projection_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss projection recall
    (`operators/similarity.jl_signs` + `jl_project`): embeddings drop
    64 → 16 dims through a deterministic ±1 projection (md5-parity
    matrix, driver-side literals — the Achlioptas JL variant), and the
    query reports how much of the exact float cosine top-5 survives
    ranking in the projected space.  The FIRST rung of the ANN
    compression ladder (fewer dims → then int8 q150 → then PQ q152):
    4× less vector bandwidth before quantization even starts.  Both
    rankings value-hash replayed (the projection is flat fixed-order
    arithmetic; the oracle embeds the same sign literals)."""
    from pyspark.sql import Window

    from sparkdiff.operators.similarity import (
        cosine_topk,
        jl_signs,
        with_jl_projection,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    c = e.filter(F.col("vec_id") % 3 == 0)
    exact = cosine_topk(q, c, "vec_id", "vec_id", "embedding", "embedding", k=5)

    signs = jl_signs(64, 16, salt="jl-r7")
    qp = with_jl_projection(q.select("vec_id", "embedding"), "embedding", signs).select(
        "vec_id", "p"
    )
    cp = with_jl_projection(c.select("vec_id", "embedding"), "embedding", signs).select(
        "vec_id", "p"
    )
    jl_top = cosine_topk(qp, cp, "vec_id", "vec_id", "p", "p", k=5)

    overlap = (
        exact.select("query_id", "corpus_id")
        .join(jl_top.select("query_id", "corpus_id"), ["query_id", "corpus_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0).cast("long")).alias("n_overlap"),
            F.expr("(1000 * coalesce(n_overlap, 0)) div 5").alias("recall_milli"),
        )
    )


def q156_keep_best_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST dedup (`operators/cluster.dedup_families` +
    `keep_best_per_family`): near-dup families from the LSH pair graph,
    then within each family keep the highest-`quality_score` member
    (ties to the lowest id) — the production policy where keep-first
    would discard the good copy whenever the duplicate is cleaner.
    Runs on q149's injected corpus (copies at doc_id+20000 with a
    suffix, so copies genuinely differ in quality) with the md5 hash
    method; the oracle replays pairs → recursive CC → family coalesce →
    the verbatim quality expression → per-family argmax.  Output
    quality as exact ``floor(q·1000)`` so the hash never touches a raw
    double."""
    from sparkdiff.functions.textstats import quality_score
    from sparkdiff.operators.cluster import dedup_families, keep_best_per_family

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 20_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra suffix words")))
    )
    corpus = d.unionByName(dups)
    labeled = dedup_families(
        corpus, "doc_id", "text", threshold=0.6, hash_method="md5"
    ).withColumn("q", quality_score("text"))
    out = keep_best_per_family(labeled, "doc_id", "q")
    return out.select(
        "doc_id",
        F.col("family").cast("long").alias("family"),
        F.floor(F.col("q") * 1000).cast("long").alias("q_milli"),
        F.col("kept").cast("long").alias("kept"),
    )


def q157_hll_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token NDV via the explicit HyperLogLog
    register sketch (`operators/sketch.hll_registers` /
    `hll_estimate`), with the exact NDV beside it pinning the
    estimator's error to the per-mille.  The 100 TB shape is the left
    half alone: one corpus scan, per-(source, bucket) MAX with map-side
    combine, and a 2^p-row bounded state per source that MAX-merges
    across days/partitions — no distinct(), no shuffle of the token
    domain.  The exact column (count(distinct)) exists here only to
    measure the sketch; at scale it is precisely the aggregation the
    sketch replaces.  Entirely libm-free (binary-string bit ranks,
    integer-scaled harmonic sum, one double division), so the ESTIMATE
    ITSELF is value-hash oracled — see the module header of
    operators/sketch.py."""
    from sparkdiff.functions.text import tokens
    from sparkdiff.operators.sketch import hll_estimate, hll_registers

    d = load_table(spark, sf_dir, "documents")
    occ = d.select("source", F.explode(tokens(F.col("text"))).alias("token"))
    regs = hll_registers(occ, "token", keys=["source"], p=8, salt="hll-q157")
    est = hll_estimate(regs, keys=["source"], p=8)
    exact = occ.groupBy("source").agg(
        F.countDistinct("token").cast("long").alias("exact_ndv")
    )
    return (
        est.join(exact, "source")
        .select(
            "source",
            "buckets_hit",
            "hll_ndv",
            "exact_ndv",
            F.expr(
                "CAST(abs(hll_ndv - exact_ndv) * 1000 DIV exact_ndv AS BIGINT)"
            ).alias("err_pm"),
        )
    )


def q158_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join (ed <= 1) over customer names
    via FastSS deletion-neighborhood blocking
    (`operators/editdist.edit_distance_join`): one scan generates each
    name's <=1-deletion variants, an EQUI-join on the variant string
    produces candidates (never the corpus x corpus cross product), and
    the built-in `levenshtein` verifies exactly.  The oracle is the
    direct quadratic definition — the value-hash therefore certifies
    the blocking is LOSSLESS (no false negatives), which is the
    algorithm's entire claim.  On c_name the <=1 pairs are ids
    differing in a single digit — the fat-finger/typo regime
    (data-cleaning record linkage) this operator exists for."""
    from sparkdiff.operators.editdist import edit_distance_join

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "c_name"
    )
    return edit_distance_join(widen(c, sf_dir, "customer"), "c_custkey", "c_name", d=1)


def q159_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup (Hernandez-Stolfo merge/purge,
    `operators/blocking.sorted_neighborhood_pairs`): candidates are
    each record's 4 successors in normalized-prefix sort order —
    n x window pairs, ranked by the range-partitioned rail (never an
    Exchange SinglePartition) and paired by integer equi-join (never a
    range join).  Verify = distinct-token Jaccard >= 0.5 kept in PURE
    INTEGER arithmetic ((1000*|∩|) DIV |∪|).  Runs on the q149 corpus
    (near-dups injected at doc_id+20000 with a SUFFIX edit, so dup
    pairs share the 32-char prefix key and are adjacent — the regime
    the method is designed for); the oracle replays rank, window and
    Jaccard verbatim."""
    from sparkdiff.functions.text import tokens
    from sparkdiff.operators.blocking import sorted_neighborhood_pairs

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 20_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra suffix words")))
    )
    corpus = d.unionByName(dups)
    bkey = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""), 1, 32
    )
    # tokenize ONCE per doc and carry the array as the pair payload:
    # verifying on text would re-run the interpreted tokenizer lambda
    # per PAIR side (n x window x 2 evaluations) — measured 3.3 -> 1.6 s
    # at sf0.1 for identical output
    pre = corpus.select(
        "doc_id",
        bkey.alias("bk"),
        F.array_distinct(tokens(F.col("text"))).alias("tok"),
    )
    pairs = sorted_neighborhood_pairs(
        pre, "doc_id", F.col("bk"), "tok", window=4
    )
    inter = F.size(F.array_intersect("tok_a", "tok_b")).cast("long")
    uni = F.size(F.array_union("tok_a", "tok_b")).cast("long")
    return (
        pairs.select(
            "id_a",
            "id_b",
            inter.alias("_i"),
            uni.alias("_u"),
        )
        .filter(F.col("_u") > 0)
        .select(
            "id_a",
            "id_b",
            F.expr("CAST(1000 * _i DIV _u AS BIGINT)").alias("jac_milli"),
        )
        .filter(F.col("jac_milli") >= 500)
    )


def q160_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage, end to end: FastSS blocking (q158's
    ed<=1 candidate pairs) scored by the Fellegi-Sunter model
    (`operators/linkage.py`) over four comparison fields — nation,
    market segment, balance-cents remainder, $100 balance band — with
    u-probabilities ESTIMATED FROM THE DATA as exact int64 freq^2 sums
    (one vocabulary-sized aggregate per field, one double division at
    the end) and the composite likelihood ratio multiplied in fixed
    field order, so the raw double score value-hashes across engines.
    On TPC-H customers the near-name pairs are DIFFERENT entities, and
    the model says so: agreements on independent fields are rare, so
    scores concentrate far below the match threshold — exactly the
    blocking-recall-vs-scoring-precision split the method formalizes.
    The one-row u-stats table rides as a broadcast (the q76/q90 stats
    shape)."""
    from sparkdiff.operators.editdist import edit_distance_join
    from sparkdiff.operators.linkage import (
        LinkageField,
        fellegi_sunter_score,
        field_u_stats,
    )

    attrs = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id"),
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.pmod(_cents("c_acctbal"), F.lit(100)).cast("long").alias("cents2"),
        F.floor(_cents("c_acctbal").cast("double") / F.lit(10000.0))
        .cast("long")
        .alias("balband"),
    )
    cand = edit_distance_join(
        widen(
            attrs.select(F.col("id").alias("c_custkey"), "c_name"),
            sf_dir,
            "customer",
        ),
        "c_custkey",
        "c_name",
        d=1,
    )
    a = attrs.select(
        F.col("id").alias("_aid"),
        *[F.col(c).alias(f"{c}_a") for c in attrs.columns if c != "id"],
    )
    b = attrs.select(
        F.col("id").alias("_bid"),
        *[F.col(c).alias(f"{c}_b") for c in attrs.columns if c != "id"],
    )
    pairs = (
        cand.join(a, cand.id_a == a._aid, "inner")
        .join(b, cand.id_b == b._bid, "inner")
        .drop("_aid", "_bid")
    )
    u = field_u_stats(attrs, ["c_nationkey", "c_mktsegment", "cents2", "balband"])
    fields = [
        LinkageField(
            "nation",
            (F.col("c_nationkey_a") == F.col("c_nationkey_b")).cast("int"),
            0.95,
            "u_c_nationkey_num",
        ),
        LinkageField(
            "segment",
            (F.col("c_mktsegment_a") == F.col("c_mktsegment_b")).cast("int"),
            0.9,
            "u_c_mktsegment_num",
        ),
        LinkageField(
            "cents2",
            (F.col("cents2_a") == F.col("cents2_b")).cast("int"),
            0.9,
            "u_cents2_num",
        ),
        LinkageField(
            "balband",
            (F.col("balband_a") == F.col("balband_b")).cast("int"),
            0.85,
            "u_balband_num",
        ),
    ]
    out = fellegi_sunter_score(pairs, u, fields, upper=1000.0, lower=1.0)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "dist",
        F.col("agree_nation").cast("long").alias("agree_nation"),
        F.col("agree_segment").cast("long").alias("agree_segment"),
        F.col("agree_cents2").cast("long").alias("agree_cents2"),
        F.col("agree_balband").cast("long").alias("agree_balband"),
        "score",
        "decision",
    )


def q161_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation shoot-out: sorted-neighborhood blocking
    (q159's generator) vs MinHash-LSH (q25's), both verified by the
    SAME 3-word-shingle Jaccard >= 0.6 on the SAME injected corpus, and
    both measured against the CONSTRUCTED ground truth (every doc_id%25
    original pairs with its +20000 suffix-edited copy).  Output: one
    row per method with pair count, truth pairs found, and recall per
    mille — the honest number behind q159's documented windowed-recall
    trade: sorted neighborhood only sees dups whose keys sort within
    the window, LSH sees any shingle overlap above the band threshold.
    Shingles are materialized ONCE per doc and joined to candidate
    pairs by id (never re-shingled per pair); the one-row truth count
    rides as a broadcast (q76/q90 stats shape)."""
    from sparkdiff.operators.blocking import sorted_neighborhood_pairs
    from sparkdiff.operators.dedup import near_dup_pairs, with_word_shingles

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 20_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra suffix words")))
    )
    corpus = d.unionByName(dups)

    lsh = near_dup_pairs(
        widen(corpus, sf_dir, "documents"),
        "doc_id",
        "text",
        threshold=0.6,
        hash_method="md5",
    ).select(
        F.least("id_a", "id_b").alias("lo"), F.greatest("id_a", "id_b").alias("hi")
    )

    # persisted: the shingle table feeds BOTH verify-join sides (sa and
    # sb) — unpersisted, the corpus re-shingles once per side (round-9
    # batch-9; the q25/q26 multi-consumer convention)
    sh = (
        with_word_shingles(corpus, "text", 3, out="sh")
        .select("doc_id", "sh")
        .persist()
    )
    bkey = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""), 1, 32
    )
    snm_cand = sorted_neighborhood_pairs(
        corpus, "doc_id", bkey, "text", window=4
    ).select("id_a", "id_b")
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("_sha"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size("_sha") + F.size("_shb") - inter
    jac = F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )
    snm = (
        snm_cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= 0.6)
        .select(
            F.least("id_a", "id_b").alias("lo"),
            F.greatest("id_a", "id_b").alias("hi"),
        )
    )

    both = lsh.withColumn("method", F.lit("lsh")).unionByName(
        snm.withColumn("method", F.lit("snm"))
    )
    is_truth = (
        (F.col("hi") == F.col("lo") + 20_000) & (F.col("lo") % 25 == 0)
    ).cast("long")
    agg = both.groupBy("method").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(is_truth).cast("long").alias("truth_found"),
    )
    truth = d.filter(F.col("doc_id") % 25 == 0).agg(
        F.count(F.lit(1)).cast("long").alias("n_truth")
    )
    return (
        agg.crossJoin(F.broadcast(truth))
        .select(
            "method",
            "n_pairs",
            "truth_found",
            F.expr("CAST(1000 * truth_found DIV n_truth AS BIGINT)").alias(
                "recall_pm"
            ),
        )
    )


def q162_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote/excerpt detection via the exact set-CONTAINMENT join
    (`operators/dedup.containment_join`): injected excerpts (the first
    2n/5 whitespace tokens of every 20th doc, at doc_id+30000) have
    Jaccard ≈ 0.4 against their source — INVISIBLE to the 0.6-Jaccard
    dedup family by construction — but containment 1.0, which is the
    relationship that matters before a dedup pass declares a chunk and
    its source unrelated.  Prefix-filtered (rarest-first, provably
    lossless for any fixed order), rational-threshold (4/5) integer
    pruning, exact verify on distinct candidates only; the oracle is
    the direct quadratic containment definition, so the value-hash
    certifies the prefix filter lost no pair.  All output columns are
    integers (containment per mille = 1000·|A∩B| DIV |A|)."""
    from sparkdiff.operators.dedup import (
        containment_join,
        token_hash,
        with_word_shingles,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wt = F.filter(
        F.split(F.col("text"), r"\s+"), lambda t: F.length(t) > 0
    )
    quotes = (
        d.filter(F.col("doc_id") % 20 == 0)
        .select(
            (F.col("doc_id") + 30_000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.slice(
                    wt, 1, F.expr("CAST(2 * size(filter(split(text, '\\\\s+'), t -> length(t) > 0)) DIV 5 AS INT)")
                ),
            ).alias("text"),
        )
    )
    # Two measured shape decisions (10.4 s -> 2.4 s at sf0.1):
    # widen BEFORE the shingle projection (the corpus arrives as
    # 2 file splits and the interpreted shingle lambdas would
    # serialize into 2 tasks — everything between two exchanges runs
    # at the UPSTREAM exchange's width), and hash shingles to a 64-bit
    # long as a TOP-LEVEL projection on the exploded element rows —
    # codegen — never as an array-lambda transform (higher-order
    # lambdas evaluate interpreted per element; the in-array hash
    # variant alone cost ~2 s).  The collect_set shuffle that rebuilds
    # the hashed arrays moves 265k narrow rows.  The hash is an
    # IDENTITY PROXY only (no output column carries it; the exact
    # verify intersects full hashed sets, and the prefix filter is
    # lossless for ANY element order), so Spark uses xxhash64 (round-9:
    # ~7x cheaper per row than md5+hex+conv) while the oracle replays
    # set containment on its own md5 domain — the value-hash certifies
    # the agreement.
    corpus = widen(d.unionByName(quotes), sf_dir, "documents")
    elems = with_word_shingles(corpus, "text", 3, out="sh").select(
        "doc_id", F.explode(F.array_distinct("sh")).alias("_e")
    ).select("doc_id", token_hash(F.col("_e"), "xxhash64").alias("h"))
    sets = elems.groupBy("doc_id").agg(F.collect_set("h").alias("sh"))
    out = containment_join(sets, 4, 5, id_col="doc_id", set_col="sh")
    return out.select(
        "id_a",
        "id_b",
        F.expr("CAST(1000 * inter DIV size_a AS BIGINT)").alias("containment_pm"),
    )


def q163_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis over lineitem's candidate keys
    (`operators/profile.skew_report`): per key column, the exact
    group-size facts that pick the 100 TB join strategy — orderkey
    (max 13 rows per key: shuffle-join safely), partkey/suppkey (check
    the p99/max tail), returnflag (UNIFORM — skew_milli ~1000 — but 3
    keys total: the hazard is the key DOMAIN capping parallelism at 3
    reducers, which n_keys exposes and skew_milli correctly does
    not).  `salt` = ceil(max/mean) is the replication factor
    that levels the heaviest reducer.  One corpus scan per column with
    map-side combine; all statistics on the key table; p99 from a
    bounded size-DOMAIN window; everything integer-exact and
    value-hash oracled."""
    from sparkdiff.operators.profile import skew_report

    li = load_table(spark, sf_dir, "lineitem")
    return skew_report(
        li, ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"]
    )


def q164_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source distinct-token set-operation estimates via the KMV
    (k-minimum-values / theta) sketch (`operators/sketch.kmv_sketch` /
    `kmv_pair_overlap`): per source pair, UNION and INTERSECTION NDV
    estimates from k=256-sized samples, beside the exact counts pinning
    the estimator error per-mille.  This is the sketch-family member
    HLL cannot be: register sketches MAX-merge (union-only), while the
    KMV sample supports intersections — the planning question ("how
    many tokens do these two crawls share?") a curation pipeline asks
    before mixing sources.  At 100 TB the left half is the product:
    each source/day sketches independently (one scan, k-bounded
    state), samples merge for free, and every pairwise estimate is
    k x k work on longs; the exact columns exist here only as the
    measuring stick.  Estimates are one exact-operand double division
    (union) and pure int64 (intersection) — the ESTIMATES value-hash
    oracle (see operators/sketch.py KMV section).  The sketched domain
    is q147's 3-word shingles (thousands per source), so the sample is
    genuinely k-truncated and the estimator path — not the small-set
    exact fallback — is what the oracle certifies."""
    from sparkdiff.operators.dedup import _shingle_sets
    from sparkdiff.operators.sketch import kmv_pair_overlap, kmv_sketch

    d = load_table(spark, sf_dir, "documents")
    # NOTE: a pre-shingle repartition was A/B'd here and REJECTED
    # (round-9 batch-11: interleaved wash — the distinct + pair stages
    # dominate, not the shingle fan-out)
    sh = _shingle_sets(d, "source", "text", 3)
    occ = sh.select(F.col("_id").alias("source"), F.explode("_sh").alias("token"))
    # distinct (source, token) feeds the exact sizes AND both sides of
    # the exact pair join (q147's persisted-shingle convention)
    st = occ.distinct().persist()
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("n_tok"))
    # exact intersections WITHOUT the token self-join (round-9): group
    # the distinct table by token, sort the per-token source list
    # (bounded by the SOURCE DOMAIN, not the corpus), and fan out its
    # ordered pairs map-side — one exchange instead of the join's two
    # shuffled sides, and the (a.source < b.source) pair set is the
    # sorted list's (i < j) pairs, so the counts are identical.
    _ss = F.sort_array(F.collect_list("source"))
    _pairs = F.flatten(
        F.transform(
            F.col("_ss"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("_ss"),
                    i + F.lit(2),
                    F.size(F.col("_ss")) - i - F.lit(1),
                ),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    common = (
        st.groupBy("token")
        .agg(_ss.alias("_ss"))
        .select(F.explode(_pairs).alias("_p"))
        .groupBy(
            F.col("_p.a").alias("key_a"),
            F.col("_p.b").alias("key_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    exact = (
        common.join(
            sizes.select(F.col("source").alias("key_a"), F.col("n_tok").alias("_na")),
            "key_a",
        )
        .join(
            sizes.select(F.col("source").alias("key_b"), F.col("n_tok").alias("_nb")),
            "key_b",
        )
        .select(
            "key_a",
            "key_b",
            (F.col("_na") + F.col("_nb") - F.col("exact_inter"))
            .cast("long")
            .alias("exact_union"),
            "exact_inter",
        )
    )
    # the persisted distinct (source, token) table IS the sketch input —
    # hash it directly and skip the internal distinct shuffle.  The
    # sketch itself is persisted (sources×k rows of longs): the pair
    # estimator consumes it twice (group enumeration + the broadcast
    # fan-out side), and unpersisted the two-window top-k rail ran
    # twice (round 9; guide §5)
    sk = kmv_sketch(
        st, "token", keys=["source"], k=256, salt="kmv-q164",
        assume_distinct=True,
    ).persist()
    est = kmv_pair_overlap(sk, "source", k=256)
    return (
        exact.join(est, ["key_a", "key_b"])
        .select(
            F.col("key_a").alias("source_a"),
            F.col("key_b").alias("source_b"),
            "exact_union",
            "exact_inter",
            "kmv_union",
            "kmv_inter",
            "jaccard_pm",
            F.expr(
                "CAST(abs(kmv_union - exact_union) * 1000 DIV exact_union AS BIGINT)"
            ).alias("err_union_pm"),
            F.expr(
                "CAST(abs(kmv_inter - exact_inter) * 1000 DIV exact_inter AS BIGINT)"
            ).alias("err_inter_pm"),
        )
    )


def q165_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter semi-join reduction (`operators/bloom.
    bloom_semi_join`): monthly revenue from BUILDING-segment customers,
    with the orders scan pre-gated by a Bloom filter built from the
    segment's custkeys — the Spark/Trino dynamic-filtering pattern as
    an explicit, engine-portable operator.  The gate is a zero-shuffle
    pure-expression probe (the 1024-word filter rides the task
    closure), so non-matching fact rows die AT THE SCAN and only the
    surviving sliver reaches the broadcast join that removes the
    designed-fpp strays; at 100 TB the saved cost is the exchange of
    the 4/5 of the fact table that was never going to join.  The
    output pins the overhead story per month: rows the bloom passed,
    rows the exact join kept, and the false-positive gap between them
    (zero false negatives is the filter's contract — certified by the
    value-hash, since a lost month-row or undercounted cents would
    break it).  Bloom positions are md5-replayable, money is exact
    cents."""
    from sparkdiff.operators.bloom import bloom_semi_join

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    dim = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    gated = bloom_semi_join(
        o, "o_custkey", dim, "c_custkey", m_bits=1 << 16, n_hashes=4,
        seed="bsj-q165",
    )
    joined = gated.join(
        F.broadcast(dim.withColumn("_m", F.lit(1))),
        gated["o_custkey"] == dim["c_custkey"],
        "left",
    )
    return (
        joined.groupBy(
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bloom_pass"),
            F.sum(F.coalesce(F.col("_m"), F.lit(0)))
            .cast("long")
            .alias("n_joined"),
            F.sum(
                F.when(F.col("_m").isNotNull(), _cents("o_totalprice"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("cents"),
        )
        .select(
            "month",
            "n_bloom_pass",
            "n_joined",
            (F.col("n_bloom_pass") - F.col("n_joined"))
            .cast("long")
            .alias("n_false_pos"),
            "cents",
        )
    )


def q166_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets
    (`operators/itemsets.pair_association_rules`): parts that co-occur
    in the same order, with exact per-mille support / directional
    confidence / lift, top-25 by lift under a deterministic total
    order.  The pair generator joins on the BASKET key, so the fan-out
    is sum-of-C(basket,2) — linear in orders for bounded basket sizes
    (TPC-H caps at 7 lineitems) — and the basket total is a one-row
    broadcast; nothing is ever item x item.  All counts and ratios are
    int64, so the whole rule table value-hash oracles."""
    from sparkdiff.operators.itemsets import pair_association_rules

    li = load_table(spark, sf_dir, "lineitem")
    rules = pair_association_rules(li, "l_orderkey", "l_partkey", min_support=2)
    return rules.orderBy(
        F.col("lift_pm").desc(),
        F.col("n_ab").desc(),
        "item_a",
        "item_b",
    ).limit(25)


def q167_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle over the PURCHASE stream — the monthly
    complement of q84's weekly event-activity cohorts (different table,
    grain, and an all-integer retention rail): each
    customer joins the cohort of their FIRST order month, and every
    (cohort, months-since-first) cell counts the cohort members active
    that many months later, with retention as exact per-mille of the
    cohort size.  Month arithmetic is integer (year*12 + month), the
    per-customer first-order reduction is one map-side-combined MIN,
    the activity rollup one countDistinct per bounded (cohort, age)
    cell — two shuffles total, both on keys that stay bounded however
    large the order stream grows.  All-integer output, value-hash
    oracled."""
    o = load_table(spark, sf_dir, "orders")
    mi = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    first = o.groupBy("o_custkey").agg(F.min(mi.cast("long")).alias("_fm"))
    act = (
        o.select("o_custkey", mi.cast("long").alias("_m"))
        .distinct()
        .join(first, "o_custkey")
    )
    cells = act.groupBy(
        F.col("_fm").alias("_cm"), (F.col("_m") - F.col("_fm")).alias("age")
    ).agg(F.countDistinct("o_custkey").cast("long").alias("n_active"))
    sizes = first.groupBy(F.col("_fm").alias("_cm")).agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    return (
        cells.join(sizes, "_cm")
        .select(
            F.concat(
                F.lpad(((F.col("_cm") - 1) / 12).cast("long").cast("string"), 4, "0"),
                F.lit("-"),
                F.lpad(
                    (F.pmod(F.col("_cm") - 1, F.lit(12)) + 1).cast("string"), 2, "0"
                ),
            ).alias("cohort"),
            "age",
            "cohort_size",
            "n_active",
            F.expr("n_active * 1000 DIV cohort_size").cast("long").alias(
                "retention_pm"
            ),
        )
    )


def q168_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite over lineitem
    (`operators/expectations.expectation_report`) — the Deequ-style
    nightly audit: not-null / range / accepted-values / regex / key-
    uniqueness checks, ALL evaluated in one aggregation pass over one
    scan (row-level checks are summed 0/1 flags, uniqueness rides the
    same aggregate as count minus distinct-count), reported one row per
    check with exact violation counts.  The report is #checks rows
    whatever the table size; at 100 TB this is the shape that matters —
    one pass, map-side combined, no per-check jobs.  The suite includes
    checks that FAIL on real data (quantity range tightened to [1,49],
    comment regex) so both report polarities are exercised and
    value-hash pinned."""
    from sparkdiff.operators.expectations import (
        accepted_values,
        expectation_report,
        in_range,
        matches_regex,
        not_null,
        unique,
    )

    li = load_table(spark, sf_dir, "lineitem")
    checks = [
        not_null("l_orderkey"),
        not_null("l_shipdate"),
        in_range("l_quantity", 1, 49),
        in_range("l_discount", 0.0, 0.1),
        accepted_values("l_returnflag", ["A", "N", "R"]),
        accepted_values("l_linestatus", ["F", "O"]),
        matches_regex("l_returnflag", "^[AN]$"),
        unique(["l_orderkey", "l_linenumber"]),
        unique(["l_orderkey"]),
    ]
    # not widened: the same-host A/B (round 9) measured the
    # repartitioned form neutral-to-worse — the distinct-count shuffle
    # already parallelizes the heavy half
    return expectation_report(li, checks)


def q169_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state quantile estimation from a deterministic uniform
    row sample, pinned against the exact rail: the sample is the 4096
    rows with the smallest md5-60-bit hash of their (orderkey,
    linenumber) identity — a KMV-style priority sample that is (a)
    layout-independent, (b) MERGEABLE (the k smallest of a union are
    among each part's k smallest — every shard/day samples alone and
    merges for free), and (c) selected by TakeOrderedAndProject
    (per-partition top-k, never a global sort).  Both sides run the
    SAME distribution-method interpolation (`operators/quantiles.
    grouped_quantiles`, q50's bit-pinned rail), so the only difference
    the per-mille error column measures is sampling error — the
    trade a 100 TB pipeline makes when the full-domain shuffle of the
    exact rail is the bottleneck and ~1/sqrt(k) rank error is
    acceptable.  Output in exact integer cents."""
    from sparkdiff.operators.quantiles import grouped_quantiles

    probs = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    li = load_table(spark, sf_dir, "lineitem")
    pop = li.select(F.col("l_extendedprice").alias("v")).withColumn(
        "_g", F.lit(1)
    )
    exact = grouped_quantiles(
        pop, ["_g"], [(f"e{int(p * 100)}", "v", p) for p in probs]
    ).drop("n")
    hv = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("l_orderkey"),
                    F.col("l_linenumber"),
                    F.lit("sq-q169"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    samp = (
        li.select(F.col("l_extendedprice").alias("v"), hv.alias("_hv"))
        .orderBy("_hv", "v")
        .limit(4096)
        .withColumn("_g", F.lit(1))
        .select("v", "_g")
    )
    # the sample is <= 4096 rows BY CONSTRUCTION (post-limit), so the
    # single-window cumulative strategy is safe and skips the ranged
    # rail's extra stages
    est = grouped_quantiles(
        samp,
        ["_g"],
        [(f"s{int(p * 100)}", "v", p) for p in probs],
        cum="window",
    ).drop("n")
    j = exact.join(est, "_g")
    cells = F.array(
        *[
            F.struct(
                F.lit(f"p{int(p * 100)}").alias("pct"),
                F.floor(F.col(f"e{int(p * 100)}") * 100)
                .cast("long")
                .alias("exact_cents"),
                F.floor(F.col(f"s{int(p * 100)}") * 100)
                .cast("long")
                .alias("sample_cents"),
            )
            for p in probs
        ]
    )
    return (
        j.select(F.explode(cells).alias("r"))
        .select("r.*")
        .withColumn(
            "err_pm",
            F.expr(
                "abs(sample_cents - exact_cents) * 1000 DIV exact_cents"
            ).cast("long"),
        )
    )


def q170_ingest_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-novelty burn-down — the dedup planning curve a continuous
    crawl pipeline watches: treating doc_id ranges as arrival batches
    (width 100), each batch reports its distinct 3-word shingles, how
    many were NEVER seen in any earlier batch (first-arrival = the
    corpus-global MIN batch per shingle), and the novelty rate per
    mille.  A falling curve is the signal to spend less on re-crawl
    and more on dedup.  Scale shape: one map-side-combined MIN over
    the shingle domain, one distinct-per-batch rollup, one join of two
    shingle-keyed tables — no doc x doc anything, and the output is
    #batches rows.  All-integer, value-hash oracled."""
    from sparkdiff.operators.dedup import _shingle_sets

    d = load_table(spark, sf_dir, "documents")
    sh = _shingle_sets(d, "doc_id", "text", 3)
    # distinct (batch, shingle) feeds BOTH rollups (first-arrival MIN
    # and per-batch sizes) — persist so the explode+distinct shuffle
    # runs once (q147's persisted-shingle convention)
    occ = (
        sh.select(
            F.expr("_id DIV 100").cast("long").alias("batch"),
            F.explode("_sh").alias("t"),
        )
        .distinct()
        .persist()
    )
    # a shingle is novel exactly in its MIN batch, so both report
    # columns are plain aggregates — per-batch distinct counts and
    # per-first-batch counts — joined at #batches grain; the shingle
    # domain is shuffled for the MIN but never joined back to itself
    novel = (
        occ.groupBy("t")
        .agg(F.min("batch").alias("batch"))
        .groupBy("batch")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    sizes = occ.groupBy("batch").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    return (
        sizes.join(novel, "batch", "left")
        .select(
            "batch",
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty_pm",
            F.expr("n_novel * 1000 DIV n_shingles").cast("long"),
        )
    )


def q171_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — the batch twin of
    `streaming/sessionize.stateful_sessionize`: events split into
    sessions at >30-minute idle gaps (lag + running sum of
    session-start flags over ONE per-user window spec = one shuffle),
    then rolled up into the session-size distribution: for each
    events-per-session count, how many sessions, how many distinct
    users, and total/max session duration.  The report is bounded by
    the max session length, not the stream; all arithmetic is
    epoch-millis longs, value-hash oracled."""
    from pyspark.sql import Window

    GAP_MS = 30 * 60 * 1000
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("ms"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    flagged = e.withColumn(
        "_new",
        F.when(
            F.lag("ms").over(w).isNull()
            | (F.col("ms") - F.lag("ms").over(w) > GAP_MS),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "_sid",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per = sess.groupBy("user_id", "_sid").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("ms") - F.min("ms")).cast("long").alias("dur_ms"),
    )
    return per.groupBy("n_events").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum("dur_ms").cast("long").alias("total_dur_ms"),
        F.max("dur_ms").cast("long").alias("max_dur_ms"),
    )


def q172_packing_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length planning report — the packing-efficiency numbers
    that pick a context length and packing strategy BEFORE an export:
    for each candidate capacity, CONCAT-AND-CHUNK (q57's prefix-sum
    rail: zero intra-stream padding, but documents split across window
    boundaries) versus PAD-PER-DOC (no splits below capacity, but every
    window pads to full length), each with exact window counts, wasted
    tokens (per-mille of window budget), and documents split.  One
    tokenized projection feeds every capacity (persisted, doc-count
    sized); the concat split counts come from the same
    `pack_concat_chunks` rail q57 exports; the pad strategy is pure
    per-doc arithmetic.  All-integer, value-hash oracled."""
    from sparkdiff.functions.textstats import ws_token_count
    from sparkdiff.operators.packing import pack_concat_chunks

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        ws_token_count("text").alias("n_tokens"),
        (F.col("doc_id") % 4).cast("long").alias("shard_key"),
    ).persist()
    rows = []
    for cap in (128, 512):
        packed = pack_concat_chunks(
            d, "doc_id", "n_tokens", capacity=cap, shard_col="shard_key"
        )
        concat_split = packed.agg(
            F.sum((F.col("spans") > 1).cast("long")).alias("v")
        ).select(F.col("v").cast("long").alias("concat_split_docs"))
        per_shard = d.groupBy("shard_key").agg(
            F.sum("n_tokens").alias("_tot")
        )
        concat = per_shard.agg(
            F.sum(F.expr(f"CAST(ceil(_tot / {cap}.0) AS BIGINT)")).alias(
                "concat_windows"
            ),
            F.sum(
                F.expr(
                    f"CAST(ceil(_tot / {cap}.0) AS BIGINT) * {cap} - _tot"
                )
            ).alias("concat_waste"),
        )
        pad = d.filter(F.col("n_tokens") > 0).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(F.expr(f"CAST(ceil(n_tokens / {cap}.0) AS BIGINT)"))
            .cast("long")
            .alias("pad_windows"),
            F.sum(
                F.expr(
                    f"CAST(ceil(n_tokens / {cap}.0) AS BIGINT) * {cap}"
                    " - n_tokens"
                )
            )
            .cast("long")
            .alias("pad_waste"),
            F.sum((F.col("n_tokens") > cap).cast("long"))
            .cast("long")
            .alias("pad_split_docs"),
        )
        rows.append(
            pad.join(F.broadcast(concat))
            .join(F.broadcast(concat_split))
            .select(
                F.lit(cap).cast("long").alias("capacity"),
                "n_docs",
                "total_tokens",
                F.col("concat_windows").cast("long").alias("concat_windows"),
                "concat_split_docs",
                F.col("concat_waste").cast("long").alias("concat_waste"),
                "pad_windows",
                "pad_waste",
                "pad_split_docs",
                F.expr(f"concat_waste * 1000 DIV (concat_windows * {cap})")
                .cast("long")
                .alias("concat_waste_pm"),
                F.expr(f"pad_waste * 1000 DIV (pad_windows * {cap})")
                .cast("long")
                .alias("pad_waste_pm"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def q173_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark decontamination — the EMBEDDING-space member
    of the contamination family (q66 n-gram / q134 exact-substring /
    THIS): which corpus vectors semantically match an eval PROBE set?
    The probe set is constructed by q51's convention (every 40th
    vector, deterministically ±3%-perturbed, re-keyed) so ground truth
    is exactly the %40 originals and recall is certified by the
    value-hash.  `operators/similarity.embedding_cross_matches` is the
    cross-set twin of the near-dup self-join: both sides sign against
    the same SRP planes, candidates come from a (band, key) equi-join
    of corpus keys against probe keys — probes x corpus never
    materializes — and exact cosine verifies candidates only; at
    100 TB the probe side is benchmark-sized and broadcasts."""
    from sparkdiff.operators.similarity import embedding_cross_matches

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    probes = (
        e.filter(F.col("vec_id") % 40 == 0)
        .withColumn("vec_id", F.col("vec_id") + 200_000)
        .withColumn(
            "v",
            F.transform(
                F.col("v"),
                lambda x, i: x
                * (F.lit(1.0) + F.lit(0.01) * (i % 7 - 3).cast("double")),
            ),
        )
    )
    return embedding_cross_matches(
        e, probes, "vec_id", "vec_id", "v", "v", threshold=0.99
    )


def q174_trending_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-segment detection over the event stream — the "what
    spiked today" dashboard staple: events bucketed into segments
    (event_type x JSON-prop decile), daily counts, day-over-day rise
    per segment via lag over ONE bounded-domain window (segments x
    days, never the event stream), minimum-base filter so
    1-event noise can't top the board, top-20 risers under a
    deterministic total order.  Rise is exact integer per-mille; the
    JSON hop uses the same get_json_object path as q31.  One shuffle
    to the (day, segment) rollup, everything after runs on the
    bounded segment-day table."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    seg = F.concat_ws(
        ":",
        F.col("event_type"),
        F.expr("CAST(get_json_object(props, '$.k') AS BIGINT) DIV 10"),
    )
    daily = (
        e.select(F.to_date("ts").alias("day"), seg.alias("segment"))
        .groupBy("day", "segment")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("segment").orderBy("day")
    risen = daily.withColumn("prev_n", F.lag("n").over(w)).filter(
        F.col("prev_n") >= 5
    )
    return (
        risen.select(
            "day",
            "segment",
            "n",
            F.col("prev_n").cast("long").alias("prev_n"),
            F.expr("(n - prev_n) * 1000 DIV prev_n").cast("long").alias(
                "rise_pm"
            ),
        )
        .orderBy(F.col("rise_pm").desc(), "day", "segment")
        .limit(20)
    )


#: q175's fixed FD-candidate list: (label, table, determinant expr,
#: dependent expr) — expressions are Spark/DuckDB-portable strings.
FD_CANDIDATES: list[tuple[str, str, str, str]] = [
    ("o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
    ("o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("o_orderdate->o_orderstatus", "orders", "o_orderdate", "o_orderstatus"),
    ("o_orderstatus->o_orderpriority", "orders", "o_orderstatus",
     "o_orderpriority"),
    ("c_custkey->c_nationkey", "customer", "c_custkey", "c_nationkey"),
    ("c_mktsegment->c_nationkey", "customer", "c_mktsegment", "c_nationkey"),
]


def _fd_cast(col: str) -> str:
    """Portable string rendering of an FD column: timestamps through
    DATE first so Spark and DuckDB print the same literal."""
    if col == "o_orderdate":
        return f"CAST(CAST({col} AS DATE) AS STRING)"
    return f"CAST({col} AS STRING)"


def q175_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit — the data-profiling staple behind
    key discovery and schema validation (Papenbrock et al. 2015, VLDB,
    "Functional dependency discovery: an experimental evaluation"):
    for each candidate FD ``det -> dep``, the exact g3-style violation
    count = ``Σ_groups (group_size − max dependent frequency)`` — the
    minimum number of rows to delete for the FD to hold — plus group
    counts and a ``holds`` verdict.

    Scale shape: ONE scan per table fans all its candidates out
    through ``stack`` (the q124/q67 shape — never a scan per
    candidate); the first groupBy collapses to the distinct
    (candidate, det, dep) domain with map-side combine, and everything
    after runs on value-domain-bounded tables.  No joins, no windows,
    all integer-exact."""

    def audit(table: str) -> DataFrame:
        cands = [c for c in FD_CANDIDATES if c[1] == table]
        stack_expr = "stack({n}, {args}) AS (candidate, det, dep)".format(
            n=len(cands),
            args=", ".join(
                f"'{label}', {_fd_cast(det)}, {_fd_cast(dep)}"
                for label, _t, det, dep in cands
            ),
        )
        pairs = (
            load_table(spark, sf_dir, table)
            .selectExpr(stack_expr)
            .groupBy("candidate", "det", "dep")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        groups = pairs.groupBy("candidate", "det").agg(
            F.sum("cnt").alias("n"), F.max("cnt").alias("m")
        )
        return groups.groupBy("candidate").agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(F.col("n") - F.col("m")).cast("long").alias("n_violations"),
            (F.sum(F.col("n") - F.col("m")) == 0).alias("holds"),
        )

    return audit("orders").unionByName(audit("customer"))


def q176_equifreq_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (quantile) binning with per-bin outcome counts —
    the feature-engineering pass behind WOE/IV scorecards and monotonic
    binning: customers ranked by account balance on the
    ``scalable_row_number`` rail (exact global order, NO
    single-partition window), split into 8
    equal-frequency bins, each bin reporting its row count, positive /
    negative outcome counts (outcome = customer placed at least one
    1-URGENT order), and exact integer-cents balance bounds.  The WOE
    ``ln((pos/Σpos)/(neg/Σneg))`` is a driver-side map over these 8
    rows (log is not hash-portable; the counts are the data product).

    Scale shape: outcome flags come from a semi-join-shaped aggregate
    (distinct urgent custkeys, key-grouped — never a row explosion);
    the global rank and the corpus count both come from the range-
    partitioned rail; the report is 8 rows."""
    from sparkdiff.operators.quantiles import scalable_row_number

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("pos", F.lit(1).cast("long"))
    )
    labeled = c.join(urgent, "c_custkey", "left").select(
        "c_custkey",
        _cents("c_acctbal").alias("bal_cents"),
        F.coalesce("pos", F.lit(0)).alias("pos"),
    )
    ranked = scalable_row_number(
        labeled, [F.col("bal_cents"), F.col("c_custkey")], "rn", "_n"
    )
    binned = ranked.select(
        F.expr("(rn - 1) * 8 DIV _n").cast("long").alias("bin"),
        "bal_cents",
        "pos",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("pos")).cast("long").alias("n_neg"),
        F.min("bal_cents").cast("long").alias("lo_cents"),
        F.max("bal_cents").cast("long").alias("hi_cents"),
    )


def q177_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over daily event volumes — the
    monitoring question after drift (q107/q124) says WHETHER: WHEN did
    the level shift?  Classic Page/Pettitt shape: per event type, the
    scaled cumulative deviation ``S_i = Σ_{j<=i} (c_j·D − N)`` (D days,
    N total events — S_i is day-count-scaled so it stays in exact
    int64; the usual mean-subtracted sum is S_i/D) and the change
    point = the day maximizing |S_i|, earliest day as tiebreak.

    Scale shape: one shuffle to the (type, day) rollup; the cumulative
    window and argmax run on the bounded type×day table, partitioned
    by type — never a window over the event stream."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(F.col("event_type"), F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    totals = daily.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = (
        daily.join(totals, "event_type")
        .withColumn(
            "s_i", F.sum(F.col("c") * F.col("n_days") - F.col("n_total")).over(w)
        )
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.abs("s_i").desc(), F.col("day").asc()
    )
    return (
        s.withColumn("_r", F.row_number().over(pick))
        .filter(F.col("_r") == 1)
        .select(
            "event_type",
            "n_days",
            F.col("n_total").alias("total"),
            F.col("day").cast("string").alias("change_day"),
            F.abs("s_i").cast("long").alias("s_abs"),
        )
    )


def q178_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-statistics audit: histogram-based join-size estimation
    vs exact truth for ``lineitem ⋈ part`` on partkey, per hash bucket —
    the validation an engine runs on its own cardinality model (the
    uniformity assumption inside every textbook cost model): with
    per-bucket counts and NDVs on each side, ``est = cnt_l·cnt_p div
    max(ndv_l, ndv_p)``; the EXACT per-bucket join size is computed
    WITHOUT executing the join as ``Σ_k cnt_l(k)·cnt_p(k)`` over the
    per-key count tables.  Buckets ride the engine-portable md5-60-bit
    key hash (the MinHash convention), so the report value-hashes.

    Scale shape: two key-grouped count tables (map-side combined) are
    the only corpus-sized shuffles; the per-key product join is
    key-co-located; the report is 16 rows.  The raw join never runs —
    at 100 TB that is the entire point of estimating."""
    from sparkdiff.operators.dedup import token_hash

    n_buckets = 16
    bucket = lambda c: F.pmod(  # noqa: E731 — two single-use lambdas
        token_hash(F.col(c).cast("string"), "md5"), F.lit(n_buckets)
    ).cast("long")
    lk = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt_l"))
        .withColumn("bucket", bucket("key"))
    )
    pk = (
        load_table(spark, sf_dir, "part")
        .groupBy(F.col("p_partkey").alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt_p"))
        .withColumn("bucket", bucket("key"))
    )
    sides = (
        lk.groupBy("bucket")
        .agg(
            F.sum("cnt_l").alias("rows_l"),
            F.count(F.lit(1)).alias("ndv_l"),
        )
        .join(
            pk.groupBy("bucket").agg(
                F.sum("cnt_p").alias("rows_p"),
                F.count(F.lit(1)).alias("ndv_p"),
            ),
            "bucket",
        )
    )
    actual = (
        lk.join(pk, ["bucket", "key"])
        .groupBy("bucket")
        .agg(F.sum(F.col("cnt_l") * F.col("cnt_p")).alias("actual"))
    )
    return (
        sides.join(actual, "bucket", "left")
        .select(
            "bucket",
            F.expr(
                "rows_l * rows_p DIV greatest(ndv_l, ndv_p)"
            ).cast("long").alias("est"),
            F.coalesce("actual", F.lit(0)).cast("long").alias("actual"),
            F.col("ndv_l").cast("long").alias("ndv_l"),
            F.col("ndv_p").cast("long").alias("ndv_p"),
        )
        .withColumn(
            "err_pm",
            F.expr(
                "abs(est - actual) * 1000 DIV greatest(actual, 1)"
            ).cast("long"),
        )
    )


def q179_join_view_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (`operators/ivm.
    join_delta`): the orders⋈customer view's delta under an insert-only
    batch (the most recent orders slice + the newest customer slice),
    computed as ``ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB`` — three delta-sized joins, the
    old×old product untouched — then rolled up per nation so the answer
    is configuration-sized.  The oracle recomputes the full new view
    minus the full old view (GROUP BY difference), certifying the
    delta algebra equals recompute-from-scratch.  Completes the IVM
    family: q108 maintains aggregates by partial combine, q52/q53 gate
    re-validation by checksums, this maintains the join body itself.

    Scale shape: both deltas are slices, so both maintenance joins have
    one delta-sized side (broadcastable in a real refresh); the rollup
    is map-side combined; everything integer-exact."""
    from sparkdiff.operators.ivm import join_delta

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderkey",
        "o_orderdate",
        _cents("o_totalprice").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    cutoff = F.lit("1998-06-01").cast("timestamp")
    dv = join_delta(
        o.filter(F.col("o_orderdate") < cutoff),
        o.filter(F.col("o_orderdate") >= cutoff),
        c.filter(F.col("c_custkey") % 13 != 0),
        c.filter(F.col("c_custkey") % 13 == 0),
        "c_custkey",
    )
    return dv.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("delta_rows"),
        F.sum("cents").cast("long").alias("delta_cents"),
    )


def q180_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    et al. 2007) — the privacy pass a training-data pipeline runs next
    to the PII scrub (q56): customers grouped by their quasi-identifier
    tuple (nation, market segment, account-balance decile — the
    decile from exact integer cents, fixed width, so the QI domain is
    bounded and engine-portable), each group reporting its size, the
    number of DISTINCT sensitive values its members expose (order
    priority, via the orders join), and the k>=5 / l>=3 verdicts.  A
    group smaller than k re-identifies its members; a group with too
    few distinct sensitive values leaks the attribute even when k
    holds.

    Scale shape: one orders⋈customer equi-join keyed on custkey, then
    a map-side-combined rollup to the bounded QI domain (nations x
    segments x deciles); the report never exceeds that domain."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        # floor (not truncate) so negative balances bucket identically
        # in Spark and DuckDB; cents <= 10^6 so the double is exact
        F.floor(_cents("c_acctbal") / F.lit(100_000.0)).cast("long").alias(
            "bal_decile"
        ),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderpriority"
    )
    joined = c.join(o, "c_custkey")
    return (
        joined.groupBy("c_nationkey", "c_mktsegment", "bal_decile")
        .agg(
            F.countDistinct("c_custkey").cast("long").alias("n_members"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("o_orderpriority").cast("long").alias(
                "n_sensitive"
            ),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_decile",
            "n_members",
            "n_rows",
            "n_sensitive",
            (F.col("n_members") >= 5).alias("k_anonymous"),
            (F.col("n_sensitive") >= 3).alias("l_diverse"),
        )
    )


def q181_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening — the WITH RECURSIVE staple (org charts,
    BOMs, category trees) Spark SQL lacks natively, implemented as
    POINTER DOUBLING (`operators/graph.hierarchy_closure`): each round
    composes the ancestor map with itself, so a depth-D forest settles
    in ceil(log2 D) shuffle rounds, not D — the difference between 8
    and 256 rounds on a deep enterprise hierarchy.  The fixture forest
    is documents with parent = doc_id div 3 (doc_id >= 9; 9 roots,
    depth ~6 at sf0.01); the oracle replays it as the real
    WITH RECURSIVE, certifying (node, root, depth) exactly.  The
    summary groups by (root, depth) so the output is
    forest-shape-sized."""
    from sparkdiff.operators.graph import hierarchy_closure

    d = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id AS node",
        "CASE WHEN doc_id >= 9 THEN doc_id DIV 3 END AS parent",
    )
    closure = hierarchy_closure(d)
    return closure.groupBy("root", "depth").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
        F.max("node").cast("long").alias("max_node"),
    )


def q182_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit between two categorical columns
    (order status × order priority) — the statistical cousin of the FD
    audit (q175): per contingency cell, the observed count, the
    expected count under independence as exact integer per-mille
    (``row_total · col_total · 1000 div N``), and the scaled chi-square
    term ``(N·obs − rt·ct)² · 10^6 div (N·rt·ct)`` kept exact through
    DECIMAL(38,0) (squared web-scale products overflow BIGINT).

    Scale shape: ONE corpus scan to the (status, priority) cell table;
    marginals and N come from windows over that BOUNDED table (|status|
    × |priority| rows — never the corpus), so no second scan, no
    one-row broadcast join."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    rt = F.sum("obs").over(Window.partitionBy("o_orderstatus"))
    ct = F.sum("obs").over(Window.partitionBy("o_orderpriority"))
    n = F.sum("obs").over(
        Window.partitionBy()
    )  # bounded cell table: a single-partition window over <=15 rows
    enriched = cells.select(
        "o_orderstatus",
        "o_orderpriority",
        "obs",
        rt.cast("long").alias("row_total"),
        ct.cast("long").alias("col_total"),
        n.cast("long").alias("n"),
    )
    return enriched.select(
        "o_orderstatus",
        "o_orderpriority",
        "obs",
        F.expr("row_total * col_total * 1000 DIV n")
        .cast("long")
        .alias("expected_milli"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * obs - CAST(row_total AS"
            " DECIMAL(38,0)) * col_total) *"
            " (CAST(n AS DECIMAL(38,0)) * obs - CAST(row_total AS"
            " DECIMAL(38,0)) * col_total) * 1000000"
            " div (CAST(n AS DECIMAL(38,0)) * row_total * col_total)"
            " AS BIGINT)"
        ).alias("chi2_term_scaled"),
    )


#: Benford's-law first-digit reference distribution, per mille —
#: floor(log10(1 + 1/d) * 1000) for d = 1..9.
BENFORD_PM = [301, 176, 124, 96, 79, 66, 57, 51, 45]


def q183_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-numbers screen (Nigrini's forensic-accounting staple)
    run as a data-quality check beside q168: observed first-significant-
    digit counts, their exact per-mille share, the Benford reference
    share, and the absolute deviation.  TPC-H prices are uniform-ish,
    NOT Benford — the audit is supposed to flag them; the value of the
    query is the exact, portable machinery (digit from the integer-
    cents string — no floating log anywhere; reference as fixed
    integer constants).

    Scale shape: one scan, map-side-combined count to <=9 rows; the
    share window runs on the bounded digit table."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        _cents("o_totalprice").cast("string"), 1, 1
    ).cast("long")
    counts = (
        o.filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    benford = F.element_at(
        F.array(*[F.lit(v) for v in BENFORD_PM]), F.col("digit").cast("int")
    ).cast("long")
    total = F.sum("n").over(Window.partitionBy())  # <=9-row table
    return (
        counts.select(
            "digit",
            "n",
            (F.col("n") * F.lit(1000)).alias("_num"),
            total.cast("long").alias("_tot"),
        )
        .select(
            "digit",
            "n",
            F.expr("_num DIV _tot").cast("long").alias("share_pm"),
            benford.alias("benford_pm"),
            F.abs(F.expr("_num DIV _tot") - benford)
            .cast("long")
            .alias("dev_pm"),
        )
    )


def q184_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (bitemporal) join against the SCD2 history — the
    warehouse temporal staple q101 builds the input for: every purchase
    event asks "what state was this user in ONE HOUR BEFORE the
    purchase?" by joining probe timestamps to the state-validity
    intervals (``valid_from <= t < valid_to``, NULL = current), then
    rolling up conversions by preceding state — the attribution
    question a funnel analysis asks of versioned dimensions.  Probes
    that predate the user's first recorded state drop (inner join):
    there is no version to attribute to.

    Scale shape: ONE equi-join on user_id with the interval predicate
    as a residual filter — versions per user are bounded by that user's
    change count, so the join never fans out beyond per-key history
    size; the rollup output is state-domain-sized.  No global sort, no
    window beyond q101's own per-user spec."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = (
        e.select(
            "user_id", "ts", "event_id", "event_type",
            F.lag("event_type").over(w).alias("_prev"),
        )
        .filter(
            F.col("_prev").isNull()
            | (F.col("_prev") != F.col("event_type"))
        )
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).alias("valid_to"),
        )
    )
    probes = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("probe_ts"),
    )
    pit = probes.join(hist, "user_id").filter(
        (F.col("valid_from") <= F.col("probe_ts"))
        & (
            F.col("valid_to").isNull()
            | (F.col("probe_ts") < F.col("valid_to"))
        )
    )
    return pit.groupBy(F.col("state").alias("prior_state")).agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


def q185_state_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the product-analytics staple between q96's path strings
    and q101's SCD2 intervals: (state, next_state) pairs via ONE lead
    window per user, counted into the bounded state×state matrix, with
    the transition probability as exact integer per-mille of the row
    total (windows for the row totals run over the ≤|states|² matrix,
    never the event stream)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("state"),
            F.lead("event_type").over(w).alias("next_state"),
        )
        .filter(F.col("next_state").isNotNull())
    )
    m = pairs.groupBy("state", "next_state").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    row_tot = F.sum("n").over(Window.partitionBy("state"))
    return m.select(
        "state",
        "next_state",
        "n",
        row_tot.cast("long").alias("row_total"),
        F.expr("n * 1000").cast("long").alias("_num"),
    ).select(
        "state",
        "next_state",
        "n",
        "row_total",
        F.expr("_num DIV row_total").cast("long").alias("p_pm"),
    )


def q186_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price deciles (`operators/quantiles.
    weighted_quantile_cuts`): the smallest extended price (exact
    cents) whose cumulative ORDERED QUANTITY reaches each decile of
    total quantity — the importance-weighted twin of q109's equi-depth
    histogram (a training pipeline weights by token count the same
    way).  Weights collapse to one row per distinct price first; the
    cumulative weight rides the range-partitioned prefix-sum rail (no
    single-partition window over the continuous price domain); cut
    selection is a 9-row broadcast >= join.  Integer cents × integer
    quantities keep every comparison exact."""
    from sparkdiff.operators.quantiles import weighted_quantile_cuts

    li = load_table(spark, sf_dir, "lineitem").select(
        _cents("l_extendedprice").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return weighted_quantile_cuts(li, "price_cents", "qty", n_bins=10).select(
        "bin",
        "target_weight",
        F.col("cut").cast("long").alias("cut_cents"),
    )


def q187_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder audit — the measurement that SIZES a
    streaming watermark (`streaming/` windowed aggs drop events later
    than the watermark, so the delay bound must come from data, not
    guesswork): per event, lateness = how far the event-time clock had
    already advanced past this event within its user's arrival order
    (running MAX of ts over arrival rank minus ts); rolled up into
    fixed 15-minute lateness buckets with exact per-mille shares, plus
    each bucket's worst case in seconds.  Reading the report: the
    bucket where the cumulative share crosses your loss budget is your
    watermark delay.

    Arrival order models a 16-way partitioned transport: within each
    user and day, events arrive shard-by-shard (shard = event_id mod
    16) — the deterministic stand-in for the interleaving a partitioned
    log actually delivers (the raw fixture is perfectly time-ordered,
    which would make every lateness zero and the audit vacuous).

    Scale shape: ONE per-user cumulative-max window over the arrival
    order — the same per-key spec every sessionization already pays —
    then a map-side-combined rollup to the bounded bucket domain.  All
    integer seconds."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").withColumn(
        "_shard", F.pmod("event_id", F.lit(16))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.to_date("ts"), F.col("_shard"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = e.select(
        (
            F.unix_timestamp(F.max("ts").over(w)) - F.unix_timestamp("ts")
        ).cast("long").alias("late_s")
    )
    bucketed = late.select(
        (F.col("late_s") - F.pmod("late_s", F.lit(900))).alias("bucket_s"),
        "late_s",
    )
    counts = bucketed.groupBy("bucket_s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("late_s").cast("long").alias("max_late_s"),
    )
    total = F.sum("n").over(Window.partitionBy())  # bounded bucket table
    return counts.select(
        "bucket_s",
        "n",
        "max_late_s",
        (F.col("n") * F.lit(1000)).alias("_num"),
        total.cast("long").alias("_tot"),
    ).select(
        "bucket_s",
        "n",
        "max_late_s",
        F.expr("_num DIV _tot").cast("long").alias("share_pm"),
    )


def q188_watermark_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark loss accounting — q187's decision table: for each
    candidate watermark delay (0 / 15 / 30 / 60 minutes), exactly how
    many events a watermarked streaming aggregation would DROP (their
    lateness under the 16-way-sharded arrival order exceeds the
    delay), as counts and exact per-mille of the stream.  q187 says
    how late events run; this prices each candidate bound so the team
    picks the delay whose loss fits the budget.

    Scale shape: the lateness column is computed once (same per-user
    window as q187); the four candidates fan out via ONE stack over
    the per-event lateness — no per-candidate scan — and collapse to a
    4-row report."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").withColumn(
        "_shard", F.pmod("event_id", F.lit(16))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.to_date("ts"), F.col("_shard"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = e.select(
        (
            F.unix_timestamp(F.max("ts").over(w)) - F.unix_timestamp("ts")
        ).cast("long").alias("late_s")
    )
    candidates = [0, 900, 1800, 3600]
    stack_expr = "stack({n}, {args}) AS (watermark_s, dropped)".format(
        n=len(candidates),
        args=", ".join(
            f"CAST({c} AS BIGINT), CAST(late_s > {c} AS LONG)"
            for c in candidates
        ),
    )
    return (
        late.selectExpr(stack_expr)
        .groupBy("watermark_s")
        .agg(
            F.sum("dropped").cast("long").alias("n_dropped"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            "watermark_s",
            "n_dropped",
            F.expr("n_dropped * 1000 DIV n_events")
            .cast("long")
            .alias("loss_pm"),
        )
    )


def q189_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-lag distribution — the product metric behind funnel
    SLAs: per user, seconds from FIRST view to FIRST subsequent
    purchase (users who never purchase after their first view drop
    out), then exact interpolated p50/p90/p99 of the lag over all
    converting users via the q50 distribution-method quantile rail
    (shuffle carries distinct lag values, never user rows; no
    single-partition window).

    Scale shape: two MIN reductions keyed by user (map-side combined),
    one broadcastable join of the two per-user one-row tables, then
    the dist-quantile rail on the lag column.  One summary row out."""
    from sparkdiff.operators.quantiles import grouped_quantiles

    e = load_table(spark, sf_dir, "events")
    first_view = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    lag = (
        first_view.join(purchases, "user_id")
        .filter(F.col("ts") >= F.col("view_ts"))
        .groupBy("user_id")
        .agg(
            (
                F.unix_timestamp(F.min("ts"))
                - F.unix_timestamp(F.min("view_ts"))
            ).cast("long").alias("lag_s")
        )
    )
    specs = [
        ("p50_s", "lag_s", 0.5),
        ("p90_s", "lag_s", 0.9),
        ("p99_s", "lag_s", 0.99),
    ]
    return grouped_quantiles(lag, [], specs, method="dist").select(
        "p50_s", "p90_s", "p99_s", F.col("n").cast("long").alias("n_users")
    )


# ---------------------------------------------------------------------------
# Round 9: drift scorecards, split audits, funnels, SCD2 capture, bitmap
# segment algebra, rolling sketch windows, link analysis (q190-q196)
# ---------------------------------------------------------------------------

def q190_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index scorecard — the model-monitoring
    staple for input drift between a reference and a current snapshot:
    orders split at the 1998 orderdate boundary, o_totalprice bucketed
    into fixed-width $25k bins (bounded, price-domain-capped), each bin
    reporting exact counts and integer parts-per-million proportions
    plus the signed ppm delta.  The PSI sum Σ (p-q)·ln(p/q) is a
    driver-side map over these ≤23 rows (ln is not hash-portable; the
    counts/ppm ARE the data product — the q176 WOE convention).

    Scale shape: one scan, map-side-combined conditional counts to the
    bounded bucket domain, a one-row total broadcast (q102 shape).  No
    windows, no joins beyond the bounded crossJoin."""
    o = load_table(spark, sf_dir, "orders").select(
        F.least(
            (_cents("o_totalprice") / F.lit(2_500_000)).cast("long"),
            F.lit(22),
        ).alias("bucket"),
        (F.year("o_orderdate") < 1998).alias("is_ref"),
    )
    per_bucket = o.groupBy("bucket").agg(
        F.sum(F.col("is_ref").cast("long")).alias("n_ref"),
        F.sum((~F.col("is_ref")).cast("long")).alias("n_cur"),
    )
    totals = per_bucket.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    return (
        per_bucket.crossJoin(F.broadcast(totals))  # one-row totals
        .select(
            "bucket",
            "n_ref",
            "n_cur",
            F.expr("n_ref * 1000000 DIV t_ref").alias("ref_ppm"),
            F.expr("n_cur * 1000000 DIV t_cur").alias("cur_ppm"),
            F.expr(
                "n_cur * 1000000 DIV t_cur - n_ref * 1000000 DIV t_ref"
            ).alias("delta_ppm"),
        )
    )


def q191_gini_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split audit — the feature-screening pass behind
    tree induction and scorecard binning (CART, Breiman et al. 1984):
    candidate splits are the account-balance deciles (q180's bounded
    fixed-width domain), the outcome is "customer placed ≥1 1-URGENT
    order", and each threshold t reports left/right class counts plus
    the weighted Gini impurity of the split in exact integer
    micro-units: ``gini_micro = 10^6 − 10^6·(pos² + neg²) DIV n²``
    per side, weighted as ``(n_l·g_l + n_r·g_r) DIV n`` — pure integer
    arithmetic, so the impurity ITSELF value-hashes (no floats).

    Scale shape: one semi-join-shaped outcome aggregate (distinct
    urgent custkeys), one map-side-combined rollup to the ≤11-decile
    domain, then cumulative sums over that bounded table (window ON
    ≤11 ROWS — bound stated here, the q182 convention)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(_cents("c_acctbal") / F.lit(100_000.0)).cast("long").alias(
            "decile"
        ),
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    flagged = c.join(urgent.withColumn("pos", F.lit(1)), "c_custkey", "left")
    per_decile = flagged.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_d"),
        F.sum(F.coalesce(F.col("pos"), F.lit(0))).alias("pos_d"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_decile.select(
        F.col("decile").alias("threshold"),
        F.sum("n_d").over(w).alias("n_l"),
        F.sum("pos_d").over(w).alias("pos_l"),
    )
    totals = per_decile.agg(
        F.sum("n_d").alias("n"), F.sum("pos_d").alias("pos")
    )
    g = (
        cum.crossJoin(F.broadcast(totals))
        .filter(F.col("n_l") < F.col("n"))  # right side must be non-empty
        .select(
            "threshold",
            "n_l",
            "pos_l",
            (F.col("n") - F.col("n_l")).alias("n_r"),
            (F.col("pos") - F.col("pos_l")).alias("pos_r"),
            F.expr(
                "(n_l * (1000000 - (1000000 * (pos_l*pos_l + "
                "(n_l-pos_l)*(n_l-pos_l))) DIV (n_l*n_l))"
                " + (n-n_l) * (1000000 - (1000000 * ((pos-pos_l)*(pos-pos_l)"
                " + ((n-n_l)-(pos-pos_l))*((n-n_l)-(pos-pos_l))))"
                " DIV ((n-n_l)*(n-n_l)))) DIV n"
            ).cast("long").alias("w_gini_micro"),
        )
    )
    return g


def q192_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel — view → click → purchase with strict
    temporal containment per user (each step must happen at or after
    the user's FIRST qualifying previous step), reporting per-step user
    counts and integer ppm conversion rates.  The sequential-pattern
    staple behind product funnels, expressed as three keyed MIN
    reductions + two broadcastable one-row joins — never a per-user
    event sort.

    Scale shape: each step is one filtered map-side-combined MIN per
    user; the per-user step tables join keyed on user_id; the report
    is one row."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_click"))))
        .crossJoin(
            F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchase")))
        )
    )
    return counts.select(
        "n_view",
        "n_click",
        "n_purchase",
        F.expr("n_click * 1000000 DIV n_view").alias("click_ppm"),
        F.expr("n_purchase * 1000000 DIV n_click").alias("purchase_ppm"),
        F.expr("n_purchase * 1000000 DIV n_view").alias("overall_ppm"),
    )


def q193_scd2_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 interval construction from a change log — the warehouse
    loader that turns per-key ordered change events into
    ``(key, value, valid_from, valid_to)`` validity intervals (q184
    consumes intervals of exactly this shape; this is the builder).
    Each user's events ordered by (ts, event_id) become intervals whose
    ``valid_to_ms`` is the next change's timestamp, NULL for the open
    current row.  Timestamps leave as integer epoch-millis (the
    engine-portable rail).

    Scale shape: ONE keyed window (partitionBy user — thousands of
    small partitions, no global sort); output restricted to the
    user_id % 50 sample purely to bound the hashed report."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 50 == 0
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("valid_from_ms"),
        F.unix_millis(F.lead("ts").over(w)).alias("valid_to_ms"),
    )


def q194_bitmap_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index segment algebra — membership sets as packed-long
    bitmaps (the roaring-bitmap pattern every OLAP engine ships for
    audience/segment intersection): customers grouped into 5 overlapping
    segments by order priority, each segment materialized as a
    ``(word_idx, bits)`` bitmap (``word = custkey div 64``, bit_or of
    ``1 << (custkey mod 64)``), then ALL pairwise segment overlaps
    computed via word-aligned AND + bit_count — set algebra at
    memory-bandwidth cost, never a row-level join.

    Scale shape: one distinct (priority, custkey) aggregate, a
    map-side-combined bit_or to ≤ |keyspace|/64 words per segment, and
    a word-aligned self-join keyed (word_idx) over 5×5 bounded bitmap
    tables.  The DuckDB oracle computes the same overlaps as plain
    distinct-set joins — a value-hash match certifies the bitmap
    algebra loses no member."""
    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("seg"),
            F.col("o_custkey").alias("ck"),
        )
        .distinct()
    )
    bm = o.groupBy(
        "seg", F.expr("ck DIV 64").alias("word_idx")
    ).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(ck % 64 AS INT)))")
        .alias("bits")
    )
    a = bm.select(
        F.col("seg").alias("seg_a"), "word_idx", F.col("bits").alias("ba")
    )
    b = bm.select(
        F.col("seg").alias("seg_b"), "word_idx", F.col("bits").alias("bb")
    )
    # the INNER word join is exact for the intersection (a word present
    # in only one segment contributes 0 to AND); the union comes from
    # per-segment cardinalities, NOT an OR over the inner join — that
    # would drop one-sided words and undercount
    sizes = bm.groupBy("seg").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n_seg")
    )
    both = (
        a.join(b, "word_idx")
        .filter(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(
            F.sum(F.bit_count(F.expr("ba & bb"))).cast("long").alias("n_both")
        )
    )
    return (
        both.join(
            F.broadcast(sizes.withColumnRenamed("seg", "seg_a")), "seg_a"
        )
        .withColumnRenamed("n_seg", "n_a")
        .join(F.broadcast(sizes.withColumnRenamed("seg", "seg_b")), "seg_b")
        .withColumnRenamed("n_seg", "n_b")
        .select(
            "seg_a",
            "seg_b",
            "n_a",
            "n_b",
            "n_both",
            (F.col("n_a") + F.col("n_b") - F.col("n_both")).alias("n_either"),
        )
    )


def q195_rolling_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day via HLL register merges —
    the sketch-mergeability payoff (q157's register table, now MERGED
    ACROSS WINDOW OFFSETS instead of recomputed): each day's 2^p-row
    register table fans out to the ≤7 window end-dates it contributes
    to (bounded explode), a MAX-merge collapses each window, and the
    libm-free estimator (integer-scaled harmonic sum, one double
    division — operators/sketch.py) yields the rolling NDV.  The exact
    rolling count(distinct) rides beside it as the measuring stick —
    at scale it is what the merge replaces (a 7× daily re-scan).

    Scale shape: register state is days × 2^p rows regardless of user
    count; the fan-out multiplies THAT bounded table by ≤7, never the
    events."""
    from sparkdiff.operators.sketch import hll_estimate, hll_registers

    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.col("user_id").cast("string").alias("uid"),
    )
    regs = hll_registers(e, "uid", keys=["day"], p=8, salt="hll-q195")
    days = e.select("day").distinct()
    fan = (
        regs.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
            F.date_add(F.col("day"), F.col("off")).alias("win_end"),
            "bucket",
            "reg",
        )
        .join(days.withColumnRenamed("day", "win_end"), "win_end")
        .groupBy(F.col("win_end").alias("day"), "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    est = hll_estimate(fan, keys=["day"], p=8)
    exact = (
        e.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
            F.date_add(F.col("day"), F.col("off")).alias("win_end"),
            "uid",
        )
        .join(days.withColumnRenamed("day", "win_end"), "win_end")
        .groupBy(F.col("win_end").alias("day"))
        .agg(F.countDistinct("uid").cast("long").alias("exact_ndv"))
    )
    return est.join(exact, "day").select(
        "day", "buckets_hit", "hll_ndv", "exact_ndv"
    )


def q196_hits_link_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the
    supplier↔part bipartite graph — the link-analysis twin of q90's
    PageRank: two unnormalized power-iteration rounds from h₀ = 1
    yield EXACT INTEGER scores (a₁ = supplier-degree of the part,
    h₁ = Σ a₁ over the supplier's parts, a₂ = Σ h₁ over the part's
    suppliers), so the ranking value-hashes with no float drift;
    normalization is a driver-side scalar.  Top-20 authorities by
    (a₂ desc, partkey) via TakeOrderedAndProject — no global sort.

    Scale shape: the distinct edge table shuffles once per round keyed
    by alternating endpoints (exactly the iterative join shape q90
    pins); two rounds = a fixed number of keyed aggregations."""
    edges = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        )
        .distinct()
        # persisted: the distinct edge table feeds all three power-
        # iteration consumers (a1, h1's join, a2's join) — unpersisted,
        # the scan+distinct ran once per round (round 9; guide §5)
        .persist()
    )
    a1 = edges.groupBy("p").agg(F.count(F.lit(1)).alias("a1"))
    h1 = (
        edges.join(a1, "p")
        .groupBy("s")
        .agg(F.sum("a1").alias("h1"))
    )
    a2 = (
        edges.join(h1, "s")
        .groupBy("p")
        .agg(F.sum("h1").alias("a2"))
    )
    return (
        a2.join(a1, "p")
        .select(
            F.col("p").alias("partkey"),
            F.col("a1").cast("long").alias("auth_round1"),
            F.col("a2").cast("long").alias("auth_round2"),
        )
        .orderBy(F.desc("auth_round2"), "partkey")
        .limit(20)
    )


def q197_decile_mobility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-mobility transition matrix — the cohort-economics staple
    (credit migration, spend-tier churn): customers ranked by total
    1996 spend vs total 1997 spend, each year's ranking cut into
    deciles on the ``scalable_row_number`` rail (exact global order,
    NO single-partition window), and the (decile_96 → decile_97)
    transition counts reported for customers active in both years.

    Scale shape: two per-year keyed SUM aggregates, two range-
    partitioned rank rails, one custkey equi-join, and a map-side-
    combined rollup to the ≤100-cell decile matrix."""
    from sparkdiff.operators.quantiles import scalable_row_number

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        _cents("o_totalprice").alias("cents"),
    )

    def year_deciles(yr: int, out: str) -> DataFrame:
        spend = (
            o.filter(F.col("yr") == yr)
            .groupBy("o_custkey")
            .agg(F.sum("cents").alias("spend"))
        )
        ranked = scalable_row_number(
            spend, ["spend", "o_custkey"], "rn", "n"
        )
        return ranked.select(
            "o_custkey",
            F.expr("(rn - 1) * 10 DIV n").cast("long").alias(out),
        )

    d96 = year_deciles(1996, "dec_96")
    d97 = year_deciles(1997, "dec_97")
    return (
        d96.join(d97, "o_custkey")
        .groupBy("dec_96", "dec_97")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


def q198_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-vs-last touch attribution comparison — every purchase
    credited BOTH to the user's nearest preceding view/click
    (last-touch) and to their first one ever (first-touch), ``direct``
    when none precedes; per channel the purchase count and the exact
    1024-scaled value under each model side by side.  Complements
    q115 (single-model last-touch with a 60-minute lookback cap):
    this is the unrestricted-lookback two-model report an attribution
    analyst diffs to see how much credit moves between models.

    Scale shape: ONE keyed window per user over (ts, event_id) with
    two ignore-nulls frame scans (strictly-preceding rows), then a
    map-side-combined rollup to the ≤4-channel domain — never an
    as-of join per purchase."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("view", "click"), F.col("event_type")
    )
    # persisted: both model rollups read the attributed purchases —
    # unpersisted, the full per-user window pass ran twice (round-9;
    # guide §5).  Purchase-count rows (post-filter), 3 narrow columns.
    attributed = e.select(
        "event_type",
        F.floor(F.col("value") * 1024).cast("long").alias("vs"),
        F.coalesce(F.last(touch, ignorenulls=True).over(w), F.lit("direct"))
        .alias("last_touch"),
        F.coalesce(F.first(touch, ignorenulls=True).over(w), F.lit("direct"))
        .alias("first_touch"),
    ).filter(F.col("event_type") == "purchase").persist()
    last = attributed.groupBy(F.col("last_touch").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_last"),
        F.sum("vs").cast("long").alias("value_last_scaled"),
    )
    first = attributed.groupBy(F.col("first_touch").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_first"),
        F.sum("vs").cast("long").alias("value_first_scaled"),
    )
    return last.join(first, "channel", "full_outer").select(
        "channel",
        F.coalesce("n_last", F.lit(0)).alias("n_last"),
        F.coalesce("value_last_scaled", F.lit(0)).alias("value_last_scaled"),
        F.coalesce("n_first", F.lit(0)).alias("n_first"),
        F.coalesce("value_first_scaled", F.lit(0)).alias(
            "value_first_scaled"
        ),
    )


def q199_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division — the FOR-ALL query shape (Codd's ÷, the
    "suppliers who serve EVERY x" class SQL has no operator for):
    suppliers whose shipped orders reach customers in ALL nations of
    the AMERICA region, via the standard count-distinct-equals-divisor
    rewrite (never a per-nation loop or anti-join cascade).

    Scale shape: the lineitem→orders→customer join chain shuffles on
    its natural keys; the nation dimension broadcasts; the divisor is
    a one-row broadcast aggregate (q102 shape); the report collapses
    to qualifying suppliers."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"
    )
    target = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select(F.col("n_nationkey").alias("nk"))
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("nk")
    ).join(F.broadcast(target), "nk")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    reach = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("l_suppkey", "nk")
        .distinct()
    )
    divisor = target.agg(F.count(F.lit(1)).alias("n_target"))
    return (
        reach.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_covered"))
        .crossJoin(F.broadcast(divisor))
        .filter(F.col("n_covered") == F.col("n_target"))
        .select(
            F.col("l_suppkey").cast("long").alias("suppkey"),
            F.col("n_covered").cast("long").alias("n_nations"),
        )
    )


def q200_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-weighted mean — the time-series aggregate behind
    average-balance and average-position reporting (each observation
    holds until the next one): per user, Σ value·duration DIV
    Σ duration over consecutive-event intervals, all in exact integers
    (1024-scaled values × epoch-millis durations).  Composes with
    q193: these are averages over exactly the SCD2 validity intervals
    that builder emits.

    Scale shape: one keyed window (lead per user), one map-side-
    combined SUM rollup; user_id % 20 bounds the hashed report."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 20 == 0
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = e.select(
        "user_id",
        F.floor(F.col("value") * 1024).cast("long").alias("vs"),
        (
            F.unix_millis(F.lead("ts").over(w)) - F.unix_millis(F.col("ts"))
        ).alias("dur_ms"),
    ).filter(F.col("dur_ms").isNotNull())
    return (
        iv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.sum("dur_ms").cast("long").alias("total_ms"),
            F.expr("sum(vs * dur_ms) DIV sum(dur_ms)")
            .cast("long")
            .alias("twa_scaled"),
        )
        .filter(F.col("total_ms") > 0)
    )


def q201_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands — longest consecutive-day activity streak per
    user (the retention/engagement metric), via the classic
    day-minus-row_number island anchor: consecutive days share one
    anchor date, so islands fall out of a keyed groupBy.

    Scale shape: distinct (user, day) collapses the events first
    (map-side combined); the ONLY window is keyed per user over its
    bounded day set; two further keyed rollups.  Report capped to
    user_id % 10 to bound the hash."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 10 == 0
    )
    days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = days.select(
        "user_id",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("anchor"),
    )
    streaks = anchored.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.sum("len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )


def q202_salted_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join under the value-hash oracle — the registry-level
    certificate that `operators/workload.salted_join` (differential
    salting: hot keys spread over 16 sub-keys on the skewed side,
    replicated on the build side; cold keys join exactly once) produces
    EXACTLY the rows of a plain equi-join: orders⋈customer through the
    salted path with an explicit literal hot-key list, rolled up per
    nation, must hash-match the oracle's plain JOIN.  (Unit tests pin
    the operator on synthetic skew; this pins it against an independent
    engine on the workload tables.)

    Scale shape: the salted join IS the scale story — no reduce task
    ever holds a hot key's full row set; the hot list is bounded
    (≤41 literal keys here, ≤100 from `detect_hot_keys` in production);
    the rollup is map-side combined onto the 25-nation domain."""
    from sparkdiff.operators.workload import salted_join

    hot = list(range(1, 1500, 37))  # valid custkeys at every test sf
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        _cents("o_totalprice").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    j = salted_join(o, c, "c_custkey", how="inner", salt=16, hot_keys=hot)
    return j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
        F.countDistinct("c_custkey").cast("long").alias("n_customers"),
    )


QUERIES: dict[str, callable] = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_presence_diff": q02_presence_diff,
    "q03_cell_diff": q03_cell_diff,
    "q04_metrics_summary": q04_metrics_summary,
    "q05_rownum_dedup": q05_rownum_dedup,
    "q06_union_dedup_workload": q06_union_dedup_workload,
    "q07_expr_join": q07_expr_join,
    "q08_argmax": q08_argmax,
    "q09_conditional_agg": q09_conditional_agg,
    "q10_histogram": q10_histogram,
    "q11_argmax_histogram": q11_argmax_histogram,
    "q12_topk_per_group": q12_topk_per_group,
    "q13_minmax_rollup": q13_minmax_rollup,
    "q14_distinct_agg": q14_distinct_agg,
    "q15_keyword_score": q15_keyword_score,
    "q16_jaccard_pairs": q16_jaccard_pairs,
    "q17_token_stats": q17_token_stats,
    "q18_quality_score": q18_quality_score,
    "q19_exact_dedup": q19_exact_dedup,
    "q20_fingerprint_dedup": q20_fingerprint_dedup,
    "q21_relevance_blend": q21_relevance_blend,
    "q22_snippet_window": q22_snippet_window,
    "q23_lang_id": q23_lang_id,
    "q24_cosine_topk": q24_cosine_topk,
    "q25_minhash_neardup": q25_minhash_neardup,
    "q26_ngram_jaccard_dups": q26_ngram_jaccard_dups,
    "q27_simhash": q27_simhash,
    "q28_time_buckets": q28_time_buckets,
    "q29_sessionize": q29_sessionize,
    "q30_keepmax_dedup": q30_keepmax_dedup,
    "q31_json_props": q31_json_props,
    "q32_date_arithmetic": q32_date_arithmetic,
    "q33_macro_workload": q33_macro_workload,
    "q34_script_pair_diff": q34_script_pair_diff,
    "q35_entity_extraction": q35_entity_extraction,
    "q36_word_boundary_classify": q36_word_boundary_classify,
    "q37_source_insights": q37_source_insights,
    "q38_metrics_discovery": q38_metrics_discovery,
    "q39_function_surface": q39_function_surface,
    "q40_change_detection": q40_change_detection,
    "q41_rollup": q41_rollup,
    "q42_set_ops": q42_set_ops,
    "q43_window_suite": q43_window_suite,
    "q44_asof_join": q44_asof_join,
    "q45_pivot": q45_pivot,
    "q46_lineitem_diff": q46_lineitem_diff,
    "q47_shipping_priority": q47_shipping_priority,
    "q48_local_supplier_volume": q48_local_supplier_volume,
    "q49_chunking": q49_chunking,
    "q50_quantiles": q50_quantiles,
    "q51_embedding_neardup": q51_embedding_neardup,
    "q52_refined_diff": q52_refined_diff,
    "q53_refined_metrics": q53_refined_metrics,
    "q54_hash_split": q54_hash_split,
    "q55_repetition": q55_repetition,
    "q56_pii_scrub": q56_pii_scrub,
    "q57_sequence_packing": q57_sequence_packing,
    "q58_domain_mix": q58_domain_mix,
    "q59_cube": q59_cube,
    "q60_window_frames": q60_window_frames,
    "q61_shuffle_export": q61_shuffle_export,
    "q62_range_join": q62_range_join,
    "q63_rare_tokens": q63_rare_tokens,
    "q64_distinctive_terms": q64_distinctive_terms,
    "q65_dedup_clusters": q65_dedup_clusters,
    "q66_decontamination": q66_decontamination,
    "q67_filter_funnel": q67_filter_funnel,
    "q68_curated_corpus": q68_curated_corpus,
    "q69_passage_dedup": q69_passage_dedup,
    "q70_label_centroids": q70_label_centroids,
    "q71_quality_sweep": q71_quality_sweep,
    "q72_incremental_neardup": q72_incremental_neardup,
    "q73_token_budget_sample": q73_token_budget_sample,
    "q74_winnow_fingerprints": q74_winnow_fingerprints,
    "q75_kmeans_embed": q75_kmeans_embed,
    "q76_bm25_rank": q76_bm25_rank,
    "q77_cdc_merge": q77_cdc_merge,
    "q78_rolling_events": q78_rolling_events,
    "q79_posting_lists": q79_posting_lists,
    "q80_boilerplate": q80_boilerplate,
    "q81_hard_negatives": q81_hard_negatives,
    "q82_cross_source_overlap": q82_cross_source_overlap,
    "q83_ngram_novelty": q83_ngram_novelty,
    "q84_retention_cohorts": q84_retention_cohorts,
    "q85_dsir_weights": q85_dsir_weights,
    "q86_profile": q86_profile,
    "q87_stratified_sample": q87_stratified_sample,
    "q88_semdedup": q88_semdedup,
    "q89_quantize_int8": q89_quantize_int8,
    "q90_pagerank": q90_pagerank,
    "q91_event_funnel": q91_event_funnel,
    "q92_token_gini": q92_token_gini,
    "q93_rrf_fusion": q93_rrf_fusion,
    "q94_value_zscores": q94_value_zscores,
    "q95_lm_score": q95_lm_score,
    "q96_event_paths": q96_event_paths,
    "q97_fuzzy_name_match": q97_fuzzy_name_match,
    "q98_peak_concurrency": q98_peak_concurrency,
    "q99_gapfill_locf": q99_gapfill_locf,
    "q100_phrase_search": q100_phrase_search,
    "q101_scd2_history": q101_scd2_history,
    "q102_triangle_count": q102_triangle_count,
    "q103_mad_outliers": q103_mad_outliers,
    "q104_skyline": q104_skyline,
    "q105_rfm_segments": q105_rfm_segments,
    "q106_collocations": q106_collocations,
    "q107_profile_drift": q107_profile_drift,
    "q108_incremental_agg": q108_incremental_agg,
    "q109_equidepth_histogram": q109_equidepth_histogram,
    "q110_fk_integrity": q110_fk_integrity,
    "q111_grouping_sets": q111_grouping_sets,
    "q112_rank_windows": q112_rank_windows,
    "q113_dup_families": q113_dup_families,
    "q114_sliding_windows": q114_sliding_windows,
    "q115_attribution": q115_attribution,
    "q116_seasonal_anomaly": q116_seasonal_anomaly,
    "q117_revenue_concentration": q117_revenue_concentration,
    "q118_sentence_stats": q118_sentence_stats,
    "q119_returned_items": q119_returned_items,
    "q120_large_orders": q120_large_orders,
    "q121_ivf_ann": q121_ivf_ann,
    "q122_binary_assets": q122_binary_assets,
    "q123_label_silhouette": q123_label_silhouette,
    "q124_dist_drift": q124_dist_drift,
    "q125_setsim_prefix_join": q125_setsim_prefix_join,
    "q126_ann_recall": q126_ann_recall,
    "q127_knn_accuracy": q127_knn_accuracy,
    "q128_customer_gini": q128_customer_gini,
    "q129_active_time": q129_active_time,
    "q130_monthly_growth": q130_monthly_growth,
    "q131_source_similarity": q131_source_similarity,
    "q132_growth_accounting": q132_growth_accounting,
    "q133_stickiness": q133_stickiness,
    "q134_exact_contamination": q134_exact_contamination,
    "q135_pps_sample": q135_pps_sample,
    "q136_semdedup_auto": q136_semdedup_auto,
    "q137_priority_sample": q137_priority_sample,
    "q138_bpe_vocab": q138_bpe_vocab,
    "q139_temperature_mix": q139_temperature_mix,
    "q140_bloom_gate": q140_bloom_gate,
    "q141_repeated_substrings": q141_repeated_substrings,
    "q142_substring_selfdedup": q142_substring_selfdedup,
    "q143_zorder_skipping": q143_zorder_skipping,
    "q144_quantile_calibration": q144_quantile_calibration,
    "q145_selfdedup_fixpoint": q145_selfdedup_fixpoint,
    "q146_bpe_compression": q146_bpe_compression,
    "q147_source_overlap": q147_source_overlap,
    "q148_bpe_batched": q148_bpe_batched,
    "q149_leakage_safe_split": q149_leakage_safe_split,
    "q150_quantized_ann": q150_quantized_ann,
    "q151_paragraph_dedup": q151_paragraph_dedup,
    "q152_pq_adc_recall": q152_pq_adc_recall,
    "q153_shard_manifest": q153_shard_manifest,
    "q154_countmin_heavyhitters": q154_countmin_heavyhitters,
    "q155_jl_projection_recall": q155_jl_projection_recall,
    "q156_keep_best_dedup": q156_keep_best_dedup,
    "q157_hll_ndv": q157_hll_ndv,
    "q158_edit_distance_join": q158_edit_distance_join,
    "q159_sorted_neighborhood": q159_sorted_neighborhood,
    "q160_record_linkage": q160_record_linkage,
    "q161_blocking_recall": q161_blocking_recall,
    "q162_containment_join": q162_containment_join,
    "q163_skew_report": q163_skew_report,
    "q164_kmv_set_ops": q164_kmv_set_ops,
    "q165_bloom_semijoin": q165_bloom_semijoin,
    "q166_association_rules": q166_association_rules,
    "q167_cohort_retention": q167_cohort_retention,
    "q168_expectations": q168_expectations,
    "q169_sample_quantiles": q169_sample_quantiles,
    "q170_ingest_novelty": q170_ingest_novelty,
    "q171_session_stats": q171_session_stats,
    "q172_packing_tradeoff": q172_packing_tradeoff,
    "q173_semantic_decontamination": q173_semantic_decontamination,
    "q174_trending_segments": q174_trending_segments,
    "q175_fd_audit": q175_fd_audit,
    "q176_equifreq_binning": q176_equifreq_binning,
    "q177_cusum_changepoint": q177_cusum_changepoint,
    "q178_join_cardinality_audit": q178_join_cardinality_audit,
    "q179_join_view_delta": q179_join_view_delta,
    "q180_k_anonymity": q180_k_anonymity,
    "q181_hierarchy_closure": q181_hierarchy_closure,
    "q182_chi2_independence": q182_chi2_independence,
    "q183_benford_audit": q183_benford_audit,
    "q184_point_in_time_join": q184_point_in_time_join,
    "q185_state_transitions": q185_state_transitions,
    "q186_weighted_quantiles": q186_weighted_quantiles,
    "q187_lateness_audit": q187_lateness_audit,
    "q188_watermark_loss": q188_watermark_loss,
    "q189_conversion_lag": q189_conversion_lag,
    "q190_psi_drift": q190_psi_drift,
    "q191_gini_split_audit": q191_gini_split_audit,
    "q192_event_funnel": q192_event_funnel,
    "q193_scd2_builder": q193_scd2_builder,
    "q194_bitmap_segments": q194_bitmap_segments,
    "q195_rolling_hll": q195_rolling_hll,
    "q196_hits_link_analysis": q196_hits_link_analysis,
    "q197_decile_mobility": q197_decile_mobility,
    "q198_touch_attribution": q198_touch_attribution,
    "q199_relational_division": q199_relational_division,
    "q200_time_weighted_avg": q200_time_weighted_avg,
    "q201_activity_streaks": q201_activity_streaks,
    "q202_salted_join_audit": q202_salted_join_audit,
}
