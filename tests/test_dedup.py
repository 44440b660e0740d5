"""Property tests for the non-SQL-expressible dedup/similarity operators
(MinHash-LSH, SimHash, SRP-LSH): recall on injected near-duplicates and
locality of the fingerprints."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkdiff.functions.text import tokens
from sparkdiff.operators.dedup import (
    exact_dedup,
    hamming64,
    near_dup_pairs,
    simhash64,
)
from sparkdiff.operators.similarity import cosine_topk, lsh_cosine_topk
from sparkdiff.session import load_table

from .conftest import SF_DIR_SMALL


def _corpus_with_neardups(spark):
    d = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    dups = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 20_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra suffix words")))
    )
    return d, d.unionByName(dups)


def test_minhash_lsh_finds_injected_neardups(spark):
    d, corpus = _corpus_with_neardups(spark)
    found = {
        (r.id_a, r.id_b)
        for r in near_dup_pairs(corpus, "doc_id", "text", threshold=0.6).collect()
    }
    injected = {
        (r.doc_id, r.doc_id + 20_000)
        for r in d.filter(F.col("doc_id") % 25 == 0).collect()
    }
    missed = injected - found
    # LSH is probabilistic but near-identical docs (J >= ~0.9) must bucket
    assert not missed, f"LSH missed injected near-dups: {missed}"


def test_near_dup_pairs_respects_threshold(spark):
    _, corpus = _corpus_with_neardups(spark)
    rows = near_dup_pairs(corpus, "doc_id", "text", threshold=0.6).collect()
    assert all(r.jaccard >= 0.6 for r in rows)
    assert all(r.id_a < r.id_b for r in rows)


def test_incremental_near_dup_finds_batch_origins(spark):
    """The asymmetric gate must pair every injected batch doc with
    exactly its corpus origin — and emit NO corpus×corpus pairs even
    when the corpus itself contains near-dups."""
    from sparkdiff.operators.dedup import incremental_near_dup_pairs

    d, corpus = _corpus_with_neardups(spark)  # corpus has internal dups
    batch = (
        d.filter(F.col("doc_id") % 17 == 0)
        .withColumn("doc_id", F.col("doc_id") + 50_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" new batch revision")))
    )
    rows = incremental_near_dup_pairs(
        corpus, batch, "doc_id", "text", threshold=0.6
    ).collect()
    found = {(r.corpus_id, r.batch_id) for r in rows}
    expected = {
        (r.doc_id, r.doc_id + 50_000)
        for r in d.filter(F.col("doc_id") % 17 == 0).collect()
    }
    assert expected <= found, f"missed batch origins: {expected - found}"
    # every emitted pair crosses sides
    assert all(r.batch_id >= 50_000 > r.corpus_id for r in rows)
    assert all(r.jaccard >= 0.6 for r in rows)


def test_simhash_locality(spark):
    _, corpus = _corpus_with_neardups(spark)
    sh = simhash64(corpus, "doc_id", tokens("text"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("h_b"))
    pairs = (
        a.join(b, F.col("id_b") == F.col("id_a") + 20_000)
        .select(hamming64(F.col("h_a"), F.col("h_b")).alias("d"))
        .collect()
    )
    assert pairs, "no injected pairs joined"
    # token multisets differ by only a couple of words -> tiny Hamming gap
    assert max(r.d for r in pairs) <= 12
    # unrelated docs should sit near d≈32 on average
    unrelated = (
        a.join(b, F.col("id_b") == F.col("id_a") + 7)
        .select(hamming64(F.col("h_a"), F.col("h_b")).alias("d"))
        .collect()
    )
    avg_unrelated = sum(r.d for r in unrelated) / len(unrelated)
    assert avg_unrelated > 12


def test_exact_dedup_removes_true_dups(spark):
    d = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    doubled = d.unionByName(d)
    out = exact_dedup(doubled, ["text"])
    assert out.count() == d.select("text").distinct().count()


def test_ivf_cosine_topk_self_recall_and_quality(spark):
    from sparkdiff.operators.similarity import ivf_cosine_topk

    e = load_table(spark, SF_DIR_SMALL, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    approx = ivf_cosine_topk(
        q, e, "vec_id", "vec_id", "embedding", "embedding",
        k=3, n_clusters=8, n_probe=2,
    ).collect()
    # each query probes its own cell -> must find its own vector at rank 1
    self_hits = {r.query_id for r in approx if r.query_id == r.corpus_id and r.rank == 1}
    assert self_hits == {r.vec_id for r in q.select("vec_id").collect()}
    # probing n_probe=ALL cells must reproduce the exact top-k
    full = ivf_cosine_topk(
        q, e, "vec_id", "vec_id", "embedding", "embedding",
        k=3, n_clusters=8, n_probe=8,
    )
    exact = cosine_topk(q, e, "vec_id", "vec_id", "embedding", "embedding", k=3)
    got = sorted((r.query_id, r.corpus_id, r.rank) for r in full.collect())
    want = sorted((r.query_id, r.corpus_id, r.rank) for r in exact.collect())
    assert got == want


def test_ivf_probe_strategies_agree(spark, monkeypatch):
    """The large-codebook Arrow matmul probe must pick the same cells as
    the codegen expression probe for the same codebook (ties included:
    score desc, cell desc)."""
    import sparkdiff.operators.similarity as sim

    e = load_table(spark, SF_DIR_SMALL, "embeddings")
    v = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("_nv")
    )
    rng = __import__("random").Random(7)
    centroids = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(12)]
    # duplicated centroid -> identical scores -> exercises the tie-break
    centroids[5] = list(centroids[2])

    def probe(df):
        return {
            r.vec_id: list(r.cells)
            for r in df.select(
                "vec_id", sim._probe_cells(centroids, 4).alias("cells")
            ).collect()
        }

    expr = probe(v)
    monkeypatch.setattr(sim, "_PROBE_EXPR_MAX_NODES", 0)
    arrow = probe(v)
    assert expr == arrow


def test_lsh_cosine_is_subset_and_ranked(spark):
    e = load_table(spark, SF_DIR_SMALL, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    approx = lsh_cosine_topk(
        q, e, "vec_id", "vec_id", "embedding", "embedding", k=3, dim=64
    ).collect()
    assert approx, "LSH returned nothing (buckets too fine)"
    by_q = {}
    for r in approx:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(ranks) + 1))
        by_rank = sorted(rows, key=lambda r: r.rank)
        assert all(
            by_rank[i].cosine >= by_rank[i + 1].cosine
            for i in range(len(by_rank) - 1)
        )
    # a query's own vector shares its bucket -> must be its top hit
    exact_self = {r.query_id for r in approx if r.query_id == r.corpus_id and r.rank == 1}
    assert exact_self == {r.vec_id for r in q.select("vec_id").collect()}


def test_char_shingles_empty_docs_produce_no_shingles(spark):
    """Content-free docs (empty / all-punctuation / null) must get an
    EMPTY shingle set, not [''], so they never pair at Jaccard 1.0 or
    share an LSH bucket."""
    from sparkdiff.operators.dedup import shingles, with_char_shingles

    df = spark.createDataFrame(
        [(1, ""), (2, "!!! ??? ..."), (3, None), (4, "ab"), (5, "hello world")],
        "doc_id int, text string",
    )
    rows = {
        r.doc_id: r.sh
        for r in with_char_shingles(df, "text").select("doc_id", "sh").collect()
    }
    assert rows[1] == [] and rows[3] == []
    assert rows[2] == []  # all-punctuation normalizes to spaces-only? no: kept spaces
    assert rows[4] == ["ab"]  # short-but-real doc keeps the n<k singleton
    assert len(rows[5]) > 0
    # expression form agrees
    expr_rows = {
        r.doc_id: r.sh
        for r in df.select("doc_id", shingles("text").alias("sh")).collect()
    }
    assert expr_rows[1] == [] and expr_rows[3] == []


def test_embedding_near_dup_exact_duplicate_and_no_noise(spark):
    """An exact duplicate pair must be recovered (cosine == 1.0) and
    unrelated random vectors must not pair at a high threshold."""
    from sparkdiff.operators.similarity import embedding_near_dup_pairs

    e = load_table(spark, SF_DIR_SMALL, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    dup = e.filter(F.col("vec_id") == 3).withColumn("vec_id", F.lit(999_999).cast("long"))
    corpus = e.unionByName(dup)
    pairs = embedding_near_dup_pairs(corpus, "vec_id", "v", threshold=0.999).collect()
    assert (3, 999_999) in {(r.id_a, r.id_b) for r in pairs}
    exact = [r for r in pairs if (r.id_a, r.id_b) == (3, 999_999)]
    assert abs(exact[0].cosine - 1.0) < 1e-12  # d/(n*n) rounding
    # no random-pair noise at this threshold
    assert all(r.id_b >= 999_999 or r.cosine >= 0.999 for r in pairs)


def test_embedding_near_dup_plan_is_bucketed(spark):
    """Candidate generation must be an equi-join on (band, key) — no
    cartesian/NLJ all-pairs stage anywhere in the plan."""
    from sparkdiff.queries import q51_embedding_neardup

    plan = (
        q51_embedding_neardup(spark, SF_DIR_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _zipf_corpus(n_docs=120, doc_len=20, vocab=400, seed=11):
    """Deterministic zipfian corpus with injected near-dup pairs — the
    natural-distribution regime PPJoin's prefix filter is designed for
    (rare words dominate prefixes, so candidate lists stay tiny)."""
    import random

    rng = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    weights = [1.0 / (i + 1) for i in range(vocab)]  # zipf s=1
    docs = []
    for i in range(n_docs):
        toks = rng.choices(words, weights=weights, k=doc_len)
        docs.append((i, " ".join(toks)))
    # inject near-dups: copy of doc i with ONE token swapped (J well
    # above 0.8 on the distinct sets) for every 10th doc
    nid = n_docs
    for i in range(0, n_docs, 10):
        toks = docs[i][1].split()
        toks[-1] = "w0"
        docs.append((nid, " ".join(toks)))
        nid += 1
    return docs


def test_setsim_join_lossless_on_zipf_corpus(spark):
    """setsim_join == brute-force exact Jaccard on a natural zipfian
    corpus: the prefix/length/positional prunes are provably lossless,
    pinned here against itertools ground truth (not just the dense
    adversarial oracle corpus of q125)."""
    from itertools import combinations

    from sparkdiff.operators.dedup import setsim_join

    docs = _zipf_corpus()
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    toks = df.select(
        "doc_id",
        F.array_distinct(F.split("text", " ")).alias("toks"),
    ).select(
        "doc_id",
        F.transform(
            "toks",
            lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long"),
        ).alias("s"),
    )
    got = {
        (r.id_a, r.id_b)
        for r in setsim_join(toks, 4, 5, set_col="s").collect()
    }
    sets = {i: frozenset(t.split()) for i, t in docs}
    want = set()
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and inter * 5 >= union * 4:
            want.add((a, b))
    assert got == want
    assert len(want) >= 12  # the injected near-dups are actually found


def test_setsim_join_prunes_cut_candidates_on_zipf(spark):
    """On the zipfian corpus the length+positional prunes must strictly
    shrink the verified-candidate set vs prefix filtering alone (the
    regime claim in SCALE.md pinned by measurement, not prose)."""
    from pyspark.sql import Window

    docs = _zipf_corpus()
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    toks = df.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("s")
    )
    freq = toks.select(F.explode("s").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("df")
    )
    ordered = (
        toks.select("doc_id", F.explode("s").alias("w"))
        .join(freq, "w")
        .withColumn(
            "pos",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "w")),
        )
    )
    sized = ordered.withColumn(
        "sz", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    prefix = sized.filter(
        F.col("pos") <= F.floor((F.col("sz") * 1) / 5) + 1
    ).select("doc_id", "w", "pos", "sz")
    a = prefix.select(
        F.col("doc_id").alias("id_a"), "w",
        F.col("pos").alias("pa"), F.col("sz").alias("sz_a"),
    )
    b = prefix.select(
        F.col("doc_id").alias("id_b"), "w",
        F.col("pos").alias("pb"), F.col("sz").alias("sz_b"),
    )
    raw = a.join(b, "w").filter(F.col("id_a") < F.col("id_b"))
    n_prefix = raw.select("id_a", "id_b").distinct().count()
    match_ub = (
        F.least(F.col("pa") - 1, F.col("pb") - 1)
        + 1
        + F.least(F.col("sz_a") - F.col("pa"), F.col("sz_b") - F.col("pb"))
    )
    n_pruned = (
        raw.filter(
            F.least("sz_a", "sz_b") * 5 >= F.greatest("sz_a", "sz_b") * 4
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.min(match_ub).alias("ub"))
        .filter(F.col("ub") * 9 >= (F.col("sz_a") + F.col("sz_b")) * 4)
        .count()
    )
    assert n_pruned < n_prefix, (n_pruned, n_prefix)


def test_setsim_join_groups_duplicate_sets_losslessly(spark):
    """With exact-duplicate token sets in the corpus, the grouped path
    must equal brute force: within-group pairs at Jaccard 1.0 (in any
    element order), cross-group pairs expanded to every member pair."""
    from itertools import combinations

    from sparkdiff.operators.dedup import setsim_join

    base = {
        1: [10, 20, 30, 40, 50],
        2: [10, 20, 30, 40, 60],   # J = 4/6 vs set 1
        3: [10, 20, 30, 40, 50],   # dup of 1 (different order below)
        4: [99],
        5: [50, 40, 30, 20, 10],   # dup of 1, reversed order
        6: [10, 20, 30, 40],       # J = 4/5 vs set 1
    }
    rows = [(i, list(s)) for i, s in base.items()]
    df = spark.createDataFrame(rows, "doc_id long, s array<long>")

    def jac(a, b):
        a, b = set(a), set(b)
        return len(a & b) / len(a | b)

    want = {
        (x, y): jac(base[x], base[y])
        for x, y in combinations(sorted(base), 2)
        if jac(base[x], base[y]) * 5 >= 4  # t = 4/5
    }
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in setsim_join(df, 4, 5).collect()
    }
    assert got == want
    assert got[(1, 3)] == 1.0 and got[(1, 5)] == 1.0 and got[(3, 5)] == 1.0
    # grouped and ungrouped paths agree
    got_flat = {
        (r.id_a, r.id_b): r.jaccard
        for r in setsim_join(
            df.select("doc_id", F.array_sort("s").alias("s")),
            4, 5, group_duplicates=False,
        ).collect()
    }
    assert got_flat == want


def test_setsim_join_ignores_empty_and_null_sets(spark):
    """Empty/null token sets must never pair — Jaccard over two empty
    sets is 0/0 — and the grouped path must agree with the ungrouped
    one, which structurally cannot pair them (no prefix tokens).
    Regression: the duplicate-set grouping used to collapse all empty
    sets into one group and emit their all-pairs clique at 1.0."""
    from sparkdiff.operators.dedup import setsim_join

    df = spark.createDataFrame(
        [
            (1, [10, 20, 30, 40, 50]),
            (2, [50, 40, 30, 20, 10]),  # dup of 1
            (3, []),
            (4, []),
            (5, None),
            (6, []),
        ],
        "doc_id long, s array<long>",
    )
    want = {(1, 2): 1.0}
    got = {
        (r.id_a, r.id_b): r.jaccard for r in setsim_join(df, 4, 5).collect()
    }
    assert got == want
    got_flat = {
        (r.id_a, r.id_b): r.jaccard
        for r in setsim_join(df, 4, 5, group_duplicates=False).collect()
    }
    assert got_flat == want


def test_update_corpus_dedup_index_equals_full_rebuild(spark, tmp_path):
    """index(corpus) + update(batch) must row-for-row equal
    index(corpus UNION batch) — the amortization is free of drift —
    and the parquet save/append/load cycle must round-trip it."""
    from sparkdiff.operators.dedup import (
        append_corpus_dedup_index,
        corpus_dedup_index,
        load_corpus_dedup_index,
        save_corpus_dedup_index,
        update_corpus_dedup_index,
    )
    from sparkdiff.session import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    batch = docs.filter(F.col("doc_id") % 3 == 1)

    def rows(index):
        sh, bk = index
        return (
            sorted((r["_id"], tuple(sorted(r["_sh"]))) for r in sh.collect()),
            sorted(map(tuple, bk.select("_id", "band", "key").collect())),
        )

    full = rows(corpus_dedup_index(corpus.unionByName(batch), "doc_id", "text"))
    grown = update_corpus_dedup_index(
        corpus_dedup_index(corpus, "doc_id", "text"), batch, "doc_id", "text"
    )
    assert rows(grown) == full

    d = str(tmp_path / "idx")
    save_corpus_dedup_index(corpus_dedup_index(corpus, "doc_id", "text"), d)
    append_corpus_dedup_index(corpus_dedup_index(batch, "doc_id", "text"), d)
    assert rows(load_corpus_dedup_index(spark, d)) == full


def test_bucketed_index_layout_roundtrip_and_prune(spark, tmp_path):
    """Bucketed persisted index (`save_corpus_dedup_index(key_buckets=N)`):
    same gate answers as the flat layout, appends route into the stored
    layout, and a small batch's pruned read opens only the partitions
    its band keys can live in (real directory pruning, not a row
    filter)."""
    import os

    from sparkdiff.operators.dedup import (
        _shingle_sets,
        append_corpus_dedup_index,
        band_keys_from_shingles,
        corpus_dedup_index,
        incremental_near_dup_pairs,
        index_key_buckets,
        load_corpus_dedup_index,
        pruned_index_bands,
        save_corpus_dedup_index,
    )

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 7 == 0)
    batch = (
        docs.filter(F.col("doc_id") % 7 == 3)
        .limit(3)
        .withColumn("doc_id", F.col("doc_id") + 10_000)
        .withColumn("text", F.concat("text", F.lit(" revised")))
        .unionByName(
            corpus.limit(2)
            .withColumn("doc_id", F.col("doc_id") + 20_000)
        )  # 2 exact dups of corpus docs + 3 novel
    )
    flat_dir, buck_dir = str(tmp_path / "flat"), str(tmp_path / "buck")
    idx = corpus_dedup_index(corpus, "doc_id", "text")
    save_corpus_dedup_index(idx, flat_dir)
    save_corpus_dedup_index(
        corpus_dedup_index(corpus, "doc_id", "text"), buck_dir, key_buckets=256
    )
    assert index_key_buckets(flat_dir) is None
    assert index_key_buckets(buck_dir) == 256
    part_dirs = [
        d for d in os.listdir(os.path.join(buck_dir, "bands"))
        if d.startswith("_kb=")
    ]
    assert len(part_dirs) > 1  # physically partitioned

    def pairs_with(index_dir, prune):
        sh_b = _shingle_sets(batch, "doc_id", "text", 3)
        bk_b = band_keys_from_shingles(sh_b)
        sh_c, bk_c = load_corpus_dedup_index(spark, index_dir)
        if prune:
            bk_c = pruned_index_bands(spark, index_dir, bk_b)
        return sorted(
            (r.corpus_id, r.batch_id, round(r.jaccard, 6))
            for r in incremental_near_dup_pairs(
                None, batch, "doc_id", "text", threshold=0.6,
                corpus_index=(sh_c, bk_c),
                batch_shingles=sh_b, batch_band_keys=bk_b,
                persist_batch=False,
            ).collect()
        )

    flat_pairs = pairs_with(flat_dir, prune=False)
    assert flat_pairs  # the exact dups must be found
    assert pairs_with(buck_dir, prune=False) == flat_pairs
    assert pairs_with(buck_dir, prune=True) == flat_pairs

    # the prune is real PARTITION pruning (directory skipping), not a
    # row filter: the scan carries PartitionFilters and the pruned scan
    # sees only the batch's buckets' rows.  (inputFiles() is not
    # pruning-aware, so pin the physical plan instead.)
    # micro-batch regime: 2 docs x 16 bands = <=32 of 256 buckets
    sh_b = _shingle_sets(batch.limit(2), "doc_id", "text", 3)
    bk_b = band_keys_from_shingles(sh_b)
    pruned = pruned_index_bands(spark, buck_dir, bk_b)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [_kb" in plan and "INSET" in plan, plan[:800]
    full_rows = spark.read.parquet(os.path.join(buck_dir, "bands")).count()
    assert pruned.count() < full_rows / 2  # most buckets skipped

    # appends route into the same layout and stay readable
    sh_b2 = _shingle_sets(batch, "doc_id", "text", 3)
    append_corpus_dedup_index((sh_b2, band_keys_from_shingles(sh_b2)), buck_dir)
    sh, bk = load_corpus_dedup_index(spark, buck_dir)
    assert bk.filter(F.col("_id") >= 10_000).count() > 0
    assert index_key_buckets(buck_dir) == 256


def test_paragraph_dedup_keep_first_and_reassembly(spark):
    """Corpus-global keep-first at segment granularity: the first
    (doc_id, pos) occurrence survives, later copies (cross-doc AND
    within-doc) are cut, sub-min_chars segments always pass through,
    and documents are rebuilt in position order around the holes."""
    from sparkdiff.operators.dedup import paragraph_dedup

    # segment_words=2: doc 1 = [ "alpha beta", "gamma delta", "alpha beta" ]
    #                  doc 2 = [ "gamma delta", "epsilon zeta" ]
    #                  doc 3 = [ "xy" ]  (below min_chars -> always kept)
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta alpha beta"),
            (2, "gamma delta epsilon zeta"),
            (3, "xy"),
            (4, "xy"),  # duplicate SHORT segment: kept in both docs
        ],
        "doc_id: long, text: string",
    )
    out = {
        r.doc_id: r
        for r in paragraph_dedup(
            docs, segment_words=2, min_chars=5
        ).collect()
    }
    # doc 1: within-doc repeat of "alpha beta" drops (pos 2 > pos 0)
    assert out[1].clean_text == "alpha beta gamma delta"
    assert (out[1].n_segments, out[1].n_dropped) == (3, 1)
    assert out[1].n_chars_removed == len("alpha beta")
    # doc 2: "gamma delta" first occurred in doc 1 -> drops here
    assert out[2].clean_text == "epsilon zeta"
    assert (out[2].n_segments, out[2].n_dropped) == (2, 1)
    # short segments are never candidates, even when duplicated
    assert out[3].clean_text == "xy" and out[3].n_dropped == 0
    assert out[4].clean_text == "xy" and out[4].n_dropped == 0
    # partition-invariance of the winner choice
    out13 = {
        r.doc_id: r.clean_text
        for r in paragraph_dedup(
            docs.repartition(13), segment_words=2, min_chars=5
        ).collect()
    }
    assert out13 == {k: v.clean_text for k, v in out.items()}
    # reserved temp-column guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="paragraph_dedup reserves"):
        paragraph_dedup(docs.withColumn("_pd_seg", F.lit(1)))


def test_paragraph_dedup_survivors_unique_on_real_corpus(spark):
    """Corpus-level invariants on real data: among KEPT candidate
    segments (>= min_chars) every value appears exactly once, and the
    per-doc accounting ties out (kept + dropped = total segments;
    chars_removed = the dropped segments' lengths)."""
    from sparkdiff.operators.dedup import paragraph_dedup

    d = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    out = paragraph_dedup(d, segment_words=10, min_chars=20)
    agg = out.agg(
        F.sum("n_segments").alias("total"),
        F.sum("n_dropped").alias("dropped"),
        F.sum("n_chars_removed").alias("chars"),
    ).first()
    assert agg.dropped > 0  # the corpus really has aligned repeats
    assert agg.chars >= agg.dropped * 20
    # re-segment the CLEANED corpus the same way: kept candidates are
    # globally unique (each duplicated value survived exactly once)...
    segs = (
        out.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.floor(
                            (F.size(F.split("clean_text", " ", -1)) - 1) / 10
                        ).cast("int"),
                    ),
                    lambda i: F.array_join(
                        F.slice(F.split("clean_text", " ", -1), i * 10 + 1, 10),
                        " ",
                    ),
                )
            ).alias("pos", "seg"),
        )
    )
    # ...for segments that did not straddle a cut (reassembly splices
    # shift word positions after a hole, so only doc-prefix segments
    # are guaranteed alignment-stable; docs with no drops are entirely
    # stable).  Check uniqueness among untouched docs — a strictly
    # stronger set would need span tracking.
    untouched = out.filter(F.col("n_dropped") == 0).select("doc_id")
    stable = segs.join(untouched, "doc_id").filter(F.length("seg") >= 20)
    dup = (
        stable.groupBy("seg")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


# --- containment join -------------------------------------------------------

def test_containment_join_exact_on_closed_domain(spark):
    """Brute-force equivalence on all subsets of a 5-element universe:
    prefix-filtered containment must equal the quadratic definition
    exactly — lossless blocking AND no false positives, including
    boundary pairs where den*inter == num*size_a exactly."""
    from itertools import combinations

    from sparkdiff.operators.dedup import containment_join

    universe = ["a", "b", "c", "d", "e"]
    sets = []
    i = 0
    for k in range(0, 6):
        for c in combinations(universe, k):
            sets.append((i, list(c)))
            i += 1
    df = spark.createDataFrame(sets, "doc_id: long, s: array<string>")
    for num, den in ((4, 5), (1, 2), (1, 1)):
        expect = {
            (ia, ib, len(set(sa) & set(sb)), len(set(sa)))
            for ia, sa in sets
            for ib, sb in sets
            if ia != ib and sa
            and den * len(set(sa) & set(sb)) >= num * len(set(sa))
        }
        got = {
            (r.id_a, r.id_b, r.inter, r.size_a)
            for r in containment_join(df, num, den, "doc_id", "s").collect()
        }
        assert got == expect, f"threshold {num}/{den}"


def test_containment_join_is_asymmetric_and_rejects_bad_threshold(spark):
    """A strict subset is contained in its superset at t=1.0 but not
    vice versa — the asymmetry Jaccard cannot express."""
    import pytest

    from sparkdiff.operators.dedup import containment_join

    df = spark.createDataFrame(
        [(1, ["x", "y"]), (2, ["x", "y", "z", "w", "v", "u"])],
        "doc_id: long, s: array<string>",
    )
    got = {
        (r.id_a, r.id_b)
        for r in containment_join(df, 1, 1, "doc_id", "s").collect()
    }
    assert got == {(1, 2)}  # jaccard is 2/6 — far below any dedup bar
    with pytest.raises(ValueError):
        containment_join(df, 3, 2)


def test_embedding_cross_matches_finds_planted_probe(spark):
    """Cross-set SRP matching: a probe that is a tiny perturbation of
    one corpus vector matches exactly that vector; an orthogonal probe
    matches nothing; output is (corpus_id, probe_id, cosine)."""
    from sparkdiff.operators.similarity import embedding_cross_matches

    dim = 64
    base = [[float((i * 7 + j * 3) % 11 - 5) for j in range(dim)] for i in range(8)]
    corpus = spark.createDataFrame(
        [(i, base[i]) for i in range(8)], "cid int, v array<double>"
    )
    near = [x * 1.001 for x in base[3]]
    ortho = [(1.0 if j % 2 == 0 else -1.0) * ((j * 13 % 7) + 1) for j in range(dim)]
    probes = spark.createDataFrame(
        [(100, near), (101, ortho)], "pid int, v array<double>"
    )
    got = embedding_cross_matches(
        corpus, probes, "cid", "pid", "v", "v", threshold=0.99, dim=dim
    ).collect()
    assert {(r.corpus_id, r.probe_id) for r in got} == {(3, 100)}
    assert got[0].cosine > 0.999


# A small fixture for the MinHash bit pin: an empty doc, a doc shorter
# than k tokens, and docs whose tokens and shingles repeat.
_PIN_DOCS = [
    (1, ""),
    (2, "alpha beta"),
    (3, "gamma gamma gamma delta gamma gamma"),
    (4, "the cat sat on the mat and the cat sat on the hat"),
]
_PIN_SHINGLES = {
    1: set(),
    2: {"alpha beta"},
    3: {"gamma gamma gamma", "gamma gamma delta", "gamma delta gamma",
        "delta gamma gamma"},
    4: {"the cat sat", "cat sat on", "sat on the", "on the mat",
        "the mat and", "mat and the", "and the cat", "on the hat"},
}


def _reference_token_hashes(spark, toks, method):
    """Per-token integer hash, computed outside the operator: md5's first
    15 hex digits via hashlib; xxhash64 via Spark's builtin, per token
    (no Python xxhash module to compare against)."""
    import hashlib

    if method == "md5":
        return {
            t: int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks
        }
    df = spark.createDataFrame([(t,) for t in sorted(toks)], "t string")
    return {r.t: r.h for r in df.select("t", F.xxhash64("t").alias("h")).collect()}


def _reference_signature(hashes, coeffs, p):
    return [min((a * (h % p) + b) % p for h in hashes) for a, b in coeffs]


@pytest.mark.parametrize("method", ["md5", "xxhash64"])
def test_minhash_and_band_keys_match_python_reference(spark, method):
    """``minhash_signatures`` and ``band_keys_from_shingles`` are pinned
    bit for bit to a Python reference of the documented math: signature
    ``min((a*(h % p) + b) % p)`` over ``_lcg_coefficients``, band key
    ``md5(",".join(str(m) ...))``.  Nothing else pins the xxhash64 mode,
    which has no DuckDB twin."""
    import hashlib

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from sparkdiff.operators.dedup import (
        MERSENNE_PRIME,
        _lcg_coefficients,
        _shingle_sets,
        band_keys_from_shingles,
        minhash_signatures,
    )

    num_perm, bands = 64, 16  # the production defaults
    rows = num_perm // bands
    coeffs = _lcg_coefficients(num_perm)
    docs = spark.createDataFrame(_PIN_DOCS, "doc_id long, text string")
    sh = _shingle_sets(docs, "doc_id", "text", k=3)
    got_sets = {r["_id"]: set(r["_sh"]) for r in sh.collect()}
    assert got_sets == _PIN_SHINGLES

    all_shingles = set().union(*_PIN_SHINGLES.values())
    th = _reference_token_hashes(spark, all_shingles, method)
    want_sig = {
        i: _reference_signature([th[s] for s in ss], coeffs, MERSENNE_PRIME)
        for i, ss in _PIN_SHINGLES.items()
        if ss  # a shingle-free doc has no signature row
    }

    sig = minhash_signatures(sh, "_id", F.col("_sh"), num_perm, method)
    assert sig.schema == StructType(
        [StructField("_id", LongType(), True)]
        + [StructField(f"m{j}", LongType(), True) for j in range(num_perm)]
    )
    got_sig = {
        r["_id"]: [r[f"m{j}"] for j in range(num_perm)] for r in sig.collect()
    }
    assert got_sig == want_sig

    bk = band_keys_from_shingles(sh, num_perm, bands, method)
    assert bk.schema == StructType(
        [
            StructField("_id", LongType(), True),
            StructField("band", IntegerType(), False),
            StructField("key", StringType(), False),
        ]
    )
    want_bk = sorted(
        (
            i,
            b,
            hashlib.md5(
                ",".join(str(m) for m in s[b * rows:(b + 1) * rows]).encode()
            ).hexdigest(),
        )
        for i, s in want_sig.items()
        for b in range(bands)
    )
    assert sorted(map(tuple, bk.collect())) == want_bk

    # repeated tokens in a raw token array count once
    toks = spark.createDataFrame(
        [(7, ["x", "y", "x", "x"]), (8, [])], "doc_id long, toks array<string>"
    )
    th_xy = _reference_token_hashes(spark, {"x", "y"}, method)
    got = {
        r["_id"]: [r[f"m{j}"] for j in range(num_perm)]
        for r in minhash_signatures(
            toks, "doc_id", F.col("toks"), num_perm, method
        ).collect()
    }
    assert got == {
        7: _reference_signature(list(th_xy.values()), coeffs, MERSENNE_PRIME)
    }


def _py4j_calls(spark, build):
    """Py4J calls ``build()`` makes.  Object releases are left out: a
    background thread sends them whenever earlier objects die."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    client_cls = type(spark.sparkContext._gateway._gateway_client)
    orig = client_cls.send_command
    calls = 0

    def counting(self, command, *args, **kwargs):
        nonlocal calls
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls += 1
        return orig(self, command, *args, **kwargs)

    client_cls.send_command = counting
    try:
        out = build()
    finally:
        client_cls.send_command = orig
    return calls, out


def test_corpus_dedup_index_construction_py4j_calls(spark):
    """Constructing the corpus index is a driver-side cost paid per
    ingest gate: its 64 MinHash aggregates and 16 band keys are built as
    SQL text, not Column by Column, and the session skips PySpark's
    per-call call-site capture.  Built Column by Column with call-site
    capture on, the same construction made ~5,900 Py4J calls; a count
    does not flake the way a time would."""
    from sparkdiff.operators.dedup import corpus_dedup_index

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus_dedup_index(docs, "doc_id", "text")  # first build may infer types
    calls, index = _py4j_calls(
        spark, lambda: corpus_dedup_index(docs, "doc_id", "text")
    )
    assert len(index) == 2
    assert calls <= 1000, f"{calls} Py4J calls to construct corpus_dedup_index"


def test_simhash64_construction_py4j_calls(spark):
    """simhash64's 64 per-bit vote sums and its 64-term reassembly are
    SQL text.  Built Column by Column, the q27 plan took ~2,300 Py4J
    calls to construct; as text it takes about 500."""
    docs = load_table(spark, SF_DIR_SMALL, "documents")
    simhash64(docs, "doc_id", tokens("text"), hash_method="md5")
    calls, _ = _py4j_calls(
        spark,
        lambda: simhash64(docs, "doc_id", tokens("text"), hash_method="md5"),
    )
    assert calls <= 1000, f"{calls} Py4J calls to construct simhash64"
