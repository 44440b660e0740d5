"""Exact repeated-substring detection and self-deduplication.

The within-corpus complement of ``operators/contamination.py``: instead
of scanning for a known external pattern suite, find every span of at
least ``min_len`` characters that occurs VERBATIM more than once across
the corpus (or again within the same document), and optionally excise
every occurrence except the corpus-first one.  This is the
"ExactSubstr" deduplication of Lee et al. 2022 ("Deduplicating
Training Data Makes Language Models Better"), who showed verbatim
repeated spans dominate memorization; their single-node suffix-array
construction does not distribute, so this module uses the standard
scalable equivalent: stride-1 ``L``-gram seeds.

Exactness: a window of length ``L = min_len`` starting at position
``p`` is repeated iff its ``L``-gram occurs >= 2 times in the corpus —
so marking every position whose seed gram repeats, then merging
overlapping/adjacent ``[p, p+L)`` intervals per document, yields
exactly the maximal regions in which EVERY length-``L`` window is
repeated (any repeated span of length >= L is covered end-to-end by
its own repeated seeds).  Grams are compared by hash as a pure
IDENTITY PROXY — no output value ever carries a hash, so each engine
may use its cheapest 64-bit hash: Spark uses ``xxhash64`` (codegen'd,
measured ~7x cheaper per row than the md5+hex+conv chain — round-9
optimization, guide §1.2-2 per-task work), while the DuckDB oracle
replays with its portable 60-bit md5.  Both sides mark a position iff
its gram text repeats, so results agree exactly; a collision would
mark a non-repeated position with probability ~ n^2 / 2^64 (Spark) /
n^2 / 2^61 (oracle) over n corpus positions — negligible below ~10^8
positions per hash domain (q141/q142 value-hash green certifies the
agreement at every tested scale).

Plan shape, sized for 100 TB:

1. the position table is ONE row per corpus character (the honest cost
   of exact substring dedup — linear in corpus bytes, carrying only
   ``(doc, pos, hash64)``, ~24 bytes/row before encoding);
2. repeated-gram discovery is ``groupBy(hash)`` with map-side combine
   (COUNT + MIN are combinable), NOT a window over the hash — a
   degenerate gram repeated 10^9 times (whitespace runs) partially
   aggregates in place instead of melting one reducer;
3. only repeated grams (typically a small fraction) survive the HAVING
   filter, so the join back to positions is a shuffle join against a
   much smaller right side, 1:k per gram;
4. island-merge windows partition by document — bounded by document
   length, never corpus-sized;
5. excision is a pure JVM ``aggregate`` over each document's sorted
   span array (substring concat) — no Python, no UDF, one narrow pass.

Reference behavioral anchor: the reference repo has no corpus-level
dedup (its diff surface is row-keyed tables, `tools/data_matrix_tool.py`);
this extends the training-data curation family SURVEY.md §6 scopes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkdiff.operators.dedup import token_hash


def _seed_positions(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int,
) -> DataFrame:
    """One row per stride-1 seed position: ``(_id, _p, _h)`` with
    ``_h`` the xxhash64 of the length-``min_len`` gram starting at
    1-based ``_p`` (identity proxy only — see module doc).  Documents
    shorter than ``min_len`` contribute nothing (the guard matters:
    Spark's ``sequence(1, 0)`` would count DOWN, not return empty)."""
    base = docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    t, n = F.col("_t"), F.length("_t")
    seq = F.when(
        n >= min_len, F.sequence(F.lit(1), n - min_len + 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        base.select("_id", "_t", F.explode(seq).alias("_p"))
        .select(
            "_id",
            "_p",
            token_hash(t.substr(F.col("_p"), F.lit(min_len)), "xxhash64").alias("_h"),
        )
    )


def repeated_spans(
    docs: DataFrame,
    min_len: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_first: bool = False,
) -> DataFrame:
    """Maximal repeated spans per document: ``(id_col, span_start,
    span_end, n_seeds)`` with 1-based inclusive bounds.

    ``keep_first=False`` (report mode): a position is marked when its
    seed gram occurs >= 2 times anywhere in the corpus — BOTH copies of
    a duplicated span are reported (the symmetric "this text exists
    verbatim elsewhere" signal).

    ``keep_first=True`` (dedup mode): the corpus-first occurrence of
    each gram — minimum ``(doc, pos)``, a total order, so deterministic
    on any engine — is left unmarked; only later occurrences are
    spanned.  This is the keeper election :func:`excise_repeated_spans`
    cuts against: the first document to use a phrase keeps it.

    ``n_seeds`` is the count of marked seed positions merged into the
    span (== span length - min_len + 1 for a fully-repeated region).
    """
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    # the position table feeds BOTH the gram aggregation and the join
    # back; persist it so the 35x-amplified explode+md5 runs once (the
    # q26/q83 persisted-shingle-table convention — corpus-linear, and
    # recomputing it costs more than storing it)
    pos = _seed_positions(docs, id_col, text_col, min_len).persist()
    grams = (
        pos.groupBy("_h")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.min(F.struct("_id", "_p")).alias("_first"),
        )
        .filter(F.col("_cnt") >= 2)
    )
    marked = pos.join(grams, "_h")
    if keep_first:
        marked = marked.filter(
            F.struct("_id", "_p") != F.col("_first")
        )
    w = Window.partitionBy("_id").orderBy("_p")
    prev = F.lag("_p").over(w)
    new_island = (
        prev.isNull() | (F.col("_p") - prev > min_len)
    ).cast("long")
    return (
        marked.select("_id", "_p")
        .withColumn(
            "_isl",
            F.sum(new_island).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("_id", "_isl")
        .agg(
            F.min("_p").cast("long").alias("span_start"),
            (F.max("_p") + min_len - 1).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_seeds"),
        )
        .select(
            F.col("_id").alias(id_col), "span_start", "span_end", "n_seeds"
        )
    )


def excise_repeated_spans(
    docs: DataFrame,
    min_len: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    rescan: int = 0,
) -> DataFrame:
    """Self-deduplicate the corpus: cut every repeated span except its
    corpus-first occurrence (``repeated_spans(keep_first=True)``).
    Returns one row per input document: ``(id_col, clean_text, n_spans,
    n_chars_excised)`` — documents with nothing to cut pass through
    untouched with zeros.

    The cut itself is a single JVM ``aggregate`` over the document's
    sorted, non-overlapping span array: the accumulator walks
    ``(next_uncut_pos, rebuilt_prefix)``, appending the kept segment
    before each span, and the finish step appends the tail.  Span
    arrays are bounded per document (<= doc_len / 1 spans, in practice
    few), so the ``collect_list`` is per-group bounded, not corpus-
    bounded.

    ONE-PASS LIMITATION (``rescan=0``, the default) — the same splice
    hazard as ``contamination.excise_contamination``: cutting a span
    splices its flanks together, and the splice can itself equal text
    that exists elsewhere, forming a NEW repeated span the pass never
    saw.  ``rescan=N`` iterates the WHOLE operator up to ``N`` more
    times, each pass re-detecting against the PREVIOUS pass's cleaned
    corpus; counts accumulate across passes.  Unlike the pattern-suite
    case this cannot run per-document inside one scan — repetition is
    a CORPUS-GLOBAL property (a splice in doc A is only a repeat
    because of text in doc B), so each extra pass is a full detection
    pipeline (position table + gram aggregation) over the cleaned
    corpus, EAGER: the previous pass's output is persisted and its
    total span count checked (one bounded 1-row action per pass) so
    iteration stops at the first pass that found nothing — and a pass
    that finds nothing CERTIFIES the corpus span-free at the seed
    length (every pass removes >= min_len chars from some doc, so the
    loop terminates).  Documents still spliceable after N extra passes
    keep their last state; gate with :func:`repeated_spans` afterwards
    if certification is required.
    """
    if rescan < 0:
        raise ValueError(f"rescan must be >= 0, got {rescan}")
    out = _excise_once(docs, min_len, id_col=id_col, text_col=text_col)
    for _ in range(rescan):
        out = out.persist()
        # bounded action: one aggregated row — did the last pass cut?
        if out.agg(F.sum("n_spans")).first()[0] == 0:
            break
        nxt = _excise_once(
            out.select(id_col, F.col("clean_text").alias(text_col)),
            min_len,
            id_col=id_col,
            text_col=text_col,
        )
        prev = out.select(
            id_col,
            F.col("n_spans").alias("_pn"),
            F.col("n_chars_excised").alias("_pc"),
        )
        out = nxt.join(prev, id_col).select(
            id_col,
            "clean_text",
            (F.col("n_spans") + F.col("_pn")).alias("n_spans"),
            (F.col("n_chars_excised") + F.col("_pc")).alias("n_chars_excised"),
        )
    return out


def _excise_once(
    docs: DataFrame,
    min_len: int,
    *,
    id_col: str,
    text_col: str,
) -> DataFrame:
    spans = repeated_spans(
        docs,
        min_len,
        id_col=id_col,
        text_col=text_col,
        keep_first=True,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_sp"),
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("_cut"),
    )
    t = F.col(text_col)
    rebuilt = F.aggregate(
        F.col("_sp"),
        F.struct(
            F.lit(1).cast("int").alias("pos"), F.lit("").alias("acc")
        ),
        lambda a, s: F.struct(
            (s["span_end"] + 1).cast("int").alias("pos"),
            F.concat(
                a["acc"], t.substr(a["pos"], s["span_start"] - a["pos"])
            ).alias("acc"),
        ),
        lambda a: F.concat(
            a["acc"], t.substr(a["pos"], F.length(t) - a["pos"] + 1)
        ),
    )
    return (
        docs.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_sp").isNull(), t)
            .otherwise(rebuilt)
            .alias("clean_text"),
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("_cut", F.lit(0)).cast("long").alias("n_chars_excised"),
        )
    )
