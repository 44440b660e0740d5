"""Deduplication operators for large-scale training-data pipelines.

Exact dedup is a hash-groupBy; near-dup is MinHash+LSH (shingle →
signature → banded bucket join) with an exact-Jaccard verification pass,
plus a SimHash variant.  All stages are native DataFrame ops — the only
shuffles are the LSH bucket join and the verify join, both on compact
keys, which is the textbook scale-out shape (no O(n²) pair enumeration).

MinHash math: token hash ``h = xxhash64(t) mod p`` with Mersenne prime
``p = 2^31 - 1``; permutation ``j`` maps ``h → (a_j*h + b_j) mod p`` with
``a_j, b_j < p`` drawn from a fixed LCG, so ``a_j*h < 2^62`` never
overflows a signed 64-bit long.  The signature is the per-permutation
minimum; banding b×r follows the standard LSH S-curve: P(candidate) =
1 - (1 - s^r)^b for Jaccard similarity s.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE_PRIME = (1 << 31) - 1

#: Token-hash variants.  ``xxhash64`` is the fast JVM default;
#: ``md5`` derives a 60-bit integer from the md5 hex digest
#: (``conv(substr(md5(t),1,15),16,10)``), bit-identical to DuckDB's
#: ``CAST('0x' || substr(md5(t),1,15) AS BIGINT)`` — the
#: oracle-representable mode the driver's ANSI cross-check needs.
TOKEN_HASH_METHODS = ("xxhash64", "md5")


def token_hash(col: Column | str, method: str = "xxhash64") -> Column:
    """64-bit (xxhash64) or 60-bit (md5-derived) integer token hash."""
    c = F.col(col) if isinstance(col, str) else col
    if method == "xxhash64":
        return F.xxhash64(c)
    if method == "md5":
        # 15 hex chars = 60 bits: always positive, exact in a long, and
        # reproducible in any engine with md5 + hex parsing.
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown token hash method {method!r}; use one of {TOKEN_HASH_METHODS}")


def _lcg_coefficients(n: int, seed: int = 0x5EED) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs in [1, p) / [0, p) from a fixed LCG."""
    state = seed
    out = []
    for _ in range(n):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a = 1 + state % (MERSENNE_PRIME - 1)
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_PRIME
        out.append((a, b))
    return out


def shingles(col: Column | str, k: int = 3) -> Column:
    """Character k-gram (shingle) array over normalized text.

    NOTE: higher-order-function lambdas are evaluated interpreted, per
    element, with NO common-subexpression elimination — an expression
    passed as ``col`` is re-evaluated for every gram.  Pass a
    *materialized column* (see :func:`with_char_shingles`) in anything
    hot; this expression form is for composability only.
    """
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), "[^a-z0-9 ]", "")
    return _char_kgrams(norm, k)


def _char_kgrams(norm: Column, k: int) -> Column:
    n = F.length(norm)
    # content-free docs (empty/null/all-punctuation/whitespace-only) get
    # NO shingles — same guard as the word-shingle variant: an [''] (or
    # ['  ']) shingle would give every such doc an identical singleton
    # set, pairing them at Jaccard 1.0 and blowing up any LSH bucket
    # they land in
    return (
        F.when(F.length(F.trim(norm)) == 0, F.array().cast("array<string>"))
        .when(n < k, F.array(norm))
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.substring(norm, i, F.lit(k)),
            )
        )
    )


def with_char_shingles(
    df: DataFrame, text_col: str, k: int = 3, out: str = "sh"
) -> DataFrame:
    """Two-step char-shingling: materialize the normalized string in its
    own projection, THEN window over it.  The projection boundary keeps
    the regexp out of the per-element lambda (inline: ~450 regexp
    evaluations per doc; two-step: 1) — a 3× end-to-end win measured at
    sf0.1."""
    norm_df = df.withColumn(
        "_norm",
        F.regexp_replace(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9 ]", ""
        ),
    )
    return norm_df.withColumn(out, _char_kgrams(F.col("_norm"), k)).drop("_norm")


def word_shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Word k-gram shingles from a MATERIALIZED token-array column.

    Token-free docs get NO shingles (an [''] shingle would put every
    empty/null doc in one LSH bucket -> quadratic candidate blowup and
    content-free 'duplicates'); docs shorter than ``k`` tokens get one
    whole-doc shingle.
    """
    n = F.size(toks)
    return (
        F.when(n == 0, F.array().cast("array<string>"))
        .when(n < k, F.array(F.concat_ws(" ", toks)))
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            )
        )
    )


def with_word_shingles(
    df: DataFrame, text_col: str, k: int = 3, out: str = "sh"
) -> DataFrame:
    """Two-step word-shingling (same projection-boundary rationale)."""
    toks_df = df.withColumn(
        "_toks",
        F.filter(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9]+"),
            lambda t: F.length(t) > 0,
        ),
    )
    return toks_df.withColumn(
        out, word_shingles_from_tokens(F.col("_toks"), k)
    ).drop("_toks")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    tokens_col: Column,
    num_perm: int = 64,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Per-row MinHash signatures: ``(id, m0..m{num_perm-1})``.

    Explode-and-aggregate formulation: one row per (id, distinct token),
    then ``num_perm`` cheap ``min`` aggregates over the token hash.  This
    keeps every permutation a flat O(1)-per-row expression (the nested
    ``transform``-per-permutation form re-inlines the whole token-hash
    array into every downstream consumer via projection collapse — a 64×
    expression blowup) and gets map-side partial mins for free, so the
    shuffle carries just ``num_perm`` ints per document.
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(tokens_col)).alias("_t"),
    )
    return minhash_signatures_from_exploded(
        toks, "_id", "_t", num_perm, hash_method
    )


def minhash_signatures_from_exploded(
    toks: DataFrame,
    id_col: str,
    token_col: str,
    num_perm: int = 64,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures from an ALREADY-EXPLODED ``(id, token)``
    frame — the shared-scan entry point for callers that also need the
    exploded token rows for other consumers (q147 feeds the same
    distinct ``(source, shingle)`` table to the exact-Jaccard pair
    fan-out, the per-source sizes AND the signatures).  ``min`` is
    idempotent over duplicate rows, so aggregating a DEDUPED frame is
    value-identical to re-exploding the per-document shingle sets —
    round 10, guide §5/§2.4: one explode+hash pass instead of two.
    :func:`minhash_signatures` is exactly explode → this."""
    # Hash each token once into a projected column, then emit the
    # num_perm aggregates as SQL text: built Column-by-Column they cost
    # ~50 Py4J round trips each at plan construction, as text ~4
    # (SCALE.md hazard #8).
    p = MERSENNE_PRIME
    hashed = toks.select(
        F.col(id_col).alias("_id"),
        F.pmod(token_hash(token_col, hash_method), F.lit(p)).alias("_h"),
    )
    aggs = [
        F.expr(f"min(pmod(_h * {a} + {b}, {p})) AS m{j}")
        for j, (a, b) in enumerate(_lcg_coefficients(num_perm))
    ]
    return hashed.groupBy("_id").agg(*aggs)


def _band_keys(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """``(_id, band, key)`` rows from a signature frame: split into
    ``bands`` bands of ``rows`` values, md5 band key, explode.  One
    ``selectExpr`` of generated SQL text (see SCALE.md hazard #8)."""
    structs = ", ".join(
        f"named_struct('band', {i}, 'key', md5(concat_ws(',', "
        + ", ".join(f"CAST(m{i * rows + j} AS STRING)" for j in range(rows))
        + ")))"
        for i in range(bands)
    )
    return sig.selectExpr("_id", f"explode(array({structs})) AS bk").select(
        "_id", "bk.band", "bk.key"
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    tokens_col: Column,
    num_perm: int = 64,
    bands: int = 16,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs ``(id_a, id_b)`` with ``id_a < id_b``.

    Signature → split into ``bands`` bands of ``num_perm // bands`` rows →
    md5 band key → explode → self-equi-join on ``(band, key)``.  The join
    shuffles on the band key only; bucket sizes stay tiny for non-dup
    corpora, so this is the 100 TB-safe alternative to an O(n²) cross
    join.
    """
    assert num_perm % bands == 0
    rows = num_perm // bands
    sig = minhash_signatures(df, id_col, tokens_col, num_perm, hash_method)
    # BOTH self-join sides consume the band-key table — unpersisted,
    # each side re-ran the whole signature aggregation (64 min-aggs
    # over the exploded token table).  n×bands rows, ~50 B each
    # (round-9; callers are the PERSISTS_BY_DESIGN near-dup family).
    band_keys = _band_keys(sig, bands, rows).persist()
    a = band_keys.select(F.col("_id").alias("id_a"), "band", "key")
    b = band_keys.select(F.col("_id").alias("id_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    hash_method: str = "xxhash64",
    tokens_col: str | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup detection with exact-Jaccard verification:
    ``(id_a, id_b, jaccard)`` for shingle-Jaccard ≥ threshold.

    ``tokens_col`` names an already-materialized token-array column to
    shingle from, skipping the tokenizer — the hook that lets a
    multi-branch pipeline (e.g. q68) tokenize its corpus ONCE and share
    the projection across dedup/decontamination/quality branches."""
    if tokens_col is not None:
        shingled = df.withColumn(
            "_shg", word_shingles_from_tokens(F.col(tokens_col), k)
        )
    else:
        shingled = with_word_shingles(df, text_col, k, out="_shg")
    # THREE consumers read the shingle sets (signature/banding plus both
    # verify-join sides); persisted, the tokenize+shingle pass runs once
    # instead of three times — 25% off q25 at sf0.1.  MEMORY_AND_DISK
    # spills; this is the materialized signature input every production
    # MinHash pipeline keeps anyway, and registry-wide runs drop it via
    # bench.py's per-query clearCache.
    sh = shingled.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(F.col("_shg")).alias("_sh"),
    ).persist()
    cands = minhash_lsh_candidates(sh, "_id", F.col("_sh"), num_perm, bands, hash_method)
    # verify candidates with exact Jaccard: one set-op per pair
    # (|A∪B| = |A|+|B|-|A∩B| on the pre-distincted arrays)
    verified = (
        cands.join(sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )
    return verified.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    tokens_col: str | None = None,
) -> DataFrame:
    """``(_id, _sh)`` distinct word-shingle sets per row."""
    if tokens_col is not None:
        shg = df.withColumn(
            "_shg", word_shingles_from_tokens(F.col(tokens_col), k)
        )
    else:
        shg = with_word_shingles(df, text_col, k, out="_shg")
    return shg.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(F.col("_shg")).alias("_sh"),
    )


def corpus_dedup_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    hash_method: str = "xxhash64",
    tokens_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The corpus-side dedup index: ``(shingle_sets, band_keys)``.

    Compute ONCE per corpus, persist (or write to parquet) and reuse for
    every ingest batch — the amortization that makes per-ingest dedup
    against a 100 TB corpus affordable (``streaming_ingest_dedup`` does
    exactly this per micro-batch).
    """
    assert num_perm % bands == 0
    sh = _shingle_sets(df, id_col, text_col, k, tokens_col)
    bk = _band_keys(
        minhash_signatures(sh, "_id", F.col("_sh"), num_perm, hash_method),
        bands,
        num_perm // bands,
    )
    return sh, bk


def update_corpus_dedup_index(
    index: tuple[DataFrame, DataFrame],
    batch: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    hash_method: str = "xxhash64",
    tokens_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Append a new batch's signatures to an existing corpus index —
    the amortization contract: per ingest, only the BATCH is shingled
    and hashed; the corpus-side work is never recomputed.  The LSH
    parameters must match the ones the index was built with (band keys
    from different (num_perm, bands, hash_method) never collide
    correctly); the caller owns that invariant, exactly as with any
    pre-built ``corpus_index``.  Returns the grown ``(shingle_sets,
    band_keys)``; union is plan-level, so persist (or
    :func:`append_corpus_dedup_index` to parquet) at whatever cadence
    suits the ingest loop.
    """
    sh_c, bk_c = index
    sh_b, bk_b = corpus_dedup_index(
        batch, id_col, text_col, k, num_perm, bands, hash_method, tokens_col
    )
    return sh_c.unionByName(sh_b), bk_c.unionByName(bk_b)


#: band-table partition column for the bucketed index layout
KEY_BUCKET_COL = "_kb"


def band_keys_from_shingles(
    sh: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """``(_id, band, key)`` LSH band keys from precomputed ``(_id,
    _sh)`` shingle sets — the reuse entry point for eager per-batch
    drivers that persist the batch shingles once and derive both the
    band keys and the verify join from the same cache entry."""
    assert num_perm % bands == 0
    return _band_keys(
        minhash_signatures(sh, "_id", F.col("_sh"), num_perm, hash_method),
        bands,
        num_perm // bands,
    )


def _key_bucket(key_buckets: int) -> Column:
    return F.pmod(F.xxhash64(F.col("key")), F.lit(key_buckets))


def index_key_buckets(path: str) -> int | None:
    """The bucketed-layout parameter a persisted index was written
    with (``None`` = flat layout)."""
    import json
    import os

    meta = os.path.join(path, "layout.json")
    if not os.path.exists(meta):
        return None
    with open(meta) as fh:
        return json.load(fh).get("key_buckets")


def save_corpus_dedup_index(
    index: tuple[DataFrame, DataFrame],
    path: str,
    mode: str = "overwrite",
    key_buckets: int | None = None,
) -> None:
    """Persist a corpus dedup index as two parquet tables
    (``<path>/shingles``, ``<path>/bands``) — the durable form that
    makes the ingest gate's corpus-side cost O(read) instead of
    O(reshingle) per run.  ``mode="append"`` is the incremental path
    (:func:`append_corpus_dedup_index`).

    ``key_buckets=N`` writes the band table PARTITIONED by
    ``_kb = pmod(xxhash64(key), N)`` and records the layout in
    ``<path>/layout.json``; appends then route new rows into the same
    partitions automatically.  The point is probe-side READ pruning
    (:func:`pruned_index_bands`): an ingest micro-batch touches at most
    ``batch_docs × bands`` distinct buckets, so at the 10⁹-doc corpus
    scale — where the band table is itself billions of rows and its
    scan, not the verify join, dominates the gate — a small batch reads
    a bounded fraction of the table instead of all of it.  (At the
    local probe tiers the full band read measures ~0.14 s of a ~4 s
    gate, so the flat layout stays the default; the bucketed layout is
    the declared scale path, mechanically pinned by tests.)"""
    import json
    import os

    sh, bk = index
    if mode == "append":
        # appends must match the stored layout UNCONDITIONALLY: forcing
        # only the bucketed case would let an explicit key_buckets write
        # partitionBy(_kb) files into a FLAT bands directory (stored
        # layout None / missing layout.json) — a mixed layout that reads
        # back inconsistently and defeats pruned_index_bands
        key_buckets = index_key_buckets(path)
    sh.write.mode(mode).parquet(os.path.join(path, "shingles"))
    bw = bk
    if key_buckets:
        bw = bk.withColumn(KEY_BUCKET_COL, _key_bucket(key_buckets))
        bw.write.mode(mode).partitionBy(KEY_BUCKET_COL).parquet(
            os.path.join(path, "bands")
        )
    else:
        bw.write.mode(mode).parquet(os.path.join(path, "bands"))
    if mode == "overwrite":
        with open(os.path.join(path, "layout.json"), "w") as fh:
            json.dump({"key_buckets": key_buckets}, fh)


def append_corpus_dedup_index(
    index: tuple[DataFrame, DataFrame], path: str
) -> None:
    """Append (typically batch-only) index rows to a persisted index —
    per-ingest cost is writing the batch's own signature rows (routed
    into the stored bucketed layout when one was declared)."""
    save_corpus_dedup_index(index, path, mode="append")


def load_corpus_dedup_index(
    spark, path: str
) -> tuple[DataFrame, DataFrame]:
    """Open a persisted corpus dedup index; the scan is lazy, so an
    ingest batch's band-key join reads the band table straight off
    parquet (columnar, key-pruned) with no recompute.  A bucketed
    band table comes back with its ``_kb`` partition column — harmless
    to consumers (they select explicit columns) and required by
    :func:`pruned_index_bands`."""
    import os

    return (
        spark.read.parquet(os.path.join(path, "shingles")),
        spark.read.parquet(os.path.join(path, "bands")),
    )


def pruned_index_bands(
    spark, path: str, batch_band_keys: DataFrame
) -> DataFrame:
    """The probe-side read prune for a BUCKETED persisted index: read
    only the band-table partitions the batch's band keys can live in.

    The bucket list comes from one bounded collect over the batch's
    band keys (≤ ``key_buckets`` distinct values — configuration-
    sized, the repo's bounded-collect convention; the caller is an
    eager per-batch driver anyway).  The returned frame filters on the
    ``_kb`` partition column with literals, which Spark turns into
    real partition-directory pruning — files outside the batch's
    buckets are never opened.  Falls back to the full read on a flat
    layout."""
    import os

    bands_df = spark.read.parquet(os.path.join(path, "bands"))
    n = index_key_buckets(path)
    if not n:
        return bands_df
    kbs = [
        r[0]
        for r in batch_band_keys.select(
            _key_bucket(n).alias("_b")
        ).distinct().collect()
    ]
    return bands_df.filter(F.col(KEY_BUCKET_COL).isin(kbs))


def incremental_near_dup_pairs(
    corpus: DataFrame | None,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    hash_method: str = "xxhash64",
    tokens_col: str | None = None,
    corpus_index: tuple[DataFrame, DataFrame] | None = None,
    persist_batch: bool = True,
    batch_shingles: DataFrame | None = None,
    batch_band_keys: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-dup: which NEW-batch docs near-duplicate the
    EXISTING corpus — the ingest-time dedup gate every continuously-fed
    training pipeline runs.  Returns ``(corpus_id, batch_id, jaccard)``
    with shingle-Jaccard ≥ threshold.

    ``persist_batch=False`` skips caching the batch-side shingle sets —
    pass it from long-lived per-micro-batch loops (e.g.
    ``streaming_ingest_dedup``), where an unreclaimed cache entry per
    batch would accumulate for the stream's lifetime and re-shingling a
    tiny ingest batch costs less than the bookkeeping.

    ``batch_shingles`` / ``batch_band_keys``: caller-precomputed batch
    signatures (``(_id, _sh)`` shingle sets / ``(_id, band, key)`` LSH
    keys from the same (k, num_perm, bands, hash_method) — the caller
    owns that invariant and their persistence/unpersist lifecycle).
    This is the SCOPED reuse path for eager per-batch drivers
    (``streaming_ingest_dedup``, ``tools/gate_probe.py``): without it,
    ``persist_batch=False`` recomputes the batch shingle+MinHash work
    for BOTH consumers (band keys and the verify join) — measured at
    the 16x probe tier as ~2.8 s of a 4.2 s gate — while
    ``persist_batch=True`` would leak one cache entry per micro-batch
    for the stream's lifetime.  A caller that persists, passes in, and
    unpersists in ``finally`` gets reuse with a bounded lifecycle.

    Scale shape vs the symmetric form: candidates come ONLY from
    batch-side band keys equi-joined against corpus-side band keys —
    corpus×corpus pairs are never generated, so an ingest batch against
    a 100 TB corpus costs the corpus signature pass (amortizable: pass
    a precomputed/persisted :func:`corpus_dedup_index` via
    ``corpus_index`` and only the batch is scanned per ingest) plus a
    join AQE broadcasts when the batch side is small.  Verification
    joins shingle sets for candidate ids only.
    """
    assert num_perm % bands == 0
    rows = num_perm // bands
    if corpus_index is None:
        if corpus is None:
            raise ValueError("need either corpus or corpus_index")
        corpus_index = corpus_dedup_index(
            corpus, id_col, text_col, k, num_perm, bands, hash_method, tokens_col
        )
        # an inline-built index has two consumers below (band keys were
        # already derived from sh inside corpus_dedup_index, and the
        # verify join reads sh again) — persist OUR copy so the corpus
        # is shingled once; a caller-supplied corpus_index manages its
        # own persistence (that is its whole point)
        corpus_index = (corpus_index[0].persist(), corpus_index[1])
    sh_c, bk_c_raw = corpus_index
    bk_c = bk_c_raw.select(F.col("_id").alias("corpus_id"), "band", "key")
    # batch side: band keys + verify join both read the shingle sets
    if batch_shingles is not None:
        sh_b = batch_shingles
    else:
        sh_b = _shingle_sets(batch, id_col, text_col, k, tokens_col)
        if persist_batch:
            sh_b = sh_b.persist()
    if batch_band_keys is not None:
        bk_b = batch_band_keys.select(
            F.col("_id").alias("batch_id"), "band", "key"
        )
    else:
        bk_b = _band_keys(
            minhash_signatures(sh_b, "_id", F.col("_sh"), num_perm, hash_method),
            bands,
            rows,
        ).select(F.col("_id").alias("batch_id"), "band", "key")
    cands = (
        bk_c.join(bk_b, ["band", "key"]).select("corpus_id", "batch_id").distinct()
    )
    verified = cands.join(
        sh_c.select(F.col("_id").alias("corpus_id"), F.col("_sh").alias("sh_c")),
        "corpus_id",
    ).join(
        sh_b.select(F.col("_id").alias("batch_id"), F.col("_sh").alias("sh_b")),
        "batch_id",
    )
    inter = F.size(F.array_intersect("sh_c", "sh_b"))
    union = F.size("sh_c") + F.size("sh_b") - inter
    jac = F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )
    return verified.select("corpus_id", "batch_id", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def simhash64(
    df: DataFrame,
    id_col: str,
    tokens_col: Column,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document: ``(id, simhash long)``.

    Explode tokens → per-bit ±1 votes summed in one groupBy (64 JVM-side
    sum aggregates, map-side combined) → reassemble the sign bits.  Docs
    with no tokens get simhash 0.  With ``hash_method='md5'`` the token
    hash carries 60 bits, so bits 60-63 are always 0 — an
    oracle-checkable fingerprint with marginally coarser locality.
    """
    toks = df.select(F.col(id_col).alias("_id"), F.explode(tokens_col).alias("_t"))
    # Hash each token once into a projected column, then emit the 64
    # vote sums and the sign-bit reassembly as SQL text: built Column by
    # Column they cost ~2,300 Py4J round trips at plan construction
    # (SCALE.md hazard #8).  The reassembly adds the 64 terms left to
    # right, exactly as the Column-built sum did.
    hashed = toks.select("_id", token_hash("_t", hash_method).alias("_h"))
    votes = hashed.groupBy("_id").agg(
        *[
            F.expr(f"sum((shiftrightunsigned(_h, {i}) & 1) * 2 - 1) AS b{i}")
            for i in range(64)
        ]
    )
    sig = " + ".join(
        f"CASE WHEN b{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        "ELSE CAST(0 AS BIGINT) END"
        for i in range(64)
    )
    sig_df = votes.selectExpr("_id", f"{sig} AS simhash")
    ids = df.select(F.col(id_col).alias("_id")).distinct()
    return (
        ids.join(sig_df, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"),
        )
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes."""
    return F.bit_count(a.bitwiseXOR(b))


def exact_dedup(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Exact dedup: keep one row per md5-of-canonical-columns group
    (deterministic winner = min over all columns as a struct)."""
    from sparkdiff.functions.canonical import row_fingerprint

    cols = list(cols) if cols is not None else list(df.columns)
    fp = row_fingerprint(df, cols)
    return (
        df.withColumn("_fp", fp)
        .groupBy("_fp")
        .agg(F.min(F.struct(*df.columns)).alias("_row"))
        .select("_row.*")
    )


def setsim_join(
    sets: DataFrame,
    threshold_num: int,
    threshold_den: int,
    id_col: str = "doc_id",
    set_col: str = "s",
    group_duplicates: bool = True,
) -> DataFrame:
    """EXACT threshold set-similarity self-join (AllPairs/PPJoin family,
    Bayardo et al. 2007, WWW): all pairs ``(id_a < id_b)`` with Jaccard
    ≥ ``t = threshold_num/threshold_den``, provably complete — the
    deterministic alternative to MinHash when recall must be 1.0.

    ``sets`` carries one row per record with ``set_col`` an
    ``array<long>`` of distinct element hashes (see
    :func:`token_hash`).  The threshold is a RATIONAL so every prune is
    exact integer arithmetic (a float ``0.8`` bound silently mis-prunes
    boundary pairs like J = 4/5):

    1. *prefix filter*: order each set by ascending global frequency
       (rarest first); two sets with J ≥ t must share a token among
       their first ``⌊(1−t)·|x|⌋ + 1``, so candidates come from an
       equi-join on prefix tokens only;
    2. *length-ratio prune*: J ≥ t ⟹ ``den·min(|x|,|y|) ≥
       num·max(|x|,|y|)`` — applied per match row, before the
       pair-dedup shuffle;
    3. *positional upper bound*: a match at prefix positions (pa, pb)
       bounds total overlap by ``min(pa−1,pb−1) + 1 +
       min(|x|−pa,|y|−pb)`` (shared-before elements precede the match
       in BOTH frequency orders; shared-after follow in both); the
       pair's tightest bound — a MIN aggregate standing in for the
       DISTINCT, same shuffle — must reach the overlap requirement
       ``(num+den)·O ≥ num·S`` where ``S = |x|+|y|``.

    The verify step computes exact Jaccard (array_intersect on long
    arrays) only for surviving pairs.  Returns
    ``(id_a, id_b, jaccard double)``.  Measured at sf0.1: the two
    prunes cut verified candidates 2.04× on an adversarial dense-
    vocabulary corpus; on natural zipfian corpora the prefix+positional
    path is the one that scales (see SCALE.md).

    ``group_duplicates`` (default on) first collapses IDENTICAL token
    sets to one representative (groupBy on the sorted array — exact,
    no hash collisions), runs the whole prefix/verify pipeline on the
    distinct sets, then expands: cross-group pairs fan back out by
    membership, within-group pairs are emitted directly at Jaccard 1.0.
    On a duplicate-free corpus this costs one extra corpus groupBy; on
    a duplicate-heavy one it keeps the JOIN linear in distinct sets —
    the 4x replica probe (SCALE.md) measured the quadratic answer set
    arriving at expansion (output) time instead of squaring the verify.
    Note the within-group pair count IS the answer's size: for a corpus
    where one set has 10^6 copies the contract itself is 5·10^11 rows —
    use ``exact_dedup``/``dedup_clusters`` when you want groups, not
    pairs.
    """
    from pyspark.sql import Window

    if not (0 < threshold_num <= threshold_den):
        raise ValueError(
            f"threshold must be in (0, 1]: {threshold_num}/{threshold_den}"
        )
    p, q = threshold_num, threshold_den
    toks = sets.select(F.col(id_col).alias("_id"), F.col(set_col).alias("_s"))
    if group_duplicates:
        # empty/null sets must NOT form a duplicate group: Jaccard over
        # two empty sets is 0/0 (undefined), and the ungrouped path
        # never pairs them (no tokens -> no prefix match).  Excluding
        # them keeps the grouped path value-identical to the ungrouped
        # one.  size(NULL) = -1, so one predicate covers both.
        canon = toks.filter(F.size("_s") > 0).select(
            "_id", F.array_sort("_s").alias("_cs")
        )
        # one shuffle on the sorted-set key yields both the membership
        # table and the representative rows (rep = min id of the group)
        # — persisted: the table feeds the core pipeline (via reps),
        # both expansion joins (ma/mb) and both within-group sides, so
        # unpersisted the corpus-wide sorted-set window would recompute
        # for every consumer (round 9; guide §5).  One row per input
        # set; released by the session owner's clearCache.
        mem = canon.withColumn(
            "_rep", F.min("_id").over(Window.partitionBy("_cs"))
        ).select("_rep", "_id", "_cs").persist()
        reps = mem.filter(F.col("_id") == F.col("_rep"))
        core = setsim_join(
            reps.select("_id", F.col("_cs").alias("_s")),
            p,
            q,
            id_col="_id",
            set_col="_s",
            group_duplicates=False,
        )
        mem = mem.select("_rep", "_id")
        ma = mem.select(F.col("_rep").alias("id_a"), F.col("_id").alias("_ma"))
        mb = mem.select(F.col("_rep").alias("id_b"), F.col("_id").alias("_mb"))
        cross = (
            core.join(ma, "id_a")
            .join(mb, "id_b")
            .select(
                F.least("_ma", "_mb").alias("id_a"),
                F.greatest("_ma", "_mb").alias("id_b"),
                "jaccard",
            )
        )
        within = (
            mem.alias("x")
            .join(
                mem.alias("y"),
                (F.col("x._rep") == F.col("y._rep"))
                & (F.col("x._id") < F.col("y._id")),
            )
            .select(
                F.col("x._id").alias("id_a"),
                F.col("y._id").alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        return cross.unionByName(within)
    freq = (
        toks.select(F.explode("_s").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    ordered = (
        toks.select("_id", F.explode("_s").alias("w"))
        .join(freq, "w")
        .withColumn(
            "pos",
            F.row_number().over(Window.partitionBy("_id").orderBy("df", "w")),
        )
    )
    sized = ordered.withColumn(
        "sz", F.count(F.lit(1)).over(Window.partitionBy("_id"))
    )
    # prefix length ⌊(1−t)|x|⌋+1 = ⌊(q−p)·|x| / q⌋ + 1, exact integers
    # persisted: BOTH candidate self-join sides read the prefix table —
    # unpersisted, each side re-runs the explode → frequency join →
    # ranking window chain (round 9; guide §5).  ⌊(1−t)|x|⌋+1 rows per
    # set (a small fraction of the exploded tokens); released by the
    # session owner's clearCache.
    prefix = sized.filter(
        F.col("pos") <= F.floor((F.col("sz") * (q - p)) / q) + 1
    ).select("_id", "w", "pos", "sz").persist()
    a = prefix.select(
        F.col("_id").alias("id_a"), "w",
        F.col("pos").alias("pa"), F.col("sz").alias("sz_a"),
    )
    b = prefix.select(
        F.col("_id").alias("id_b"), "w",
        F.col("pos").alias("pb"), F.col("sz").alias("sz_b"),
    )
    match_ub = (
        F.least(F.col("pa") - 1, F.col("pb") - 1)
        + 1
        + F.least(F.col("sz_a") - F.col("pa"), F.col("sz_b") - F.col("pb"))
    )
    cand = (
        a.join(b, "w")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.least("sz_a", "sz_b") * q >= F.greatest("sz_a", "sz_b") * p)
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.min(match_ub).alias("_ub"))
        .filter(F.col("_ub") * (p + q) >= (F.col("sz_a") + F.col("sz_b")) * p)
        .select("id_a", "id_b")
    )
    sa = toks.select(F.col("_id").alias("id_a"), F.col("_s").alias("s_a"))
    sb = toks.select(F.col("_id").alias("id_b"), F.col("_s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    union = F.size("s_a") + F.size("s_b") - inter
    jac = F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        # EXACT rational threshold on integer counts — den·inter ≥
        # num·union never mis-rounds a boundary pair the way a float
        # comparison can
        .filter(inter * q >= union * p)
    )


def containment_join(
    sets: DataFrame,
    threshold_num: int,
    threshold_den: int,
    id_col: str = "doc_id",
    set_col: str = "s",
) -> DataFrame:
    """EXACT threshold set-CONTAINMENT self-join: all ORDERED pairs
    ``(id_a != id_b)`` with ``|A ∩ B| / |A| >= t`` — the asymmetric
    twin of :func:`setsim_join`, for the relationships Jaccard
    structurally misses: a quote, excerpt, or chunk CONTAINED in a
    much longer document has Jaccard ≈ |A|/|B| (tiny) but containment
    ≈ 1.  The standard LLM-corpus use is quote/excerpt detection
    before near-dup dedup declares two differently-sized documents
    unrelated.

    Same exactness discipline as setsim_join: the threshold is a
    RATIONAL (``den·|A∩B| >= num·|A|`` in int64), and the prefix
    filter is provably lossless for ANY fixed global element order —
    at most ``(1-t)·|A|`` of A's elements lie outside B, so among A's
    first ``⌊(1-t)·|A|⌋ + 1`` elements at least one is in B.  Ordering
    by ascending global frequency (rarest first, element value as the
    tiebreak) is the EFFICIENCY choice: the probe side only publishes
    its rarest elements, so the equi-join's key distribution is the
    rare tail — posting lists stay short and the candidate join stays
    linear-ish even though the indexed side publishes every element.
    Verification computes the exact intersection only for distinct
    candidate pairs.  Returns ``(id_a, id_b, inter, size_a)`` with
    containment = inter/size_a left to the caller (kept integer here
    so downstream thresholds stay engine-exact).  Empty/null probe
    sets are excluded (containment undefined).

    The distinct-set table feeds FOUR consumers (frequency table,
    ranked prefix, index side, both verify sides), so it is persisted
    for the returned DAG's lifetime — the q25/q26 multi-consumer
    convention (release path: session ``clearCache``)."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    if not (0 < threshold_num <= threshold_den):
        raise ValueError(
            f"threshold must be in (0, 1]: {threshold_num}/{threshold_den}"
        )
    num, den = threshold_num, threshold_den
    base = (
        sets.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(F.col(set_col)).alias("_s"),
        )
        .filter(F.size("_s") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    elems = base.select("_id", F.size("_s").alias("_n"), F.explode("_s").alias("_e"))
    freq = elems.groupBy("_e").agg(F.count(F.lit(1)).alias("_f"))
    ranked = elems.join(freq, "_e").withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("_id").orderBy(F.col("_f"), F.col("_e"))
        ),
    )
    # prefix length = |A| - ceil(t·|A|) + 1, all-integer
    need = F.expr(f"CAST(({num} * _n + {den} - 1) DIV {den} AS INT)")
    prefix = ranked.filter(F.col("_rn") <= F.col("_n") - need + 1).select(
        F.col("_id").alias("id_a"), "_e"
    )
    cand = (
        prefix.join(
            elems.select(F.col("_id").alias("id_b"), "_e"),
            ["_e"],
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = base.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa"),
                     F.size("_s").alias("size_a"))
    sb = base.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("long")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", inter)
        .filter(F.lit(den) * F.col("inter") >= F.lit(num) * F.col("size_a"))
        .select("id_a", "id_b", "inter", F.col("size_a").cast("long").alias("size_a"))
    )


def paragraph_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = " ",
    segment_words: int = 10,
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-global keep-first SEGMENT dedup with in-place reassembly —
    the paragraph-dedup stage of CCNet-style curation (Wenzek et al.
    2020): every repeated paragraph survives only at its first corpus
    occurrence; all later copies are cut and the documents are rebuilt
    around the holes.

    Segmenter: the document is split on ``sep`` and regrouped into
    non-overlapping ``segment_words``-word chunks (position = chunk
    index).  For prose with real paragraph breaks pre-split on the
    break and pass ``segment_words=1, sep="\\n"`` — the fixed-width
    word chunking is the segmenter for boundary-less text (the
    synthetic corpus has no newlines).  Segments shorter than
    ``min_chars`` characters are never dedup candidates (they pass
    through, duplicated or not).

    Keep-first is EXACT and total: the surviving occurrence is the
    minimum ``(id, position)`` pair over the whole corpus (so
    within-document repeats drop too).  Returns one row per input
    document: ``(id_col, clean_text, n_segments, n_dropped,
    n_chars_removed)`` — untouched documents pass through with zeros.

    Scale shape: one shuffle to group occurrences by segment text
    (map-side-combined ``min(struct(id, pos))`` — bounded state per
    key), one co-partitioned equi-join of occurrences back to winners,
    one ``groupBy(id)`` reassembly whose ``collect_list`` is bounded by
    the DOCUMENT's own segment count (the excise_repeated_spans
    argument, substring.py:179), never by the corpus.  No windows over
    unpartitioned data, no driver collects.
    """
    from sparkdiff.operators._util import reserve_columns

    if segment_words < 1:
        raise ValueError(f"segment_words must be >= 1, got {segment_words}")
    reserve_columns(docs, ("_pd_id", "_pd_words", "_pd_pos", "_pd_seg"), "paragraph_dedup")
    w = segment_words
    base = docs.select(
        F.col(id_col).alias("_pd_id"),
        F.split(F.col(text_col), sep, -1).alias("_pd_words"),
    )
    # _pd_words is referenced by BOTH the chunk-count sequence and the
    # slice lambda: the multi-reference keeps CollapseProject from
    # inlining split() into the per-element lambda (SCALE.md #1).
    segs = base.select(
        "_pd_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size("_pd_words") - 1) / w).cast("int"),
                ),
                lambda i: F.array_join(
                    F.slice("_pd_words", i * w + 1, w), sep
                ),
            )
        ).alias("_pd_pos", "_pd_seg"),
    )
    winners = (
        segs.filter(F.length("_pd_seg") >= min_chars)
        .groupBy("_pd_seg")
        .agg(F.min(F.struct("_pd_id", "_pd_pos")).alias("_pd_first"))
    )
    # ONE left join covers both cases: short segments (filtered out of
    # `winners`) get a NULL `_pd_first` and keep via the length clause;
    # candidates keep iff they ARE the corpus-first occurrence.  Keeps
    # the source scanned twice (segs + winners), not three times.
    all_segs = segs.join(winners, "_pd_seg", "left").withColumn(
        "_pd_keep",
        (F.length("_pd_seg") < min_chars)
        | (F.struct("_pd_id", "_pd_pos") == F.col("_pd_first")),
    )
    rebuilt = all_segs.groupBy("_pd_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_pd_keep"),
                            F.struct("_pd_pos", "_pd_seg"),
                        )
                    )
                ),
                lambda s: s["_pd_seg"],
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum((~F.col("_pd_keep")).cast("long")).alias("n_dropped"),
        F.sum(
            F.when(~F.col("_pd_keep"), F.length("_pd_seg")).otherwise(0)
        )
        .cast("long")
        .alias("n_chars_removed"),
    )
    return rebuilt.select(
        F.col("_pd_id").alias(id_col),
        "clean_text",
        "n_segments",
        "n_dropped",
        "n_chars_removed",
    )


def hamming_near_dup_pairs(
    hashed: DataFrame,
    max_hamming: int = 4,
    id_col: str = "doc_id",
    hash_col: str = "hash",
) -> DataFrame:
    """Modality-agnostic near-dup pairing for 64-bit locality hashes
    (simhash, image aHash, audio energy hash): ``(id_a < id_b,
    hamming)`` for all pairs within ``max_hamming`` bits.

    Blocking is the SimHash-LSH pigeonhole: the hash splits into 8
    bands of 8 bits, and two hashes within 7 bits MUST share an exact
    band — so the band equi-join is recall-COMPLETE for
    ``max_hamming <= 7`` (enforced; raise the band count for looser
    thresholds) and never forms the all-pairs product.  NULL hashes
    (undecodable inputs) are excluded.  One shuffle on (band, key);
    bucket sizes are collision-bounded, not corpus-bounded."""
    if not 0 <= max_hamming <= 7:
        raise ValueError(
            f"max_hamming must be in [0, 7] (8x8-bit band pigeonhole), "
            f"got {max_hamming}"
        )
    h = hashed.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_h")
    )
    bands = h.select(
        "_id",
        "_h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("_h"), i * 8)
                        .bitwiseAND(F.lit(255))
                        .alias("key"),
                    )
                    for i in range(8)
                ]
            )
        ).alias("bk"),
    ).select(
        "_id", "_h", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a = bands.select(
        F.col("_id").alias("id_a"), F.col("_h").alias("_ha"), "band", "key"
    )
    b = bands.select(
        F.col("_id").alias("id_b"), F.col("_h").alias("_hb"), "band", "key"
    )
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_ha", "_hb")
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        hamming64(F.col("_ha"), F.col("_hb")).cast("long").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
