"""Retrieval-index building blocks: k-means codebook training, BM25
scoring, and bounded posting-list construction.

These are the library forms behind q75/q76/q79 — the operators a user
composes into an index-build or search pipeline (posting lists → BM25
candidate scoring → embedding rerank via ``operators/similarity``).

Scale posture (each documented on the function):

- ``kmeans_assign`` is distributed Lloyd: the centroid table is k×d —
  tiny regardless of corpus size — so assignment is a broadcast fan-out
  and the update step one map-side-combined aggregation.  This is the
  IVF coarse-quantizer trainer (`similarity.ivf_cosine_topk` consumes a
  codebook of exactly this shape).
- ``bm25_score_expr`` builds ONE codegen'd column expression per query;
  corpus stats ride a one-row broadcast.  No UDF, no shuffle beyond the
  stats aggregate.
- ``posting_lists`` collects lists only AFTER a df-band semi-join, so
  no aggregation buffer ever holds an unbounded group.

Determinism: every floating-point reduction either folds in a fixed
order (distance folds, per-term score sums) or rides the dyadic-integer
rail (centroid updates sum ``floor(v·2^33)`` longs), so results are
identical under any partitioning and replayable by an ANSI-SQL oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: 2^33 — scales a float32 (≤ 33 fractional bits in the testdata; deeper
#: inputs quantize identically in every engine) to an EXACT integer.
DYADIC_SCALE = 8_589_934_592


def squared_l2(a: Column | str, b: Column | str) -> Column:
    """Left-to-right fold of (a_i - b_i)^2 — associativity-stable, so
    the double result is identical in any engine that folds in order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def squared_l2_flat(a: Column | str, b: Column | str, dim: int) -> Column:
    """Codegen-able flat twin of :func:`squared_l2` for a KNOWN dim:
    same left-to-right addition order, so bit-identical to the fold
    (0.0 + x == x), but whole-stage-codegen'd instead of the
    CodegenFallback HOF — the difference between ~9 s and ~2 s on a
    500-query × 2000-vector × 64-dim neighbor scan (q127)."""
    if dim <= 0:
        return F.lit(0.0)
    if isinstance(a, str) and isinstance(b, str):
        # ONE parsed SQL expression instead of ~3·dim py4j Column calls:
        # building the 64-term tree operator-by-operator cost ~0.7 s of
        # DRIVER time per q127 plan construction (round 9; measured).
        # `x + y + z` parses left-associative, and `arr[i]` resolves to
        # the same GetArrayItem as Column indexing, so the analyzed
        # expression — and the bit-exact addition order — is unchanged.
        terms = " + ".join(
            f"((`{a}`[{i}] - `{b}`[{i}]) * (`{a}`[{i}] - `{b}`[{i}]))"
            for i in range(dim)
        )
        return F.expr(terms)
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    out: Column | None = None
    for i in range(dim):
        term = (a[i] - b[i]) * (a[i] - b[i])
        out = term if out is None else out + term
    return out if out is not None else F.lit(0.0)


def kmeans_assign(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    k: int = 4,
    iters: int = 2,
    with_centroids: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Deterministic distributed Lloyd: seeds are the k smallest ids,
    runs ``iters`` assignment/update rounds, returns the final
    ``(id_col, cluster, dist)`` assignment.

    ``with_centroids=True`` returns ``(assignment, centroids)`` where
    ``centroids`` is the ``(cluster, _c array<double>)`` frame the LAST
    assignment ranked against — the codebook a product-quantization
    consumer needs alongside the codes (an ADC distance computed
    against any OTHER round's centroids would not match the codes).

    The per-round shape survives 100 TB: centroids (k×d rows) broadcast
    against the vector table — the corpus never shuffles for assignment
    — and the update is posexplode → ONE map-side-combined aggregation
    whose state is k×d rows.  Centroid sums are dyadic-scaled longs
    (exact, order-independent); only the final mean divides as double.

    The per-row argmin is a map-side-combined ``min(struct(dist,
    cluster, _v))`` aggregation, NOT a row_number window: the broadcast
    NLJ emits the k candidate rows of each vector inside one input
    partition, so partial aggregation collapses n×k rows back to n
    BEFORE the exchange.  (The original window form shuffled the full
    n×k expansion — measured at the round-9 64×-replica auto-k tier
    (n=336k, k=3360) as the difference between a >20-minute run and
    seconds.  Struct ordering compares dist first, then cluster —
    bit-identical to the old ``row_number over (orderBy dist,
    cluster)`` selection; ``_v`` is only reached on a full (dist,
    cluster) tie, impossible for distinct clusters.)
    """
    e = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    # ``dim``: when the dimension is known, use the whole-stage-codegen'd
    # flat distance (bit-identical fold order) instead of the
    # CodegenFallback HOF.
    _dist = (
        (lambda a, b: squared_l2_flat(a, b, dim))
        if dim
        else (lambda a, b: squared_l2(a, b))
    )
    # seeds = the k smallest-id rows, fully LAZY (TakeOrderedAndProject
    # inside the plan — no driver collect, so building the operator
    # launches zero jobs; the registry's lazy-construction contract)
    cents = e.orderBy("_id").limit(k).select(
        F.col("_id").cast("long").alias("cluster"),
        F.col("_v").alias("_c"),
    )
    # renumber seeds to dense 0..k-1 in id order for a stable contract
    rank = Window.orderBy("cluster")
    cents = cents.withColumn(
        "cluster", (F.row_number().over(rank) - 1).cast("long")
    )
    assigned = None
    cents_used = cents
    for _it in range(iters):
        if _it == iters - 1 and with_centroids:
            # round-9: the returned codebook and the returned assignment
            # are SEPARATE DataFrames over the same Lloyd lineage — an
            # unpersisted final centroid table makes every (codes,
            # codebook) consumer pair re-run all prior rounds (q152's
            # per-subspace chains executed twice each).  k×d rows —
            # configuration-sized at any corpus scale (callers' registry
            # entries carry the PERSISTS_BY_DESIGN annotation).
            cents = cents.persist()
        cents_used = cents
        best = F.min(
            F.struct(F.col("dist"), F.col("cluster"), F.col("_v"))
        ).alias("_best")
        assigned = (
            e.crossJoin(F.broadcast(cents))
            .withColumn("dist", _dist("_v", "_c"))
            .groupBy("_id")
            .agg(best)
            .select(
                "_id",
                F.col("_best.cluster").alias("cluster"),
                F.col("_best.dist").alias("dist"),
                F.col("_best._v").alias("_v"),
            )
        )
        sums = (
            assigned.select(
                "cluster", F.posexplode("_v").alias("dim", "val")
            )
            .groupBy("cluster", "dim")
            .agg(
                F.sum(F.floor(F.col("val") * DYADIC_SCALE)).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        cents = sums.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "s", "n"))),
                lambda t: t["s"].cast("double")
                / (t["n"] * F.lit(DYADIC_SCALE)).cast("double"),
            ).alias("_c")
        )
    out = assigned.select(F.col("_id").alias(id_col), "cluster", "dist")
    if with_centroids:
        return out, cents_used
    return out


def _assign_to_matrix(
    df: DataFrame,
    mats_bc,
    with_coarse: bool,
) -> DataFrame:
    """Vectorized nearest-centroid assignment: one Arrow-batched
    pandas_udf computing the full batch×centroid distance matrix with
    one BLAS matmul per (batch, cell) — the per-row cost the pure-SQL
    form cannot reach, because a ``crossJoin(broadcast(cents))``
    materializes BOTH d-dim arrays into every expanded row (~1 KB of
    UnsafeRow build per candidate; measured 35 s for a single 4.8M-row
    assignment round at the 64× tier vs milliseconds of matmul).

    ``mats_bc`` broadcasts ``{coarse_id: (fine_ids, matrix)}`` (or the
    single entry ``{0: ...}`` when ``with_coarse`` is False).  Returns
    df + ``_cl`` (chosen id within the matrix) + ``_dist``.  Ties break
    to the FIRST row of the matrix — rows are sorted by id, so the
    tie-break is (dist, id), matching the flat form's."""
    fields = T.StructType(
        [
            T.StructField("_cl", T.LongType()),
            T.StructField("_dist", T.DoubleType()),
        ]
    )
    import numpy as np
    import pandas as pd

    # no type hints + explicit SCALAR eval type: this pyspark's hint
    # inference has no Series -> DataFrame (struct) signature
    from pyspark.sql.functions import PandasUDFType

    if with_coarse:

        @F.pandas_udf(fields, PandasUDFType.SCALAR)
        def _best(coarse, vs):
            mats = mats_bc.value
            n = len(vs)
            if n == 0:
                return pd.DataFrame({"_cl": [], "_dist": []})
            cl = np.zeros(n, dtype=np.int64)
            dist = np.zeros(n, dtype=np.float64)
            V = np.array(vs.tolist(), dtype=np.float64)
            cv = coarse.values
            for g in pd.unique(coarse):
                ids, C = mats[g]
                idx = np.nonzero(cv == g)[0]
                Vg = V[idx]
                d2 = (
                    (Vg * Vg).sum(1)[:, None]
                    - 2.0 * (Vg @ C.T)
                    + (C * C).sum(1)[None, :]
                )
                amin = d2.argmin(1)
                cl[idx] = ids[amin]
                dist[idx] = d2[np.arange(len(idx)), amin]
            return pd.DataFrame({"_cl": cl, "_dist": dist})

        return df.withColumn("_b", _best("_coarse", "_v"))
    else:

        @F.pandas_udf(fields, PandasUDFType.SCALAR)
        def _best1(vs):
            ids, C = mats_bc.value[0]
            if len(vs) == 0:
                return pd.DataFrame({"_cl": [], "_dist": []})
            V = np.array(vs.tolist(), dtype=np.float64)
            d2 = (
                (V * V).sum(1)[:, None]
                - 2.0 * (V @ C.T)
                + (C * C).sum(1)[None, :]
            )
            amin = d2.argmin(1)
            return pd.DataFrame(
                {
                    "_cl": ids[amin],
                    "_dist": d2[np.arange(len(V)), amin],
                }
            )

        return df.withColumn("_b", _best1("_v"))


def _centroid_rows_to_mats(rows, keyed: bool):
    """Driver-side ``{coarse: (sorted fine ids, matrix)}`` from collected
    ``(_coarse?, _fine, _c)`` rows — BOUNDED: total rows ≤ k (the
    configuration-sized centroid table, ~1.7 MB at k=3360, d=64)."""
    import numpy as np

    grouped: dict[int, list] = {}
    for r in rows:
        g = r["_coarse"] if keyed else 0
        grouped.setdefault(g, []).append((r["_fine"], r["_c"]))
    out = {}
    for g, pairs in grouped.items():
        pairs.sort()  # fine-id order => argmin tie-break = (dist, id)
        out[g] = (
            np.array([p[0] for p in pairs], dtype=np.int64),
            np.array([p[1] for p in pairs], dtype=np.float64),
        )
    return out


def kmeans_assign_hierarchical(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    k: int = 256,
    iters: int = 2,
    coarse_k: int | None = None,
) -> DataFrame:
    """Coarse-then-fine Lloyd — the assignment that keeps k ∝ n
    clustering (SemDeDup's auto-k, IVF training) off the O(n·k) cliff:
    flat assignment against k centroids costs n·k·d distance flops,
    which under ``k = n/100`` is O(n²·d/100) — measured at the round-9
    64×-replica tier (n=134k, k=1344) as a >20-minute Spark job.  FAISS
    trains large IVF indexes through exactly this two-level shape (a
    coarse quantizer routes points, fine centroids train per cell).

    Level 1 trains ``coarse_k`` (default ⌈√k⌉) cells; level 2 trains
    ``k2 = ⌈k/coarse_k⌉`` fine centroids inside every coarse cell
    simultaneously.  Assignment is the vectorized numpy matmul of
    :func:`_assign_to_matrix` (the ONE justified Python surface here:
    dense linear algebra Catalyst expressions cannot batch); centroid
    updates stay Spark-side as the same exact order-independent
    dyadic-long aggregation the flat form uses, collected per round as
    a configuration-sized (≤ k×d, ~1.7 MB) table.  Total distance work
    is n·iters·(k1 + k2)·d ≈ O(n·√k·d); the pattern recurses for
    deeper hierarchies at 10⁹+ vectors.

    EAGER by design: each Lloyd round collects the bounded centroid
    table to drive the next round's broadcast (its auto-k callers are
    already eager — they count the corpus to derive k).  Returns
    ``(id_col, cluster, dist)`` with ``cluster = coarse·k2 + fine`` —
    ≈k dense ids whose expected populations match the flat form's (the
    property SemDeDup's pair scan depends on).  Deterministic given a
    BLAS: seeds are smallest ids (global for coarse, per-cell for
    fine), sums are dyadic longs, argmin ties break to the smallest
    centroid id.  NOT bit-identical to flat k-means (different centroid
    trajectories, matmul accumulation order) — callers needing the
    oracle-pinned flat answer (q88/q136 at driver scales) stay below
    ``operators/similarity.HIERARCHICAL_K_THRESHOLD``."""
    import math

    k1 = coarse_k or max(2, math.isqrt(k))
    k2 = max(1, -(-k // k1))  # ceil
    e = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    sc = e.sparkSession.sparkContext

    def _update(assigned: DataFrame, keyed: bool):
        """Spark-side exact centroid update (dyadic-scaled long sums,
        order-independent) + bounded collect of the ≤ k×d result."""
        keys = (["_coarse", "_cl"] if keyed else ["_cl"])
        sums = (
            assigned.select(
                *keys, F.posexplode("_v").alias("dim", "val")
            )
            .groupBy(*keys, "dim")
            .agg(
                F.sum(F.floor(F.col("val") * DYADIC_SCALE)).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        cents = sums.groupBy(*keys).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "s", "n"))),
                lambda t: t["s"].cast("double")
                / (t["n"] * F.lit(DYADIC_SCALE)).cast("double"),
            ).alias("_c")
        )
        sel = [F.col("_cl").alias("_fine"), "_c"]
        if keyed:
            sel = ["_coarse", *sel]
        return cents.select(*sel).collect()

    # ---- level 1: coarse cells ------------------------------------
    seed_rows = [
        {"_coarse": 0, "_fine": i, "_c": r["_v"]}
        for i, r in enumerate(e.orderBy("_id").limit(k1).collect())
    ]
    mats = sc.broadcast(_centroid_rows_to_mats(seed_rows, keyed=True))
    assigned = None
    for _ in range(iters):
        assigned = _assign_to_matrix(e, mats, with_coarse=False).select(
            "_id", "_v", F.col("_b._cl").alias("_cl")
        )
        rows = _update(assigned, keyed=False)
        mats = sc.broadcast(
            _centroid_rows_to_mats(
                [{"_coarse": 0, **r.asDict()} for r in rows], keyed=True
            )
        )
    ev = _assign_to_matrix(e, mats, with_coarse=False).select(
        "_id", "_v", F.col("_b._cl").alias("_coarse")
    )
    # (_id, _v, _coarse) feeds the fine seeds and every fine round;
    # persist so each consumer doesn't redo the coarse assignment (the
    # callers' registry entries carry the PERSISTS_BY_DESIGN annotation)
    ev = ev.persist()

    # ---- level 2: fine centroids inside every coarse cell ---------
    seed_rn = F.row_number().over(
        Window.partitionBy("_coarse").orderBy("_id")
    )
    fine_seeds = (
        ev.withColumn("_rn", seed_rn)
        .filter(F.col("_rn") <= k2)
        .select(
            "_coarse",
            (F.col("_rn") - 1).cast("long").alias("_fine"),
            F.col("_v").alias("_c"),
        )
        .collect()
    )
    mats = sc.broadcast(
        _centroid_rows_to_mats([r.asDict() for r in fine_seeds], keyed=True)
    )
    for _ in range(iters - 1):
        assigned = _assign_to_matrix(ev, mats, with_coarse=True).select(
            "_coarse", "_v", F.col("_b._cl").alias("_cl")
        )
        rows = _update(assigned, keyed=True)
        mats = sc.broadcast(
            _centroid_rows_to_mats([r.asDict() for r in rows], keyed=True)
        )
    final = _assign_to_matrix(ev, mats, with_coarse=True)
    return final.select(
        F.col("_id").alias(id_col),
        (F.col("_coarse") * k2 + F.col("_b._cl")).cast("long").alias("cluster"),
        F.col("_b._dist").alias("dist"),
    )


def ivf_topk_deterministic(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    k_clusters: int = 4,
    iters: int = 2,
    n_probe: int = 2,
    top_k: int = 3,
    query_pred=None,
    dim: int | None = None,
) -> DataFrame:
    """Oracle-replayable IVF nearest-neighbor search: the
    :func:`kmeans_assign` Lloyd loop partitions the corpus into
    inverted lists, each query scores only its ``n_probe`` nearest
    cells, and the per-cell candidates reduce to an exact L2 top-k.

    This is the deterministic twin of ``similarity.ivf_cosine_topk``
    (which uses Spark ML's KMeans — a fine quantizer, but its
    initialization is not replayable in ANSI SQL, so it can only be
    property-tested).  Here seeds/updates are the deterministic Lloyd,
    so the ENTIRE ANN pipeline — codebook, probe choice, candidate
    list, final ranking — hash-matches the DuckDB oracle.

    Scale shape: centroids (k×d) broadcast twice (corpus assignment,
    query probe); per-query candidate work is |corpus|·n_probe/k; the
    final top-k is a per-query window over candidates.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    # as in kmeans_assign: the codegen'd flat distance when the
    # dimension is known
    _dist = (
        (lambda a, b: squared_l2_flat(a, b, dim))
        if dim
        else (lambda a, b: squared_l2(a, b))
    )
    # Lloyd loop — identical to kmeans_assign, but keeping the
    # centroid table that produced the FINAL assignment for probing.
    # lazy seeds — same TakeOrderedAndProject shape as kmeans_assign
    cents = e.orderBy("_id").limit(k_clusters).select(
        F.col("_id").cast("long").alias("cluster"), F.col("_v").alias("_c")
    )
    rank = Window.orderBy("cluster")
    cents = cents.withColumn(
        "cluster", (F.row_number().over(rank) - 1).cast("long")
    )
    assigned = None
    probe_cents = cents
    for it in range(iters):
        if it == iters - 1:
            # round-9: the final centroid table feeds BOTH the corpus
            # assignment (broadcast side of `lists`) and the query
            # probe — unpersisted, each consumer re-ran every prior
            # Lloyd round.  k×d rows, configuration-sized (callers'
            # registry entries carry PERSISTS_BY_DESIGN).
            cents = cents.persist()
        probe_cents = cents
        # per-row argmin as a map-side-combined min(struct) — the
        # kmeans_assign formulation (bit-identical tie-break to
        # row_number over (dist, cluster)); the window form shuffled
        # the full n×k expansion.
        best = F.min(
            F.struct(F.col("dist"), F.col("cluster"), F.col("_v"))
        ).alias("_best")
        assigned = (
            e.crossJoin(F.broadcast(cents))
            .withColumn("dist", _dist("_v", "_c"))
            .groupBy("_id")
            .agg(best)
            .select(
                "_id",
                F.col("_best.cluster").alias("cluster"),
                F.col("_best.dist").alias("dist"),
                F.col("_best._v").alias("_v"),
            )
        )
        if it < iters - 1:
            sums = (
                assigned.select(
                    "cluster", F.posexplode("_v").alias("dim", "val")
                )
                .groupBy("cluster", "dim")
                .agg(
                    F.sum(F.floor(F.col("val") * DYADIC_SCALE)).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
            )
            cents = sums.groupBy("cluster").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "s", "n"))),
                    lambda t: t["s"].cast("double")
                    / (t["n"] * F.lit(DYADIC_SCALE)).cast("double"),
                ).alias("_c")
            )
    lists = assigned.select(
        F.col("_id").alias("corpus_id"), "cluster", F.col("_v").alias("_cv")
    )
    q = e if query_pred is None else e.filter(query_pred(F.col("_id")))
    probe_rn = F.row_number().over(
        Window.partitionBy("_qid").orderBy("qdist", "cluster")
    )
    probes = (
        q.select(F.col("_id").alias("_qid"), F.col("_v").alias("_qv"))
        .crossJoin(F.broadcast(probe_cents))
        .withColumn("qdist", _dist("_qv", "_c"))
        .withColumn("prn", probe_rn)
        .filter(F.col("prn") <= n_probe)
        .select("_qid", "_qv", "cluster")
    )
    cand = probes.join(lists, "cluster").withColumn(
        "dist", _dist("_qv", "_cv")
    )
    final_rn = F.row_number().over(
        Window.partitionBy("_qid").orderBy("dist", "corpus_id")
    )
    return (
        cand.withColumn("rnk", final_rn)
        .filter(F.col("rnk") <= top_k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("rnk").cast("long").alias("rnk"),
            "corpus_id",
            "dist",
        )
    )


def pq_encode(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    m: int = 4,
    sub_dim: int = 16,
    k: int = 4,
    iters: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Product quantization (Jégou et al. 2011, TPAMI): split each
    vector into ``m`` contiguous ``sub_dim``-dim subvectors and cluster
    each subspace independently with the deterministic
    :func:`kmeans_assign` Lloyd (dyadic-exact centroid updates, so the
    whole codebook is SQL-replayable).  Returns ``(codes, codebook)``:
    ``codes`` = one row per (vector, subspace) with the assigned
    centroid id — the m·log2(k)-bit representation an ANN index stores
    instead of ``m·sub_dim`` floats — and ``codebook`` =
    ``(sub, cluster, _c array<double>)``, the centroids the FINAL
    assignment ranked against (the table ADC lookups must use).

    Scale shape: each subspace trains on a PROJECTION of the corpus
    (slice is a per-row expression — no shuffle to form subvectors);
    within a subspace the cost is :func:`kmeans_assign`'s (k×sub_dim
    broadcast, map-side-combined updates).  ``m`` and ``k`` are small
    constants; nothing grows superlinearly with the corpus.
    """
    if m < 1 or sub_dim < 1:
        raise ValueError(f"m and sub_dim must be >= 1, got {m}, {sub_dim}")
    codes = None
    cents = None
    base = vectors.select(
        F.col(id_col).alias("_pqid"),
        F.col(vec_col).cast("array<double>").alias("_pqv"),
    )
    for s in range(m):
        sub = base.select(
            F.col("_pqid").alias(id_col),
            F.slice("_pqv", s * sub_dim + 1, sub_dim).alias("_sv"),
        )
        # sub_dim is known -> codegen'd flat distance
        a, c = kmeans_assign(
            sub,
            id_col,
            "_sv",
            k=k,
            iters=iters,
            with_centroids=True,
            dim=sub_dim,
        )
        cs = a.select(
            id_col, F.lit(s).alias("sub"), F.col("cluster").alias("code")
        )
        cc = c.select(F.lit(s).alias("sub"), "cluster", "_c")
        codes = cs if codes is None else codes.unionByName(cs)
        cents = cc if cents is None else cents.unionByName(cc)
    return codes, cents


def pq_adc_topk(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "v",
    m: int = 4,
    sub_dim: int = 16,
    top_k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    a tiny per-subspace distance LOOKUP table against the codebook
    (m·k rows per query — broadcast), corpus codes join the lookup by
    ``(sub, code)``, and the per-vector ADC distance folds the m
    subspace distances IN SUBSPACE ORDER (array_sort of the collected
    (sub, d) structs → ordered aggregate), so the double sum is
    bit-identical on any engine and any partitioning.  The corpus's
    floats are never touched — only its integer codes move, the PQ
    memory story at 100 TB scale.

    Returns ``(query_id, rnk, id_col, adc)`` for the ``top_k`` nearest
    codes per query (ties on distance break by corpus id).
    """
    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    lookup = q.crossJoin(F.broadcast(codebook)).select(
        "_qid",
        "sub",
        "cluster",
        squared_l2(
            F.slice("_qv", F.col("sub") * sub_dim + 1, sub_dim), F.col("_c")
        ).alias("_d"),
    )
    joined = codes.join(
        F.broadcast(lookup),
        (codes["sub"] == lookup["sub"]) & (codes["code"] == lookup["cluster"]),
    ).select(codes[id_col], codes["sub"], "_qid", "_d")
    adc = joined.groupBy("_qid", id_col).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("sub", "_d"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_d"],
        ).alias("adc")
    )
    rn = F.row_number().over(
        Window.partitionBy("_qid").orderBy("adc", id_col)
    )
    return (
        adc.withColumn("rnk", rn)
        .filter(F.col("rnk") <= top_k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("rnk").cast("long").alias("rnk"),
            id_col,
            "adc",
        )
    )


def term_frequency(tokens_col: Column | str, word: str) -> Column:
    """Occurrences of ``word`` in a token array, as a long.  The lambda
    must stay unary: ``F.filter`` treats a 2-arg lambda as
    (element, index)."""
    return F.size(
        F.filter(tokens_col, lambda t: t == F.lit(word))
    ).cast("long")


def bm25_corpus_stats(
    base: DataFrame, n_terms: int, dl_col: str = "dl"
) -> DataFrame:
    """One-row corpus aggregate: N, Σdl, and per-term document
    frequencies over ``tf{j}`` columns.  Map-side combined; broadcast
    it back over the scan (`F.broadcast`)."""
    return base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(dl_col).cast("double").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{j}") > 0).cast("long"))
            .cast("double")
            .alias(f"df{j}")
            for j in range(n_terms)
        ],
    )


def bm25_score_expr(
    n_terms: int,
    k1: float = 1.2,
    b: float = 0.75,
    dl_col: str = "dl",
) -> Column:
    """BM25 score over ``tf{j}``/``df{j}``/``n_docs``/``sum_dl``
    columns, with the RATIONAL idf core ``(N - df + 0.5)/(df + 0.5)``
    — no ``log``: libm log is not correctly rounded, so the log form
    differs between engines in the last ulp and is not hash-portable
    (idf is monotone in the rational form, so ranking is unchanged).
    Per-term partials add in fixed term order."""
    score = F.lit(0.0)
    for j in range(n_terms):
        tf = F.col(f"tf{j}").cast("double")
        idf = (F.col("n_docs") - F.col(f"df{j}") + F.lit(0.5)) / (
            F.col(f"df{j}") + F.lit(0.5)
        )
        norm = tf + F.lit(k1) * (
            F.lit(1.0 - b)
            + (F.lit(b) * F.col(dl_col).cast("double"))
            / (F.col("sum_dl") / F.col("n_docs"))
        )
        score = score + idf * ((tf * F.lit(k1 + 1.0)) / norm)
    return score


def bm25_tf_base(
    docs: DataFrame,
    terms: Sequence[str],
    id_col: str = "doc_id",
    tokens_col: str = "_toks",
) -> DataFrame:
    """The narrow per-doc BM25 input projection: ``(id, dl, tf0..tfn)``
    — a handful of longs per document.  Exposed so callers that rank
    the SAME terms with a second scorer (q93's lexical leg) can share
    one persisted projection instead of re-tokenizing the corpus."""
    return docs.select(
        id_col,
        F.size(tokens_col).cast("long").alias("dl"),
        *[
            term_frequency(tokens_col, w).alias(f"tf{j}")
            for j, w in enumerate(terms)
        ],
    )


def bm25_rank(
    docs: DataFrame,
    terms: Sequence[str],
    id_col: str = "doc_id",
    tokens_col: str = "_toks",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    base: DataFrame | None = None,
) -> DataFrame:
    """Full BM25 ranking for one query: tf/dl projection → one-row
    stats broadcast → codegen score → top-k (TakeOrderedAndProject —
    never a global sort).

    The tf/dl projection feeds TWO consumers (the one-row corpus-stats
    aggregate and the scored scan), so it is persisted for the returned
    DAG's lifetime — unpersisted, the tokenize + per-term filter pass
    executes twice (round-9 batch-7; the projection is a few longs per
    doc).  Callers that already hold the projection (q93) pass it via
    ``base`` — persisted or not is then the caller's call."""
    if base is None:
        base = bm25_tf_base(docs, terms, id_col, tokens_col).persist()
    stats = bm25_corpus_stats(base, len(terms))
    scored = base.crossJoin(F.broadcast(stats)).select(
        id_col,
        "dl",
        *[f"tf{j}" for j in range(len(terms))],
        bm25_score_expr(len(terms), k1=k1, b=b).alias("score"),
    )
    # top-k FIRST (orderBy+limit = TakeOrderedAndProject: local top-k
    # per partition, driver merges top_k*P rows), THEN rank within the
    # bounded result — identical values to ranking the full corpus, but
    # the window sorts top_k rows instead of single-partitioning the
    # whole scored table
    top = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(top_k)
    rank = (
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc(id_col)))
        .cast("int")
    )
    return top.withColumn("rank", rank)


def posting_lists(
    term_rows: DataFrame,
    id_col: str = "doc_id",
    term_col: str = "token",
    min_df: int = 2,
    max_df: int = 8,
) -> DataFrame:
    """Posting lists for terms whose document frequency lies in
    [min_df, max_df], from distinct ``(id, term)`` rows.  Two-phase so
    the collect is bounded: df first (term-space aggregate), then a
    semi-join restricts the list aggregation to in-band terms — the
    ``max_df`` cap IS the scale bound; no collect_list ever sees an
    unbounded group."""
    freq = term_rows.groupBy(term_col).agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    rare = freq.filter(
        (F.col("df") >= min_df) & (F.col("df") <= max_df)
    )
    return (
        term_rows.join(rare, term_col)
        .groupBy(term_col)
        .agg(
            F.first("df").alias("df"),
            F.array_join(
                F.sort_array(F.collect_list(id_col)), ","
            ).alias("postings"),
        )
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top_k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009): combine N rankers'
    top lists by ``score = Σ 1/(k + rank_i)``, the standard hybrid-
    retrieval merge (BM25 + dense).  Missing entries contribute 0 and
    surface as rank -1 in the per-ranker columns (not NULL: a nullable
    int round-trips through Arrow/pandas as float64, which would poison
    the hash contract).

    Exactness: each reciprocal is one correctly-rounded double division
    and the terms add in fixed ranker order, so the fused score is
    bit-identical across engines.  Shape: the inputs are top-k lists
    (bounded), so the N-way full-outer join is trivially small no matter
    the corpus size behind the rankers.
    """
    fused = None
    for i, rdf in enumerate(rankings):
        side = rdf.select(
            F.col(id_col).alias("_id"),
            F.col(rank_col).cast("long").alias(f"r{i}"),
        )
        fused = side if fused is None else fused.join(side, "_id", "full_outer")
    score = None
    for i in range(len(rankings)):
        term = F.when(
            F.col(f"r{i}").isNotNull(),
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"r{i}").cast("double")),
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    w = Window.orderBy(F.desc("rrf"), F.asc(id_col))
    return (
        fused.withColumn("rrf", score)
        .select(
            F.col("_id").alias(id_col),
            *[
                F.coalesce(F.col(f"r{i}"), F.lit(-1)).cast("long").alias(f"r{i}")
                for i in range(len(rankings))
            ],
            "rrf",
        )
        .withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= top_k)
    )
