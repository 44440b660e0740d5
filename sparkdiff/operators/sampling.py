"""Deterministic sampling and dataset splitting for training pipelines.

``randomSplit``/``sample`` are partition-order-dependent: the same row
can land in different splits across runs, cluster sizes, or engines —
unacceptable for reproducible train/val/test assignment and for the
oracle gate.  These operators derive a uniform unit variate from a
**content hash** of the key instead:

    u(key) = (md5_60bit(concat(key, seed)) mod 10^6) / 10^6

Pure column expressions (md5 + string slice + conv — the same
oracle-representable 60-bit construction the MinHash family uses, see
``operators/dedup.token_hash``), so assignment is identical on any
partitioning, any cluster size, and any engine with md5 — the DuckDB
oracle replays it bit-for-bit (q54).  Keys hash independently, so a row
keeps its split under repartition, incremental append, or backfill —
the property training pipelines actually need from a splitter.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: modulus of the unit variate — 10^6 distinct levels is plenty for
#: split weights expressed in fractions of a percent.
_RESOLUTION = 1_000_000


def unit_hash(key: Column | str, seed: str = "") -> Column:
    """Deterministic uniform variate in [0, 1) from a key's content."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.conv(
        F.substring(F.md5(F.concat(c.cast("string"), F.lit(seed))), 1, 15),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(_RESOLUTION)).cast("double") / F.lit(float(_RESOLUTION))


def hash_sample(
    df: DataFrame, key: str, fraction: float, seed: str = ""
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key content — stable across
    runs/partitionings, and consistent for equal keys (all-or-nothing
    per key, which is what you want when the key identifies a
    document/user whose rows must not straddle the boundary)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    return df.filter(unit_hash(key, seed) < fraction)


def hash_split(
    df: DataFrame,
    key: str,
    weights: Mapping[str, float],
    seed: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by cumulative weight ranges over
    the unit hash — e.g. ``{"train": .8, "val": .1, "test": .1}``.

    Weights must sum to 1 (±1e-9).  Assignment is per-key deterministic
    and engine-portable; the last split absorbs the top of the range so
    coverage is total.
    """
    names = list(weights)
    if len(names) < 2:
        raise ValueError("need at least two splits")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    u = unit_hash(key, seed)
    expr = F.lit(names[-1])
    hi = 0.0
    # build WHEN chain over cumulative upper bounds for all but the last
    conds = []
    for name in names[:-1]:
        hi += weights[name]
        conds.append((name, hi))
    for name, bound in reversed(conds):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: Mapping[str, float],
    threshold: float = 0.7,
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    hash_method: str = "xxhash64",
    seed: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across the
    boundary: a plain :func:`hash_split` keyed on doc id puts two
    near-identical documents on opposite sides with probability
    ~2·p·(1−p) each — silent eval contamination.  Here the split key is
    the document's near-dup FAMILY (the minimum member id of its
    connected component in the MinHash-LSH pair graph; singletons are
    their own family), so every member of a duplicate family lands in
    the same split by construction.

    Returns the input plus ``family`` (long) and ``split_col``.

    Scale shape: pairs come from the banded LSH join
    (:func:`~sparkdiff.operators.dedup.near_dup_pairs` — batch×corpus
    band buckets, never n²); families from alternating
    large-star/small-star connected components
    (:func:`~sparkdiff.operators.cluster.connected_components`,
    O(log n) rounds, eager fixpoint — construction launches jobs); the
    split itself is one pure column expression over ``family``.  The
    family join is a long-keyed equi join AQE broadcasts when the paired
    set is small (near-dup families are a sliver of a deduped corpus).

    Extends the curation family of SURVEY.md §6 (no reference
    counterpart — the reference has no corpus pipeline); the standard
    remedy for eval leakage through duplicates (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better")."""
    from sparkdiff.operators.cluster import dedup_families

    if split_col in df.columns:
        raise ValueError(
            f"leakage_safe_split writes column {split_col!r} which already "
            "exists on the input frame; rename or drop it first"
        )
    labeled = dedup_families(
        df, id_col, text_col, threshold, k, num_perm, bands, hash_method
    )
    return hash_split(labeled, "family", weights, seed, split_col)


def weighted_domain_sample(
    df: DataFrame,
    key: str,
    domain_col: str,
    rates: Mapping[str, float],
    default_rate: float = 0.0,
    seed: str = "",
) -> DataFrame:
    """Domain mixing: keep each row with a per-domain probability —
    the "sample Wikipedia at 3 epochs, CommonCrawl at 0.3" knob of a
    pretraining data recipe.  Rates are applied through the same
    content-hash variate as ``hash_split``, so the kept set is
    deterministic, engine-portable, and stable under appends: changing
    one domain's rate only adds/removes rows of that domain."""
    for d, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {d!r} must be in [0,1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0,1], got {default_rate}")
    rate = F.lit(float(default_rate))
    for d, r in rates.items():
        rate = F.when(F.col(domain_col) == F.lit(d), F.lit(float(r))).otherwise(
            rate
        )
    return df.filter(unit_hash(key, seed) < rate)


def token_budget_sample(
    df: DataFrame,
    key: str,
    domain_col: str,
    n_tok_col: str,
    budget: int,
    seed: str = "",
    cum_col: str = "cum_tokens",
) -> DataFrame:
    """Per-domain token-budget sampling: rank each domain's docs by the
    content-hash variate (a fixed pseudo-random order) and keep the
    prefix whose cumulative token count stays within ``budget`` — how a
    mixture recipe ("at most N tokens of domain X") is filled
    deterministically.  Append-stable: new docs insert into the order
    without reshuffling which earlier docs were kept, except by pushing
    the boundary.  The window is partitioned by domain, so the sort is
    n_domains-way parallel and external-sortable (the q57/q61 posture —
    never a single-partition global window)."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from pyspark.sql import Window

    w = (
        Window.partitionBy(domain_col)
        .orderBy(unit_hash(key, seed), F.col(key))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        cum_col, F.sum(F.col(n_tok_col)).over(w).cast("long")
    ).filter(F.col(cum_col) <= budget)


def shuffle_shards(
    df: DataFrame,
    key: str,
    n_shards: int,
    seed: str = "",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training
    export: shard = hash(key) mod n, position = rank of the md5 digest
    within the shard.  Reading shards round-robin replays one fixed
    pseudo-random permutation of the corpus — same order on any cluster
    size, any engine.  The window is partitioned by shard, so the sort
    is n-way parallel and external-sortable (never a single-partition
    global window)."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    from pyspark.sql import Window

    from sparkdiff.operators._util import reserve_columns

    reserve_columns(df, ("_h",), "shuffle_shards")
    c = F.col(key)
    h = F.md5(F.concat(c.cast("string"), F.lit(seed)))
    hi = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    d = df.withColumn("_h", h).withColumn(
        shard_col, F.pmod(hi, F.lit(n_shards)).cast("long")
    )
    w = Window.partitionBy(shard_col).orderBy("_h", key)
    return d.withColumn(
        pos_col, F.row_number().over(w).cast("long")
    ).drop("_h")


def stratified_sample(
    df: DataFrame,
    strata: list[str],
    key: str,
    n_per_stratum: int,
    seed: str = "",
    rank_col: str = "pick_rank",
) -> DataFrame:
    """Exact-quota stratified sampling: the ``n_per_stratum`` rows with
    the smallest content-hash rank in each stratum — the "equal slices
    per (lang, source) cell" eval-set builder.

    ``sample``-style fractional sampling cannot promise per-stratum
    counts; ranking the deterministic md5 variate inside each stratum
    does, and keeps the picks stable under appends (a new row changes a
    stratum's sample only if it hash-ranks into the top n).  The window
    is partitioned by the strata, so the sort is per-stratum parallel —
    never a global sort; skew = the largest single stratum, which for
    curation strata (language x source) is bounded by design.
    """
    if n_per_stratum <= 0:
        raise ValueError(f"n_per_stratum must be positive, got {n_per_stratum}")
    from pyspark.sql import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(key).cast("string"), F.lit(seed))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    from sparkdiff.operators._util import reserve_columns

    reserve_columns(df, ("_h",), "stratified_sample")
    w = Window.partitionBy(*strata).orderBy(F.col("_h"), F.col(key))
    return (
        df.withColumn("_h", h)
        .withColumn(rank_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_col) <= n_per_stratum)
        .drop("_h")
    )


def systematic_weighted_sample(
    df: DataFrame,
    key: str,
    weight_col: str,
    k: int,
    seed: str = "",
    out_col: str = "n_copies",
) -> DataFrame:
    """Exact PPS sampling: draw exactly ``k`` units with probability
    proportional to ``weight_col`` (systematic resampling, the
    particle-filter standard) — the "sample documents proportional to
    token count" knob of a mixture recipe, where a 10k-token document
    is drawn 100x as often as a 100-token one and a document heavier
    than ``W/k`` is drawn MULTIPLE times.  ``out_col`` is the row's
    draw count (its epoch multiplier); ``sum(out_col) == k`` exactly,
    and zero-weight rows are never drawn.

    Determinism + engine portability: rows are laid on the cumulative-
    weight axis in the content-hash order ``(unit_hash(key), key)`` (a
    fixed pseudo-random permutation), and the k systematic positions
    ``p_i = floor((2i+1)*W / 2k)``, ``i = 0..k-1``, are hit-counted
    with PURE INTEGER arithmetic: a row spanning ``[cum-w, cum)``
    receives ``cnt(cum) - cnt(cum-w)`` draws where

        cnt(X) = clamp((2*k*X + W - 1) div (2*W), 0, k)

    counts the positions below X — so any engine reproduces the sample
    bit-for-bit (requires ``W*(2k+1) <= 2^63-1``, asserted at runtime per
    row against the rail's total so the builder stays lazy; negative
    weights and a non-positive total ``W`` — which would make the draw
    positions undefined — raise the same way).

    Scale shape: the cumulative weights and ``W`` come from the
    ``quantiles._range_prefix_sum`` rail, ordered by the variate.  No
    single-partition window, no collect, no corpus-sized driver state.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from sparkdiff.operators._util import reserve_columns
    from sparkdiff.operators.quantiles import _range_prefix_sum

    reserve_columns(
        df, ("_u", "_cum", "_W", "_c0"), "systematic_weighted_sample"
    )
    wv = F.col(weight_col).cast("long")
    laid = _range_prefix_sum(
        df.withColumn("_u", unit_hash(key, seed)),
        [F.col("_u"), F.col(key)],
        wv,
        cum_col="_cum",
        total_col="_W",
    )
    # W <= 0 (all-zero weights) would hit `div (2*_W)` = div-by-zero ->
    # NULL -> a silently EMPTY sample violating sum(out_col) == k; raise
    # like negative weights do.  Headroom: the count expression's max
    # intermediate is 2*k*W + W - 1 (X <= W), so require
    # W*(2k+1) <= 2^63-1.  Checked per row: the filter below evaluates
    # every row, so any negative weight raises.
    guard_bad = (
        (wv < 0)
        | (F.col("_W") <= 0)
        | (F.col("_W") > F.lit(((1 << 63) - 1) // (2 * k + 1)))
    )
    joined = laid.withColumn(
        "_W",
        F.when(
            guard_bad,
            F.raise_error(
                F.lit(
                    "systematic_weighted_sample: weights must be >= 0 "
                    "with positive total, and 2*k*total_weight must fit "
                    "in a signed long"
                )
            ).cast("long"),
        ).otherwise(F.col("_W")),
    ).withColumn("_c0", (F.col("_cum") - wv).cast("long"))
    # integer `div` keeps the count exact where a double division would
    # lose ulps past 2^53; operands are non-negative so div == floor
    cnt = (
        "least(cast({k} as bigint), greatest(cast(0 as bigint), "
        "(2 * cast({k} as bigint) * {x} + _W - 1) div (2 * _W)))"
    )
    return (
        joined.withColumn(
            out_col,
            (
                F.expr(cnt.format(k=k, x="_cum"))
                - F.expr(cnt.format(k=k, x="_c0"))
            ).cast("long"),
        )
        .filter(F.col(out_col) >= 1)
        .drop("_u", "_W", "_cum", "_c0")
    )


def priority_sample(
    df: DataFrame,
    key: str,
    weight_col: str,
    k: int,
    seed: str = "",
    priority_col: str = "priority",
    est_col: str = "est_weight",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement: keep exactly ``min(k, n)``
    rows by **priority sampling** (Duffield–Lund–Thorup, JACM 2007) —
    the one-pass complement to ``systematic_weighted_sample`` (which is
    WITH replacement: heavy rows draw multiple copies; here each row
    appears at most once, the "pick k distinct documents, weight-
    biased" knob).  Each row gets priority ``q = w / u`` for a uniform
    ``u`` in (0, 1]; the top-k priorities are the sample, and with
    ``tau`` = the (k+1)-th priority, ``est_col = max(w, tau)`` is the
    Horvitz–Thompson-style weight estimate: ``sum(est_col)`` over the
    sample is an unbiased estimator of ``sum(w)`` over the population —
    subset-sum estimation from the sample alone, the paper's point.

    Determinism + engine portability: ``u = (m+1)/10^6`` from the
    content-hash variate (``m`` = md5-60-bit mod 10^6, so u is in
    (0, 1] and never zero), and the priority is computed as
    ``double(w * 10^6) / double(m + 1)`` — both operands exact
    integers (exact in double for ``w < 2^33``), one correctly-rounded
    IEEE division, so ANY engine orders the candidates identically;
    ties break on the key.

    Scale shape: the top-(k+1) selection is ``orderBy().limit()`` =
    TakeOrderedAndProject (per-partition top-(k+1), driver merges
    (k+1)·P rows) — no global sort, no rank window.  The tau/estimate
    pass then runs on the k+1 SELECTED rows only, where a bounded
    single-partition window is free.  Zero-weight rows are never
    sampled (q = 0 sorts last; filtered up front).

    PRECONDITION — integral weights: the engine-exact priority needs
    ``w`` as an exact integer (``w * 10^6`` must be an exactly-
    represented double), so ``weight_col`` must hold integral values.
    A fractional weight is NOT silently floored: the plan embeds a
    per-row guard that raises at execution time (``w != floor(w)`` →
    error), because truncation would silently skew inclusion odds.
    NULL weights are excluded like non-positive ones.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from sparkdiff.operators._util import reserve_columns

    reserve_columns(df, ("_rn", "_tau"), "priority_sample")
    from pyspark.sql import Window

    wd = F.col(weight_col).cast("double")
    # integral-weight guard, evaluated in the same projection (no extra
    # pass): fractional weights raise instead of silently truncating.
    integral = wd.isNull() | (wd == F.floor(wd).cast("double"))
    w = F.when(
        integral, F.col(weight_col).cast("long")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "priority_sample requires integral weights "
                    f"(got fractional {weight_col}="
                ),
                F.col(weight_col).cast("string"),
                F.lit(")"),
            )
        )
    )
    m = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(key).cast("string"), F.lit(seed))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(_RESOLUTION),
    )
    q = (w * F.lit(_RESOLUTION)).cast("double") / (m + 1).cast("double")
    top = (
        df.filter(w > 0)
        .withColumn(priority_col, q)
        .orderBy(F.desc(priority_col), F.asc(key))
        .limit(k + 1)
    )
    # k+1 rows at most: the empty-partitionBy windows below are bounded
    # by construction (the repo's bounded-window convention)
    order = Window.orderBy(F.desc(priority_col), F.asc(key))
    whole = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        top.withColumn("_rn", F.row_number().over(order))
        .withColumn(
            "_tau",
            F.when(
                F.count(F.lit(1)).over(whole) == k + 1,
                F.min(priority_col).over(whole),
            ).otherwise(F.lit(0.0)),
        )
        .filter(F.col("_rn") <= k)
        .withColumn(est_col, F.greatest(w.cast("double"), F.col("_tau")))
        .drop("_rn", "_tau")
    )


def min_hash_row_sample(
    df: DataFrame,
    id_cols: list[str] | tuple,
    k: int,
    salt: str = "rowsample",
) -> DataFrame:
    """Deterministic uniform row sample WITHOUT replacement: the k rows
    whose md5-60-bit identity hash is smallest — the ROW-level twin of
    the KMV value sketch (operators/sketch.kmv_sketch), sharing its two
    load-bearing properties: (a) layout-independent (the hash orders
    rows, not partitions), and (b) MERGEABLE — the k smallest of a
    union are among each part's k smallest, so every shard/day samples
    independently and samples re-sample to one.  Selection is
    ``orderBy(hash, tiebreak).limit(k)`` = TakeOrderedAndProject
    (per-partition top-k, driver merges k·P rows — never a global
    sort); duplicate identities tie-break on the id columns so the
    sampled MULTISET is deterministic even under non-unique keys.
    Returns the input schema unchanged.  q169 embeds the same
    construction inline (with a value tiebreak matched to its oracle);
    `priority_sample` is the weighted generalization (uniform weights
    reduce to this ordering)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    ids = [F.col(c) for c in id_cols]
    hv = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", *ids, F.lit(salt))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    from sparkdiff.operators._util import reserve_columns

    reserve_columns(df, ("_rs_hv",), "min_hash_row_sample")
    return (
        df.withColumn("_rs_hv", hv)
        .orderBy("_rs_hv", *id_cols)
        .limit(k)
        .drop("_rs_hv")
    )
