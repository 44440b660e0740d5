"""Grouped percentiles with a scale-safe default.

``F.percentile`` (exact, interpolated) buffers EVERY value of a group in
its aggregation buffer — at 100 TB a single hot group OOMs an executor.
This module provides the same interpolated-percentile semantics without
unbounded buffering:

``method='dist'`` (default) — exact percentiles from the value
    *distribution*: ``groupBy(keys, value).count()`` (map-side combined;
    the shuffle carries one row per DISTINCT (key, value) pair, not one
    per row), cumulative counts via range-partitioned prefix sums (no
    single-task sort even when one group holds every distinct value of
    a continuous column), then the standard linear interpolation
    ``v_lo + frac * (v_hi - v_lo)`` at position ``p * (n - 1)`` computed
    from two conditional-min aggregates per percentile.  Bit-compatible
    with ``F.percentile`` / DuckDB ``quantile_cont`` whenever the
    interpolation arithmetic is exact, and reproduced verbatim by the
    q50 oracle so the driver hash-check stays green.

``method='approx'`` — ``F.approx_percentile`` (GK sketch, bounded
    memory, rank error ≤ n/accuracy).  The right choice when an
    approximate answer is acceptable: one pass, no window.

``method='exact'`` — the original ``F.percentile`` buffering path, for
    small data where a single sort buffer per group is cheapest.

Reference parity: the reference's metrics summaries only MIN/MAX/AVG
(tools/data_diff_tool.py); grouped quantiles are part of the
training-data-pipeline extension surface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparkdiff.operators._util import reserve_columns

#: (output column name, value column, percentile) specs.
QuantileSpec = tuple[str, str, float]


def grouped_quantiles(
    df: DataFrame,
    keys: Sequence[str],
    specs: Sequence[QuantileSpec],
    method: str = "dist",
    accuracy: int = 10_000,
    cum: str = "ranged",
    count_col: str | None = None,
) -> DataFrame:
    """Per-key percentiles: one output row per key group with a column
    per spec plus ``n`` (group row count).

    ``cum`` picks the cumulative-count strategy for ``method='dist'``:
    ``"ranged"`` (default — range-partitioned prefix sums; survives a
    continuous column whose one group holds every distinct value) or
    ``"window"`` (one per-group window; fewer stages, the right call
    ONLY when the value domain is provably bounded — quantized/
    categorical — so a group's distinct values fit one task at any
    corpus size).  Both produce bit-identical results.

    ``count_col`` (``method='dist'`` only, round 9): the input is
    ALREADY value-aggregated — one row per (keys, value) carrying its
    row count — so the rail sums that column instead of counting rows.
    Lets a caller that needs the distinct-value table for other work
    (q109 shares it with its binning pass) build it once.
    """
    keys = list(keys)
    if count_col is not None and method != "dist":
        raise ValueError("count_col requires method='dist'")
    if method == "exact":
        aggs = [
            F.percentile(vcol, F.lit(p)).alias(out) for out, vcol, p in specs
        ]
        return df.groupBy(*keys).agg(*aggs, F.count(F.lit(1)).alias("n"))
    if method == "approx":
        aggs = [
            F.approx_percentile(vcol, F.lit(p), F.lit(accuracy)).alias(out)
            for out, vcol, p in specs
        ]
        return df.groupBy(*keys).agg(*aggs, F.count(F.lit(1)).alias("n"))
    if method != "dist":
        raise ValueError(f"unknown method {method!r}; use dist|approx|exact")
    if cum not in ("ranged", "window"):
        raise ValueError(f"unknown cum {cum!r}; use ranged|window")
    return _dist_quantiles(df, keys, list(specs), cum, count_col)


def _dist_quantiles(
    df: DataFrame, keys: list[str], specs: list[QuantileSpec],
    cum: str = "ranged", count_col: str | None = None,
) -> DataFrame:
    """Distribution-based exact interpolated percentiles.

    All value columns are melted into (column-id, value) rows by ONE
    ``posexplode``, so the source is scanned once regardless of how many
    columns are quantiled.  With ``cum="ranged"`` (default) the
    cumulative count and ``n`` come from the :func:`_range_prefix_sum`
    rail, NOT a per-group window: a continuous column has ~n distinct
    values in one (key, column) group (q109: 600k rows), and a
    group-partitioned window would push the whole distribution through
    one task.  ``cum="window"`` keeps the single-window shape (fewer
    stages, cheaper per call) for callers whose value domain is
    PROVABLY bounded
    (quantized/categorical), where a group's distinct values fit one
    task at any corpus size.  NULLs are excluded per column (matching
    ``F.percentile``); ``n`` is the non-null count of the first spec's
    value column.
    """
    vcols = list(dict.fromkeys(vcol for _, vcol, _ in specs))
    melted = df.select(
        *keys,
        *([count_col] if count_col else []),
        F.posexplode(
            F.array(*[F.col(c).cast("double") for c in vcols])
        ).alias("_cid", "_v"),
    ).filter(F.col("_v").isNotNull())
    # pre-aggregated input: sum the carried counts; otherwise count rows
    _c_agg = (
        F.sum(count_col).cast("long") if count_col else F.count(F.lit(1))
    )
    counts = melted.groupBy(*keys, "_cid", "_v").agg(_c_agg.alias("_c"))
    gb = [*keys, "_cid"]
    if cum == "window":
        w_cum = Window.partitionBy(*gb).orderBy("_v")
        w_all = Window.partitionBy(*gb)
        dist = counts.select(
            *keys,
            "_cid",
            "_v",
            F.sum("_c").over(w_cum).alias("_cum"),
            F.sum("_c").over(w_all).alias("_n"),
        )
    else:
        dist = _range_prefix_sum(
            counts, ["_v"], F.col("_c"), gb, cum_col="_cum", total_col="_n"
        ).select(*keys, "_cid", "_v", "_cum", "_n")
    return _interpolate(dist, keys, specs, vcols)


def _interpolate(
    dist: DataFrame, keys: list[str], specs: list[QuantileSpec],
    vcols: list[str],
) -> DataFrame:
    # Interpolated percentile at 0-based position p*(n-1): v_lo is the
    # value at rank floor(pos)+1 (1-based), v_hi at ceil(pos)+1.  All
    # terms are per-row expressions over (_cid, _cum, _n), so each
    # percentile is one conditional-min struct in a single groupBy.
    aggs = []
    for out, vcol, p in specs:
        on_col = F.col("_cid") == vcols.index(vcol)
        pos = F.lit(float(p)) * (F.col("_n") - 1).cast("double")
        lo = F.floor(pos)
        hi = F.ceil(pos)
        v_lo = F.min(F.when(on_col & (F.col("_cum") >= lo + 1), F.col("_v")))
        v_hi = F.min(F.when(on_col & (F.col("_cum") >= hi + 1), F.col("_v")))
        # the two interpolation coefficients exactly as Spark's
        # Percentile computes them: (pos - floor(pos)) and (ceil(pos) -
        # pos), both constant per (key, column) — min = the value
        frac = F.min(F.when(on_col, pos - lo.cast("double")))
        cofrac = F.min(F.when(on_col, hi.cast("double") - pos))
        aggs.append(
            F.struct(
                v_lo.alias("lo"),
                v_hi.alias("hi"),
                frac.alias("frac"),
                cofrac.alias("cofrac"),
            ).alias(f"_{out}")
        )
    n_agg = F.max(F.when(F.col("_cid") == 0, F.col("_n"))).alias("n")
    grouped = dist.groupBy(*keys).agg(*aggs, n_agg)
    # Spark's Percentile formula: (ceil(pos)-pos)*v_lo +
    # (pos-floor(pos))*v_hi, with the frac==0 case returning v_lo
    # directly (the blend would give 0).  Mirrored verbatim in the q50
    # oracle so both engines run the identical IEEE expression tree.
    outs = []
    for out, _, _ in specs:
        lo, hi, frac, cofrac = (
            F.col(f"_{out}.{f}") for f in ("lo", "hi", "frac", "cofrac")
        )
        outs.append(
            F.when(frac == 0, lo).otherwise(cofrac * lo + frac * hi).alias(out)
        )
    return grouped.select(*keys, *outs, "n")


def _range_prefix_sum(
    df: DataFrame,
    order_cols: Sequence,
    weight: Column | None = None,
    groups: Sequence[str] = (),
    cum_col: str = "_cum",
    total_col: str | None = None,
) -> DataFrame:
    """The range-partitioned prefix-sum rail: ``df`` plus ``cum_col``,
    the inclusive running sum of ``weight`` (1 per row when ``None``)
    in ``(groups, order_cols)`` order, restarted per group, plus
    ``total_col``, the group's total weight, when asked.  Group keys
    match null-safely, so a NULL key is a group like any other.
    ``order_cols`` must make the order total within a group (include a
    unique tiebreak): the result then does not depend on where the
    range sampler puts bucket boundaries.

    Every exact global rank, running total and quantile in the package
    (``scalable_row_number``, ``_dist_quantiles``' ranged mode,
    ``weighted_quantile_cuts``, ``sampling.systematic_weighted_sample``)
    rides this one function, which never plans a window over all rows
    (``Window.orderBy`` with no partition is an ``Exchange
    SinglePartition``: every row through one reducer):

    1. ``repartitionByRange`` on ``(groups, order_cols)``: a parallel
       external sort whose buckets are contiguous, ordered ranges;
    2. a LOCAL running sum per (group, bucket), tagged by
       ``_pid = spark_partition_id()``;
    3. per (group, bucket) the weight of the group's lower buckets (its
       offset) and the group total: one window over the bucket-sum
       table, which holds at most #groups x #buckets rows and is
       partitioned by group; ungrouped it is #buckets rows, broadcast;
    4. offsets and totals joined back on (group, ``_pid``).

    Two persists, both load-bearing.  The input: the range boundary
    sampler executes its child once more than the shuffle does.  The
    ``_pid`` table: the local sums and the bucket sums must see ONE
    bucket assignment, and two range exchanges over the same input
    sample their boundaries independently unless the optimizer happens
    to dedupe them.  It stops doing so once the input is cached: in
    round 9 that gave wrong deciles at sf0.1 and q143 offsets keyed to
    the wrong assignment.  Neither persist has an unpersist handle: the
    session owner's ``spark.catalog.clearCache()`` releases them, so
    callers show up in the persist-lifecycle audit
    (``PERSISTS_BY_DESIGN``)."""
    order_cols, groups = list(order_cols), list(groups)
    if weight is None:
        weight = F.lit(1)
    reserve_columns(
        df,
        ("_pid", "_lcum", "_bs", "_gpid", "_off", "_tot",
         *(f"_g{i}" for i in range(len(groups)))),
        "_range_prefix_sum",
    )
    # a caller that passes one frame to several rails (q143's two
    # layouts) persists it once
    src = df if df.is_cached else df.persist()
    part = (
        src.repartitionByRange(*groups, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    running = (
        Window.partitionBy(*groups, "_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.withColumn("_lcum", F.sum(weight).over(running))
    bsums = part.groupBy(*groups, "_pid").agg(F.sum(weight).alias("_bs"))
    per_group = Window.partitionBy(*groups).orderBy("_pid")
    offs = bsums.select(
        *(F.col(g).alias(f"_g{i}") for i, g in enumerate(groups)),
        F.col("_pid").alias("_gpid"),
        F.coalesce(
            F.sum("_bs").over(
                per_group.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
        F.sum("_bs")
        .over(
            per_group.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("_tot"),
    )
    on = [F.col("_pid") == F.col("_gpid")] + [
        F.col(g).eqNullSafe(F.col(f"_g{i}")) for i, g in enumerate(groups)
    ]
    totals = (
        [F.col("_tot").cast("long").alias(total_col)] if total_col else []
    )
    return local.join(offs if groups else F.broadcast(offs), on).select(
        *df.columns,
        (F.col("_off") + F.col("_lcum")).cast("long").alias(cum_col),
        *totals,
    )


def scalable_row_number(
    df: DataFrame,
    order_cols: Sequence,
    out_col: str = "rn",
    total_col: str | None = None,
) -> DataFrame:
    """Exact global ``row_number`` over a TOTAL order (include a unique
    tiebreak) without funneling the table through one task: the
    running row count on the :func:`_range_prefix_sum` rail.
    ``total_col`` adds the row count of the whole table to every row,
    the denominator ntile-style bucketing needs.

    The rail persists its input and its bucket assignment, which the
    session owner's ``clearCache`` releases.  A long-lived driver that
    calls this repeatedly in one session (``layout.skipping_report``
    looping over layouts, ``blocking``'s two calls) accumulates one
    bounded cache entry per call until the owner clears."""
    return _range_prefix_sum(
        df, order_cols, cum_col=out_col, total_col=total_col
    )


def weighted_quantile_cuts(
    df: DataFrame,
    value_col,
    weight_col,
    n_bins: int = 10,
) -> DataFrame:
    """Exact WEIGHTED quantile cut points: ``(bin, target_weight,
    cut)`` for bin = 1..n_bins-1, where ``cut`` is the smallest value
    whose cumulative weight reaches ``ceil(bin·W/n_bins)`` — the
    importance-weighted twin of the q109 equi-depth cuts (token-count-
    weighted corpus statistics, quantity-weighted price deciles).

    Scale shape: weights collapse to one row per DISTINCT value first
    (map-side combine); the cumulative weight and the total ``W`` come
    from the :func:`_range_prefix_sum` rail — no window over a
    continuous domain.  Cut selection joins the (n_bins-1)-row bin
    table, broadcast, with a >= predicate and takes MIN(value) per bin;
    integer weights keep every comparison exact."""
    vw = df.groupBy(F.col(value_col).alias("_v")).agg(
        F.sum(weight_col).cast("long").alias("_w")
    )
    pre = _range_prefix_sum(
        vw, ["_v"], F.col("_w"), cum_col="_cum", total_col="_wsum"
    )
    bins = df.sparkSession.range(1, n_bins).select(
        F.col("id").cast("long").alias("bin")
    )
    return (
        pre.crossJoin(F.broadcast(bins))
        .withColumn(
            "target_weight",
            F.expr(f"(bin * _wsum + {n_bins - 1}) DIV {n_bins}").cast("long"),
        )
        .filter(F.col("_cum") >= F.col("target_weight"))
        .groupBy("bin", "target_weight")
        .agg(F.min("_v").alias("cut"))
    )
