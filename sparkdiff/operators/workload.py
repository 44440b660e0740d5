"""Workload operators — the reference's Hive/Snowflake script patterns
(SURVEY.md §2.3–§2.7) as reusable DataFrame transforms.

The reference's ``resources/scripts/nw_customer/nw_customer_PRE_300.hql``
pipeline is the canonical shape: UNION ALL of branch subqueries, LIKE
filters over ``lower(coalesce(...))``, an expression-key join, a
CASE-derived ordering key, and ``row_number()`` dedup keeping the best row
per business key (W1/W2/U1/J2/J3 in SURVEY §2).

Every helper takes/returns DataFrames so compositions stay inside one
Catalyst plan; all orderings demand a *total* order (caller supplies
tiebreaks) so results are deterministic under any partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_latest(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column]
) -> DataFrame:
    """W1: ``row_number() OVER (PARTITION BY keys ORDER BY order) = 1``.

    The reference's top-1-per-group dedup
    (``nw_customer_PRE_300.hql:21,43``).  ``order`` must be a total order.
    At scale this is one shuffle on ``keys``; AQE handles skewed keys.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rwn", F.row_number().over(w))
        .filter(F.col("_rwn") == 1)
        .drop("_rwn")
    )


def keep_max(
    df: DataFrame, keys: Sequence[str], order_cols: Sequence[str]
) -> DataFrame:
    """A6/A8: keep the row with the lexicographically-greatest
    ``order_cols`` per key — ``max_by`` over a struct, i.e. the Hive
    ``collect_max_one`` UDAF (reference ``tools/script_converter_tool.py:48-62``)
    without a custom UDAF.  One-pass partial aggregation: cheaper than a
    window when only the winning row is needed (no full sort per group).
    """
    value = F.struct(*[F.col(c) for c in df.columns])
    ordering = F.struct(*[F.col(c) for c in order_cols])
    agg = df.groupBy(*keys).agg(F.max_by(value, ordering).alias("_best"))
    keep = [c for c in df.columns if c not in keys]
    return agg.select(*keys, *[F.col(f"_best.{c}").alias(c) for c in keep])


def top_k_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """T7: top-k per group via ``row_number`` ≤ k (the reference's
    top-3-per-platform stage, ``mcp_enhanced_search_agent.py:1090-1144``)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def case_ordering_key(branches: Sequence[tuple[Column, int]], default: int = 1) -> Column:
    """W2: the CASE-derived ``forOrdering`` priority key
    (``nw_customer_PRE_300.hql:34-38``)."""
    expr = None
    for cond, rank in branches:
        expr = F.when(cond, F.lit(rank)) if expr is None else expr.when(cond, F.lit(rank))
    return (expr.otherwise(F.lit(default)) if expr is not None else F.lit(default))


def detect_hot_keys(
    df: DataFrame,
    key: str,
    sample_fraction: float = 0.01,
    hot_ratio: float = 0.01,
    max_keys: int = 100,
    seed: int = 42,
) -> list:
    """Join keys that dominate ``df``, estimated from a seeded sample.

    A key is "hot" when its sampled share exceeds ``hot_ratio`` of the
    sampled rows.  The sample aggregate is one narrow job (key + count);
    the result is configuration-sized (≤ ``max_keys`` values) and feeds
    :func:`salted_join` as a literal list — the sketch-driven version of
    what AQE's skew-join does at runtime, available BEFORE the shuffle
    exists (AQE can only split post-shuffle partitions; pre-salting
    keeps any single reduce task from ever materializing the hot key).
    """
    s = df.select(key).sample(fraction=sample_fraction, seed=seed)
    total = s.count()
    if total == 0:
        return []
    rows = (
        s.groupBy(key)
        .count()
        .filter(F.col("count") >= max(1.0, hot_ratio * total))
        .orderBy(F.desc("count"), F.asc(key))
        .limit(max_keys)
        .collect()
    )
    return [r[0] for r in rows]


def _hot_predicate(keys: Sequence[str], hot_keys: list) -> Column:
    """Literal membership test for single- or multi-column keys: a plain
    ``isin`` for one column, an OR-of-AND chain for composites (bounded
    by ``detect_hot_keys``'s ``max_keys``, so always pushdown-friendly)."""
    if len(keys) == 1:
        return F.col(keys[0]).isin(hot_keys)
    preds = []
    for tup in hot_keys:
        preds.append(
            __import__("functools").reduce(
                lambda a, b: a & b,
                [F.col(k) == F.lit(v) for k, v in zip(keys, tup)],
            )
        )
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    salt: int = 16,
    hot_keys: list | None = None,
) -> DataFrame:
    """Equi-join where ``skewed``'s hot keys are spread over ``salt``
    sub-keys, with ``other``'s hot rows replicated to match — identical
    rows to ``skewed.join(other, on, how)`` (pinned by test), but no
    reduce task ever holds a hot key's full row set.

    Differential salting: only detected hot keys pay the replication
    cost — cold keys keep salt 0 and join exactly once.  The skewed
    side's salt is a deterministic per-row hash (reproducible under any
    partitioning); ``other`` explodes hot rows across all ``salt`` ids.

    ``on`` may be one column or a composite key (hot keys are tuples
    then).  ``how``: inner / left run directly on the salted join;
    right / full decompose into the salted inner/left part plus
    ``other``'s unmatched rows (an anti-join — replicated hot rows can
    never produce duplicate unmatched copies that way).
    """
    keys = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left", "right", "full"):
        raise ValueError(f"salted_join supports inner/left/right/full, got {how!r}")
    if hot_keys is None:
        if len(keys) > 1:
            raise ValueError("pass hot_keys explicitly for composite keys")
        hot_keys = detect_hot_keys(skewed, keys[0])
    if not hot_keys:
        return skewed.join(other, keys, how)

    is_hot = _hot_predicate(keys, hot_keys)
    l = skewed.withColumn(
        "_salt",
        F.when(
            is_hot,
            F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(salt)),
        ).otherwise(F.lit(0)).cast("int"),
    )
    r = other.withColumn(
        "_salt",
        F.explode(
            F.when(
                is_hot, F.sequence(F.lit(0), F.lit(salt - 1))
            ).otherwise(F.array(F.lit(0)))
        ),
    )
    base_how = "inner" if how in ("inner", "right") else "left"
    joined = l.join(r, keys + ["_salt"], base_how).drop("_salt")
    if how in ("inner", "left"):
        return joined

    # right/full: append other's unmatched rows (null-filled skewed side)
    unmatched = other.join(skewed.select(*keys).distinct(), keys, "left_anti")
    skew_only = [c for c in skewed.columns if c not in keys]
    other_only = [c for c in other.columns if c not in keys]
    filled = unmatched.select(
        *keys,
        *[F.lit(None).cast(skewed.schema[c].dataType).alias(c) for c in skew_only],
        *other_only,
    )
    return joined.unionByName(filled)


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """CDC MERGE / upsert-apply: fold a change batch (possibly holding
    several versions per key) into a snapshot.  Latest change per key
    wins (W1 dedup on ``seq_col`` desc), ``delete_op`` rows drop the
    key, anything else overrides/inserts; untouched base rows pass
    through with ``src = 'B'``.

    Output = base columns with change payload columns substituted where
    a change won, plus ``src`` (the winning op, or 'B').

    Scale: ONE full-outer join on the key.  A change batch is normally
    orders of magnitude smaller than the snapshot, so AQE broadcasts it
    and the snapshot side never shuffles; with a partitioned/bucketed
    base table the join additionally prunes to touched partitions.
    """
    latest = dedup_latest(changes, [key], [F.desc(seq_col)])
    payload = [
        c for c in base.columns if c != key and c in latest.columns
    ]
    merged = base.alias("b").join(latest.alias("c"), key, "full_outer")
    out = [F.col(key)]
    for c in payload:
        out.append(
            F.when(F.col(f"c.{op_col}").isNotNull(), F.col(f"c.{c}"))
            .otherwise(F.col(f"b.{c}"))
            .alias(c)
        )
    out.append(F.coalesce(F.col(f"c.{op_col}"), F.lit("B")).alias("src"))
    return merged.filter(
        F.col(f"c.{op_col}").isNull() | (F.col(f"c.{op_col}") != delete_op)
    ).select(*out)
