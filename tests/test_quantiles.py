"""Grouped-quantile methods: the distribution method must reproduce
``F.percentile`` bit-for-bit, the sketch must land within its rank-error
bound, and the registered q50 must not buffer whole groups."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkdiff.operators.quantiles import grouped_quantiles
from sparkdiff.queries import q50_quantiles
from sparkdiff.session import load_table

from .conftest import SF_DIR_ORACLE

SPECS = [
    ("p50_qty", "l_quantity", 0.5),
    ("p90_qty", "l_quantity", 0.9),
    ("p25_price", "l_extendedprice", 0.25),
]


def _rows(df):
    return sorted(df.collect(), key=lambda r: r[0])


def test_dist_equals_exact_bitwise(spark):
    l = load_table(spark, SF_DIR_ORACLE, "lineitem")
    dist = _rows(grouped_quantiles(l, ["l_returnflag"], SPECS, method="dist"))
    exact = _rows(grouped_quantiles(l, ["l_returnflag"], SPECS, method="exact"))
    assert dist == exact  # identical doubles, not just close


def test_dist_count_col_equals_raw_rows_bitwise(spark):
    """The round-9 pre-aggregated input mode (``count_col``): feeding
    the rail one row per (keys, value) with its row count must produce
    the SAME doubles as feeding it the raw rows — the mode exists so a
    caller (q109) can share one distinct-value table between the rail
    and other consumers."""
    l = load_table(spark, SF_DIR_ORACLE, "lineitem")
    raw = _rows(
        grouped_quantiles(
            l,
            ["l_returnflag"],
            [("p50", "l_quantity", 0.5), ("p90", "l_quantity", 0.9)],
        )
    )
    vc = l.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    pre = _rows(
        grouped_quantiles(
            vc,
            ["l_returnflag"],
            [("p50", "l_quantity", 0.5), ("p90", "l_quantity", 0.9)],
            count_col="c",
        )
    )
    spark.catalog.clearCache()
    assert raw == pre  # identical doubles AND identical n


def test_dist_handles_nulls_and_tiny_groups(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", 7.0)], "g string, v double"
    )
    specs = [("p50", "v", 0.5), ("p99", "v", 0.99)]
    dist = _rows(grouped_quantiles(df, ["g"], specs, method="dist"))
    exact = _rows(grouped_quantiles(df, ["g"], specs, method="exact"))
    # n differs by convention (exact counts all rows, dist counts the
    # non-null distribution) — compare the percentile values themselves
    assert [r[:3] for r in dist] == [r[:3] for r in exact]
    assert dist[0]["p50"] == 2.0  # interpolated between 1 and 3
    assert dist[1]["p50"] == 7.0  # single-value group


def test_approx_within_rank_error(spark):
    l = load_table(spark, SF_DIR_ORACLE, "lineitem")
    exact = {
        r["l_returnflag"]: r
        for r in grouped_quantiles(
            l, ["l_returnflag"], SPECS, method="exact"
        ).collect()
    }
    approx = grouped_quantiles(
        l, ["l_returnflag"], SPECS, method="approx", accuracy=10_000
    ).collect()
    for r in approx:
        e = exact[r["l_returnflag"]]
        assert abs(r["p50_qty"] - e["p50_qty"]) <= 1.0
        assert abs(r["p25_price"] - e["p25_price"]) / e["p25_price"] < 0.01


def test_q50_plan_has_no_buffering_percentile(spark):
    """The registered query must use the distribution method: no
    `percentile(` aggregate (whose buffer holds every group value) may
    appear in the physical plan."""
    df = q50_quantiles(spark, SF_DIR_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percentile" not in plan.lower()


def test_q50_single_scan(spark):
    """All value columns are melted through one posexplode, so the whole
    query reads lineitem exactly once.  Since round 9 the rail persists
    the distinct-value table (the range-boundary sampler would otherwise
    execute the scan→melt→groupBy chain a second time), so the one
    FileScan lives inside the cached InMemoryRelation and every
    consumer — the boundary sampler, the range shuffle, and the rail's
    fan-out — reads the cache: exactly one FileScan anywhere in the
    post-execution plan text, and at least one InMemoryTableScan
    consuming it."""
    spark.catalog.clearCache()
    df = q50_quantiles(spark, SF_DIR_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.lower().count("filescan parquet") == 1
    assert "InMemoryTableScan" in final
    spark.catalog.clearCache()


def test_scalable_row_number_matches_global_window(spark):
    """The range-partitioned rank rail must reproduce Window.orderBy's
    row_number exactly, for any input partitioning (boundary placement
    must not matter because the sort key is a total order)."""
    from pyspark.sql import Window

    from sparkdiff.operators.quantiles import scalable_row_number

    df = spark.range(0, 5003).select(
        (F.col("id") * 2654435761 % 997).alias("v"),
        F.col("id").alias("k"),
    )
    order = [F.desc("v"), F.asc("k")]
    want = {
        (r.v, r.k): r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order)).cast("long")
        ).collect()
    }
    got = {
        (r.v, r.k): r.rn
        for r in scalable_row_number(df, order, "rn").collect()
    }
    assert got == want
    got7 = {
        (r.v, r.k): r.rn
        for r in scalable_row_number(df.repartition(7), order, "rn").collect()
    }
    assert got7 == want
    # ranks are a permutation of 1..n
    assert sorted(got.values()) == list(range(1, 5004))


def test_scalable_row_number_empty_and_single(spark):
    from sparkdiff.operators.quantiles import scalable_row_number

    df = spark.range(0, 5).select(F.col("id").alias("v"))
    assert scalable_row_number(df.filter("v < 0"), [F.asc("v")]).count() == 0
    one = scalable_row_number(df.filter("v = 3"), [F.asc("v")]).collect()
    assert [(r.v, r.rn) for r in one] == [(3, 1)]


def test_dist_keeps_the_null_key_group(spark):
    """A NULL grouping key is a group like any other: the ranged rail
    joins its bucket offsets and totals back null-safely, so ``dist``
    returns the same NULL-key row as ``exact`` under both ``cum``
    strategies."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), (None, 5.0), (None, 7.0), (None, 9.0)],
        "g string, v double",
    )
    specs = [("p50", "v", 0.5)]

    def by_key(out):
        return {r["g"]: tuple(r) for r in out.collect()}

    exact = by_key(grouped_quantiles(df, ["g"], specs, method="exact"))
    assert exact == {None: (None, 7.0, 3), "a": ("a", 2.0, 2)}
    for cum in ("ranged", "window"):
        dist = grouped_quantiles(df, ["g"], specs, method="dist", cum=cum)
        assert by_key(dist) == exact, cum
    spark.catalog.clearCache()


def _rail_input(spark):
    # 3,001 rows over three keys and a NULL key, so groups span several
    # of the 8 range buckets; (v, k) is a total order within a group
    return spark.range(0, 3001).select(
        F.when(F.col("id") % 4 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 3).cast("string")))
        .alias("g"),
        (F.col("id") * 2654435761 % 997).alias("v"),
        F.col("id").alias("k"),
        (F.col("id") % 13).alias("w"),
    )


@pytest.mark.parametrize("shape", ["plain", "repartition7", "persisted"])
@pytest.mark.parametrize("weighted", [False, True])
@pytest.mark.parametrize("groups", [[], ["g"]])
def test_range_prefix_sum_matches_window(spark, groups, weighted, shape):
    """The one prefix-sum rail behind every exact rank, running total
    and quantile must equal a plain ``Window`` running sum and group
    total, whatever the input's partitioning — including an input the
    caller persisted, where two range exchanges would otherwise sample
    their bucket boundaries independently (the round-9 q143 bug)."""
    from pyspark.sql import Window

    from sparkdiff.operators.quantiles import _range_prefix_sum

    spark.catalog.clearCache()
    df = _rail_input(spark)
    weight = F.col("w") if weighted else None
    order = [F.col("v"), F.col("k")]
    ref_w = F.col("w") if weighted else F.lit(1)
    spec = Window.partitionBy(*groups)
    want = {
        (r.k, r.cum, r.tot)
        for r in df.select(
            "k",
            F.sum(ref_w)
            .over(
                spec.orderBy(*order).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("cum"),
            F.sum(ref_w).over(spec).alias("tot"),
        ).collect()
    }
    src = {
        "plain": df,
        "repartition7": df.repartition(7),
        "persisted": df.persist(),
    }[shape]
    got_df = _range_prefix_sum(src, order, weight, groups, "cum", "tot")
    assert got_df.columns == df.columns + ["cum", "tot"]
    got = {(r.k, r.cum, r.tot) for r in got_df.collect()}
    spark.catalog.clearCache()
    assert got == want


def test_range_prefix_sum_empty_input(spark):
    from sparkdiff.operators.quantiles import _range_prefix_sum

    empty = _rail_input(spark).filter("k < 0")
    for groups in ([], ["g"]):
        out = _range_prefix_sum(
            empty, ["v", "k"], F.col("w"), groups, "cum", "tot"
        )
        assert out.count() == 0
    spark.catalog.clearCache()


def test_range_partitioning_lives_in_one_helper():
    """``repartitionByRange`` and ``spark_partition_id`` are called only
    inside ``quantiles._range_prefix_sum``: a fifth hand-rolled copy of
    the rail (and of its bucket-assignment hazard) fails here."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "sparkdiff"
    sites = set()
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr
                    in ("repartitionByRange", "spark_partition_id")
                ):
                    rel = path.relative_to(pkg).as_posix()
                    sites.add((rel, fn.name, node.func.attr))
    assert sites == {
        ("operators/quantiles.py", "_range_prefix_sum", "repartitionByRange"),
        ("operators/quantiles.py", "_range_prefix_sum", "spark_partition_id"),
    }
