"""One-pass table profiling (the ANALYZE TABLE / data-quality scan).

The reference surveys candidate tables column-by-column before wiring a
validation (``metrics_insight_tool.py`` walks DESCRIBE output and probes
per-column stats); here the probe is ONE distributed aggregation over
the table producing, per profiled column: non-null count, exact distinct
count, and canonicalized min/max — the statistics a re-validation
pipeline uses to pick join keys (ndv == row count -> candidate pk) and
to sanity-check a pair before diffing.

Scale notes: non-null/min/max come from ONE no-distinct aggregation
pass; exact NDV for ALL profiled columns comes from ONE additional
melt scan — ``posexplode`` of the encoded columns →
``groupBy(_cid, _v)`` (map-side partial dedup, shuffle carries only
distinct (column, value) pairs) → ``groupBy(_cid).count()`` (tiny
second shuffle: one row per distinct value).  Two scans + two
shuffles per table, independent of column count.  This replaces two
rejected shapes, both measured on 600k rows × 4-6 columns: (a) the
single-agg multi-COUNT(DISTINCT) — Catalyst plans it as an Expand
that funnels every column's row stream through ONE aggregate pipeline
with no per-column parallelism (11-16 s); (b) one single-distinct job
per column — narrow shuffles but N+1 full scan jobs whose
scheduler+GC overhead made q107 the most volatile bench query
(median 5.5 s, runs 2-10 s).  The melt is the same shape as
``quantiles._dist_quantiles`` (its one-``posexplode`` melt) and inherits its
property: parallelism is (columns × value-hash) wide at every stage.
For wide exploratory profiling at 100 TB swap ``exact_ndv=False`` to
use HyperLogLog (``approx_count_distinct``) — one pass, no melt; the
approx variant is pinned within rtol in tests but is NOT the oracle
path (sketches are not engine-portable).

NDV encoding (``ndv_encoding``): the default ``"typed"`` melts each
value through a provably-injective PER-TYPE encoding — exact integer
images on a long field where the type has one (integrals, dates,
timestamps, small decimals), canonical strings otherwise — so the
reported NDV is exact unconditionally (the right default for an API
field documented as exact) at long-shuffle cost for the common
numeric/date columns.  ``"string"`` is the all-string injective
rendering (doubles via shortest round-trip, timestamps with
microseconds, decimals at fixed scale) — same exactness, simpler wire
format.  ``"hash"`` melts each value as
``xxhash64(value)`` — the shuffle carries (int, long) pairs instead
of rendered strings, which halved the melt wall-clock on the 600k-row
profile (decimal/date string rendering plus string shuffle bytes were
the cost, not the explode); ``COUNT(DISTINCT hash)`` equals the exact
NDV unless two distinct values collide in 64 bits (p ≈ n²/2^65 per
column — 1e-8 at 10M distincts, deterministic: a given dataset either
collides or it never does, so an oracle-green result stays green).
Callers that tolerate that contract opt in explicitly (q107's drift
probe does).  NULL guard matters for the hash path:
``xxhash64(NULL)`` is the seed hash, NOT NULL, so values are
null-checked BEFORE encoding.  Floating columns are normalized with
``+ 0.0`` first so -0.0 and 0.0 — equal under aggregate comparison —
encode identically under either encoding.

The min/max canonical rendering mirrors ``functions/canonical.py``'s
rules (scaled-long for doubles, second-precision timestamps) so the
profile is hash-comparable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: fixed-point scale for double min/max (4 decimal places, floor —
#: floor(x*10^4) is IEEE-exact and portable; decimal casts are NOT:
#: Spark rounds HALF_UP where DuckDB rounds half-even).
_DBL_SCALE = 10_000


def _canon(c: Column, dt: T.DataType) -> Column:
    if isinstance(dt, T.DoubleType) or isinstance(dt, T.FloatType):
        return F.floor(c * F.lit(_DBL_SCALE)).cast("string")
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    if isinstance(dt, T.DateType):
        return F.date_format(c, "yyyy-MM-dd")
    return c.cast("string")


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_ndv: bool = True,
    ndv_encoding: str = "typed",
) -> DataFrame:
    """Profile ``columns`` (default: every non-complex column) in one
    aggregation pass; returns one row per column:
    ``(column, n_rows, n_nonnull, ndv, min_str, max_str)``.

    ``ndv_encoding`` picks the melt-NDV value encoding:

    - ``'typed'`` (default): provably injective AND cheap — the melt
      SPLITS by representability: columns with an exact integer image
      (integrals as themselves, dates as epoch days, timestamps as
      epoch micros, decimals of precision ≤ 18 as their unscaled
      value) melt in one ``array<long>`` pass shuffling raw 8-byte
      longs; everything else (strings, doubles, non-UTC NTZ) melts in
      a second ``array<string>`` pass with the canonical rendering.
      Injective per column because the mapping per TYPE is injective
      and a column has one type.  Two column-pruned scans whose bytes
      sum to the one wide scan; the shuffle never carries a rendered
      numeric or a struct wrapper.
    - ``'string'``: the all-string injective rendering — same exact
      NDV, simpler wire format, kept for oracle replay parity.
    - ``'hash'``: shuffles 64-bit ``xxhash64`` longs — the cheapest
      wire format, but a 64-bit collision WITHIN a column would
      undercount by 1 (probability ~n²/2⁶⁵ per column; deterministic
      given the data).  Opt in where that contract is acceptable
      (q107's drift probe does); the default stays injective.
    """
    dtypes = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))
    if columns is None:
        columns = [
            c
            for c in df.columns
            if not isinstance(
                dtypes[c], (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
            )
        ]
    aggs: list[Column] = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in columns:
        # min/max in VALUE space, canonicalized after the aggregate —
        # rendering first would make the comparison lexicographic.
        aggs += [
            F.count(F.col(c)).cast("long").alias(f"_nn_{c}"),
            _canon(F.min(F.col(c)), dtypes[c]).alias(f"_min_{c}"),
            _canon(F.max(F.col(c)), dtypes[c]).alias(f"_max_{c}"),
        ]
        if not exact_ndv:
            aggs.append(
                F.approx_count_distinct(c).cast("long").alias(f"_ndv_{c}")
            )
    one = df.agg(*aggs)
    # fan the one-row aggregate out to a row per column (q67's stack
    # shape: the fan-out happens on one row, cost-free at any scale)
    if not exact_ndv:
        parts = ", ".join(
            f"'{c}', _nn_{c}, _ndv_{c}, _min_{c}, _max_{c}" for c in columns
        )
        return one.selectExpr(
            "n_rows",
            f"stack({len(columns)}, {parts}) as "
            "(column, n_nonnull, ndv, min_str, max_str)",
        ).select(
            "column", "n_rows", "n_nonnull", "ndv", "min_str", "max_str"
        )
    parts = ", ".join(
        f"'{c}', _nn_{c}, _min_{c}, _max_{c}" for c in columns
    )
    base = one.selectExpr(
        "n_rows",
        f"stack({len(columns)}, {parts}) as "
        "(column, n_nonnull, min_str, max_str)",
    )
    # exact NDV for ALL columns in one melt scan + two shuffles (see
    # module docstring): posexplode(injective encodings) ->
    # distinct (column, value) -> count per column.
    if ndv_encoding not in ("hash", "string", "typed"):
        raise ValueError(
            f"ndv_encoding must be typed|hash|string: {ndv_encoding!r}"
        )

    def _long_image(c: str) -> Column | None:
        """The column's exact integer image, or None when the type has
        no cheap injective long form (strings, floating)."""
        col, dt = F.col(c), dtypes[c]
        if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType,
                           T.ByteType, T.BooleanType)):
            return col.cast("long")
        if isinstance(dt, T.DateType):
            return F.datediff(col, F.lit("1970-01-01").cast("date")).cast("long")
        if isinstance(dt, T.TimestampType):
            # instant semantics: epoch micros is a bijection
            return F.unix_micros(col)
        if isinstance(dt, T.TimestampNTZType):
            # wall-clock semantics: epoch micros of the wall time read
            # in the session zone.  The session zone is pinned to UTC
            # (sparkdiff.session), where NTZ -> instant is a bijection
            # (no DST gaps); under a non-UTC session zone the cast
            # could collapse spring-forward gap times, so fall back to
            # the full-precision string rendering there.
            spark_tz = df.sparkSession.conf.get(
                "spark.sql.session.timeZone", ""
            )
            if spark_tz == "UTC":
                return F.unix_micros(col.cast("timestamp"))
            return None
        if isinstance(dt, T.DecimalType) and dt.precision <= 18:
            # unscaled value: exact (×10^s is exact decimal arithmetic,
            # ≤ 18 digits fits a long)
            return (col * F.lit(10 ** dt.scale)).cast("decimal(38,0)").cast("long")
        return None

    def _norm(c: str) -> Column:
        col = F.col(c)
        if isinstance(dtypes[c], (T.DoubleType, T.FloatType)):
            col = col + F.lit(0.0)  # -0.0 -> 0.0, matching agg equality
        return col

    def _enc(c: str) -> Column:
        if ndv_encoding == "hash":
            # null-check BEFORE hashing: xxhash64(NULL) = hash(seed),
            # which would count nulls as a distinct value.  Stays a
            # LONG — the whole point is a long shuffle, not strings.
            return F.when(_norm(c).isNotNull(), F.xxhash64(_norm(c)))
        return _norm(c).cast("string")

    def _melt_ndvs(cols: list[str], enc) -> Column:
        """(column, ndv) for a same-typed column subset: posexplode of
        the encoded array -> distinct (column, value) -> count."""
        melted = df.select(
            F.posexplode(F.array(*[enc(c) for c in cols])).alias(
                "_cid", "_v"
            )
        ).filter(F.col("_v").isNotNull())
        return (
            melted.groupBy("_cid", "_v")
            .agg(F.count(F.lit(1)).alias("_c"))
            .groupBy("_cid")
            .agg(F.count(F.lit(1)).cast("long").alias("ndv"))
            .select(
                F.element_at(
                    F.array(*[F.lit(c) for c in cols]), F.col("_cid") + 1
                ).alias("column"),
                "ndv",
            )
        )

    if ndv_encoding == "typed":
        # SPLIT melt: columns with an exact long image shuffle raw
        # longs; the rest shuffle canonical strings.  Two column-pruned
        # scans whose total bytes ≈ the one wide scan, but the shuffle
        # never carries a struct wrapper or a rendered numeric.
        long_cols = [c for c in columns if _long_image(c) is not None]
        str_cols = [c for c in columns if c not in set(long_cols)]
        parts_ndv = []
        if long_cols:
            parts_ndv.append(_melt_ndvs(long_cols, _long_image))
        if str_cols:
            parts_ndv.append(
                _melt_ndvs(str_cols, lambda c: _norm(c).cast("string"))
            )
        if not parts_ndv:
            # No profilable columns resolved (columns=[] or only complex
            # types): return the empty profile frame, matching what the
            # 'hash'/'string' paths produce from an empty melt.
            spark = df.sparkSession
            return spark.createDataFrame(
                [],
                "column string, n_rows long, n_nonnull long, ndv long, "
                "min_str string, max_str string",
            )
        ndvs = parts_ndv[0]
        for p in parts_ndv[1:]:
            ndvs = ndvs.unionByName(p)
    else:
        ndvs = _melt_ndvs(list(columns), _enc)
    return base.join(F.broadcast(ndvs), "column").select(
        "column", "n_rows", "n_nonnull", "ndv", "min_str", "max_str"
    )


def profile_pair(
    left: DataFrame,
    right: DataFrame,
    columns: list[str],
) -> DataFrame:
    """Both sides of a table pair profiled through ONE fused pass per
    stage (round 9; guide §2.4): one side-tagged union feeds one base
    aggregation (2 rows) and one hash-encoded melt-NDV chain, instead
    of two independent :func:`profile_table` pipelines joined at the
    end — half the jobs for the same values.  Returns one row per
    column: ``(column, nn_l, nn_r, ndv_l, ndv_r, min_l, max_l, min_r,
    max_r)``, value-identical to two ``profile_table(...,
    ndv_encoding='hash')`` calls joined on ``column`` (same per-side
    non-null counts, the same xxhash64 distinct-count contract, the
    same canonical min/max rendering).  Sides must share the profiled
    columns' names and types."""
    dtypes = dict(
        zip(left.schema.names, [f.dataType for f in left.schema.fields])
    )
    u = left.select(F.lit("l").alias("_side"), *columns).unionByName(
        right.select(F.lit("r").alias("_side"), *columns)
    )
    aggs: list[Column] = []
    for c in columns:
        aggs += [
            F.count(F.col(c)).cast("long").alias(f"_nn_{c}"),
            _canon(F.min(F.col(c)), dtypes[c]).alias(f"_min_{c}"),
            _canon(F.max(F.col(c)), dtypes[c]).alias(f"_max_{c}"),
        ]
    one = u.groupBy("_side").agg(*aggs)
    parts = ", ".join(f"'{c}', _nn_{c}, _min_{c}, _max_{c}" for c in columns)
    base = one.selectExpr(
        "_side",
        f"stack({len(columns)}, {parts}) as "
        "(column, n_nonnull, min_str, max_str)",
    )

    def _norm(c: str) -> Column:
        col = F.col(c)
        if isinstance(dtypes[c], (T.DoubleType, T.FloatType)):
            col = col + F.lit(0.0)
        return col

    melted = u.select(
        "_side",
        F.posexplode(
            F.array(
                *[
                    F.when(_norm(c).isNotNull(), F.xxhash64(_norm(c)))
                    for c in columns
                ]
            )
        ).alias("_cid", "_v"),
    ).filter(F.col("_v").isNotNull())
    ndvs = (
        melted.groupBy("_side", "_cid", "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("_side", "_cid")
        .agg(F.count(F.lit(1)).cast("long").alias("ndv"))
        .select(
            "_side",
            F.element_at(
                F.array(*[F.lit(c) for c in columns]), F.col("_cid") + 1
            ).alias("column"),
            "ndv",
        )
    )
    both = base.join(F.broadcast(ndvs), ["_side", "column"])

    def _side(col: str, s: str) -> Column:
        return F.max(F.when(F.col("_side") == s, F.col(col)))

    return both.groupBy("column").agg(
        _side("n_nonnull", "l").cast("long").alias("nn_l"),
        _side("n_nonnull", "r").cast("long").alias("nn_r"),
        _side("ndv", "l").cast("long").alias("ndv_l"),
        _side("ndv", "r").cast("long").alias("ndv_r"),
        _side("min_str", "l").alias("min_l"),
        _side("max_str", "l").alias("max_l"),
        _side("min_str", "r").alias("min_r"),
        _side("max_str", "r").alias("max_r"),
    )


def skew_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """Join/aggregation-key skew diagnosis: one row per candidate key
    column with the group-size distribution facts that decide a 100 TB
    plan — ``n_rows``, ``n_keys``, ``max_n`` (heaviest key), ``p99_n``,
    ``mean_milli`` (1000·n/keys), ``skew_milli`` (1000·max/mean) and
    ``salt`` = ceil(max/mean), the replication factor that levels the
    heaviest reducer to the average (AQE's skew-join split and manual
    salting both need exactly this number).  ``top_key`` names the
    culprit.

    Shapes: ONE corpus scan for every column — the candidate keys melt
    into ``(key_col, key)`` rows via ``stack`` and a single map-side-
    combined groupBy counts all columns' groups together (round-9: the
    per-column formulation re-ran the corpus groupBy for each of its
    three consumers, 3·|cols| scans).  The persisted key table then
    feeds all statistics; the p99 rank walks a window over the
    group-size DOMAIN per column (distinct sizes — bounded like q103's
    quantized-domain precedent, never row- or key-sized).  Every output
    is exact integer arithmetic, so the whole report value-hash
    oracles; ``top_key`` ties break to the largest key string via
    struct-max (deterministic, unlike max_by).  NULL keys count as a
    key — a skewed NULL is the classic silent straggler."""
    from pyspark.sql import Window

    stack_args: list = []
    for c in cols:
        stack_args.append(F.lit(c))
        stack_args.append(F.col(c).cast("string"))
    melt = df.select(
        F.stack(F.lit(len(cols)), *stack_args).alias("key_col", "_k")
    )
    # key-table-sized; feeds sizes AND totals (callers' registry entries
    # carry the PERSISTS_BY_DESIGN annotation)
    gs = (
        melt.groupBy("key_col", "_k")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .persist()
    )
    sizes = gs.groupBy("key_col", "_n").agg(
        F.count(F.lit(1)).cast("long").alias("_keys")
    )
    w = (
        Window.partitionBy("key_col")
        .orderBy("_n")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = sizes.select(
        "key_col", "_n", F.sum("_keys").over(w).alias("_cum")
    )
    totals = gs.groupBy("key_col").agg(
        F.sum("_n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("_n").cast("long").alias("max_n"),
        F.max(F.struct(F.col("_n"), F.col("_k"))).alias("_top"),
    )
    p99 = (
        ranked.join(F.broadcast(totals.select("key_col", "n_keys")), "key_col")
        .filter(F.col("_cum") * 100 >= F.lit(99) * F.col("n_keys"))
        .groupBy("key_col")
        .agg(F.min("_n").cast("long").alias("p99_n"))
    )
    return totals.join(F.broadcast(p99), "key_col").select(
        "key_col",
        "n_rows",
        "n_keys",
        "max_n",
        "p99_n",
        F.expr("CAST(1000 * n_rows DIV n_keys AS BIGINT)").alias("mean_milli"),
        F.expr("CAST(1000 * max_n * n_keys DIV n_rows AS BIGINT)").alias(
            "skew_milli"
        ),
        F.expr(
            "CAST((max_n * n_keys + n_rows - 1) DIV n_rows AS BIGINT)"
        ).alias("salt"),
        F.col("_top._k").alias("top_key"),
    )
