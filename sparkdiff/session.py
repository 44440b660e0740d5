"""SparkSession factory and testdata loading.

Scale posture: the session defaults are tuned for local[N] testing but the
knobs that matter on a 1000-executor cluster (AQE, skew-join handling,
shuffle-partition sizing, Arrow transfers) are on by default so plans built
here carry over unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Tables the driver materializes under /root/testdata/sf*/ (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: The directory that holds the ``sparkdiff`` package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "sparkdiff",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    ``spark.sql.session.timeZone`` is pinned to UTC so timestamp semantics
    match an ANSI-SQL oracle (DuckDB) bit-for-bit.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type, so
        # read as long and rebuild a microsecond timestamp in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARKDIFF_DRIVER_MEM", "16g"))
        # NOTE on long-lived many-query sessions: broadcast/shuffle
        # blocks are freed by ContextCleaner only after a DRIVER GC;
        # with a 16g heap that can take hours, and late queries inherit
        # dozens of queries' worth of accumulated state (measured:
        # 1.5-2x slowdown ~100 queries into a bench session).  The
        # async knob (spark.cleaner.periodicGC.interval) is left at its
        # 30min default ON PURPOSE — a 2min timer fixed the drift but
        # landed stop-the-world pauses inside timed runs (q126: 1.0s ->
        # [12.3, 7.3, 1.0]).  Drive GC deterministically BETWEEN units
        # of work instead, as bench.py does every 20 queries.
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame-debugging wrapper walks the Python stack
        # and makes extra Py4J calls on every F.* / Column call to
        # record its call site for error contexts (F.col: 13 calls with
        # it, 3 without); nothing here reads that context, and plan
        # construction pays for it per call (SCALE.md hazard #8).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers import ``sparkdiff`` (pickled UDFs, broadcasts)
        # whatever the driver's working directory is.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Runtime-settable confs every query depends on; applied defensively in
#: ``load_table`` because the driver may hand us a session built without
#: :func:`get_spark` (no UTC pin -> timestamp canonicals drift; no
#: nanosAsLong -> the events scan throws PARQUET_TYPE_ILLEGAL).
REQUIRED_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in REQUIRED_RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a plain UTC TIMESTAMP regardless of the
    physical parquet encoding the driver used.

    The driver has shipped events.ts under two encodings across rounds:
    TIMESTAMP(NANOS) (read as long under nanosAsLong) and
    TIMESTAMP(MICROS) (read as a timestamp type directly). Branch on the
    *actual* read schema instead of assuming one encoding.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # nanos epoch -> microsecond ts. Integer division: `/` is double
        # division and a ~1.7e18 nanos value sits above 2^53, so the
        # double round-trip can truncate a microsecond and move events
        # across bucket boundaries.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        # Session timezone is pinned to UTC, so NTZ -> instant is a no-op
        # reinterpretation; the cast keeps every downstream timestamp
        # idiom (unix_timestamp, window, oracle canonical) on the one
        # TIMESTAMP type.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    # plain TimestampType passes through unchanged (already micros).
    return df


#: Parquet schema-inference runs one footer-read job per spark.read call,
#: which made CONSTRUCTING every registry query launch a (tiny) cluster
#: job.  Memoizing the inferred schema per (session, path) keeps the
#: registry's lazy-construction contract: after the first touch of each
#: table, building any number of query DAGs launches zero jobs (pinned in
#: tests/test_registry.py::test_registry_construction_is_lazy).  The
#: DataFrame itself is rebuilt per call — memoizing the plan object would
#: alias mutable state across callers.
_SCHEMA_CACHE: dict[tuple[int, str], object] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (column pruning + predicate
    pushdown come free from the parquet scan)."""
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (id(spark), path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    return df


def is_single_split(
    sf_dir: str, name: str, max_bytes: int = 128 * 1024 * 1024
) -> bool:
    """True when the table's parquet footprint is ONE file no larger than
    one scan split (``spark.sql.files.maxPartitionBytes`` default 128m),
    i.e. the scan is a single task at any parallelism.  For this input
    class a post-scan Exchange can never add parallelism — a query may
    declare ``coalesce(1)`` ahead of an aggregation so its distribution
    requirement is satisfied without the exchange, fusing the whole query
    into one stage and dropping a stage boundary whose scheduling cost
    dominates at KB/MB scale.  Multi-split inputs return False and keep
    the normal two-phase shuffle plan, so the optimization is inert at
    100 TB (driver-side metadata check only, no job launched)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path) <= max_bytes
    if os.path.isdir(path):
        parts = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
        return len(parts) == 1 and os.path.getsize(parts[0]) <= max_bytes
    return False


def widen(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """The one parallelism rule for heavy per-row work (tokenize, shingle,
    explode, per-pair distance) over table ``name``: a single-split scan
    (:func:`is_single_split`) runs as ONE task at any core count, so it
    is repartitioned round-robin to the session's defaultParallelism; a
    multi-split table already has scan parallelism and ``df`` comes back
    unchanged — the extra full-input shuffle would be pure cost there.
    Call it on the frame handed to the heavy stage.  A caller that wants
    another width (SCALE.md's position-table sizing rule) repartitions
    the frame itself.  File metadata only; no job is launched."""
    if is_single_split(sf_dir, name):
        return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df
