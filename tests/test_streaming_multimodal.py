"""Streaming extension, multimodal plumbing, and IO source/sink tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkdiff.multimodal.binaryops import (
    ASSET_SCHEMA,
    FEATURE_DIM,
    decode_assets,
    extract_features,
    frame_sample,
    synthesize_assets,
)
from sparkdiff.session import load_table
from sparkdiff.sources.io import (
    clone_table,
    insert_overwrite,
    read_csv,
    to_json_records,
    write_csv,
)
from sparkdiff.streaming.validate import (
    incremental_validation,
    read_events_stream,
    windowed_event_counts,
)

from .conftest import SF_DIR_SMALL


# --- streaming -----------------------------------------------------------

def test_windowed_stream_matches_batch(spark, tmp_path):
    """The streaming windowed agg over the events dir must agree with the
    equivalent batch aggregation (memory sink + availableNow drain)."""
    stream = read_events_stream(spark, SF_DIR_SMALL)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = (
        load_table(spark, SF_DIR_SMALL, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("s"),
        )
    )
    expected = {(r.h, r.event_type): (r.n, r.s) for r in batch.collect()}
    assert got == expected and len(got) > 0


def test_incremental_validation_diffs_only_batch_pks(spark, tmp_path):
    reference = load_table(spark, SF_DIR_SMALL, "customer")
    # stream of "changed rows": mutate c_name for a slice of customers
    changed = (
        reference.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_name", F.concat("c_name", F.lit("_changed")))
    )
    changes_dir = str(tmp_path / "changes")
    changed.write.parquet(changes_dir)
    stream = spark.readStream.schema(changed.schema).parquet(changes_dir)

    seen: list = []
    writer = incremental_validation(
        stream, reference, "c_custkey", lambda df, bid: seen.append(df.collect())
    )
    q = writer.option("checkpointLocation", str(tmp_path / "ckpt2")).start()
    q.awaitTermination(120)
    rows = [r for batch in seen for r in batch]
    assert rows, "no diffs surfaced by incremental validation"
    assert {r.column_name for r in rows} == {"c_name"}
    assert all(int(r.pk_value) % 10 == 0 for r in rows)


def test_session_window_counts_match_lag_gap_sessionization(spark):
    """Native session_window (batch mode) must yield the same per-user
    session count as the lag-gap formulation (q29)."""
    from sparkdiff.queries import q29_sessionize
    from sparkdiff.streaming.validate import session_window_counts

    e = load_table(spark, SF_DIR_SMALL, "events")
    sw = session_window_counts(e)
    got = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in sw.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .collect()
    }
    expected = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in q29_sessionize(spark, SF_DIR_SMALL).collect()
    }
    assert got == expected and len(got) > 0


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """The applyInPandasWithState sessionizer's final per-user counts
    must equal the batch lag-gap sessionization (q29) when the whole
    table arrives in one run."""
    from sparkdiff.queries import q29_sessionize
    from sparkdiff.streaming.sessionize import stateful_sessionize
    from sparkdiff.streaming.validate import read_events_stream

    stream = read_events_stream(spark, SF_DIR_SMALL)
    out = stateful_sessionize(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    # processing-time timers keep an availableNow query alive; drain
    # explicitly and stop
    q.processAllAvailable()
    q.stop()
    # last snapshot per user wins (update mode may emit several)
    got = {}
    for r in spark.sql("SELECT * FROM sessions").collect():
        got[r.user_id] = (r.n_sessions, r.n_events)
    expected = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in q29_sessionize(spark, SF_DIR_SMALL).collect()
    }
    assert got == expected and len(got) > 0


# --- multimodal ----------------------------------------------------------

@pytest.fixture()
def assets(spark):
    d = load_table(spark, SF_DIR_SMALL, "documents").limit(50)
    return synthesize_assets(d, "doc_id", "text")


def test_decode_assets_shapes(assets):
    rows = decode_assets(assets).collect()
    assert len(rows) == 50
    for r in rows:
        assert r.n_bytes > 0 and len(r.sha256) == 64
        assert r.width is not None and r.height is not None


def test_decode_custom_codec_through_public_hook(assets):
    """A codec injected via register_codec is actually used on executors
    (the factory runs lazily, once per executor process)."""
    import pandas as pd

    from sparkdiff.multimodal.binaryops import register_codec

    def const_codec():
        def decode(pdf):
            return pd.DataFrame(
                {
                    "n_bytes": pdf["content"].map(lambda c: len(c or b"")),
                    "sha256": ["x" * 64] * len(pdf),
                    "width": [42] * len(pdf),
                    "height": [24] * len(pdf),
                }
            )

        return decode

    register_codec("const", const_codec)
    rows = decode_assets(assets, codec="const").collect()
    assert rows and all(r.width == 42 and r.height == 24 for r in rows)


def test_pure_stdlib_codec_really_decodes(spark):
    """The shipped 'pure' codec PARSES the actual byte stream (PPM and
    BMP containers, stdlib only) — pinning that the decode path carries
    real decoded output end-to-end, not a deterministic fake: the dims
    come from the image bytes, the metadata column lies on purpose."""
    import struct

    def ppm(w, h):
        return b"P6\n%d %d\n255\n" % (w, h) + b"\x00" * (3 * w * h)

    def bmp(w, h):
        # minimal BITMAPINFOHEADER: 14-byte file header + 40-byte info
        return (
            b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, 0, 0, 0, 0, 0)
        )

    rows_in = [
        (1, "image/x-ppm", bytearray(ppm(13, 7)), (99, 99, 1)),
        (2, "image/bmp", bytearray(bmp(31, 17)), (99, 99, 1)),
        (3, "image/bmp", bytearray(b"BM\x00"), (99, 99, 1)),  # truncated
        (4, "application/octet-stream", bytearray(b"garbage"), (99, 99, 1)),
    ]
    df = spark.createDataFrame(rows_in, ASSET_SCHEMA)
    got = {r.asset_id: (r.width, r.height) for r in
           decode_assets(df, codec="pure").collect()}
    assert got[1] == (13, 7)        # parsed from the PPM header
    assert got[2] == (31, 17)       # parsed from the BMP info header
    assert got[3] == (None, None)   # truncated container -> NULLs
    assert got[4] == (None, None)   # unknown magic -> NULLs


def test_pil_codec_loads_or_documents_requirement(assets):
    """With Pillow installed the 'pil' codec decodes real images; without
    it the factory raises an ImportError naming the dependency."""
    from sparkdiff.multimodal.binaryops import _pil_codec

    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="Pillow"):
            _pil_codec()
        pytest.skip("Pillow not installed; swap-in path verified via error")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (7, 5)).save(buf, format="PNG")
    spark = assets.sparkSession
    png = spark.createDataFrame(
        [(1, "image/png", bytearray(buf.getvalue()), (7, 5, 1))],
        ASSET_SCHEMA,
    )
    r = decode_assets(png, codec="pil").collect()[0]
    assert (r.width, r.height) == (7, 5)


def test_feature_extraction_dim_and_determinism(assets):
    a = {r.asset_id: r.features for r in extract_features(assets).collect()}
    b = {r.asset_id: r.features for r in extract_features(assets).collect()}
    assert a == b
    assert all(len(v) == FEATURE_DIM for v in a.values())
    assert all(0.0 <= x < 1.0 for v in a.values() for x in v)


def test_frame_sampling(assets):
    frames = frame_sample(assets, every_n=5).collect()
    assert frames, "no video frames sampled"
    by_asset: dict = {}
    for r in frames:
        by_asset.setdefault(r.asset_id, []).append(r.frame_idx)
    for idxs in by_asset.values():
        assert sorted(idxs) == idxs or sorted(idxs) == sorted(set(idxs))
        assert all(i % 5 == 0 for i in idxs)


# --- embedding encoder (X6) ---------------------------------------------

def test_embedding_encoder_plumbing(spark):
    from sparkdiff.functions.embed import EMBED_DIM, encode_text
    from sparkdiff.operators.similarity import cosine_topk

    d = load_table(spark, SF_DIR_SMALL, "documents").limit(30)
    emb = d.select("doc_id", encode_text(F.col("text")).alias("embedding"))
    rows = emb.collect()
    assert all(len(r.embedding) == EMBED_DIM for r in rows)
    # deterministic across evaluations
    again = {r.doc_id: r.embedding for r in emb.collect()}
    assert {r.doc_id: r.embedding for r in rows} == again
    # composes with the similarity operator
    top = cosine_topk(
        emb.limit(3), emb, "doc_id", "doc_id", "embedding", "embedding", k=2
    ).collect()
    self_hits = {r.query_id for r in top if r.query_id == r.corpus_id and r.rank == 1}
    assert len(self_hits) == 3  # each text is its own nearest neighbor


# --- io ------------------------------------------------------------------

def test_csv_roundtrip_and_json_records(spark, tmp_path):
    df = load_table(spark, SF_DIR_SMALL, "region")
    out = str(tmp_path / "region_csv")
    write_csv(df, out, single_file=True)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    back = read_csv(spark, out, schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    js = to_json_records(df.limit(1)).collect()[0].json
    assert js.startswith('{"r_regionkey":')


def test_clone_table_then_perturb_and_detect(spark):
    """S12: the clone is an independent copy — a row planted in it shows
    up in a presence diff against the untouched source."""
    from sparkdiff.operators.diff import presence_diff

    spark.sql("DROP TABLE IF EXISTS io_clone_src")
    spark.sql("DROP TABLE IF EXISTS io_clone_dst")
    try:
        spark.sql(
            "CREATE TABLE io_clone_src AS "
            "SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(id, name)"
        )
        clone_table(spark, "io_clone_src", "io_clone_dst")
        clone_table(spark, "io_clone_src", "io_clone_dst")  # replaces
        src, dst = spark.table("io_clone_src"), spark.table("io_clone_dst")
        assert sorted(map(tuple, dst.collect())) == [(1, "a"), (2, "b")]
        spark.sql("INSERT INTO io_clone_dst VALUES (3, 'c')")
        diff = presence_diff(src, spark.table("io_clone_dst"), "id").collect()
        assert [(r.pk_value, r.side) for r in diff] == [("3", "sf_only")]
        assert src.count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS io_clone_src")
        spark.sql("DROP TABLE IF EXISTS io_clone_dst")


def test_insert_overwrite_replaces_rows(spark):
    """S13: ``INSERT OVERWRITE`` replaces the table's rows, never appends."""
    spark.sql("DROP TABLE IF EXISTS io_overwrite_t")
    try:
        spark.sql(
            "CREATE TABLE io_overwrite_t AS "
            "SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(id, name)"
        )
        fresh = spark.createDataFrame([(7, "z")], "id int, name string")
        insert_overwrite(fresh, "io_overwrite_t")
        got = spark.table("io_overwrite_t").collect()
        assert sorted(map(tuple, got)) == [(7, "z")]
    finally:
        spark.sql("DROP TABLE IF EXISTS io_overwrite_t")


def test_html_table_sink(spark):
    """S10: escaped, class-tagged, row-capped HTML — the reference's
    ``df.to_html(classes='data')`` page (``main.py:65``)."""
    import pytest

    from sparkdiff.sources.io import to_html_table

    df = spark.createDataFrame(
        [(1, "a<b"), (2, None)], "id int, name string"
    )
    html_out = to_html_table(df.orderBy("id"))
    assert html_out.startswith('<table border="1" class="data">')
    assert "<th>id</th><th>name</th>" in html_out
    assert "a&lt;b" in html_out  # values are escaped
    assert html_out.count("<tr>") == 3  # header + 2 rows
    with pytest.raises(ValueError, match="max_rows"):
        to_html_table(df, max_rows=1)


def test_encoder_registry_custom_model_through_public_hook(spark):
    """A model injected via register_encoder is used by encoder_udf,
    loaded lazily (factory call count == executor processes, not rows)."""
    from sparkdiff.functions.embed import encoder_udf, register_encoder

    def tiny_factory():
        return lambda texts: [[float(len(t or "")), 1.0] for t in texts]

    register_encoder("tiny", tiny_factory)
    d = load_table(spark, SF_DIR_SMALL, "documents").limit(5)
    rows = d.select(
        "doc_id", encoder_udf("tiny")(F.col("text")).alias("e")
    ).collect()
    assert all(len(r.e) == 2 and r.e[1] == 1.0 and r.e[0] > 0 for r in rows)


def test_minilm_encoder_loads_or_documents_requirement(spark):
    """With sentence-transformers installed the 'minilm' encoder runs;
    without it the factory raises an ImportError naming the dependency."""
    from sparkdiff.functions.embed import _minilm_encoder, encoder_udf

    try:
        import sentence_transformers  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="sentence-transformers"):
            _minilm_encoder()
        pytest.skip("sentence-transformers not installed; hook verified via error")
    d = load_table(spark, SF_DIR_SMALL, "documents").limit(3)
    rows = d.select(encoder_udf("minilm")(F.col("text")).alias("e")).collect()
    assert all(len(r.e) == 384 for r in rows)


# --- streaming hardening --------------------------------------------------

def _raw_events(spark):
    """events with the RAW physical ts (the stream-source schema) —
    long nanos in older driver testdata, TIMESTAMP(MICROS) in newer."""
    return spark.read.parquet(os.path.join(SF_DIR_SMALL, "events.parquet"))


def _raw_ts_key(raw):
    """Sortable long over the raw ts regardless of physical encoding."""
    from pyspark.sql.types import LongType

    if isinstance(raw.schema["ts"].dataType, LongType):
        return F.col("ts")
    return F.unix_micros(F.col("ts").cast("timestamp"))


def test_sessionizer_recovers_across_restart(spark, tmp_path):
    """Stop-and-restart from the checkpoint must restore sessionizer
    state: phase-2 events continue phase-1 sessions, and the merged final
    snapshots equal the batch sessionization of the full table."""
    from sparkdiff.queries import q29_sessionize
    from sparkdiff.streaming.sessionize import stateful_sessionize
    from sparkdiff.streaming.validate import read_events_stream

    raw = _raw_events(spark)
    key = _raw_ts_key(raw)
    cut = raw.select(F.median(key)).first()[0]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    raw.filter(key <= cut).write.mode("append").parquet(src)

    def run():
        # memory sink cannot recover from a checkpoint; foreachBatch can
        got: dict = {}

        def collect(batch_df, _bid):
            for r in batch_df.collect():
                got[r.user_id] = (r.n_sessions, r.n_events)

        stream = read_events_stream(spark, src, glob="*.parquet")
        q = (
            stateful_sessionize(stream)
            .writeStream.outputMode("update")
            .foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return got

    first = run()
    raw.filter(key > cut).write.mode("append").parquet(src)
    second = run()

    got = {**first, **second}  # newest snapshot per user wins
    expected = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in q29_sessionize(spark, SF_DIR_SMALL).collect()
    }
    assert second, "restart processed no new data"
    assert got == expected


def test_streaming_ingest_dedup_matches_batch_gate(spark, tmp_path):
    """The micro-batched ingest gate must flag exactly the pairs the
    batch-mode q72 operator finds over the same rows — across multiple
    micro-batches against one precomputed corpus index."""
    from sparkdiff.operators.dedup import incremental_near_dup_pairs
    from sparkdiff.streaming.validate import streaming_ingest_dedup

    corpus = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    batch = (
        corpus.filter(F.col("doc_id") % 17 == 0)
        .withColumn("doc_id", F.col("doc_id") + 50_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" new batch revision")))
    )
    src = str(tmp_path / "src")
    # two files -> maxFilesPerTrigger=1 forces at least two micro-batches
    batch.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    batch.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got: set = set()
    batch_ids: set = set()

    def collect(pairs, bid):
        batch_ids.add(bid)
        for r in pairs.collect():
            got.add((r.corpus_id, r.batch_id, round(r.jaccard, 9)))

    q = (
        streaming_ingest_dedup(stream, corpus, "doc_id", "text", collect, threshold=0.6)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    expected = {
        (r.corpus_id, r.batch_id, round(r.jaccard, 9))
        for r in incremental_near_dup_pairs(
            corpus, batch, "doc_id", "text", threshold=0.6
        ).collect()
    }
    assert len(batch_ids) >= 2, "expected multiple micro-batches"
    assert got == expected
    assert expected, "batch gate found nothing — fixture broken"


def test_windowed_agg_under_rocksdb_state_store(spark, tmp_path):
    """The watermarked windowed agg runs green with the RocksDB state
    store provider (disk-backed state: the at-scale configuration)."""
    from sparkdiff.streaming.validate import (
        ROCKSDB_PROVIDER,
        read_events_stream,
        use_rocksdb_state_store,
        windowed_event_counts,
    )

    use_rocksdb_state_store(spark)
    try:
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_PROVIDER
        )
        stream = read_events_stream(spark, SF_DIR_SMALL)
        q = (
            windowed_event_counts(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("rocks_counts")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        n = spark.sql("SELECT count(*) AS n FROM rocks_counts").collect()[0].n
        assert n > 0
    finally:
        use_rocksdb_state_store(spark, enabled=False)


def test_incremental_validation_parquet_sink_is_replay_idempotent(spark, tmp_path):
    """Replaying the whole stream after losing the checkpoint must leave
    the parquet metrics sink unchanged (dynamic partition overwrite by
    batch_id = effective exactly-once)."""
    from sparkdiff.streaming.validate import incremental_validation_to_parquet

    reference = load_table(spark, SF_DIR_SMALL, "customer")
    changed = reference.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_name", F.concat("c_name", F.lit("_changed"))
    )
    changes_dir = str(tmp_path / "changes")
    out_dir = str(tmp_path / "metrics")
    changed.write.parquet(changes_dir)

    def run(ckpt):
        stream = spark.readStream.schema(changed.schema).parquet(changes_dir)
        w = incremental_validation_to_parquet(stream, reference, "c_custkey", out_dir)
        q = w.option("checkpointLocation", ckpt).start()
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt_a"))
    first = sorted(
        map(tuple, spark.read.parquet(out_dir).drop("batch_id").collect())
    )
    assert first, "sink is empty"
    # lose the checkpoint -> full replay into the same sink
    run(str(tmp_path / "ckpt_b"))
    second = sorted(
        map(tuple, spark.read.parquet(out_dir).drop("batch_id").collect())
    )
    assert second == first, "replay duplicated or altered sink rows"


def test_streaming_bucket_checksums_match_batch(spark, tmp_path):
    """Streamed per-bucket checksum state after an availableNow drain
    equals the batch bucket_summary over the same rows (commutativity =
    stream/batch equivalence)."""
    from sparkdiff.operators.diff import bucket_summary
    from sparkdiff.streaming.validate import streaming_bucket_checksums

    cols = ["event_type", "value"]
    stream = read_events_stream(spark, SF_DIR_SMALL).drop("ts")
    state = streaming_bucket_checksums(stream, "event_id", cols, n_buckets=64)

    got = {}

    def record(batch_df, batch_id):
        for r in batch_df.collect():
            got[r.bucket] = (r.n, r.checksum)

    q = (
        state.writeStream.outputMode("update")
        .foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt_sum"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = bucket_summary(
        load_table(spark, SF_DIR_SMALL, "events"),
        "event_id",
        cols,
        n_buckets=64,
        distinct_pks=False,
    )
    expected = {r.bucket: (r.n, r.checksum) for r in batch.collect()}
    assert got == expected and len(got) > 1


def test_checksum_drift_monitor_finds_perturbed_buckets(spark, tmp_path):
    """The monitor's dirty set after a full drain equals the batch
    bucket-summary comparison between the stream's table and a perturbed
    reference."""
    from sparkdiff.operators.diff import bucket_summary
    from sparkdiff.streaming.validate import checksum_drift_monitor

    cols = ["event_type", "value"]
    events = load_table(spark, SF_DIR_SMALL, "events")
    reference = events.withColumn(
        "value",
        F.when(F.col("event_id") % 37 == 0, F.col("value") + 1.0).otherwise(
            F.col("value")
        ),
    )
    stream = read_events_stream(spark, SF_DIR_SMALL).drop("ts")

    dirty_latest = {}

    def on_dirty(df, batch_id):
        for r in df.collect():
            dirty_latest[r.bucket] = (r.n, r.checksum, r.ref_n, r.ref_checksum)

    q = (
        checksum_drift_monitor(
            stream, reference, "event_id", cols, on_dirty, n_buckets=64
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_drift"))
        .start()
    )
    q.awaitTermination(120)

    def summ(df):
        return {
            r.bucket: (r.n, r.checksum)
            for r in bucket_summary(
                df, "event_id", cols, n_buckets=64, distinct_pks=False
            ).collect()
        }

    s_side, r_side = summ(events), summ(reference)
    expected = {b for b in s_side if s_side[b] != r_side.get(b)}
    assert set(dirty_latest) == expected and expected
    # and clean buckets stayed clean: none reported beyond the expected set
    assert all(b in expected for b in dirty_latest)


def test_checksum_drift_monitor_clean_transitions(spark, tmp_path):
    """include_clean=True must deliver touched-and-converged buckets
    with is_dirty=False, so an alert set maintained across micro-batches
    converges: a half-ingested bucket reports dirty in batch 1 and must
    CLEAR in batch 2 once its remaining rows arrive (without the clean
    signal the stale alert can never be dropped)."""
    from sparkdiff.operators.diff import bucket_summary
    from sparkdiff.streaming.validate import checksum_drift_monitor

    cols = ["event_type", "value"]
    events = load_table(spark, SF_DIR_SMALL, "events").drop("ts")
    reference = events.withColumn(
        "value",
        F.when(F.col("event_id") % 37 == 0, F.col("value") + 1.0).otherwise(
            F.col("value")
        ),
    )
    # two files -> two micro-batches: half the rows, then the rest
    src = str(tmp_path / "drift_src")
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    alert_set: set[int] = set()
    saw_clean_transition = {"yes": False}

    def track(df, _bid):
        for r in df.collect():
            if r.is_dirty:
                alert_set.add(r.bucket)
            else:
                if r.bucket in alert_set:
                    saw_clean_transition["yes"] = True
                alert_set.discard(r.bucket)

    q = (
        checksum_drift_monitor(
            stream, reference, "event_id", cols, track,
            n_buckets=64, include_clean=True,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_clean"))
        .start()
    )
    q.awaitTermination(120)

    def summ(df):
        return {
            r.bucket: (r.n, r.checksum)
            for r in bucket_summary(
                df, "event_id", cols, n_buckets=64, distinct_pks=False
            ).collect()
        }

    s_side, r_side = summ(events), summ(reference)
    expected = {b for b in s_side if s_side[b] != r_side.get(b)}
    assert alert_set == expected and expected
    assert saw_clean_transition["yes"], (
        "no bucket went dirty->clean across the two micro-batches; the "
        "fixture no longer exercises the transition"
    )


def test_cdc_checksum_stream_drains_to_final_state(spark, tmp_path):
    """The CDC checksum agg runs as a real stream: after draining a CDC
    log directory, the maintained state equals the batch summary of the
    materialized table."""
    from sparkdiff.operators.diff import bucket_summary
    from sparkdiff.streaming.validate import streaming_bucket_checksums_cdc
    from pyspark.sql import types as T

    base = [(i, f"v{i}", "insert") for i in range(1, 51)]
    churn = [(i, f"v{i}", "delete") for i in range(5, 51, 5)] + [
        (i, f"w{i}", "insert") for i in range(5, 51, 5)
    ]
    log_dir = tmp_path / "cdc"
    spark.createDataFrame(base + churn, "pk int, v string, op string").write.parquet(
        str(log_dir)
    )
    schema = T.StructType(
        [
            T.StructField("pk", T.IntegerType()),
            T.StructField("v", T.StringType()),
            T.StructField("op", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(str(log_dir))
    state = streaming_bucket_checksums_cdc(stream, "pk", ["v"], n_buckets=8)

    got = {}

    def record(batch_df, batch_id):
        for r in batch_df.collect():
            got[r.bucket] = (r.n, r.checksum)

    q = (
        state.writeStream.outputMode("update")
        .foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt_cdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    final = spark.createDataFrame(
        [(i, f"w{i}" if i % 5 == 0 else f"v{i}") for i in range(1, 51)],
        "pk int, v string",
    )
    want = {
        r.bucket: (r.n, r.checksum)
        for r in bucket_summary(
            final, "pk", ["v"], n_buckets=8, distinct_pks=False
        ).collect()
    }
    assert got == want


def test_sliding_window_stream_matches_q114_batch(spark, tmp_path):
    """The SLIDING streaming window agg (30min/10min, the q114 shape)
    must agree with q114's batch result on counts per (window, type) —
    the overlapping-window streaming path, watermark-bounded state."""
    from sparkdiff.queries import QUERIES

    stream = read_events_stream(spark, SF_DIR_SMALL)
    agg = windowed_event_counts(
        stream, window="30 minutes", watermark="2 hours", slide="10 minutes"
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("slide_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt_slide"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (int(r.window_start.timestamp()), r.event_type): r.n
        for r in spark.sql("SELECT * FROM slide_counts").collect()
    }
    batch = {
        (r.w_start, r.event_type): r.n
        for r in QUERIES["q114_sliding_windows"](
            spark, SF_DIR_SMALL
        ).collect()
    }
    assert got == batch and len(got) > 0


def test_streaming_contamination_gate_matches_batch_scan(spark, tmp_path):
    """The micro-batched contamination gate must flag exactly the
    (doc, test item) hits the batch-mode q134 operator finds over the
    same rows — one automaton broadcast for the whole stream."""
    from sparkdiff.operators.contamination import exact_contamination
    from sparkdiff.streaming.validate import streaming_contamination_gate

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    suite = docs.filter(
        (F.col("doc_id") % 40 == 0) & (F.length("text") >= 65)
    ).select(
        F.col("doc_id").alias("test_id"),
        F.expr("substring(text, 11, 40)").alias("pat"),
    )
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got: set = set()
    batch_ids: set = set()

    def collect(hits, bid):
        batch_ids.add(bid)
        for r in hits.collect():
            got.add((r.doc_id, r.test_id))

    q = (
        streaming_contamination_gate(stream, suite, collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    expected = {
        (r.doc_id, r.test_id)
        for r in exact_contamination(docs, suite).collect()
    }
    assert len(batch_ids) >= 2, "expected multiple micro-batches"
    assert got == expected
    assert expected, "batch scan found nothing — fixture broken"


def test_streaming_ingest_dedup_amortized_index_grows(spark, tmp_path):
    """index_dir mode: the gate bootstraps the corpus index to parquet,
    appends each batch's ADMITTED docs, and therefore flags a later
    batch doc that near-duplicates an EARLIER batch's doc — which the
    frozen-index mode structurally cannot see.  Duplicate (rejected)
    docs must NOT join the index."""
    from sparkdiff.operators.dedup import load_corpus_dedup_index
    from sparkdiff.streaming.validate import streaming_ingest_dedup

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 17 == 0)
    # batch A: fresh docs (bases %17==5 are NOT in the corpus) -> admitted
    batch_a = (
        docs.filter(F.col("doc_id") % 17 == 5)
        .withColumn("doc_id", F.col("doc_id") + 50_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" fresh material")))
    )
    # batch B: near-dups OF BATCH A -> must be flagged against A's ids
    batch_b = (
        batch_a.withColumn("doc_id", F.col("doc_id") + 50_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" second revision")))
    )
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    got: dict[int, set] = {}

    def collect(pairs, bid):
        got.setdefault(bid, set()).update(
            (r.corpus_id, r.batch_id) for r in pairs.collect()
        )

    def run_all():
        stream = spark.readStream.schema(batch_a.schema).parquet(src)
        q = (
            streaming_ingest_dedup(
                stream, corpus, "doc_id", "text", collect,
                threshold=0.6, index_dir=idx,
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    batch_a.coalesce(1).write.mode("append").parquet(src)
    run_all()
    batch_b.coalesce(1).write.mode("append").parquet(src)
    run_all()  # restart: index + checkpoint both reload from disk

    flat = {p for s in got.values() for p in s}
    # a few fixture docs are genuinely similar across the %17 strata, so
    # derive A's ADMITTED set from what the gate actually flagged
    a_ids = {r.doc_id for r in batch_a.collect()}
    rejected_a = {b for _, b in flat if b in a_ids}
    admitted_a = a_ids - rejected_a
    assert len(admitted_a) > 10, "fixture degenerated — nothing admitted"
    # every B doc whose A origin was admitted pairs against that origin
    # (ids 50k..100k) — proof the index grew past the original corpus
    expected_cross = {(a, a + 50_000) for a in admitted_a}
    assert expected_cross <= flat, f"missed: {expected_cross - flat}"
    # admitted = corpus + admitted A docs; duplicates (rejected A docs,
    # all of B) must be kept out of the index
    sh, bk = load_corpus_dedup_index(spark, idx)
    ids = {r["_id"] for r in sh.select("_id").collect()}
    assert ids == {r.doc_id for r in corpus.collect()} | admitted_a
    assert bk.filter(F.col("_id") >= 100_000).count() == 0


def test_streaming_ingest_dedup_bloom_gate(spark, tmp_path):
    """bloom_gate: a genuinely novel batch short-circuits past the exact
    index (zero pairs, by the zero-false-negative argument), while a
    later batch duplicating an earlier one is still fully caught — the
    filter grew with the admitted docs.  The filter persists beside the
    index (restart-safe) with its geometry pinned."""
    import json
    import os

    from sparkdiff.streaming.validate import streaming_ingest_dedup

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 17 == 0)
    batch_a = (
        docs.filter(F.col("doc_id") % 17 == 5)
        .withColumn("doc_id", F.col("doc_id") + 50_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" fresh material")))
    )
    batch_b = (
        batch_a.withColumn("doc_id", F.col("doc_id") + 50_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" second revision")))
    )
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    got: dict[int, set] = {}

    def collect(pairs, bid):
        got.setdefault(bid, set()).update(
            (r.corpus_id, r.batch_id) for r in pairs.collect()
        )

    def run_all(ckpt):
        stream = spark.readStream.schema(batch_a.schema).parquet(src)
        q = (
            streaming_ingest_dedup(
                stream, corpus, "doc_id", "text", collect,
                threshold=0.6, index_dir=idx,
                bloom_gate=(1 << 18, 4),
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    batch_a.coalesce(1).write.mode("append").parquet(src)
    run_all("ckpt")
    batch_b.coalesce(1).write.mode("append").parquet(src)
    run_all("ckpt")  # restart: index + bloom reload from disk

    # geometry + persistence
    assert os.path.isdir(os.path.join(idx, "bloom"))
    with open(os.path.join(idx, "bloom_meta.json")) as fh:
        assert json.load(fh) == {"m_bits": 1 << 18, "n_hashes": 4}

    flat = {p for s in got.values() for p in s}
    # SAME contract as the non-bloom amortized test: every admitted A
    # doc's B twin is caught against it — the bloom gate never hides a
    # duplicate (zero false negatives through the short-circuit)
    a_ids = {r.doc_id for r in batch_a.collect()}
    rejected_a = {b for _, b in flat if b in a_ids}
    admitted_a = a_ids - rejected_a
    assert len(admitted_a) > 10
    expected_cross = {(a, a + 50_000) for a in admitted_a}
    assert expected_cross <= flat, f"missed: {expected_cross - flat}"

    # geometry mismatch on reopen must refuse, not silently mis-probe
    import pytest

    with pytest.raises(ValueError):
        streaming_ingest_dedup(
            spark.readStream.schema(batch_a.schema).parquet(src),
            None, "doc_id", "text", collect,
            index_dir=idx, bloom_gate=(1 << 16, 4),
        )


def test_streaming_ingest_gate_crash_restart_rehearsal(spark, tmp_path):
    """Kill-and-restart rehearsal for the ingest gate (round-9 verdict
    #3): the bloom swap documents an either-old-or-new atomic-rename
    invariant and the gate claims restart safety — prove both under
    induced crashes:

    1. CRASH BETWEEN THE TWO RENAMES: the live bloom dir is gone, the
       half-swapped ``_old``/``_next`` dirs remain.  A restart must
       clear the stale dirs and re-bootstrap a READABLE filter from the
       band table (the source of truth), never run with no/partial
       filter.
    2. CRASH AFTER SINK-WRITE, BEFORE CHECKPOINT COMMIT (simulated as a
       full at-least-once replay with a fresh checkpoint): re-delivered
       docs are already in the index, so they self-match at jaccard 1.0,
       are reported as duplicates, and are NOT admitted again — zero
       duplicate index rows.
    3. The rebuilt filter has no false negatives: a later batch that
       near-duplicates the first batch's admitted docs is still fully
       caught.

    Uses a filter geometry above the compact-words cutoff so the
    Spark-side union+bit_or rename swap (the 100 TB path) is the code
    under test."""
    import shutil

    from sparkdiff.operators.dedup import load_corpus_dedup_index
    from sparkdiff.streaming.validate import (
        _BLOOM_COMPACT_WORDS,
        streaming_ingest_dedup,
    )

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 17 == 0)
    batch_a = (
        docs.filter(F.col("doc_id") % 17 == 5)
        .withColumn("doc_id", F.col("doc_id") + 50_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" fresh material")))
    )
    batch_b = (
        batch_a.withColumn("doc_id", F.col("doc_id") + 50_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" second revision")))
    )
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    bloom = os.path.join(idx, "bloom")
    geometry = (_BLOOM_COMPACT_WORDS * 64 * 2, 4)  # forces the swap path
    got: dict[int, set] = {}

    def collect(pairs, bid):
        got.setdefault(bid, set()).update(
            (r.corpus_id, r.batch_id) for r in pairs.collect()
        )

    def run_all(ckpt):
        stream = spark.readStream.schema(batch_a.schema).parquet(src)
        q = (
            streaming_ingest_dedup(
                stream, corpus, "doc_id", "text", collect,
                threshold=0.6, index_dir=idx, bloom_gate=geometry,
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    batch_a.coalesce(1).write.mode("append").parquet(src)
    run_all("ckpt1")
    sh, _bk = load_corpus_dedup_index(spark, idx)
    ids_after_a = {r["_id"] for r in sh.select("_id").collect()}
    n_shingle_rows = sh.count()
    a_ids = {r.doc_id for r in batch_a.collect()}
    admitted_a = ids_after_a & a_ids
    assert len(admitted_a) > 10, "fixture degenerated — nothing admitted"

    # --- induce crash #1: between os.rename(bloom, _old) and
    # os.rename(_next, bloom).  State on disk: no live filter, the old
    # filter parked at _old, the in-flight new filter at _next.
    os.rename(bloom, bloom + "_old")
    shutil.copytree(bloom + "_old", bloom + "_next")
    assert not os.path.isdir(bloom)

    # --- induce crash #2: at-least-once replay.  A fresh checkpoint
    # re-delivers every batch_a file, exactly what follows a crash after
    # the index append but before the checkpoint commit.
    got.clear()
    run_all("ckpt2")

    # invariant 1: restart cleared the half-swap and rebuilt a readable
    # filter — either-old-or-new, never absent or partial
    assert os.path.isdir(bloom)
    assert not os.path.isdir(bloom + "_old")
    assert not os.path.isdir(bloom + "_next")
    assert spark.read.parquet(bloom).count() > 0

    # invariant 2: zero duplicate admits — every re-delivered doc
    # self-matched the index (jaccard 1.0) and was kept out
    replay_flat = {p for s in got.values() for p in s}
    assert {(a, a) for a in admitted_a} <= replay_flat
    sh2, _ = load_corpus_dedup_index(spark, idx)
    assert {r["_id"] for r in sh2.select("_id").collect()} == ids_after_a
    assert sh2.count() == n_shingle_rows, "replay duplicated index rows"

    # invariant 3: the rebuilt filter hides nothing — B's near-dups of
    # admitted A docs are all caught through the re-bootstrapped gate
    got.clear()
    batch_b.coalesce(1).write.mode("append").parquet(src)
    run_all("ckpt2")
    flat = {p for s in got.values() for p in s}
    expected_cross = {(a, a + 50_000) for a in admitted_a}
    assert expected_cross <= flat, f"missed: {expected_cross - flat}"


def test_bloom_gate_short_circuits_novel_batch(spark, tmp_path):
    """The short-circuit itself: a batch with zero maybe-seen band keys
    yields an EMPTY pairs frame without touching the exact index — and
    a batch containing a true duplicate does probe it."""
    from sparkdiff.streaming.validate import streaming_ingest_dedup

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 17 == 0).limit(40)
    # synthetic, definitely-novel text: shares no 3-shingles with fixtures
    novel = spark.createDataFrame(
        [
            (900_001, "zq xv qj wk vz jx kq zz " * 8),
            (900_002, "mm nn oo pp qq rr ss tt " * 8),
        ],
        "doc_id long, text string",
    )
    dup = corpus.limit(1).withColumn("doc_id", F.col("doc_id") + 77_000)
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    seen: dict[int, int] = {}

    def collect(pairs, bid):
        seen[bid] = pairs.count()

    def run_all():
        stream = spark.readStream.schema(novel.schema).parquet(src)
        q = (
            streaming_ingest_dedup(
                stream, corpus, "doc_id", "text", collect,
                threshold=0.6, index_dir=idx, bloom_gate=(1 << 18, 4),
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    novel.coalesce(1).write.mode("append").parquet(src)
    run_all()
    dup.coalesce(1).write.mode("append").parquet(src)
    run_all()
    bids = sorted(seen)
    assert seen[bids[0]] == 0  # novel batch: short-circuited, no pairs
    assert seen[bids[1]] >= 1  # exact duplicate still caught


def test_bloom_gate_large_filter_spark_side_path(spark, tmp_path):
    """A filter above the compact-probe domain (> 8192 words) takes the
    all-Spark path: join probe off the persisted word table, update via
    union + bit_or + atomic swap — no driver dict — with identical gate
    semantics (novel short-circuit, duplicate caught after the filter
    grew)."""
    from sparkdiff.streaming.validate import (
        _BLOOM_COMPACT_WORDS,
        streaming_ingest_dedup,
    )

    m_bits = 1 << 20  # 16384 words > compact domain
    assert m_bits // 64 > _BLOOM_COMPACT_WORDS
    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 17 == 0).limit(30)
    novel = spark.createDataFrame(
        [(910_001, "qz vx jq kw zv xj qk zy " * 8)],
        "doc_id long, text string",
    )
    dup_of_novel = novel.withColumn("doc_id", F.col("doc_id") + 500)
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    seen: dict[int, int] = {}

    def collect(pairs, bid):
        seen[bid] = pairs.count()

    def run_all():
        stream = spark.readStream.schema(novel.schema).parquet(src)
        q = (
            streaming_ingest_dedup(
                stream, corpus, "doc_id", "text", collect,
                threshold=0.6, index_dir=idx, bloom_gate=(m_bits, 4),
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    novel.coalesce(1).write.mode("append").parquet(src)
    run_all()
    dup_of_novel.coalesce(1).write.mode("append").parquet(src)
    run_all()  # restart: large filter reloads from its parquet table
    bids = sorted(seen)
    assert seen[bids[0]] == 0   # novel: short-circuited
    assert seen[bids[1]] >= 1   # its copy: caught via the grown filter+index


def test_auto_gate_configuration_two_tiers():
    """The auto knobs resolve from the index's own stats at the
    thresholds the probes established (round-6 verdict stretch): a
    local-tier index stays FLAT with a compact-domain filter; a
    10^9-doc-regime index gets the bucketed layout at ~4M rows per
    partition and a Spark-side filter geometry."""
    from sparkdiff.operators.bloom import bloom_size
    from sparkdiff.streaming.validate import (
        _AUTO_BLOOM_FPP,
        _AUTO_BLOOM_HEADROOM,
        _BLOOM_COMPACT_WORDS,
        auto_bloom_geometry,
        auto_key_buckets,
    )

    # local tier: sf0.1 documents x 16 bands ~ 1M band rows
    assert auto_key_buckets(16 * 60_000) is None
    m, h = auto_bloom_geometry(16 * 60_000)
    assert m % 64 == 0 and h >= 1
    assert (m, h) == bloom_size(_AUTO_BLOOM_HEADROOM * 16 * 60_000, _AUTO_BLOOM_FPP)

    # heavy tier: 10^9 docs x 16 bands
    n = 16 * 10**9
    kb = auto_key_buckets(n)
    assert kb is not None and kb & (kb - 1) == 0  # power of two
    assert n / kb <= 8_000_000  # ceil'd log2: at most 2x the 4M target
    m, h = auto_bloom_geometry(10**9)
    assert m // 64 > _BLOOM_COMPACT_WORDS  # Spark-side regime
    assert m % 64 == 0 and h >= 1

    # tiny index: floor keeps bloom_size's domain valid
    assert auto_bloom_geometry(0) == bloom_size(1024, _AUTO_BLOOM_FPP)


def test_streaming_ingest_dedup_auto_gate(spark, tmp_path):
    """bloom_gate='auto' + key_buckets='auto' end-to-end: bootstrap
    derives the filter geometry from the band table and the flat layout
    from the band-row count; a RESTART adopts the stored geometry (no
    re-derive, no refuse); gate semantics are unchanged (novel batch
    short-circuits, a later duplicate of an admitted doc is caught)."""
    import json
    import os

    from sparkdiff.operators.dedup import index_key_buckets
    from sparkdiff.streaming.validate import (
        auto_bloom_geometry,
        streaming_ingest_dedup,
    )

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 17 == 0).limit(40)
    novel = spark.createDataFrame(
        [(920_001, "vq zx jw kq xz wj qv zk " * 8)],
        "doc_id long, text string",
    )
    dup_of_novel = novel.withColumn("doc_id", F.col("doc_id") + 500)
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    seen: dict[int, int] = {}

    def collect(pairs, bid):
        seen[bid] = pairs.count()

    def run_all(ckpt):
        stream = spark.readStream.schema(novel.schema).parquet(src)
        q = (
            streaming_ingest_dedup(
                stream, corpus, "doc_id", "text", collect,
                threshold=0.6, index_dir=idx,
                key_buckets="auto", bloom_gate="auto",
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    novel.coalesce(1).write.mode("append").parquet(src)
    run_all("ckpt")
    # local tier resolves to the flat layout...
    assert index_key_buckets(idx) is None
    # ...and the filter geometry equals the derivation from the band
    # table's own row count at bootstrap time
    n_band_rows = spark.read.parquet(os.path.join(idx, "bands")).count()
    with open(os.path.join(idx, "bloom_meta.json")) as fh:
        meta = json.load(fh)
    # bootstrap sized BEFORE the batch was admitted; the admitted batch
    # then appended its own band keys — derive from the corpus side
    n_corpus_rows = n_band_rows - novel.count() * 16
    expect = auto_bloom_geometry(n_corpus_rows)
    assert (meta["m_bits"], meta["n_hashes"]) == tuple(expect)

    dup_of_novel.coalesce(1).write.mode("append").parquet(src)
    run_all("ckpt")  # restart: 'auto' adopts the stored geometry
    bids = sorted(seen)
    assert seen[bids[0]] == 0  # novel batch short-circuited
    assert seen[bids[1]] >= 1  # its duplicate caught after the filter grew


def test_decode_wav_audio_real_pcm_stats(spark):
    """The stdlib WAV codec parses REAL RIFF containers and computes
    signal stats from the actual PCM frames: a synthesized 16-bit ramp
    whose exact integer stats the test derives independently, a stereo
    clip, a non-16-bit width (header fields real, stats NULL), and a
    malformed payload (all NULL) — never an executor crash."""
    import io
    import math
    import wave

    import numpy as np

    from sparkdiff.multimodal.binaryops import decode_wav_audio

    def wav_bytes(samples, rate=8000, ch=1, width=2):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(ch)
            w.setsampwidth(width)
            w.setframerate(rate)
            if width == 2:
                w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
            else:
                w.writeframes(bytes(samples))
        return buf.getvalue()

    # 1024-sample ramp plus a 64-sample clipped plateau (|s| >= 32767)
    ramp = list(range(-32768, 32768, 64)) + [32767] * 64
    stereo = [100, -200] * 500
    rows = [
        (1, "audio/wav", wav_bytes(ramp), None),
        (2, "audio/wav", wav_bytes(stereo, rate=16000, ch=2), None),
        (3, "audio/wav", wav_bytes(b"\x01\x02\x03\x04", width=1), None),
        (4, "audio/wav", b"not a wav at all", None),
        (5, "audio/wav", None, None),
    ]
    from sparkdiff.multimodal.binaryops import ASSET_SCHEMA

    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {r.asset_id: r for r in decode_wav_audio(assets).collect()}
    assert len(got) == 5

    s = np.asarray(ramp, dtype=np.int64)
    r1 = got[1]
    assert (r1.sample_rate, r1.n_channels, r1.sample_width) == (8000, 1, 2)
    assert r1.n_samples == len(ramp)
    assert r1.duration_ms == len(ramp) * 1000 // 8000
    assert r1.peak == 32768
    assert r1.rms_milli == math.floor(
        1000.0 * math.sqrt(int((s * s).sum()) / len(s))
    )
    assert r1.clip_per_mille == int((np.abs(s) >= 32767).sum()) * 1000 // len(s)
    assert r1.clip_per_mille > 0

    r2 = got[2]
    assert (r2.sample_rate, r2.n_channels) == (16000, 2)
    assert r2.n_samples == 1000  # interleaved samples across channels
    assert r2.peak == 200 and r2.clip_per_mille == 0

    r3 = got[3]  # 8-bit width: container fields real, PCM stats NULL
    assert r3.sample_width == 1 and r3.sample_rate == 8000
    assert r3.peak is None and r3.rms_milli is None

    for aid in (4, 5):  # malformed / NULL payloads: all-NULL decode
        r = got[aid]
        assert r.sample_rate is None and r.peak is None
        assert r.n_bytes == (0 if aid == 5 else len(b"not a wav at all"))


def test_resize_images_real_ppm_pixels(spark):
    """The stdlib resize does REAL pixel math: an 8x4 P6 gradient
    downscales to 4x2 by nearest-neighbor with exactly the pixels
    integer index-sampling predicts (verified against an independent
    numpy reference); in-bounds and malformed payloads pass through
    untouched; the resized payload is itself a valid P6 the pure codec
    re-decodes to the new dims."""
    import numpy as np

    from sparkdiff.multimodal.binaryops import (
        ASSET_SCHEMA,
        decode_assets,
        resize_images,
    )

    w, h = 8, 4
    px = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    ppm = f"P6\n{w} {h}\n255\n".encode() + px.tobytes()
    rows = [
        (1, "image/x-portable-pixmap", ppm, None),
        (2, "image/x-portable-pixmap", f"P6\n2 2\n255\n".encode() + bytes(12), None),
        (3, "image/png", b"\x89PNG not really parsed", None),
        (4, "image/x-portable-pixmap", None, None),
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {r.asset_id: r for r in resize_images(assets, 4).collect()}

    r1 = got[1]
    assert r1.resized and (r1.width, r1.height) == (4, 2)
    ys, xs = (np.arange(2) * h) // 2, (np.arange(4) * w) // 4
    expect = px[ys][:, xs]
    assert bytes(r1.content) == b"P6\n4 2\n255\n" + expect.tobytes()
    # the resized payload is a valid P6 the pure codec re-decodes
    redec = decode_assets(
        spark.createDataFrame([(1, r1.mime, bytes(r1.content), None)], ASSET_SCHEMA),
        codec="pure",
    ).collect()[0]
    assert (redec.width, redec.height) == (4, 2)

    assert not got[2].resized and (got[2].width, got[2].height) == (2, 2)
    assert bytes(got[2].content) == bytes(rows[1][2])  # untouched
    assert not got[3].resized and got[3].width is None
    assert bytes(got[3].content) == rows[2][2]
    assert not got[4].resized and (got[4].content is None or bytes(got[4].content) == b"")


def test_streaming_count_min_matches_batch_sketch(spark, tmp_path):
    """Streamed CMS state after an availableNow drain over multi-file
    micro-batches equals the one-shot batch sketch — cell-wise
    mergeability as stream/batch equivalence."""
    from sparkdiff.functions.text import tokens
    from sparkdiff.operators.sketch import count_min_sketch
    from sparkdiff.streaming.validate import streaming_count_min

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    src = str(tmp_path / "cms_src")
    # two files -> maxFilesPerTrigger=1 gives two micro-batches
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    occ = stream.select(F.explode(tokens("text")).alias("token"))
    state = streaming_count_min(occ, d=3, w=64, salt="scms-")

    got = {}

    def record(batch_df, batch_id):
        for r in batch_df.collect():
            got[(r.r, r.b)] = r.cnt  # update mode: latest value wins

    q = (
        state.writeStream.outputMode("update")
        .foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt_cms"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = count_min_sketch(
        docs.select(F.explode(tokens("text")).alias("token")),
        d=3,
        w=64,
        salt="scms-",
    )
    expected = {(r.r, r.b): r.cnt for r in batch.collect()}
    assert got == expected and len(got) > 10


def test_streaming_hll_matches_batch_registers(spark, tmp_path):
    """Streamed HLL register state after an availableNow drain over
    multi-file micro-batches equals the one-shot batch registers (and
    therefore the same NDV estimate) — MAX-mergeability as stream/batch
    equivalence, including duplicate re-delivery across batches."""
    from sparkdiff.functions.text import tokens
    from sparkdiff.operators.sketch import hll_estimate, hll_registers
    from sparkdiff.streaming.validate import streaming_hll

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text")
    src = str(tmp_path / "hll_src")
    # two files -> two micro-batches; the odd half re-appends the first
    # 50 docs, so cross-batch DUPLICATES exercise MAX-absorption
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.filter((F.col("doc_id") % 2 == 1) | (F.col("doc_id") < 50)).coalesce(
        1
    ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    occ = stream.select(F.explode(tokens("text")).alias("token"))
    state = streaming_hll(occ, p=6, salt="shll-")

    got = {}

    def record(batch_df, batch_id):
        for r in batch_df.collect():
            got[r.bucket] = r.reg  # update mode: latest value wins

    q = (
        state.writeStream.outputMode("update")
        .foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt_hll"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_regs = hll_registers(
        docs.select(F.explode(tokens("text")).alias("token")), p=6, salt="shll-"
    )
    expected = {r.bucket: r.reg for r in batch_regs.collect()}
    assert got == expected and len(got) > 10
    # and the estimate computed from the streamed state matches batch
    est_batch = hll_estimate(batch_regs, p=6).collect()[0]
    regs_df = spark.createDataFrame(
        [(b, r) for b, r in got.items()], "bucket: long, reg: long"
    )
    est_stream = hll_estimate(regs_df, p=6).collect()[0]
    assert (est_stream.buckets_hit, est_stream.hll_ndv) == (
        est_batch.buckets_hit,
        est_batch.hll_ndv,
    )


def test_image_ahash_and_near_dup_pairs(spark):
    """aHash is a real pixel computation: a planted near-duplicate
    (same image, a few pixels nudged) lands within a few bits of its
    original and pairs with it; a structurally different image does
    not; malformed payloads hash NULL and are excluded from pairing."""
    import numpy as np

    from sparkdiff.multimodal.binaryops import image_ahash, image_near_dup_pairs

    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8)
    near = base.copy()
    near[0, 0] = [255, 255, 255]  # nudge a couple of pixels
    near[5, 3] = [0, 0, 0]
    other = 255 - base  # inverted: structurally different

    def ppm(px):
        h, w, _ = px.shape
        return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()

    assets = spark.createDataFrame(
        [
            (1, "image/x-portable-pixmap", bytearray(ppm(base))),
            (2, "image/x-portable-pixmap", bytearray(ppm(near))),
            (3, "image/x-portable-pixmap", bytearray(ppm(other))),
            (4, "application/octet-stream", bytearray(b"not an image")),
        ],
        "asset_id: long, mime: string, content: binary",
    )
    hashed = image_ahash(assets)
    rows = {r.asset_id: r for r in hashed.collect()}
    assert rows[1].ahash is not None and rows[1].width == 16
    assert rows[4].ahash is None
    # identical input -> identical hash; the inverted image flips ~all
    # threshold decisions, so it must NOT be near the base
    assert bin((rows[1].ahash ^ rows[2].ahash) & ((1 << 64) - 1)).count("1") <= 4
    assert bin((rows[1].ahash ^ rows[3].ahash) & ((1 << 64) - 1)).count("1") > 7
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in image_near_dup_pairs(hashed, max_hamming=4).collect()
    }
    assert set(pairs) == {(1, 2)}
    # determinism under repartitioning
    pairs13 = {
        (r.id_a, r.id_b): r.hamming
        for r in image_near_dup_pairs(
            image_ahash(assets.repartition(13)), max_hamming=4
        ).collect()
    }
    assert pairs13 == pairs
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_hamming"):
        image_near_dup_pairs(hashed, max_hamming=9)


def test_audio_energy_hash_and_pairing(spark):
    """The energy-envelope hash is computed from real PCM frames: a
    re-encode-with-noise copy pairs with its original within a few
    bits; a different envelope (reversed ramp) does not; non-WAV and
    sub-64-sample payloads hash NULL."""
    import wave as wave_mod
    import io
    import numpy as np

    from sparkdiff.multimodal.binaryops import audio_energy_hash
    from sparkdiff.operators.dedup import hamming_near_dup_pairs

    def wav_of(samples):
        buf = io.BytesIO()
        with wave_mod.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
        return buf.getvalue()

    rng = np.random.RandomState(3)
    n = 8000
    ramp = (np.linspace(0, 20000, n)).astype(np.int64)
    base = (ramp * np.sign(np.sin(np.arange(n)))).astype("<i2")
    noisy = (base.astype(np.int64) + rng.randint(-50, 50, n)).clip(
        -32768, 32767
    ).astype("<i2")
    reverse = base[::-1].copy()

    assets = spark.createDataFrame(
        [
            (1, "audio/wav", bytearray(wav_of(base))),
            (2, "audio/wav", bytearray(wav_of(noisy))),
            (3, "audio/wav", bytearray(wav_of(reverse))),
            (4, "application/octet-stream", bytearray(b"nope")),
            (5, "audio/wav", bytearray(wav_of(base[:10]))),  # < 64 samples
        ],
        "asset_id: long, mime: string, content: binary",
    )
    hashed = audio_energy_hash(assets)
    rows = {r.asset_id: r.audio_hash for r in hashed.collect()}
    assert rows[1] is not None and rows[4] is None and rows[5] is None
    assert bin((rows[1] ^ rows[2]) & ((1 << 64) - 1)).count("1") <= 4
    assert bin((rows[1] ^ rows[3]) & ((1 << 64) - 1)).count("1") > 7
    pairs = {
        (r.id_a, r.id_b)
        for r in hamming_near_dup_pairs(
            hashed, max_hamming=4, id_col="asset_id", hash_col="audio_hash"
        ).collect()
    }
    assert pairs == {(1, 2)}


def test_streaming_event_dedup_drops_cross_batch_redeliveries(spark, tmp_path):
    """Planted redeliveries (same event_id, one per micro-batch) admit
    exactly once across micro-batches while distinct events all pass —
    and the drained output equals batch dropDuplicates on the union."""
    from sparkdiff.streaming.validate import streaming_event_dedup

    e = load_table(spark, SF_DIR_SMALL, "events").select(
        "event_id", "ts", "event_type"
    )
    first = e.filter(F.col("event_id") % 3 == 0)
    # second batch: new events PLUS redeliveries of half the first batch
    redelivered = first.filter(F.col("event_id") % 6 == 0)
    second = e.filter(F.col("event_id") % 3 == 1).unionByName(redelivered)
    src = str(tmp_path / "dedup_src")
    first.coalesce(1).write.mode("append").parquet(src)
    second.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_event_dedup(stream, ("event_id",), "ts", "2 hours")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [r.event_id for r in spark.sql("SELECT event_id FROM dedup_out").collect()]
    assert len(got) == len(set(got)), "a redelivered event was admitted twice"
    expected = {
        r.event_id
        for r in first.select("event_id")
        .unionByName(second.select("event_id"))
        .distinct()
        .collect()
    }
    assert set(got) == expected
    assert redelivered.count() > 0  # the fixture really planted dupes


def test_video_frame_hashes_and_near_dup_pairs(spark):
    """Concatenated-P6 'videos' parse frame by frame with the shared
    aHash core: a video sharing 2 of 3 frames with another pairs
    (overlap = 2/3), disjoint videos do not, the walk stops at a
    malformed tail, and image_ahash still agrees with frame 0."""
    import numpy as np

    from sparkdiff.multimodal.binaryops import (
        image_ahash,
        video_frame_hashes,
        video_near_dup_pairs,
    )

    rng = np.random.RandomState(11)

    def frame(seed):
        r = np.random.RandomState(seed)
        px = r.randint(0, 256, size=(12, 12, 3), dtype=np.uint8)
        return b"P6\n12 12\n255\n" + px.tobytes()

    f1, f2, f3, f4, f5 = (frame(s) for s in (1, 2, 3, 4, 5))
    assets = spark.createDataFrame(
        [
            (1, "video/x-ppm-seq", bytearray(f1 + f2 + f3)),
            (2, "video/x-ppm-seq", bytearray(f2 + f3 + f4)),   # shares 2
            (3, "video/x-ppm-seq", bytearray(f5)),             # disjoint
            (4, "video/x-ppm-seq", bytearray(f1 + b"garbage")),  # bad tail
            (5, "video/x-ppm-seq", bytearray(b"nope")),        # no frames
        ],
        "asset_id: long, mime: string, content: binary",
    )
    fh = video_frame_hashes(assets)
    per = {r.asset_id: r.frame_idx for r in fh.groupBy("asset_id")
           .agg(F.max("frame_idx").alias("frame_idx")).collect()}
    assert per == {1: 2, 2: 2, 3: 0, 4: 0}  # asset 5 emits nothing
    # frame 0's hash equals image_ahash of the same bytes
    img = image_ahash(
        spark.createDataFrame(
            [(1, "image/x-ppm", bytearray(f1))],
            "asset_id: long, mime: string, content: binary",
        )
    ).first()
    v0 = fh.filter((F.col("asset_id") == 1) & (F.col("frame_idx") == 0)).first()
    assert v0.ahash == img.ahash
    pairs = {
        (r.id_a, r.id_b): (r.n_shared, r.overlap_milli)
        for r in video_near_dup_pairs(fh, min_shared=2).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] == (2, 666)  # 2 shared / min(3,3) frames


def test_streaming_expectations_matches_batch_report(spark, tmp_path):
    """Streamed expectation counters after an availableNow drain over
    two micro-batches equal the one-shot batch report over the union —
    summed-flag mergeability as stream/batch equivalence — and unique()
    checks are rejected up front."""
    import pytest as _pytest

    from sparkdiff.operators.expectations import (
        accepted_values,
        expectation_report,
        in_range,
        not_null,
        unique,
    )
    from sparkdiff.streaming.validate import streaming_expectations

    li = load_table(spark, SF_DIR_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    src = str(tmp_path / "exp_src")
    li.filter(F.col("l_orderkey") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    li.filter(F.col("l_orderkey") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    checks = [
        not_null("l_quantity"),
        in_range("l_quantity", 1, 49),
        accepted_values("l_returnflag", ["A", "N", "R"]),
    ]
    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = streaming_expectations(stream, checks)

    got = {}

    def record(batch_df, batch_id):
        for r in batch_df.collect():
            got[r.check] = (r.n_rows, r.n_violations, r.ok)

    q = (
        state.writeStream.outputMode("update")
        .foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt_exp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    expected = {
        r.check: (r.n_rows, r.n_violations, r.ok)
        for r in expectation_report(li, checks).collect()
    }
    assert got == expected and len(got) == 3
    with _pytest.raises(ValueError):
        streaming_expectations(stream, checks + [unique(["l_orderkey"])])
