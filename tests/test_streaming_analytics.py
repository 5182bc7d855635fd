"""Batch-equivalence tests for streaming analytics (SURVEY §5.2.5):
each streaming operator replayed as a stream over the events fixture must
equal its batch twin exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.streaming.analytics import (
    dedup_stream,
    session_counts,
    sliding_counts,
    stream_of,
    tumbling_counts,
    watermarked,
)
from tests.conftest import SF_DIR

EVENTS = f"{SF_DIR}/events.parquet"


@pytest.fixture(scope="module")
def events_schema(spark):
    return spark.read.parquet(EVENTS).schema


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """File-stream sources need a DIRECTORY; symlink the single-file fixture."""
    d = tmp_path_factory.mktemp("events_stream")
    (d / "events.parquet").symlink_to(EVENTS)
    return str(d)


def _run_stream(spark, make_query, events_schema, events_dir, name):
    stream = stream_of(spark, events_dir, events_schema)
    q = (
        make_query(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        return spark.sql(f"SELECT * FROM {name}")
    finally:
        q.stop()


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_tumbling_equivalence(spark, events_schema, events_dir):
    batch = tumbling_counts(spark.read.parquet(EVENTS))
    streamed = _run_stream(spark, tumbling_counts, events_schema, events_dir, "tumbling_out")
    assert _rows(streamed, "w_start", "event_type") == _rows(
        batch, "w_start", "event_type"
    )


def test_sliding_equivalence(spark, events_schema, events_dir):
    batch = sliding_counts(spark.read.parquet(EVENTS))
    streamed = _run_stream(spark, sliding_counts, events_schema, events_dir, "sliding_out")
    assert _rows(streamed, "w_start", "event_type") == _rows(
        batch, "w_start", "event_type"
    )


def test_session_window_equivalence(spark, events_schema, events_dir):
    batch = session_counts(spark.read.parquet(EVENTS))
    streamed = _run_stream(spark, session_counts, events_schema, events_dir, "session_out")
    assert _rows(streamed, "user_id", "s_start") == _rows(batch, "user_id", "s_start")


def test_session_matches_q40_gap_logic(spark):
    """session_window(30 min) must produce the same per-user session count
    as the Q40 LAG-based batch sessionization."""
    ev = spark.read.parquet(EVENTS)
    sw = (
        session_counts(ev, "30 minutes")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    from one_stop_cdc_ingestion_toolkit_spark.operators.relational import (
        q40_sessionization,
    )

    q40 = q40_sessionization(spark, SF_DIR)
    assert _rows(sw, "user_id") == _rows(q40, "user_id")


def test_dedup_stream_equivalence(spark, events_schema, events_dir):
    """Watermarked dropDuplicates == batch distinct on event_id."""
    stream = stream_of(spark, events_dir, events_schema)
    q = (
        dedup_stream(stream)
        .select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = spark.sql("SELECT event_id FROM dedup_out")
        batch = spark.read.parquet(EVENTS).select("event_id").distinct()
        assert _rows(streamed, "event_id") == _rows(batch, "event_id")
    finally:
        q.stop()


def test_watermark_is_set(spark, events_schema, events_dir):
    stream = stream_of(spark, events_dir, events_schema)
    wm = watermarked(stream, "10 minutes")
    assert wm.isStreaming


def test_interval_join_stream_equals_batch(spark, events_schema, events_dir):
    """Stream-stream interval join (click→conversion attribution shape)
    must emit exactly the rows of the identical batch-batch join."""
    from one_stop_cdc_ingestion_toolkit_spark.streaming.analytics import interval_join

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    ls, rs = split(stream_of(spark, events_dir, events_schema))
    q = (
        interval_join(ls, rs)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_out")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = spark.sql("SELECT * FROM ij_out")
        lb, rb = split(spark.read.parquet(EVENTS))
        batch = interval_join(lb, rb, delay=None)
        assert _rows(streamed, "l_id", "r_id") == _rows(batch, "l_id", "r_id")
        assert len(streamed.collect()) > 0  # the join genuinely matched
    finally:
        q.stop()


def test_late_event_dropped_by_watermark(spark, events_schema, tmp_path):
    """An event older than the advanced watermark must NOT enter the
    windowed aggregate (append mode): batch 1 advances event time, batch 2
    delivers a too-late row."""
    import shutil
    from pyspark.sql import Row

    src = tmp_path / "late_stream"
    src.mkdir()
    ev = spark.read.parquet(EVENTS)
    first = ev.orderBy("ts").limit(1).collect()[0]
    t0 = first["ts"]  # naive datetime (µs TIMESTAMP fixture)
    from datetime import timedelta

    hour = timedelta(hours=1)
    tick = timedelta(milliseconds=1)

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema=events_schema).coalesce(1).write.parquet(
            str(tmp_path / name)
        )
        for i, f in enumerate((tmp_path / name).glob("*.parquet")):
            shutil.copy(f, src / f"{name}-{i}.parquet")

    def row(eid, ts):
        return Row(
            event_id=eid, ts=ts, user_id=1, event_type="click", value=1.0,
            props="{}",
        )

    # batch 1: two on-time events far apart -> watermark advances to
    # (t0+5h) - 10min
    write_batch("b1", [row(900001, t0), row(900002, t0 + 5 * hour)])
    stream = (
        spark.readStream.schema(events_schema)
        .parquet(str(src))
        .where("event_id >= 900000")
    )
    agg = (
        watermarked(stream, "10 minutes")
        .groupBy(F.window("ts_ev", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a late event in the t0 window (already closed)
        write_batch("b2", [row(900003, t0 + tick)])
        q.processAllAvailable()
        # one more on-time event to flush closed windows
        write_batch("b3", [row(900004, t0 + 6 * hour)])
        q.processAllAvailable()
        got = {
            (r["w_start"], r["n"])
            for r in spark.sql("SELECT * FROM late_out").collect()
        }
        batch_equiv = tumbling_counts(
            spark.read.parquet(str(src)).where("event_id >= 900000")
        ).collect()
        # batch (no watermark) counts 2 in the t0 window; the stream must
        # have dropped the late 900003, closing every window with n=1
        stream_counts = sorted(n for _, n in got)
        batch_counts = sorted(r["n"] for r in batch_equiv)
        assert batch_counts.count(2) == 1  # t0 window has 2 in batch
        assert 2 not in stream_counts  # but the stream dropped the late row
    finally:
        q.stop()


def test_dedup_within_watermark_equivalence(spark, events_schema, events_dir):
    """dropDuplicatesWithinWatermark == batch distinct when all
    duplicates arrive inside the redelivery window (single batch here)."""
    from one_stop_cdc_ingestion_toolkit_spark.streaming.analytics import (
        dedup_stream_within,
    )

    stream = stream_of(spark, events_dir, events_schema)
    q = (
        dedup_stream_within(stream)
        .select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_within_out")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = spark.sql("SELECT event_id FROM dedup_within_out")
        batch = spark.read.parquet(EVENTS).select("event_id").distinct()
        assert _rows(streamed, "event_id") == _rows(batch, "event_id")
    finally:
        q.stop()
