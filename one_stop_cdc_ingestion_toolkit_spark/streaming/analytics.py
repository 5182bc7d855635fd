"""Streaming analytics over event streams: tumbling/sliding windows,
session windows, stateful dedup — each with an exact batch twin
(SURVEY §2.3: streaming ops are verified by batch equivalence).

The fixtures' ``events.ts`` is a µs TIMESTAMP (legacy fixtures shipped
ns-since-epoch longs; ``catalog.py`` normalizes those). :func:`event_time`
adapts to either representation so ad-hoc DataFrames and file-source
streams work regardless of how ``ts`` arrives.

Scale posture: watermark + windowed aggregation is incremental state in
the state store (keyed by window × group), so a 100 TB/day stream holds
state proportional to open windows only; ``dropDuplicates`` with a
watermark bounds dedup state the same way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def event_time(df: DataFrame, col: str = "ts") -> Column:
    """Event-time column of ``df`` as µs TIMESTAMP (named ``ts_ev``).

    Adaptive: a long ``ts`` is treated as ns-since-epoch (legacy fixture
    encoding) and truncated to µs; a TIMESTAMP_NTZ ``ts`` (current
    fixtures) is cast to TIMESTAMP — watermarks and window operators
    require the zoned type, and the session pins UTC so the cast is an
    exact wall-clock identity. Outputs cast back to NTZ (see
    :func:`wall_clock`) so batch results keep the oracle's wall-clock type.
    """
    dt = dict(df.dtypes).get(col)
    if dt in ("bigint", "long"):
        return F.timestamp_micros(F.expr(f"{col} div 1000")).alias("ts_ev")
    if dt == "timestamp_ntz":
        return F.col(col).cast("timestamp").alias("ts_ev")
    return F.col(col).alias("ts_ev")


def wall_clock(c: Column | str) -> Column:
    """Zoned µs timestamp → wall-clock (NTZ) output type. Exact under the
    session's pinned UTC; keeps engine output types oracle-invariant."""
    return (c if isinstance(c, Column) else F.col(c)).cast("timestamp_ntz")


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Per-(window, event_type) counts + value sums; works identically on a
    batch DataFrame and a watermarked stream (append mode after close)."""
    return (
        events.withColumn("ts_ev", event_time(events))
        .groupBy(F.window("ts_ev", width).alias("w"), "event_type")
        # DECIMAL sum: order-independent exact arithmetic, so batch, stream
        # and the DuckDB oracle agree bit-for-bit regardless of merge order.
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("v"),
        )
        .select(
            wall_clock("w.start").alias("w_start"),
            "event_type",
            "n",
            "v",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    return (
        events.withColumn("ts_ev", event_time(events))
        .groupBy(F.window("ts_ev", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(wall_clock("w.start").alias("w_start"), "event_type", "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based session windows per user (native session_window operator —
    the streaming twin of the Q40 batch sessionization)."""
    return (
        events.withColumn("ts_ev", event_time(events))
        .groupBy(F.session_window("ts_ev", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            wall_clock("w.start").alias("s_start"),
            wall_clock("w.end").alias("s_end"),
            "user_id",
            "n_events",
        )
    )


def stream_of(spark, parquet_path: str, schema) -> DataFrame:
    """Replay a parquet file as a file-source stream (test/backfill aid)."""
    return spark.readStream.schema(schema).format("parquet").load(parquet_path)


def watermarked(df: DataFrame, delay: str = "10 minutes") -> DataFrame:
    return df.withColumn("ts_ev", event_time(df)).withWatermark("ts_ev", delay)


def dedup_stream(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Stateful exact dedup by (event_id, event time) with bounded state.

    The event-time column MUST be in the dedup subset: streaming
    ``dropDuplicates`` only evicts state for keys whose watermark column
    is part of the key — dedup on ``["event_id"]`` alone keeps every id
    ever seen in the state store FOREVER despite the watermark (the
    exact unbounded-state trap ``dropDuplicatesWithinWatermark`` was
    added to fix; review r7). With the pair key, state for event times
    older than the watermark is dropped.

    Semantics: drops exact redeliveries (same id, same event time — the
    at-least-once case, where duplicates are byte-identical records).
    The same id at a DIFFERENT event time is treated as a new event.
    For first-seen-wins dedup across differing timestamps within a lag
    window, use :func:`dedup_stream_within`. Batch twin:
    ``dropDuplicates`` / SELECT DISTINCT over the same pair."""
    return watermarked(events, delay).dropDuplicates(["event_id", "ts_ev"])


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    delay: str = "10 minutes",
    within: str = "30 minutes",
) -> DataFrame:
    """Stream-stream (or batch-batch — same code path) event-time interval
    join: pair each left event with right events for the same ``key``
    whose event time falls in ``[left_ts, left_ts + within]`` — the
    click→conversion attribution shape.

    Both sides are watermarked, and the join condition bounds event-time
    distance in BOTH directions, so Structured Streaming can expire
    buffered rows: state per side is ~(watermark delay + interval) of
    input, independent of total stream length. The join itself shuffles
    on the equi-key only; the interval predicate is evaluated post-match.
    """
    l = left.withColumn("ts_l", event_time(left)).select(
        F.col(key).alias("lk"),
        F.col("event_id").alias("l_id"),
        "ts_l",
    )
    r = right.withColumn("ts_r", event_time(right)).select(
        F.col(key).alias("rk"),
        F.col("event_id").alias("r_id"),
        "ts_r",
    )
    if delay:  # streaming state bound; harmless no-op semantics on batch
        l = l.withWatermark("ts_l", delay)
        r = r.withWatermark("ts_r", delay)
    # the interval bound must live IN the join condition (not a post-join
    # filter) for the streaming planner to derive a state watermark
    cond = (
        (F.col("lk") == F.col("rk"))
        & (F.col("ts_r") >= F.col("ts_l"))
        & (F.col("ts_r") <= F.col("ts_l") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond).select(
        F.col("lk").alias(key),
        "l_id",
        "r_id",
        wall_clock("ts_l").alias("ts_l"),
        wall_clock("ts_r").alias("ts_r"),
    )


def dedup_stream_within(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Exact dedup for duplicates that arrive WITHIN ``delay`` of each
    other (``dropDuplicatesWithinWatermark``): state for a key is
    dropped ``delay`` after it was FIRST seen, so total state is bounded
    by the redelivery window alone — unlike :func:`dedup_stream`, whose
    per-key state lives until the key's event time passes the watermark.
    The right tool when duplicates come from at-least-once redelivery
    (bounded lag) rather than event-time disorder; batch twin is the
    same ``SELECT DISTINCT``."""
    return watermarked(events, delay).dropDuplicatesWithinWatermark(["event_id"])

