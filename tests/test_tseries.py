"""Semantic checks for operators/tseries.py: CUSUM change-point detection."""

from __future__ import annotations

from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.operators.tseries import (
    a045_cusum_changepoint,
)
from tests.conftest import SF_DIR


def test_cusum_peak_finds_level_shift(spark):
    """Synthetic series: 10 days at 10/day then 10 days at 30/day — the
    cumulative deviation from the global mean (20) peaks exactly at the
    shift boundary (day 10)."""
    import datetime

    rows = []
    eid = 0
    for day in range(20):
        n = 10 if day < 10 else 30
        for _ in range(n):
            rows.append(
                (eid, datetime.datetime(2025, 1, 1 + day), 1, "shift", 0.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string"
    )
    daily = df.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    st = daily.groupBy("event_type").agg(
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("mu")
    )
    from pyspark.sql.window import Window as W

    wsum = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cs = daily.join(st, "event_type").withColumn(
        "cusum", F.sum(F.col("cnt").cast("double") - F.col("mu")).over(wsum)
    )
    peak = cs.orderBy(F.abs("cusum").desc(), "day").first()
    assert peak["day"] == datetime.date(2025, 1, 10)
    assert peak["cusum"] == -100.0  # 10 days × (10 − 20)


def test_cusum_runs_on_fixture(spark):
    out = a045_cusum_changepoint(spark, SF_DIR).collect()
    assert len(out) > 0
    for r in out:
        assert r["n_days"] >= 1 and r["change_day"] is not None
