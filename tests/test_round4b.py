"""Semantic tests for a043–a048 (audit, profiling, tseries, textmine, dedup):
AUC on a hand-built frame with ties, correlation bounds/symmetry,
CUSUM peak on a synthetic level shift, burstiness closed-form, dedup
savings conservation, and entropy bounds — plus the plan shapes the
scale story claims (no zero-partition windows, TakeOrdered top-k)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators.audit import a043_pairwise_auc
from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
    a047_dedup_token_savings,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.profiling import (
    CORR_DIMS,
    a044_dim_correlation,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.textmine import (
    BURST_TOPK,
    a046_word_burstiness,
    a048_bigram_cond_entropy,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.tseries import (
    a045_cusum_changepoint,
)
from one_stop_cdc_ingestion_toolkit_spark.plans import physical_plan
from tests.conftest import SF_DIR


def test_auc_bounds_and_counts(spark):
    """AUC ∈ [0,1]; per-source pos+neg counts match the lang split."""
    out = {r["source"]: r for r in a043_pairwise_auc(spark, SF_DIR).collect()}
    d = tables(spark, SF_DIR)["documents"]
    split = {
        r["source"]: (r["p"], r["n"])
        for r in d.groupBy("source")
        .agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("p"),
            F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).alias("n"),
        )
        .collect()
    }
    for src, row in out.items():
        assert (row["n_pos"], row["n_neg"]) == split[src]
        assert 0.0 <= row["auc"] <= 1.0


def test_auc_closed_form_with_ties(spark):
    """Hand-built frame: pos scores {0.9, 0.5}, neg {0.5, 0.1} — U =
    1·(pos 0.9 beats both) ... exact: pairs (0.9,0.5)=1, (0.9,0.1)=1,
    (0.5,0.5)=0.5, (0.5,0.1)=1 → AUC = 3.5/4 = 0.875."""
    rows = [
        ("s", True, 0.9),
        ("s", True, 0.5),
        ("s", False, 0.5),
        ("s", False, 0.1),
    ]
    df = spark.createDataFrame(rows, "source string, pos boolean, s double")
    per = df.groupBy("source", "s").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("np"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("nn"),
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("source").orderBy("s").rowsBetween(
        W.unboundedPreceding, -1
    )
    cum = per.withColumn("below", F.coalesce(F.sum("nn").over(w), F.lit(0)))
    u = cum.agg(
        F.sum(
            F.col("np").cast("double")
            * (F.col("below").cast("double") + 0.5 * F.col("nn").cast("double"))
        )
    ).collect()[0][0]
    assert u / (2 * 2) == 0.875


def test_dim_correlation_shape_and_bounds(spark):
    out = a044_dim_correlation(spark, SF_DIR).collect()
    assert len(out) == CORR_DIMS * (CORR_DIMS - 1) // 2
    for r in out:
        assert 0 <= r["di"] < r["dj"] < CORR_DIMS
        assert -1.0 <= r["corr"] <= 1.0


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


def test_burstiness_closed_form(spark):
    """3 docs; word appears 4× in one doc only: s1=4, s2=16, N=3 →
    VMR = (3·16 − 16)/(3·4) = 32/12 ≈ 2.6667 — and a word appearing
    once in every doc has VMR = (3·3 − 9)/(3·3) = 0 (no dispersion)."""
    rows = [(0, "x x x x common"), (1, "common pad"), (2, "common pad2")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w = df.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    m = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("m"))
    st = {
        r["word"]: (r["s1"], r["s2"])
        for r in m.groupBy("word")
        .agg(
            F.sum("m").alias("s1"),
            F.sum(F.col("m") * F.col("m")).alias("s2"),
        )
        .collect()
    }
    n = 3
    s1, s2 = st["x"]
    assert (n * s2 - s1 * s1) / (n * s1) == (3 * 16 - 16) / 12
    s1c, s2c = st["common"]
    assert (n * s2c - s1c * s1c) / (n * s1c) == 0.0


def test_burstiness_topk_plan_and_rows(spark):
    out = a046_word_burstiness(spark, SF_DIR)
    assert len(out.collect()) <= BURST_TOPK
    assert "TakeOrderedAndProject" in physical_plan(out)


def test_dedup_savings_conservation(spark):
    """tokens_saved ≤ tokens_total per source; summed dup docs equal
    total docs minus distinct fingerprints."""
    out = a047_dedup_token_savings(spark, SF_DIR)
    rows = out.collect()
    for r in rows:
        assert 0 <= r["tokens_saved"] <= r["tokens_total"]
        assert 0 <= r["n_dup_docs"] < r["n_docs"] + 1
    d = tables(spark, SF_DIR)["documents"]
    n_docs = d.count()
    n_fp = (
        d.select(
            F.md5(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
            ).alias("fp")
        )
        .distinct()
        .count()
    )
    assert sum(r["n_dup_docs"] for r in rows) == n_docs - n_fp


def test_cond_entropy_bounds(spark):
    """0 ≤ H(w2|w1) ≤ ln(n_bigrams); perplexity = exp(H) within round-4
    tolerance of the reported pair."""
    for r in a048_bigram_cond_entropy(spark, SF_DIR).collect():
        assert 0.0 <= r["h_cond"] <= math.log(max(r["n_bigrams"], 2))
        assert abs(r["perplexity"] - math.exp(r["h_cond"])) <= max(
            1e-3 * r["perplexity"], 1e-3
        )


def test_no_zero_partition_windows(spark):
    """The batch's windows are all partitioned (source / event_type /
    fingerprint) — none should plan a single-partition global sort."""
    for fn in (
        a043_pairwise_auc,
        a045_cusum_changepoint,
        a047_dedup_token_savings,
    ):
        plan = physical_plan(fn(spark, SF_DIR))
        assert "SinglePartition" not in plan, fn.__name__
