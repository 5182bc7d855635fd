"""Semantic checks for operators/audit.py: AUC and Welch audits on
the fixture and on hand-built frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators.audit import (
    a008_welch_audit,
    a043_pairwise_auc,
    a055_k_anonymity,
)
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


def test_welch_sign_matches_mean_shift(spark):
    """t must be positive exactly when the type's mean exceeds the
    complement mean (same denominator, same ordering)."""
    res = a008_welch_audit(spark, SF_DIR).collect()
    assert len(res) >= 2
    grand_n = sum(r["n"] for r in res)
    grand_sum = sum(r["mean_value"] * r["n"] for r in res)
    for r in res:
        rest_mean = (grand_sum - r["mean_value"] * r["n"]) / (grand_n - r["n"])
        if r["t_welch"] > 0.05:
            assert r["mean_value"] > rest_mean
        elif r["t_welch"] < -0.05:
            assert r["mean_value"] < rest_mean
        assert r["df_welch"] > 0
        assert r["significant"] == (abs(r["t_welch"]) > 1.96) or (
            abs(abs(r["t_welch"]) - 1.96) < 0.01
        )


def test_k_anonymity_partitions_account_for_everyone(spark):
    rows = a055_k_anonymity(spark, SF_DIR).collect()
    assert rows
    assert abs(sum(r.pct_rows for r in rows) - 1.0) < 0.01
    for r in rows:
        assert r.n_groups <= r.n_rows, r
    # tiers come back in fixed risk order
    assert [r.tier_ord for r in rows] == sorted(r.tier_ord for r in rows)
