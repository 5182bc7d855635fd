"""Semantic checks for operators/profiling.py: correlation bounds and the
approximate-sketch contracts."""

from __future__ import annotations

from one_stop_cdc_ingestion_toolkit_spark.operators.profiling import (
    CORR_DIMS,
    a044_dim_correlation,
    approx_distinct_stats,
)
from tests.conftest import SF_DIR


def test_dim_correlation_shape_and_bounds(spark):
    out = a044_dim_correlation(spark, SF_DIR).collect()
    assert len(out) == CORR_DIMS * (CORR_DIMS - 1) // 2
    for r in out:
        assert 0 <= r["di"] < r["dj"] < CORR_DIMS
        assert -1.0 <= r["corr"] <= 1.0


def test_countmin_contract(spark):
    """CMS guarantees: estimate never underestimates; grid is 256
    counters whose total equals CMS_D x stream size."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.profiling import (
        CMS_TOPK,
        a019_countmin_heavy_hitters,
    )

    res = a019_countmin_heavy_hitters(spark, SF_DIR).collect()
    assert len(res) == CMS_TOPK
    for r in res:
        assert r["est_n"] >= r["true_n"]
        assert r["never_underestimates"] is True


def test_approx_distinct_within_rsd(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    row = approx_distinct_stats(li, "l_partkey", rsd=0.05).first()
    assert abs(row["approx"] - row["exact"]) <= 0.15 * row["exact"]
