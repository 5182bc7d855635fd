"""Semantic checks for operators/mixing.py: weighted sampling."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_weighted_sample_fixed_size_and_ranked(spark):
    from one_stop_cdc_ingestion_toolkit_spark.operators.mixing import (
        WSAMPLE_M,
        a014_weighted_sample,
    )

    res = a014_weighted_sample(spark, SF_DIR).collect()
    assert len(res) == min(
        WSAMPLE_M,
        spark.read.parquet(f"{SF_DIR}/documents.parquet").count(),
    )
    keys = [r["sample_key"] for r in res]
    assert keys == sorted(keys, reverse=True)
    # exponential-race keys are ln(u)/w with u in (0,1): strictly negative
    assert all(k < 0 for k in keys)
    assert len({r["doc_id"] for r in res}) == len(res), "without replacement"


def test_weighted_sample_plan_is_take_ordered(spark):
    from one_stop_cdc_ingestion_toolkit_spark.operators.mixing import (
        a014_weighted_sample,
    )
    from one_stop_cdc_ingestion_toolkit_spark.plans import uses_take_ordered

    assert uses_take_ordered(a014_weighted_sample(spark, SF_DIR))
