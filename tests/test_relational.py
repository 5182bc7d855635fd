"""Semantic checks for operators/relational.py: variant extraction."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_variant_extract_equals_json_path(spark):
    """The VARIANT path must agree with the string get_json_object path."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.relational import (
        a017_variant_extract,
    )

    got = {
        r["event_type"]: (r["sum_k"], r["n_k"])
        for r in a017_variant_extract(spark, SF_DIR).collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("bigint")
    want = {
        r["event_type"]: (r["s"], r["n"])
        for r in ev.groupBy("event_type")
        .agg(F.sum(k).alias("s"), F.count(k).alias("n"))
        .collect()
    }
    assert got == want
