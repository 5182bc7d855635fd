"""Salted-join equivalence."""

from __future__ import annotations

from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.operators.skew import salted_join
from tests.conftest import SF_DIR


def test_salted_join_equals_plain_join(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    salted = salted_join(li, o, "l_orderkey", n_salts=4)
    plain = li.join(o, "l_orderkey")
    assert salted.count() == plain.count()
    a = sorted(tuple(r) for r in salted.collect())
    b = sorted(tuple(r) for r in plain.collect())
    assert a == b
    # shuffle key carries the salt: every hot key fans out over 4 tasks
    assert "__salt" not in salted.columns

