"""Semantic checks for operators/similarity.py: hard-negative mining."""

from __future__ import annotations

from one_stop_cdc_ingestion_toolkit_spark.operators.similarity import (
    a056_hard_negatives,
)
from tests.conftest import SF_DIR


def test_hard_negatives_exclude_query_label(spark):
    import collections

    from one_stop_cdc_ingestion_toolkit_spark.catalog import tables

    labels = {
        r.vec_id: r.label
        for r in tables(spark, SF_DIR)["embeddings"]
        .select("vec_id", "label")
        .collect()
    }
    rows = a056_hard_negatives(spark, SF_DIR).collect()
    assert rows
    per_q = collections.Counter(r.q_id for r in rows)
    for q, n in per_q.items():
        assert n <= 5
    for r in rows:
        assert labels[r.c_id] != labels[r.q_id], r
        assert r.c_id != r.q_id
