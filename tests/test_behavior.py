"""Semantic checks for operators/behavior.py: Markov transitions."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_markov_rows_sum_to_one(spark):
    """Each current-state row of the transition matrix is a probability
    distribution: counts per cur sum to the transition total and the
    rounded probabilities sum to ~1."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.behavior import (
        a021_markov_transitions,
    )

    res = a021_markov_transitions(spark, SF_DIR).collect()
    by_cur: dict[str, list] = {}
    for r in res:
        by_cur.setdefault(r["cur"], []).append(r)
    assert by_cur, "at least one state"
    for cur, rows in by_cur.items():
        psum = sum(r["p"] for r in rows)
        assert abs(psum - 1.0) < 0.01, f"{cur}: {psum}"
        assert all(r["n"] >= 1 for r in rows)
