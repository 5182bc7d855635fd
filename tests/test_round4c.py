"""Governance/curation batch (a055–a057): numeric sanity plus the plan
shapes that keep them cheap at 100 TB."""

from __future__ import annotations

from one_stop_cdc_ingestion_toolkit_spark.operators.audit import a055_k_anonymity
from one_stop_cdc_ingestion_toolkit_spark.operators.similarity import (
    a056_hard_negatives,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.textmine import a057_vocab_coverage
from one_stop_cdc_ingestion_toolkit_spark.plans import physical_plan
from tests.conftest import SF_DIR


def test_k_anonymity_partitions_account_for_everyone(spark):
    rows = a055_k_anonymity(spark, SF_DIR).collect()
    assert rows
    assert abs(sum(r.pct_rows for r in rows) - 1.0) < 0.01
    for r in rows:
        assert r.n_groups <= r.n_rows, r
    # tiers come back in fixed risk order
    assert [r.tier_ord for r in rows] == sorted(r.tier_ord for r in rows)


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


def test_vocab_coverage_monotone(spark):
    rows = a057_vocab_coverage(spark, SF_DIR).collect()
    assert [r.vocab_size for r in rows] == [1000, 2000, 4000, 8000]
    covs = [r.coverage for r in rows]
    assert covs == sorted(covs), "coverage must grow with vocab size"
    for r in rows:
        assert 0.0 < r.coverage <= 1.0
        assert abs(r.coverage + r.oov_rate - 1.0) < 1e-6


def test_vocab_coverage_no_global_window(spark):
    """Frequency ranking must go through the distributed range-partition
    helper — no zero-partition WindowExec (VERDICT r3 #3)."""
    plan = physical_plan(a057_vocab_coverage(spark, SF_DIR))
    for line in plan.splitlines():
        if "windowspecdefinition" not in line:
            continue
        spec = line[line.index("windowspecdefinition") :]
        assert "_pid" in spec.split("specifiedwindowframe")[0], line.strip()[:160]
