"""Embedding-compression audits (a051/a052/a054): numeric sanity plus
the plan shapes that keep them one-scan cheap at 100 TB."""

from __future__ import annotations

from one_stop_cdc_ingestion_toolkit_spark.operators.quantization import (
    a051_int8_quant_error,
    a052_matryoshka_recall,
    a054_jl_distortion,
)
from one_stop_cdc_ingestion_toolkit_spark.plans import physical_plan
from tests.conftest import SF_DIR


def test_int8_quant_high_fidelity(spark):
    """Symmetric int8 over 64 dims loses almost nothing: every label's
    average original-vs-dequantized cosine stays above 0.999."""
    rows = a051_int8_quant_error(spark, SF_DIR).collect()
    assert rows, "expected one row per label"
    for r in rows:
        assert r.avg_cos > 0.999, r
        assert r.min_cos <= r.avg_cos <= 1.0, r


def test_int8_quant_plan_is_scan_shaped(spark):
    """The per-dim scale vector must come back as a broadcast (1-row agg),
    never a re-shuffle of the corpus, and the quantize+cosine pass must
    not plan a CartesianProduct."""
    plan = physical_plan(a051_int8_quant_error(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_matryoshka_recall_bounds_and_single_window_shuffle(spark):
    rows = a052_matryoshka_recall(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_overlap <= 10, r  # self-match guarantees >= 1
        assert 0.0 <= r.recall <= 1.0, r
    # both row_numbers rank over the SAME q_id partitioning: the plan
    # must carry exactly one hashpartitioning(q_id) exchange, not one
    # per window.
    plan = physical_plan(a052_matryoshka_recall(spark, SF_DIR))
    n_qid_exchanges = sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning(q_id" in line.strip()
    )
    assert n_qid_exchanges == 1, plan


def test_jl_distortion_concentrates_near_one(spark):
    """JL with 16 dims is loose but must still center its mass near 1:
    every observed ratio bin lies in (0, 2) and the histogram is
    non-empty."""
    rows = a054_jl_distortion(spark, SF_DIR).collect()
    assert rows
    total = sum(r.n_pairs for r in rows)
    assert total > 0
    for r in rows:
        assert 0.0 < r.ratio_bin < 2.0, r


def test_jl_project_matches_duckdb_fold_bitwise(spark, duck):
    """The Arrow kernel and the a054 oracle's DuckDB projection CTEs must
    produce BIT-identical projections (the kernel accumulates in
    ``list_sum``'s dimension order, so this is exact equality, not
    approx). The fold-order frame makes a change of that order visible;
    the corpus rows alone sum exactly in any order."""
    import math

    from pyspark.sql import functions as F

    from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
    from one_stop_cdc_ingestion_toolkit_spark.operators.quantization import (
        _DUCK_JL_PROJ,
        _DUCK_JSIGN,
        jl_project,
    )
    from tests.conftest import fold_order_embeddings

    cases = [
        (tables(spark, SF_DIR)["embeddings"].limit(50), duck),
        fold_order_embeddings(spark),
    ]
    for emb, con in cases:
        pa = {
            r.vec_id: r.pa
            for r in emb.select(
                "vec_id", jl_project(F.col("embedding")).alias("pa")
            ).collect()
        }
        pj = dict(
            con.execute(
                f"WITH {_DUCK_JSIGN}, {_DUCK_JL_PROJ} SELECT vec_id, proj FROM proj"
            ).fetchall()
        )
        assert pa
        for vec_id, proj in pa.items():
            assert len(proj) == len(pj[vec_id])
            for x, y in zip(proj, pj[vec_id]):
                assert x == y or (math.isnan(x) and math.isnan(y)), (x, y)


def test_jl_distortion_pair_space_is_bucketed(spark):
    """Candidate pairs come from the LSH signature equi-join — the plan
    must contain a real equi-join on the signature and no
    CartesianProduct."""
    plan = physical_plan(a054_jl_distortion(spark, SF_DIR))
    assert "CartesianProduct" not in plan
