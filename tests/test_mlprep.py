"""Tests for the round-3 ML-data-prep batch (operators/mlprep.py):
split-disjointness, NTILE balance, confusion-matrix conservation, and the
plan shapes the 100 TB story depends on (broadcast centroids, no window
in the classify path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators.mlprep import (
    a009_ece_calibration,
    a109_bigram_logprob,
    a110_centroid_classify,
    a112_group_split,
    a113_perplexity_buckets,
    doc_bigram_logprob,
    group_split,
    label_centroids,
)
from one_stop_cdc_ingestion_toolkit_spark.plans import physical_plan
from tests.conftest import SF_DIR


def test_group_split_is_group_disjoint(spark):
    """Every user lands in exactly one split — the leakage guarantee."""
    ev = tables(spark, SF_DIR)["events"]
    n_multi = (
        ev.withColumn("split", group_split(F.col("user_id")))
        .groupBy("user_id")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert n_multi == 0


def test_group_split_covers_all_rows(spark):
    ev = tables(spark, SF_DIR)["events"]
    out = a112_group_split(spark, SF_DIR)
    assert out.agg(F.sum("n_events")).collect()[0][0] == ev.count()
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}
    assert "train" in splits


def test_perplexity_buckets_balanced(spark):
    """NTILE(3) bucket sizes within a language differ by at most 1."""
    out = a113_perplexity_buckets(spark, SF_DIR).collect()
    by_lang: dict[str, list[int]] = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r["n_docs"])
    for lang, counts in by_lang.items():
        assert len(counts) == 3, lang
        assert max(counts) - min(counts) <= 1, (lang, counts)


def test_bigram_logprob_negative_and_bounded(spark):
    """MLE log-probs are <= 0; a doc of all-unique bigrams still gets
    lp <= 0 (p <= 1 always)."""
    docs = tables(spark, SF_DIR)["documents"]
    lp = doc_bigram_logprob(docs)
    assert lp.filter(F.col("lp") > 1e-12).count() == 0


def test_centroid_classify_conserves_vectors(spark):
    emb = tables(spark, SF_DIR)["embeddings"]
    out = a110_centroid_classify(spark, SF_DIR)
    assert out.agg(F.sum("n")).collect()[0][0] == emb.count()
    labels = {r["label"] for r in emb.select("label").distinct().collect()}
    preds = {r["pred"] for r in out.select("pred").distinct().collect()}
    assert preds <= labels


def test_centroids_match_manual_average(spark):
    emb = tables(spark, SF_DIR)["embeddings"]
    cent = {r["label"]: r["cent_vec"] for r in label_centroids(emb).collect()}
    one = emb.filter(F.col("label") == sorted(cent)[0])
    vecs = [r["embedding"] for r in one.collect()]
    import math

    dim0 = round(sum(float(v[0]) for v in vecs) / len(vecs), 6)
    assert math.isclose(cent[sorted(cent)[0]][0], dim0, abs_tol=1e-9)


def test_classify_plan_broadcasts_and_avoids_window(spark):
    """Centroids must broadcast and the argmax must be an aggregate
    (partial max_by), not a window — the shape that never shuffles an
    embedding at 100 TB."""
    plan = physical_plan(a110_centroid_classify(spark, SF_DIR))
    assert "Broadcast" in plan
    assert "Window" not in plan
    assert "max_by" in plan


def test_lm_score_plan_partial_aggregates(spark):
    """The per-(lang) aggregation must show map-side partial aggregation."""
    plan = physical_plan(a109_bigram_logprob(spark, SF_DIR))
    assert "partial_avg" in plan or "partial_" in plan


def test_session_assembly_matches_q40_counts(spark):
    """Sessions assembled by a114 must be exactly q40's sessions: same
    per-user session count."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.mlprep import (
        a114_session_assembly,
    )
    from one_stop_cdc_ingestion_toolkit_spark.operators.relational import (
        q40_sessionization,
    )

    a = {
        r["user_id"]: r["n"]
        for r in a114_session_assembly(spark, SF_DIR)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    b = {r["user_id"]: r["n_sessions"] for r in q40_sessionization(spark, SF_DIR).collect()}
    assert a == b


def test_session_turns_sum_to_events(spark):
    from one_stop_cdc_ingestion_toolkit_spark.operators.mlprep import (
        a114_session_assembly,
    )

    ev = tables(spark, SF_DIR)["events"]
    total = (
        a114_session_assembly(spark, SF_DIR).agg(F.sum("n_turns")).collect()[0][0]
    )
    assert total == ev.count()


def test_contamination_coverage_bounds(spark):
    from one_stop_cdc_ingestion_toolkit_spark.operators.mlprep import (
        a115_contamination_coverage,
    )

    r = a115_contamination_coverage(spark, SF_DIR).collect()[0]
    assert 0 <= r["n_found"] <= r["n_eval_grams"]
    assert 0.0 <= r["coverage"] <= 1.0


def test_coverage_plan_probes_in_kernel(spark):
    """r11 shape (guide §4.2; r10 used a broadcast LeftSemi): the corpus
    gram probe runs inside an Arrow kernel that emits only eval-gram
    hits — the plan must show the MapInArrow stage, no join of any kind,
    no corpus-wide flag fold, and both pushed doc_id predicates (eval
    side < 5, corpus side >= 5) reaching their parquet scans."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.mlprep import (
        a115_contamination_coverage,
    )

    plan = physical_plan(a115_contamination_coverage(spark, SF_DIR))
    assert "MapInArrow" in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin"):
        assert node not in plan, node
    # no corpus-wide flag fold anymore: presence comes from the kernel
    assert "partial_max" not in plan
    squashed = plan.replace(" ", "")
    assert "LessThan(doc_id,5)" in squashed
    assert "GreaterThanOrEqual(doc_id,5)" in squashed


def test_rolling_anomaly_excludes_current_hour(spark):
    """A constant-rate synthetic stream has no |z|>2 anomalies; the frame
    must not include the scored row itself (sd would be 0 anyway)."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.mlprep import (
        a116_rolling_anomaly,
    )

    out = a116_rolling_anomaly(spark, SF_DIR)
    # every reported row really deviates: |z| > 2 by construction
    assert out.filter(F.abs(F.col("z")) <= 2).count() == 0


def test_ece_bins_bounded(spark):
    res = a009_ece_calibration(spark, SF_DIR).collect()
    assert res, "at least one confidence bin"
    for r in res:
        assert -10 <= r["bin"] <= 9
        assert 0.0 <= r["accuracy"] <= 1.0
        assert r["gap"] >= 0.0
        # gap is |accuracy - bin_mid| on the rounded values
        assert abs(r["gap"] - round(abs(r["accuracy"] - r["bin_mid"]), 4)) < 1e-9


def test_label_margin_matrix_shape(spark):
    from one_stop_cdc_ingestion_toolkit_spark.operators.mlprep import (
        a011_label_margin_matrix,
    )

    res = a011_label_margin_matrix(spark, SF_DIR).collect()
    labels = {
        r["label"]
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("label").distinct().collect()
    }
    k = len(labels)
    assert len(res) == k * (k - 1) // 2
    for r in res:
        assert r["label_a"] < r["label_b"]
        assert -1.0 <= r["cos_sim"] <= 1.0
