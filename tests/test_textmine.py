"""Semantic checks for operators/textmine.py: burstiness and conditional
entropy."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.operators.textmine import (
    BURST_TOPK,
    a046_word_burstiness,
    a048_bigram_cond_entropy,
    a057_vocab_coverage,
)
from one_stop_cdc_ingestion_toolkit_spark.plans import physical_plan
from tests.conftest import SF_DIR


def test_burstiness_closed_form(spark):
    """3 docs; word appears 4× in one doc only: s1=4, s2=16, N=3 →
    VMR = (3·16 − 16)/(3·4) = 32/12 ≈ 2.6667 — and a word appearing
    once in every doc has VMR = (3·3 − 9)/(3·3) = 0 (no dispersion)."""
    rows = [(0, "x x x x common"), (1, "common pad"), (2, "common pad2")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w = df.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    m = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("m"))
    st = {
        r["word"]: (r["s1"], r["s2"])
        for r in m.groupBy("word")
        .agg(
            F.sum("m").alias("s1"),
            F.sum(F.col("m") * F.col("m")).alias("s2"),
        )
        .collect()
    }
    n = 3
    s1, s2 = st["x"]
    assert (n * s2 - s1 * s1) / (n * s1) == (3 * 16 - 16) / 12
    s1c, s2c = st["common"]
    assert (n * s2c - s1c * s1c) / (n * s1c) == 0.0


def test_burstiness_topk_plan_and_rows(spark):
    out = a046_word_burstiness(spark, SF_DIR)
    assert len(out.collect()) <= BURST_TOPK
    assert "TakeOrderedAndProject" in physical_plan(out)


def test_cond_entropy_bounds(spark):
    """0 ≤ H(w2|w1) ≤ ln(n_bigrams); perplexity = exp(H) within round-4
    tolerance of the reported pair."""
    for r in a048_bigram_cond_entropy(spark, SF_DIR).collect():
        assert 0.0 <= r["h_cond"] <= math.log(max(r["n_bigrams"], 2))
        assert abs(r["perplexity"] - math.exp(r["h_cond"])) <= max(
            1e-3 * r["perplexity"], 1e-3
        )


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
