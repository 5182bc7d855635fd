"""Semantic checks for the registered queries of operators/dedup.py on
the fixture: the checks that Spark ≡ DuckDB parity cannot make, namely
that both compute the intended numbers."""

from __future__ import annotations

from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
    a010_segment_dup_mass,
    a047_dedup_token_savings,
)
from tests.conftest import SF_DIR


def test_dedup_savings_conservation(spark):
    """tokens_saved ≤ tokens_total per source; summed dup docs equal
    total docs minus distinct fingerprints."""
    out = a047_dedup_token_savings(spark, SF_DIR)
    rows = out.collect()
    for r in rows:
        assert 0 <= r["tokens_saved"] <= r["tokens_total"]
        assert 0 <= r["n_dup_docs"] < r["n_docs"] + 1
    d = tables(spark, SF_DIR)["documents"]
    n_docs = d.count()
    n_fp = (
        d.select(
            F.md5(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
            ).alias("fp")
        )
        .distinct()
        .count()
    )
    assert sum(r["n_dup_docs"] for r in rows) == n_docs - n_fp


def test_segment_dup_mass_bounds(spark):
    res = a010_segment_dup_mass(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_sources = docs.select("source").distinct().count()
    assert len(res) == n_sources
    for r in res:
        assert 0 <= r["n_dup"] <= r["n_seg"]
        assert 0.0 <= r["dup_mass"] <= 1.0


def test_segment_count_matches_word_count(spark):
    """Every document contributes exactly floor(words/10) segments."""
    res = a010_segment_dup_mass(spark, SF_DIR).agg(F.sum("n_seg")).collect()[0][0]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected = docs.select(
        F.floor(F.size(F.split(F.trim("text"), r"\s+")) / 10).alias("k")
    ).agg(F.sum("k")).collect()[0][0]
    assert res == expected


def test_pagerank_mass_and_ranking(spark):
    """PR scores are positive; output is the rounded-score descending
    top-10 with doc_id tie-break."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
        PR_TOPK,
        a020_pagerank_neardup,
    )

    res = a020_pagerank_neardup(spark, SF_DIR).collect()
    assert 0 < len(res) <= PR_TOPK
    keys = [(-r["pr_milli"], r["doc_id"]) for r in res]
    assert keys == sorted(keys)
    for r in res:
        assert r["pr_milli"] > 0
        assert r["degree"] >= 1
