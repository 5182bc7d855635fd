"""Semantic checks for the registered queries of operators/dedup.py on
the fixture: the checks that Spark ≡ DuckDB parity cannot make, namely
that both compute the intended numbers."""

from __future__ import annotations

from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
    CL_MIN_SHARED,
    a010_segment_dup_mass,
    a047_dedup_token_savings,
    a0003_crosslang_dups,
    a0004_phash_dedup,
    a0005_kmv_overlap,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.multimodal import PNG_H, PNG_W
from tests.conftest import SF_DIR, docs_dir


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


def test_phash_groups_same_raster(spark, tmp_path):
    # Docs 1/2 share their first 96 chars (identical raster -> same
    # aHash, one group of 2); doc 3's raster has a different bit
    # pattern; doc 4 is uniform (hash 0) but alone, so no group.
    n = PNG_W * PNG_H * 3
    img_a = "".join(chr(32 + (j % 64)) for j in range(n))
    img_b = "".join(chr(32 + ((j * 7) % 59)) for j in range(n))
    rows = [
        (1, img_a + " tail one", "en", "s", 0),
        (2, img_a + " different tail", "de", "s", 0),
        (3, img_b, "en", "s", 0),
        (4, "Q" * n, "en", "s", 0),
    ]
    out = a0004_phash_dedup(spark, docs_dir(spark, tmp_path, rows)).collect()
    assert len(out) == 1
    assert (out[0]["n_docs"], out[0]["min_doc"]) == (2, 1)


def test_kmv_overlap_extremes(spark, tmp_path):
    # srcA and srcB hold identical text (jaccard 1.0 exactly, estimate
    # exact because the sets fit the sketch); srcC is disjoint (0.0).
    ta = " ".join(f"t{i}" for i in range(30))
    tc = " ".join(f"u{i}" for i in range(30))
    rows = [
        (1, ta, "en", "srcA", 0),
        (2, ta, "en", "srcB", 0),
        (3, tc, "en", "srcC", 0),
    ]
    out = {
        (r["src_a"], r["src_b"]): r
        for r in a0005_kmv_overlap(spark, docs_dir(spark, tmp_path, rows)).collect()
    }
    ab = out[("srcA", "srcB")]
    assert (ab["j_est"], ab["j_exact"], ab["ok"]) == (1.0, 1.0, True)
    ac = out[("srcA", "srcC")]
    assert (ac["j_est"], ac["j_exact"], ac["ok"]) == (0.0, 0.0, True)
    assert len(out) == 3


def test_crosslang_excludes_same_lang_pairs(spark, tmp_path):
    # Docs 1/2 are identical text with DIFFERENT langs (must pair);
    # docs 3/4 identical text with the SAME lang (must not appear);
    # doc 5 shares nothing.
    dup = " ".join(f"t{i}" for i in range(CL_MIN_SHARED + 3))
    other = " ".join(f"u{i}" for i in range(CL_MIN_SHARED + 3))
    rows = [
        (1, dup, "en", "s", 0),
        (2, dup, "de", "s", 0),
        (3, other, "fr", "s", 0),
        (4, other, "fr", "s", 0),
        (5, "x y z a b c d e f", "zh", "s", 0),
    ]
    out = a0003_crosslang_dups(spark, docs_dir(spark, tmp_path, rows)).collect()
    assert [(r["lang_lo"], r["lang_hi"], r["n_pairs"]) for r in out] == [
        ("de", "en", 1)
    ]
    # 8 words -> 6 distinct 3-word shingles shared
    assert out[0]["max_shared"] == CL_MIN_SHARED + 1


def test_crosslang_and_kmv_oracles_survive_whitespace_and_case(spark, tmp_path):
    """Lock in the split/lower conventions (code-review finding): the
    a0003/a0005 oracles must hash-match Spark on text with tabs,
    double spaces, and mixed case — not only on the single-space
    lowercase fixture."""
    import duckdb

    import __spark_entry__ as entry_mod
    from one_stop_cdc_ingestion_toolkit_spark.oracle import compare

    dup = "Alpha  Beta\tGamma delta EPSILON zeta eta theta"
    rows = [
        (1, dup, "en", "srcA", 0),
        (2, dup.lower(), "de", "srcB", 0),
        (3, "other  words\tentirely distinct here now ok fine", "fr", "srcA", 0),
    ]
    d = docs_dir(spark, tmp_path, rows)
    con = duckdb.connect()
    # Spark writes a directory of part files; DuckDB needs the glob
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    oracles = entry_mod.oracle_sql()
    for name, fn in [
        ("a0003_crosslang_dups", a0003_crosslang_dups),
        ("a0005_kmv_overlap", a0005_kmv_overlap),
    ]:
        sdf = fn(spark, d)
        srows = [tuple(r) for r in sdf.collect()]
        res = con.execute(oracles[name])
        problems = compare(
            sdf.columns, srows, [c[0] for c in res.description], res.fetchall()
        )
        assert not problems, f"{name}: {problems}"
    # the mixed-case duplicate pair must actually be FOUND cross-lang
    out = a0003_crosslang_dups(spark, d).collect()
    assert [(r["lang_lo"], r["lang_hi"], r["n_pairs"]) for r in out] == [
        ("de", "en", 1)
    ]
