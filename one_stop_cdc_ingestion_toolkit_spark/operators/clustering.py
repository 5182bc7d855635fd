"""Embedding clustering: k-means (Lloyd, deterministic init) with its
silhouette and label-purity audits, and the k-center greedy coreset with
its per-label coverage.

Scale shapes:

- k-means is MLlib-style Lloyd iteration: centroids (k × dim, bounded)
  round-trip through the driver each iteration and come back as
  *literals*, so cluster assignment is a map-side projection —
  embeddings NEVER shuffle for assignment. The only per-iteration
  shuffle is the (cid, dim)-keyed partial-agg mean recompute, whose
  output is k × dim rows regardless of corpus size.
- the k-center coreset scores the corpus against the centers picked so
  far as one literal projection per round (the corpus never shuffles)
  and collects only a bounded ``KCENTER_POOL`` frontier, inside which
  the driver picks exact centers.

Cross-engine determinism: inertia and distances are a ROUND of a
bounded-drift float reduction (addend order differs between engines by
~1e-12 relative, rounded well above it); the Arrow kernels replay the
index-order left fold of the oracle's ``list_sum`` (`_duck_l2`) exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import register
from one_stop_cdc_ingestion_toolkit_spark.operators.similarity import EMB_DIM

# ---------------------------------------------------------------------------
# k-means over embeddings (a007), silhouette (a012), purity (a013)
# ---------------------------------------------------------------------------

#: k-means cluster count (e153) — init = embeddings of the k smallest
#: vec_ids, 2 Lloyd iterations (init → assign → recompute → assign).
KMEANS_K = 8
KMEANS_ITERS = 2


def _dist_grid(X, centroids):
    """n×k squared-L2 grid with the SAME addend order as `_duck_l2`'s
    ``list_sum`` (acc starts 0.0, adds (x_i−c_i)² in dimension order):
    the numpy loop runs over dimensions, so every (row, centroid)
    accumulator sees the identical IEEE-double operation sequence —
    results are bit-for-bit equal to the DuckDB fold (asserted in
    tests)."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)
    acc = np.zeros((X.shape[0], cents.shape[0]))
    for i in range(cents.shape[1]):
        diff = X[:, i, None] - cents[None, :, i]
        acc += diff * diff
    return acc


def assign_clusters(
    emb: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-side cluster assignment: adds (cid, dist) = argmin over the
    literal centroid list. No join, no shuffle; ties break to the
    smallest cid (``argmin`` takes the first minimum).

    A vectorized pandas_udf, not a struct-min over higher-order-function
    folds: Spark's higher-order functions are *interpreted* per element,
    so their k·dim work per row would dominate the whole k-means family
    (measured ~40× slower per pass at k=8, dim=64); the Arrow batch turns
    it into k·dim numpy vector ops per BATCH. Distances replay
    `_duck_l2`'s fold order (see `_dist_grid`).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cents = [list(map(float, c)) for c in centroids]

    @pandas_udf("struct<cid:int,dist:double>")
    def best_udf(vs: pd.Series) -> pd.DataFrame:
        # NULL vectors assign to (null, null) — a null embedding must
        # not kill the job
        mask = vs.isna().to_numpy()
        n = len(vs)
        cid = pd.array([None] * n, dtype="Int32")
        dist = pd.array([None] * n, dtype="Float64")
        if (~mask).any():
            idx = np.flatnonzero(~mask)
            X = np.array(
                [np.asarray(vs.iloc[i], dtype=np.float64) for i in idx]
            )
            acc = _dist_grid(X, cents)
            c = acc.argmin(axis=1)  # first min = smallest cid on ties
            cid[idx] = c.astype("int32")
            dist[idx] = acc[np.arange(len(c)), c]
        return pd.DataFrame({"cid": cid, "dist": dist})

    # materialize the struct ONCE, then project fields — guarantees a
    # single UDF evaluation per row regardless of optimizer collapse
    return (
        emb.withColumn("__b", best_udf(F.col(vec_col)))
        .withColumn("cid", F.col("__b.cid"))
        .withColumn("dist", F.col("__b.dist"))
        .drop("__b")
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """The centroid list the final Lloyd assignment uses: seeded from the
    ``k`` smallest ids, then ``iters - 1`` recomputes with each centroid
    dimension rounded to 6 places (absorbs summation-order ulp drift,
    the `label_centroids` contract).

    The driver round-trips only k × dim doubles per iteration (the MLlib
    KMeans pattern); per-iteration cluster means are ONE (cid, pos)-keyed
    partial agg whose output size is k × dim, independent of corpus size.
    """
    init_rows = (
        emb.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col).alias("v"))
        .collect()
    )
    cents = [[float(x) for x in r["v"]] for r in init_rows]
    for _ in range(iters - 1):
        mean_rows = (
            assign_clusters(emb, cents, vec_col)
            .select("cid", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("cv"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in mean_rows:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["cv"]
        # a cluster emptied mid-iteration keeps its previous centroid
        cents = [
            [by_cid[i][p] for p in range(len(cents[i]))] if i in by_cid else cents[i]
            for i in range(k)
        ]
    return cents


def kmeans_fit(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means (see `kmeans_centroids`): returns the final
    assignment frame with (cid, dist) added — a zero-shuffle projection
    against the literal centroids."""
    return assign_clusters(emb, kmeans_centroids(emb, k, iters, id_col, vec_col), vec_col)


#: the unrolled 2-iteration Lloyd CTE chain (shared by e153/e158/e159):
#: ends at a2 = (vec_id, cid, dist) final assignments and keeps d2 (the
#: full vector × centroid distance grid) visible for silhouette.
_DUCK_KMEANS_CTES = f"""emb AS (
         SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         FROM embeddings),
       init AS (
         SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS cv
         FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT {KMEANS_K})),
       d1 AS (
         SELECT vec_id, e, cid,
                list_sum(list_transform(generate_series(1, {EMB_DIM}),
                         i -> (e[i] - cv[i]) * (e[i] - cv[i]))) AS dist
         FROM emb CROSS JOIN init),
       a1 AS (
         SELECT vec_id, e, cid FROM (
           SELECT vec_id, e, cid,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn
           FROM d1) WHERE rn = 1),
       m1 AS (
         SELECT cid, i.range AS pos, ROUND(AVG(e[CAST(i.range AS INT) + 1]), 6) AS cv
         FROM a1, range(0, {EMB_DIM}) i GROUP BY 1, 2),
       c1 AS (SELECT cid, list(cv ORDER BY pos) AS cv FROM m1 GROUP BY cid),
       d2 AS (
         SELECT vec_id, a.cid,
                list_sum(list_transform(generate_series(1, {EMB_DIM}),
                         i -> (e[i] - cv[i]) * (e[i] - cv[i]))) AS dist
         FROM emb CROSS JOIN c1 a),
       a2 AS (
         SELECT vec_id, cid, dist FROM (
           SELECT vec_id, cid, dist,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn
           FROM d2) WHERE rn = 1)"""


@register(
    "a007_kmeans_clusters",
    f"""WITH {_DUCK_KMEANS_CTES}
       SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
              ROUND(SUM(dist), 3) AS inertia,
              ROUND(AVG(dist), 6) AS avg_dist
       FROM a2 GROUP BY cid ORDER BY cid""",
)
def a007_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means corpus structure audit: cluster the embedding table with
    2 deterministic Lloyd iterations (k=8, seeded from the 8 smallest
    vec_ids) and report per-cluster size, inertia (Σ squared L2 to the
    assigned centroid) and mean distance — the quick "does this corpus
    have usable structure / how unbalanced are the modes" check run
    before spending a training job, and the pruning signal for
    cluster-balanced data selection.

    Assignment is a zero-shuffle codegen projection against literal
    centroids (see `assign_clusters`); the oracle unrolls both Lloyd
    iterations as CTEs so DuckDB replays the identical arithmetic."""
    emb = tables(spark, sf_dir)["embeddings"]
    assigned = kmeans_fit(emb)
    return (
        assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.sum("dist"), 3).alias("inertia"),
            F.round(F.avg("dist"), 6).alias("avg_dist"),
        )
        .orderBy("cid")
    )


def assign_with_runnerup(
    emb: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Like `assign_clusters` but also keeps the runner-up centroid
    distance (for simplified-silhouette). Stable argsort's tie order
    equals a (dist, cid) sort since cids ascend — still a pure map-side
    projection, no join, no shuffle."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cents = [list(map(float, c)) for c in centroids]

    @pandas_udf("struct<cid:int,dist:double,dist2:double>")
    def top2_udf(vs: pd.Series) -> pd.DataFrame:
        mask = vs.isna().to_numpy()
        n = len(vs)
        cid = pd.array([None] * n, dtype="Int32")
        dist = pd.array([None] * n, dtype="Float64")
        dist2 = pd.array([None] * n, dtype="Float64")
        if (~mask).any():
            idx = np.flatnonzero(~mask)
            X = np.array(
                [np.asarray(vs.iloc[i], dtype=np.float64) for i in idx]
            )
            acc = _dist_grid(X, cents)
            order = acc.argsort(axis=1, kind="stable")
            rows = np.arange(len(order))
            cid[idx] = order[:, 0].astype("int32")
            dist[idx] = acc[rows, order[:, 0]]
            dist2[idx] = acc[rows, order[:, 1]]
        return pd.DataFrame({"cid": cid, "dist": dist, "dist2": dist2})

    return (
        emb.withColumn("__t", top2_udf(F.col(vec_col)))
        .withColumn("cid", F.col("__t.cid"))
        .withColumn("dist", F.col("__t.dist"))
        .withColumn("dist2", F.col("__t.dist2"))
        .drop("__t")
    )


@register(
    "a012_simplified_silhouette",
    f"""WITH {_DUCK_KMEANS_CTES},
       r2 AS (
         SELECT vec_id, cid, dist,
                row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) AS rn
         FROM d2),
       ab AS (
         SELECT a.vec_id, a.cid, a.dist AS da, b.dist AS db
         FROM (SELECT * FROM r2 WHERE rn = 1) a
         JOIN (SELECT * FROM r2 WHERE rn = 2) b USING (vec_id)),
       s AS (
         SELECT cid,
                CASE WHEN GREATEST(da, db) = 0 THEN 0.0
                     ELSE (db - da) / GREATEST(da, db) END AS sil
         FROM ab)
       SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
              ROUND(AVG(sil), 6) AS avg_sil,
              ROUND(MIN(sil), 6) AS min_sil
       FROM s GROUP BY cid ORDER BY cid""",
)
def a012_simplified_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette for the e153 clustering: for
    each vector, a = squared distance to its assigned centroid, b = to
    the runner-up centroid, s = (b−a)/max(a,b) ∈ [0,1] here (a ≤ b by
    construction). Clusters with low average silhouette are overlapping
    modes — merge candidates before cluster-balanced sampling trusts
    them. The simplified (centroid-based) variant is O(n·k), unlike the
    O(n²) classic, so it survives corpus scale; assignment + runner-up
    is the same zero-shuffle literal-centroid projection as e153."""
    emb = tables(spark, sf_dir)["embeddings"]
    # the exact centroid literals e153's final assignment used
    scored = assign_with_runnerup(emb, kmeans_centroids(emb))
    sil = F.when(F.greatest("dist", "dist2") == 0, F.lit(0.0)).otherwise(
        (F.col("dist2") - F.col("dist")) / F.greatest("dist", "dist2")
    )
    return (
        scored.select("cid", sil.alias("sil"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("sil"), 6).alias("avg_sil"),
            F.round(F.min("sil"), 6).alias("min_sil"),
        )
        .orderBy("cid")
    )


@register(
    "a013_cluster_purity",
    f"""WITH {_DUCK_KMEANS_CTES},
       cl AS (
         SELECT a2.cid, e.label, COUNT(*) AS c
         FROM a2 JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
       top AS (
         SELECT cid, label AS major_label, c AS major_n,
                row_number() OVER (PARTITION BY cid
                                   ORDER BY c DESC, label) AS rn
         FROM cl),
       tot AS (SELECT cid, SUM(c) AS n FROM cl GROUP BY cid)
       SELECT t.cid, CAST(tot.n AS BIGINT) AS n,
              t.major_label, CAST(t.major_n AS BIGINT) AS major_n,
              ROUND(CAST(t.major_n AS DOUBLE) / tot.n, 4) AS purity
       FROM top t JOIN tot USING (cid) WHERE rn = 1 ORDER BY cid""",
)
def a013_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster ↔ label agreement for the e153 clustering: per cluster,
    the majority ground-truth label and its purity (majority fraction).
    High purity means the unsupervised structure recovers the labels —
    the go/no-go check before using clusters as pseudo-labels or as
    strata for balanced sampling. Costs two short-key partial-agg
    shuffles ((cid,label) counts, then per-cid totals) on top of the
    zero-shuffle assignment; purity is an exact integer ratio, so the
    result is bit-identical across engines."""
    emb = tables(spark, sf_dir)["embeddings"]
    assigned = kmeans_fit(emb)
    cl = assigned.groupBy("cid", "label").agg(F.count(F.lit(1)).alias("c"))
    top = cl.groupBy("cid").agg(
        F.max_by(
            F.struct(F.col("label").alias("major_label"), F.col("c").alias("major_n")),
            F.struct(F.col("c"), (-F.col("label")).alias("nl")),
        ).alias("m"),
        F.sum("c").alias("n"),
    )
    return top.select(
        "cid",
        "n",
        F.col("m.major_label").alias("major_label"),
        F.col("m.major_n").alias("major_n"),
        F.round(F.col("m.major_n").cast("double") / F.col("n"), 4).alias("purity"),
    ).orderBy("cid")


# ---------------------------------------------------------------------------
# k-center greedy coreset (a015) and its per-label coverage (a018)
# ---------------------------------------------------------------------------

#: number of coreset centers for e161.
KCENTER_K = 8


def _duck_l2(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _kcenter_oracle(k: int = KCENTER_K) -> str:
    """Unrolled farthest-first CTE chain: p_i = the point maximizing the
    running min-distance to centers 0..i-1 (tie → smallest vec_id)."""
    ctes = [
        "emb AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)) AS e FROM embeddings)",
        "p0 AS (SELECT vec_id, e, 0.0 AS md FROM emb ORDER BY vec_id LIMIT 1)",
        f"m0 AS (SELECT emb.vec_id, emb.e, {_duck_l2('emb.e', 'p0.e')} AS md "
        "FROM emb CROSS JOIN p0)",
    ]
    for i in range(1, k):
        ctes.append(
            f"p{i} AS (SELECT vec_id, e, md FROM m{i - 1} "
            "ORDER BY md DESC, vec_id LIMIT 1)"
        )
        if i < k - 1:
            ctes.append(
                f"m{i} AS (SELECT m.vec_id, m.e, "
                f"LEAST(m.md, {_duck_l2('m.e', 'p.e')}) AS md "
                f"FROM m{i - 1} m CROSS JOIN p{i} p)"
            )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS step, vec_id, ROUND(md, 6) AS radius FROM p{i}"
        for i in range(k)
    )
    return f"WITH {', '.join(ctes)} {selects} ORDER BY step"


#: candidate-pool size for the batched farthest-first rounds. One
#: TakeOrdered job collects the top-POOL frontier (vectors included, a
#: POOL × dim-doubles collect — ~1 MB); the driver then extracts as
#: many EXACT centers from it as the certificate allows. Raise to batch
#: more picks per job on bigger corpora.
KCENTER_POOL = 2048


def _py_l2sq(a: list[float], b: list[float]) -> float:
    """Driver-side twin of `_duck_l2`: the same left fold in index order
    over IEEE doubles, so pool-local distance updates stay bit-identical
    to the distributed (and DuckDB ``list_sum``) computation."""
    acc = 0.0
    for x, y in zip(a, b):
        d = x - y
        acc += d * d
    return acc


def _kcenter_scored(base: DataFrame, centers: list[list[float]]) -> DataFrame:
    """``base`` + running min-distance ``md`` to ``centers``.

    The whole scoring expression is built as ONE SQL string handed to
    `F.expr` — a single py4j call. Building it column-by-column costs
    ~70 py4j round-trips per 64-literal centroid (measured: expression
    CONSTRUCTION, not execution, dominated the greedy loop), and a
    centers-as-broadcast-data variant pays a per-round broadcast
    exchange (~2x slower per pool job than the literal form). Float
    literals are emitted with ``repr`` (shortest round-trip — parses to
    the identical IEEE double). ``array_min`` over the per-center
    squared distances is bit-identical to the oracle's ``LEAST`` chain
    (min over doubles is exact and order-free); the inner ``aggregate``
    replays `_duck_l2`'s index-order left fold."""
    arr = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{float(x)!r}D" for x in c) + ")"
            for c in centers
        )
        + ")"
    )
    md = (
        f"array_min(transform({arr}, c -> "
        "aggregate(zip_with(e, c, (x, y) -> "
        "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, x) -> acc + x)))"
    )
    return base.select(*base.columns, F.expr(md).alias("md"))


def _kcenter_greedy(
    base: DataFrame,
) -> tuple[list[tuple[int, int, float]], list[list[float]]]:
    """EXACT farthest-first traversal (greedy k-center) with
    candidate-pool batching; returns the ``(step, vec_id, radius)``
    trace and the picked center vectors, in pick order.

    Naive GFF costs k sequential distributed jobs — pure job-latency at
    bench scale and k cluster barriers at real scale. Instead, each
    distributed round computes the running min-distance (a least() chain
    over the centers picked so far — one codegen projection, the corpus
    never shuffles) and collects only the top-KCENTER_POOL frontier via
    TakeOrderedAndProject (per-partition heaps). The driver then keeps
    picking exact centers inside the pool under this certificate: every
    point OUTSIDE the pool has md ≤ the pool's smallest collected value,
    and md is non-increasing as centers are added, so while the best
    in-pool candidate stays STRICTLY above that bound it is the global
    argmax. A tie at the bound (measure-zero for real embeddings) falls
    back to one exact distributed ``max_by`` pick, guaranteeing
    progress. Equal-md ties inside the pool break by smallest vec_id,
    same as the distributed struct ordering and the oracle's
    ``ORDER BY md DESC, vec_id``.

    At sf0.1 all k centers come from ONE pool job (3 jobs total incl.
    the seed pick); at 100 TB the certificate degrades gracefully toward
    one job per center — never MORE jobs than the naive loop, and the
    collect stays B × dim doubles regardless of corpus size."""
    first = base.orderBy("vec_id").limit(1).collect()[0]
    picked = [(0, int(first["vec_id"]), 0.0)]
    centers = [[float(x) for x in first["e"]]]

    while len(picked) < KCENTER_K:
        scored = _kcenter_scored(base, centers)
        pool_rows = (
            scored.orderBy(F.col("md").desc(), "vec_id")
            .limit(KCENTER_POOL)
            .collect()
        )
        # strictly fewer rows than requested ⇒ the pool IS the corpus
        # and the certificate always holds.
        full = len(pool_rows) < KCENTER_POOL
        pool = [
            [float(r["md"]), int(r["vec_id"]), [float(x) for x in r["e"]]]
            for r in pool_rows
        ]
        bound = None if full else pool[-1][0]
        progressed = False
        while len(picked) < KCENTER_K:
            best = max(pool, key=lambda p: (p[0], -p[1]))
            if not full and not (best[0] > bound):
                break
            picked.append((len(picked), best[1], best[0]))
            centers.append(best[2])
            progressed = True
            if len(picked) >= KCENTER_K:
                break
            for p in pool:
                d = _py_l2sq(p[2], best[2])
                if d < p[0]:
                    p[0] = d
        if not progressed:
            # boundary tie: one exact distributed pick, then re-pool.
            far = scored.agg(
                F.max_by(
                    F.struct("vec_id", "e", "md"),
                    F.struct(F.col("md"), (-F.col("vec_id")).alias("nv")),
                ).alias("p")
            ).collect()[0]["p"]
            picked.append((len(picked), int(far["vec_id"]), float(far["md"])))
            centers.append([float(x) for x in far["e"]])
    return picked, centers


@register("a015_kcenter_coreset", _kcenter_oracle())
def a015_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity coreset by farthest-first traversal (the classic
    2-approximation to k-center): start from the smallest vec_id, then
    repeatedly pick the embedding farthest (squared L2) from all chosen
    centers. The selected rows are the maximally-spread exemplars —
    the standard seed set for diverse data selection and the dual of
    density-based sampling. ``radius`` is each center's min-distance
    when chosen, a monotone non-increasing sequence whose final value
    2-approximates the optimal k-center cover radius.

    Candidate-pool batched (see `_kcenter_greedy`): distributed rounds
    collect only the exact top-KCENTER_POOL frontier and the driver
    extracts every center the certificate proves global — at this scale
    all k come from ONE pool job; the oracle unrolls the same k greedy
    rounds as CTEs, arithmetic bit-identical (no transcendentals, and
    the driver-side distance fold replays `_duck_l2`'s index-order left
    fold exactly)."""
    emb = tables(spark, sf_dir)["embeddings"]
    base = emb.select("vec_id", F.col("embedding").alias("e"))
    picked, _ = _kcenter_greedy(base)
    # VALUES literal instead of createDataFrame: one py4j call, no
    # Python->JVM data conversion job (~1s faster for a k-row result).
    rows = ", ".join(
        f"({s}, {v}, {float(round(r, 6))!r})" for s, v, r in picked
    )
    return spark.sql(
        "SELECT CAST(step AS INT) AS step, CAST(vec_id AS BIGINT) AS vec_id, "
        "CAST(radius AS DOUBLE) AS radius "
        f"FROM VALUES {rows} AS t(step, vec_id, radius) ORDER BY step"
    )


def _kcenter_cover_oracle(k: int = KCENTER_K) -> str:
    """e161's unrolled chain plus the final LEAST (m{k-1}) so every
    vector's min-distance covers ALL k centers, aggregated per label."""
    ctes = [
        "emb AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)) AS e FROM embeddings)",
        "p0 AS (SELECT vec_id, e, 0.0 AS md FROM emb ORDER BY vec_id LIMIT 1)",
        f"m0 AS (SELECT emb.vec_id, emb.e, {_duck_l2('emb.e', 'p0.e')} AS md "
        "FROM emb CROSS JOIN p0)",
    ]
    for i in range(1, k):
        ctes.append(
            f"p{i} AS (SELECT vec_id, e, md FROM m{i - 1} "
            "ORDER BY md DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"m{i} AS (SELECT m.vec_id, m.e, "
            f"LEAST(m.md, {_duck_l2('m.e', 'p.e')}) AS md "
            f"FROM m{i - 1} m CROSS JOIN p{i} p)"
        )
    return (
        f"WITH {', '.join(ctes)} "
        f"SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n, "
        f"ROUND(AVG(m.md), 6) AS avg_cover_dist, "
        f"ROUND(MAX(m.md), 6) AS max_cover_dist "
        f"FROM m{k - 1} m JOIN embeddings e USING (vec_id) "
        f"GROUP BY e.label ORDER BY e.label"
    )


@register("a018_coreset_coverage", _kcenter_cover_oracle())
def a018_coreset_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How well the e161 k-center coreset covers each label's region:
    per label, the mean and max squared distance from its embeddings to
    the nearest of the k greedy centers. A label with outsized
    ``max_cover_dist`` lives outside the coreset's reach — the signal
    to raise k or stratify selection by label before using the coreset
    as an exemplar set.

    Same candidate-pool batched traversal as e161 (shared
    `_kcenter_greedy`) to obtain the centers, then ONE codegen pass
    computes min-distance against all k literal centers (least() chain
    in pick order, exactly the oracle's m_{k-1}) and a label-keyed
    partial agg reduces it — embeddings never shuffle."""
    emb = tables(spark, sf_dir)["embeddings"]
    base = emb.select("vec_id", "label", F.col("embedding").alias("e"))
    _, centers = _kcenter_greedy(base.select("vec_id", "e"))
    cur = _kcenter_scored(base, centers)
    return (
        cur.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("md"), 6).alias("avg_cover_dist"),
            F.round(F.max("md"), 6).alias("max_cover_dist"),
        )
        .orderBy("label")
    )
