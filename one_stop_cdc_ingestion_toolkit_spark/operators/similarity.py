"""Similarity search over embedding columns (``array<float>``).

North-star operator family (BASELINE.json): brute-force cosine top-k as
the correctness baseline, and an LSH-bucketed variant as the scale path.
Built on them: the kNN-graph degree audit (a003) and hard-negative
mining (a0056).

Design for 100 TB:
- The query side is expected small → broadcast it; the corpus streams.
- Dot products run JVM-side via higher-order functions (``zip_with`` +
  ``aggregate``), never a Python row UDF. Elements are cast to double and
  folded left-to-right so the arithmetic is reproducible bit-for-bit in
  the DuckDB oracle (same fold order).
- The ANN variant hashes vectors to sign-bit buckets of MD5-derived
  pseudo-random hyperplanes — deterministic and engine-neutral, so even
  the ANN path is oracle-checkable. Bucketing turns the all-pairs join
  into a per-bucket join (shuffle key = signature).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import register, track_cache

EMB_DIM = 64
LSH_PLANES = 8  # sign bits per signature


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product: sum_i double(a_i)*double(b_i).

    Deliberately the ``zip_with``+``aggregate`` HOF fold, NOT an unrolled
    flat ``a[0]*b[0] + …`` expression: measured at sf0.1, the 128-term
    getItem chain is 4-10x SLOWER (the giant expression tree defeats
    codegen/subexpression-elimination; every getItem re-walks the array
    value), while the HOF fold evaluates each element once in a tight
    loop. Fold order is left-to-right seeded 0.0 — the exact order the
    DuckDB oracle's list_sum uses, so results are bit-identical."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_hoisted(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Per-pair cosine with the norms pre-hoisted to once-per-ROW columns
    (r8, VERDICT r7 ask #1). ``cosine()`` re-folds BOTH self-dot-products
    inside every pair evaluation — O(pairs) norm folds; computing
    ``norm()`` into a column on each join side before the pair join makes
    it O(rows). Bit-identical: the fold is the same left-to-right HOF sum,
    and IEEE multiplication/division see the exact same doubles (the
    ``ivf_assign`` hoist proved parity for this rewrite in r5)."""
    return dot(a, b) / (na * nb)


def cosine_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
) -> DataFrame:
    """Brute-force top-k: broadcast queries × corpus, window top-k per query.

    Returns (q_id, c_id, sim) with sim rounded to 6 places; ranking uses
    the unrounded cosine with c_id tie-break for determinism.
    """
    # norms hoisted to once-per-row (see cosine_hoisted): the corpus-side
    # self-fold runs once per corpus row, not once per (query, corpus) pair
    qn = queries_df.withColumn("__qn", norm(F.col(q_vec)))
    cn = corpus_df.withColumn("__cn", norm(F.col(c_vec)))
    joined = cn.crossJoin(F.broadcast(qn)).withColumn(
        "__cos",
        cosine_hoisted(F.col(q_vec), F.col(c_vec), F.col("__qn"), F.col("__cn")),
    )
    w = W.partitionBy(q_id).orderBy(F.col("__cos").desc(), F.col(c_id))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(q_id, c_id, F.round("__cos", 6).alias("sim"), "rn")
    )


def _plane_signs(n_planes: int = LSH_PLANES, dim: int = EMB_DIM) -> list[list[float]]:
    """The (constant) hyperplane sign matrix: plane p component i is +1 if
    the first hex digit of md5('p:i') is < '8' else -1. Computed ONCE
    driver-side — hashlib produces the exact digests the DuckDB oracle
    derives with its own md5(), so parity is preserved while the per-row
    work drops from 512 md5 calls to 64x8 multiply-adds."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0] < "8" else -1.0
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def lsh_signature(
    vec: Column,
    n_planes: int = LSH_PLANES,
    dim: int = EMB_DIM,
) -> Column:
    """Sign-bit signature against MD5-derived hyperplanes (string of sign
    bits of plane.vec).

    A vectorized pandas_udf: n_planes interpreted HOF folds (each
    element evaluation walks an expression tree) would dominate every
    LSH consumer; the kernel is one multiply-add per (row, plane, dim)
    in C. Its numpy loop runs over dimensions in ``list_sum``'s
    left-to-right order, so every projection sees the identical IEEE
    operation sequence as the oracle's `_duck_signature` (asserted by a
    bit-equality test).

    Null-vector edge: a null vector emits a NULL signature (the row
    drops out of bucket equi-joins) rather than an all-"0" signature —
    a REAL bucket that would collect every null vector.

    Degenerate-element contract (review r7): a projection that is NaN or
    NULL (a null/NaN element inside the vector) and a vector of the
    WRONG dimension both emit "0" bits — deterministic, and a ragged
    vector does not crash the kernel.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = _plane_signs(n_planes, dim)

    @pandas_udf("string")
    def sig_udf(vs: pd.Series) -> pd.Series:
        P = np.asarray(planes, dtype=np.float64)  # p × d
        zero_sig = "0" * P.shape[0]
        null_mask = vs.isna()
        sigs: dict[int, str] = {}
        if (~null_mask).any():
            idx = np.flatnonzero(~null_mask.to_numpy())
            rows = []
            for i in idx:
                r = np.asarray(vs.iloc[i], dtype=np.float64)
                if r.shape == (P.shape[1],):
                    rows.append((int(i), r))
                else:  # ragged/wrong-dim: all-"0"
                    sigs[int(i)] = zero_sig
            if rows:
                X = np.stack([r for _, r in rows])
                # dimension-order fold == list_sum's left-to-right sum
                acc = np.zeros((X.shape[0], P.shape[0]))
                for i in range(P.shape[1]):
                    acc += X[:, i, None] * P[None, :, i]
                # NaN proj (null/NaN element): numpy NaN >= 0 is False
                # -> "0"
                for k, (ri, _) in enumerate(rows):
                    sigs[ri] = "".join("1" if v >= 0 else "0" for v in acc[k])
        out = [sigs.get(i) for i in range(len(vs))]  # None for null vecs
        return pd.Series(out)

    return sig_udf(vec)


def ann_lsh_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
) -> DataFrame:
    """ANN top-k restricted to the query's LSH bucket (recall < 1 by design).

    Shuffle key is the signature → per-bucket joins only; at 100 TB the
    corpus signature pass is one projection scan, and buckets are
    independently parallel.
    """
    qs = queries_df.withColumn("__sig", lsh_signature(F.col(q_vec))).withColumn(
        "__qn", norm(F.col(q_vec))
    )
    cs = corpus_df.withColumn("__sig", lsh_signature(F.col(c_vec))).withColumn(
        "__cn", norm(F.col(c_vec))
    )
    joined = cs.join(F.broadcast(qs), "__sig").withColumn(
        "__cos",
        cosine_hoisted(F.col(q_vec), F.col(c_vec), F.col("__qn"), F.col("__cn")),
    )
    w = W.partitionBy(q_id).orderBy(F.col("__cos").desc(), F.col(c_id))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(q_id, c_id, F.round("__cos", 6).alias("sim"), "rn")
    )


# ---------------------------------------------------------------------------
# Registered queries (embeddings fixture)
# ---------------------------------------------------------------------------

_DOT = (
    "list_sum(list_transform(generate_series(1, {dim}), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _duck_cos(a: str, b: str, dim: int = EMB_DIM) -> str:
    d = _DOT.format(a=a, b=b, dim=dim)
    na = _DOT.format(a=a, b=a, dim=dim)
    nb = _DOT.format(a=b, b=b, dim=dim)
    return f"({d}) / (sqrt({na}) * sqrt({nb}))"


def _duck_proj(p: int, vec: str = "embedding", dim: int = EMB_DIM) -> str:
    """DuckDB twin of one lsh_signature hyperplane projection."""
    return (
        f"list_sum(list_transform(generate_series(0, {dim - 1}), "
        f"i -> (CASE WHEN substr(md5('{p}:' || i), 1, 1) < '8' "
        f"THEN 1.0 ELSE -1.0 END) * CAST({vec}[i+1] AS DOUBLE)))"
    )


def _duck_signature(vec: str = "embedding", n_planes: int = LSH_PLANES) -> str:
    bits = [
        f"(CASE WHEN {_duck_proj(p, vec)} >= 0 THEN '1' ELSE '0' END)"
        for p in range(n_planes)
    ]
    return " || ".join(bits)


@register(
    "b54_ann_lsh_topk",
    f"""WITH sig AS (
          SELECT vec_id, embedding, {_duck_signature()} AS s
          FROM embeddings
        ),
        q AS (SELECT vec_id AS q_id, embedding AS q_vec, s FROM sig
              WHERE vec_id < 5),
        c AS (SELECT vec_id AS c_id, embedding AS c_vec, s FROM sig),
        scored AS (
          SELECT q_id, c_id, {_duck_cos('q_vec', 'c_vec')} AS cos
          FROM q JOIN c USING (s)
        ),
        ranked AS (
          SELECT q_id, c_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, c_id) AS rn
          FROM scored)
        SELECT q_id, c_id, ROUND(cos, 6) AS sim, rn
        FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""",
)
def b54_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN path: top-5 within the query's LSH sign-bucket only (recall<1 by
    design; the all-pairs join never happens — shuffle key is the bucket)."""
    emb = tables(spark, sf_dir)["embeddings"]
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cs = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return ann_lsh_topk(qs, cs, 5).orderBy("q_id", "rn")


@register(
    "b55_embedding_neardup",
    f"""WITH sig AS (
          SELECT vec_id, embedding, {_duck_signature()} AS s
          FROM embeddings
        ),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 {_duck_cos('a.embedding', 'b.embedding')} AS cos
          FROM sig a JOIN sig b ON a.s = b.s AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, ROUND(cos, 6) AS sim
        FROM pairs WHERE cos >= 0.3 ORDER BY id_a, id_b""",
)
def b55_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed so the pair
    space is per-bucket, never all-pairs (the dedup-by-embedding scale
    path for a 100 TB corpus). Threshold 0.3 is calibrated to the random
    synthetic embeddings (max in-bucket cosine ~0.5) so the filter and
    output paths are genuinely exercised; real corpora would use ~0.9."""
    emb = tables(spark, sf_dir)["embeddings"]
    # persist: the signature (512 md5-derived terms per row, interpreted
    # HOFs) feeds both sides of the self-join. Tracked for release between
    # queries (operators.release_caches).
    sig = track_cache(
        emb.select(
            "vec_id",
            "embedding",
            lsh_signature(F.col("embedding")).alias("s"),
            norm(F.col("embedding")).alias("nrm"),
        )
    )
    a = sig.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        "s",
        F.col("nrm").alias("na"),
    )
    b = sig.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        "s",
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "__cos",
            cosine_hoisted(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
        )
        .filter(F.col("__cos") >= 0.3)
        .select("id_a", "id_b", F.round("__cos", 6).alias("sim"))
        .orderBy("id_a", "id_b")
    )


IVF_N_CELLS = 16


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    v_id: str = "v_id",
    v_vec: str = "v_vec",
    n_best: int = 1,
    keep_norm: bool = False,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its ``n_best``
    max-cosine centroids (tie → lowest centroid id). Centroids broadcast;
    one window on the vector id picks the argmax — the posting-list build
    is a single scan + small shuffle at any corpus size.

    ``keep_norm=True`` also returns the per-vector norm as ``__vn`` so a
    downstream pair join (ivf_topk's scoring) reuses it instead of
    re-folding the self-dot-product per pair (r8 hoist)."""
    # hoist the norms out of the cross join: cosine recomputed per pair
    # would fold each vector's self-dot-product N_CELLS times; the hoisted
    # form is the same IEEE arithmetic (identical fold, then one divide).
    vn = vectors.withColumn("__vn", norm(F.col(v_vec)))
    cn = centroids.withColumn("__cn", norm(F.col("cent_vec")))
    scored = vn.crossJoin(F.broadcast(cn)).withColumn(
        "__cos",
        cosine_hoisted(
            F.col(v_vec), F.col("cent_vec"), F.col("__vn"), F.col("__cn")
        ),
    )
    out_cols = [v_id, v_vec, "cent_id"] + (["__vn"] if keep_norm else [])
    from pyspark.sql import types as T

    numeric_id = isinstance(
        centroids.schema["cent_id"].dataType, T.NumericType
    )
    if n_best == 1 and numeric_id:
        # the common (corpus-side) case as a partial-aggregable max_by —
        # the a110 argmax discipline (r8): the broadcast cross join
        # keeps all N_CELLS scored rows of a vector in ONE partition, so
        # the partial agg finishes map-side and the shuffle carries one
        # row per vector, where the window shape shuffled N_CELLS rows
        # per vector and then sorted them. The (cos, -cent_id) struct
        # makes the order total — same winner as the window's
        # (cos DESC, cent_id ASC). Gated on a NUMERIC cent_id (review
        # r8): the negation tie-break would reject string/UUID ids the
        # window path accepts — those fall through to the window.
        ord_ = F.struct(
            F.col("__cos").alias("c"), (-F.col("cent_id")).alias("nc")
        )
        return scored.groupBy(v_id).agg(
            F.first(v_vec).alias(v_vec),
            F.max_by("cent_id", ord_).alias("cent_id"),
            F.first("__vn").alias("__vn"),
        ).select(*out_cols)
    w = W.partitionBy(v_id).orderBy(F.col("__cos").desc(), F.col("cent_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_best)
        .select(*out_cols)
    )


def ivf_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF search: corpus vectors are quantized to their single nearest
    cell; each query probes its ``nprobe`` nearest cells' posting lists.
    Recall < 1 by design (like the LSH variant) and rises with nprobe.
    Each (query, candidate) pair appears at most once because a corpus
    vector lives in exactly one cell."""
    cells = ivf_assign(
        corpus_df.select(F.col("c_id").alias("v_id"), F.col("c_vec").alias("v_vec")),
        centroids,
        keep_norm=True,
    ).select(
        F.col("v_id").alias("c_id"),
        F.col("v_vec").alias("c_vec"),
        "cent_id",
        F.col("__vn").alias("__cn"),
    )
    q_cells = ivf_assign(
        queries_df.select(F.col("q_id").alias("v_id"), F.col("q_vec").alias("v_vec")),
        centroids,
        n_best=nprobe,
        keep_norm=True,
    ).select(
        F.col("v_id").alias("q_id"),
        F.col("v_vec").alias("q_vec"),
        "cent_id",
        F.col("__vn").alias("__qn"),
    )
    joined = cells.join(F.broadcast(q_cells), "cent_id").withColumn(
        "__cos",
        cosine_hoisted(F.col("q_vec"), F.col("c_vec"), F.col("__qn"), F.col("__cn")),
    )
    w = W.partitionBy("q_id").orderBy(F.col("__cos").desc(), F.col("c_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "c_id", F.round("__cos", 6).alias("sim"), "rn")
    )


@register(
    "b69_ivf_topk",
    f"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent_vec
                     FROM embeddings WHERE vec_id < {IVF_N_CELLS}),
        assigned AS (
          SELECT v.vec_id, v.embedding, c.cent_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_duck_cos('v.embedding', 'c.cent_vec')} DESC,
                            c.cent_id) AS rn
          FROM embeddings v CROSS JOIN cent c
        ),
        cells AS (SELECT vec_id, embedding, cent_id FROM assigned WHERE rn = 1),
        q AS (SELECT vec_id AS q_id, embedding AS q_vec, cent_id FROM cells
              WHERE vec_id < 5),
        scored AS (
          SELECT q.q_id, c.vec_id AS c_id,
                 {_duck_cos('q.q_vec', 'c.embedding')} AS cos
          FROM q JOIN cells c USING (cent_id)
        ),
        ranked AS (
          SELECT q_id, c_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, c_id) AS rn
          FROM scored)
        SELECT q_id, c_id, ROUND(cos, 6) AS sim, rn
        FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""",
)
def b69_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic coarse quantizer (first N vectors as
    centroids — a stand-in for k-means, which would not be
    oracle-reproducible), nprobe=1 posting-list search."""
    emb = tables(spark, sf_dir)["embeddings"]
    centroids = emb.filter(F.col("vec_id") < IVF_N_CELLS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cs = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return ivf_topk(qs, cs, centroids, 5).orderBy("q_id", "rn")


@register(
    "c85_ivf_multiprobe",
    f"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent_vec
                     FROM embeddings WHERE vec_id < {IVF_N_CELLS}),
        assigned AS (
          SELECT v.vec_id, v.embedding, c.cent_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_duck_cos('v.embedding', 'c.cent_vec')} DESC,
                            c.cent_id) AS rn
          FROM embeddings v CROSS JOIN cent c
        ),
        cells AS (SELECT vec_id, embedding, cent_id FROM assigned WHERE rn = 1),
        q AS (SELECT vec_id AS q_id, embedding AS q_vec, cent_id
              FROM assigned WHERE rn <= 2 AND vec_id < 5),
        scored AS (
          SELECT q.q_id, c.vec_id AS c_id,
                 {_duck_cos('q.q_vec', 'c.embedding')} AS cos
          FROM q JOIN cells c USING (cent_id)
        ),
        ranked AS (
          SELECT q_id, c_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, c_id) AS rn
          FROM scored)
        SELECT q_id, c_id, ROUND(cos, 6) AS sim, rn
        FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""",
)
def c85_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2: each query probes its two nearest cells,
    roughly doubling candidate count (and recall) for the same posting
    layout as b69. The extra probe is one more row per query in the
    broadcast side of the cell join — corpus-side cost is unchanged, so
    recall tuning at 100 TB is a pure query-side knob."""
    emb = tables(spark, sf_dir)["embeddings"]
    centroids = emb.filter(F.col("vec_id") < IVF_N_CELLS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cs = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return ivf_topk(qs, cs, centroids, 5, nprobe=2).orderBy("q_id", "rn")


@register(
    "q46_cosine_topk",
    f"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
                  WHERE vec_id < 5),
        c AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings),
        scored AS (
          SELECT q_id, c_id, {_duck_cos('q_vec', 'c_vec')} AS cos
          FROM q CROSS JOIN c
        ),
        ranked AS (
          SELECT q_id, c_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, c_id) AS rn
          FROM scored)
        SELECT q_id, c_id, ROUND(cos, 6) AS sim, rn
        FROM ranked WHERE rn <= 10 ORDER BY q_id, rn""",
)
def q46_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables(spark, sf_dir)["embeddings"]
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cs = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return cosine_topk(qs, cs, 10).orderBy("q_id", "rn")


# ---------------------------------------------------------------------------
# LSH-bucketed kNN-graph degree (a003)
# Pair generation is bounded by the sign bucket (KNN_PLANES hyperplanes);
# the degree histogram is two partial-agg shuffles over id-keyed rows.
# ---------------------------------------------------------------------------


#: cosine threshold for an e149 kNN-graph edge.
KNN_TAU = 0.2
#: sign planes for the a003 kNN-graph buckets. 16 planes = 65,536
#: buckets: like the SimHash band fix, the bucket space must be able to
#: GROW with the corpus — the default 8-plane/256-bucket space is fine
#: for top-k retrieval (b54 probes one bucket) but pins an
#: all-pairs-in-bucket GRAPH build at O(n²/256) at 10^9 vectors.
KNN_PLANES = 16


@register(
    "a003_knn_degree",
    f"""WITH sig AS (
         SELECT vec_id, embedding, {_duck_signature(n_planes=KNN_PLANES)} AS s
         FROM embeddings),
       edges AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM sig a JOIN sig b
           ON a.s = b.s AND a.vec_id < b.vec_id
         WHERE {_duck_cos('a.embedding', 'b.embedding')} >= {KNN_TAU}),
       nbrs AS (
         SELECT id_a AS vec_id, id_b AS nbr FROM edges
         UNION ALL
         SELECT id_b AS vec_id, id_a AS nbr FROM edges),
       deg AS (
         SELECT s.vec_id, CAST(COUNT(n.nbr) AS BIGINT) AS degree
         FROM sig s LEFT JOIN nbrs n ON s.vec_id = n.vec_id
         GROUP BY s.vec_id)
       SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_vecs
       FROM deg GROUP BY degree ORDER BY degree""",
)
def a003_knn_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the LSH-bucketed approximate kNN graph over
    the embedding corpus (edges = same sign-bucket AND cosine ≥ 0.2) —
    the index-quality audit run before trusting ANN retrieval: a spiky
    histogram means hub buckets (recall rot + join skew), a mass at
    degree 0 means over-partitioned planes. Pair generation is bounded
    per bucket with a KNN_PLANES-bit signature (65,536 buckets — bucket
    headroom grows with the corpus instead of pinning the in-bucket
    self-join at O(n²/256)); the histogram is two partial-agg
    shuffles."""
    e = tables(spark, sf_dir)["embeddings"]
    # norm hoisted to the per-vector signature projection (r8): the edge
    # filter then pays one dot fold per candidate pair, not three
    sig = e.select(
        "vec_id",
        "embedding",
        lsh_signature(F.col("embedding"), n_planes=KNN_PLANES).alias("s"),
        norm(F.col("embedding")).alias("nrm"),
    )
    a = sig.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        "s",
        F.col("nrm").alias("na"),
    )
    b = sig.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        "s",
        F.col("nrm").alias("nb"),
    )
    edges = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            cosine_hoisted(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
            >= KNN_TAU
        )
        .select("id_a", "id_b")
    )
    nbrs = edges.select(F.col("id_a").alias("vec_id")).unionAll(
        edges.select(F.col("id_b").alias("vec_id"))
    )
    deg = (
        sig.select("vec_id")
        .join(nbrs.groupBy("vec_id").agg(F.count(F.lit(1)).alias("d")), "vec_id", "left")
        .select(F.coalesce(F.col("d"), F.lit(0)).alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (a0056)
# Broadcasts the query sample and streams the corpus once (the audit
# shape; the production path swaps in the LSH-bucketed join).
# ---------------------------------------------------------------------------


#: Queries sampled for hard-negative mining, negatives kept per query.
HN_QUERIES = 10
HN_TOPK = 5


@register(
    "a0056_hard_negatives",
    f"""WITH q AS (
          SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
          FROM embeddings WHERE vec_id < {HN_QUERIES}),
        scored AS (
          SELECT q_id, vec_id AS c_id,
                 list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(q_vec[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))))
                   AS cos
          FROM q JOIN embeddings ON label <> q_label),
        ranked AS (
          SELECT q_id, c_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, c_id) AS rn
          FROM scored)
        SELECT q_id, c_id, ROUND(cos, 6) AS sim, rn
        FROM ranked WHERE rn <= {HN_TOPK} ORDER BY q_id, rn""",
)
def a056_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per sampled query,
    the {HN_TOPK} most-similar corpus vectors whose label DIFFERS — the
    "close but wrong" examples a retrieval/embedding trainer feeds as
    negatives. Self-pairs drop out automatically (same label).

    Scale shape: the query sample broadcasts; the corpus streams through
    one scan (label filter + cosine both codegen); top-k per query is a
    q_id-keyed window over the sample's partitions. At full scale the
    corpus side swaps to the LSH-bucketed join (`ann_lsh_topk`) — this
    exact ranking is the audit/recall baseline for that path."""
    emb = tables(spark, sf_dir)["embeddings"]
    qs = (
        emb.filter(F.col("vec_id") < HN_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            F.col("label").alias("q_label"),
        )
        .withColumn("__qn", norm(F.col("q_vec")))
    )
    # corpus norm hoisted to once-per-row (r8): cosine() in the pair
    # projection re-folded both self-dot-products per (q, c) pair
    scored = (
        emb.withColumn("__cn", norm(F.col("embedding")))
        .crossJoin(F.broadcast(qs))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            cosine_hoisted(
                F.col("q_vec"), F.col("embedding"), F.col("__qn"), F.col("__cn")
            ).alias("cos"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= HN_TOPK)
        .select("q_id", "c_id", F.round("cos", 6).alias("sim"), "rn")
        .orderBy("q_id", "rn")
    )
