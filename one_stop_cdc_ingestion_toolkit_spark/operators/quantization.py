"""Embedding-compression audits (`a051`/`a052`/`a054`): int8
quantization error, Matryoshka truncation recall, and Johnson-
Lindenstrauss projection distortion.

The operators a 100 TB embedding pipeline runs before committing to a
storage/serving format: how much cosine fidelity does symmetric int8
quantization give up, how much top-k recall survives truncating to the
first d/4 dimensions (Matryoshka-style), and how tightly a ±1 random
projection preserves pairwise distances (the JL lemma, audited on real
pairs instead of trusted on faith).

Engine extensions per SURVEY §2.5 (no reference parity — the reference
is a provisioning CLI, SURVEY §0). All arithmetic follows the
similarity.py parity discipline: left-to-right HOF folds over doubles so
the DuckDB oracle's ``list_sum(list_transform(...))`` reproduces results
bit-for-bit, and md5-derived sign matrices so "random" projections are
engine-neutral.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import (
    register,
    widen_narrow_scan,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.similarity import (
    EMB_DIM,
    cosine,
    dot,
)

#: Matryoshka prefix length (first PREFIX_DIM of EMB_DIM dims).
PREFIX_DIM = 16

#: JL target dimensionality (64 → 16, scale factor 1/4.0 exact).
JL_DIM = 16

#: Top-k compared between the full-dim and truncated rankings.
MK_TOPK = 10

#: Number of query vectors sampled for the recall audit.
MK_QUERIES = 10


def _duck_dot2(a: str, b: str, dim: int = EMB_DIM) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _duck_cos2(a: str, b: str, dim: int = EMB_DIM) -> str:
    return (
        f"({_duck_dot2(a, b, dim)}) / "
        f"(sqrt({_duck_dot2(a, a, dim)}) * sqrt({_duck_dot2(b, b, dim)}))"
    )


@register(
    "a0051_int8_quant_error",
    f"""WITH dims AS (
          SELECT i, MAX(ABS(CAST(embedding[i + 1] AS DOUBLE))) AS mx
          FROM embeddings CROSS JOIN generate_series(0, {EMB_DIM - 1}) t(i)
          GROUP BY i),
        sc AS (SELECT list(mx ORDER BY i) AS s FROM dims),
        dq AS (
          SELECT label, embedding,
                 list_transform(generate_series(0, {EMB_DIM - 1}), i ->
                   ROUND(CAST(embedding[i + 1] AS DOUBLE) / (s[i + 1] / 127.0))
                   * (s[i + 1] / 127.0)) AS deq
          FROM embeddings CROSS JOIN sc),
        cs AS (SELECT label, {_duck_cos2('embedding', 'deq')} AS c FROM dq)
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               ROUND(AVG(c), 6) AS avg_cos, ROUND(MIN(c), 6) AS min_cos
        FROM cs GROUP BY label ORDER BY label""",
)
def a051_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 quantization audit: corpus-wide scale
    s_i = max|x_i| (so codes span the full [-127, 127] range), each
    vector is quantized (round(x_i/(s_i/127))) and dequantized, and the
    per-label cosine between original and reconstruction is reported —
    the number a serving team reads before switching the ANN index to
    int8 storage (4x smaller, ~0.999 cosine on typical corpora).

    Scale shape: the scale vector is ONE partial-aggregable pass
    ({EMB_DIM} maxes folded map-side, a single 1-row result), broadcast
    back; quantize + cosine is a pure projection scan — no shuffle
    anywhere except the {EMB_DIM}-row scale agg and the final per-label
    rollup. At 100 TB this is the cheapest full-corpus audit shape there
    is (2 scans, both codegen)."""
    emb = tables(spark, sf_dir)["embeddings"]
    scales = emb.agg(
        F.array(
            *[
                F.max(F.abs(F.col("embedding")[i].cast("double")))
                for i in range(EMB_DIM)
            ]
        ).alias("s")
    )
    dq = emb.crossJoin(F.broadcast(scales)).withColumn(
        "deq",
        F.zip_with(
            "embedding",
            "s",
            lambda x, s: F.round(x.cast("double") / (s / F.lit(127.0)))
            * (s / F.lit(127.0)),
        ),
    )
    return (
        dq.withColumn("c", cosine(F.col("embedding"), F.col("deq")))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("c"), 6).alias("avg_cos"),
            F.round(F.min("c"), 6).alias("min_cos"),
        )
        .orderBy("label")
    )


def _mk_panel_batches(qrows):
    """a0052 corpus-side kernel factory (r11, guide §4.2): both cosines
    of every (corpus row × sampled query) pair computed vectorized in
    one Arrow pass. ``qrows`` is the collected (q_id, q_vec) sample —
    bounded by the MK_QUERIES constant, never by data. All folds
    (corpus norms, query norms, dots, full and {PREFIX_DIM}-prefix) run
    in the HOF fold's left-to-right dimension order and the cosine as
    dot/(qn*cn) — the identical IEEE sequence, so the scores the Spark
    windows rank downstream are bit-equal to the r10 join shape (which
    paid 2·MK_QUERIES interpreted folds per corpus row)."""
    import numpy as np

    qids = [int(q) for q, _ in qrows]
    QV = [np.asarray(v, dtype=np.float64) for _, v in qrows]

    def _fold_dot(A, B, d):
        acc = A[:, 0] * B[:, 0]
        for i in range(1, d):
            acc = acc + A[:, i] * B[:, i]
        return acc

    def kernel(it):
        import pyarrow as pa

        for rb in it:
            if rb.num_rows == 0:
                continue
            cids = rb.column(0).to_numpy(zero_copy_only=False)
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in rb.column(1).to_pylist()]
            )
            n = X.shape[0]
            cnf = np.sqrt(_fold_dot(X, X, X.shape[1]))
            cnt = np.sqrt(_fold_dot(X, X, PREFIX_DIM))
            out_q, out_c, out_cf, out_ct = [], [], [], []
            for qid, qv in zip(qids, QV):
                Q = np.broadcast_to(qv, X.shape)
                qnf = float(np.sqrt(_fold_dot(qv[None, :], qv[None, :], qv.shape[0]))[0])
                qnt = float(np.sqrt(_fold_dot(qv[None, :], qv[None, :], PREFIX_DIM))[0])
                cf = _fold_dot(Q, X, X.shape[1]) / (qnf * cnf)
                ct = _fold_dot(Q, X, PREFIX_DIM) / (qnt * cnt)
                out_q.append(np.full(n, qid, dtype=np.int64))
                out_c.append(cids)
                out_cf.append(cf)
                out_ct.append(ct)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_c), type=pa.int64()),
                    pa.array(np.concatenate(out_cf), type=pa.float64()),
                    pa.array(np.concatenate(out_ct), type=pa.float64()),
                ],
                ["q_id", "c_id", "cf", "ct"],
            )

    return kernel


@register(
    "a0052_matryoshka_recall",
    f"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
                   FROM embeddings WHERE vec_id < {MK_QUERIES}),
        scored AS (
          SELECT q_id, vec_id AS c_id,
                 {_duck_cos2('q_vec', 'embedding')} AS cf,
                 {_duck_cos2('q_vec', 'embedding', PREFIX_DIM)} AS ct
          FROM q CROSS JOIN embeddings),
        ranked AS (
          SELECT q_id, c_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY cf DESC, c_id) AS rf,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY ct DESC, c_id) AS rt
          FROM scored)
        SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_overlap,
               ROUND(COUNT(*) / {MK_TOPK}.0, 2) AS recall
        FROM ranked WHERE rf <= {MK_TOPK} AND rt <= {MK_TOPK}
        GROUP BY q_id ORDER BY q_id""",
)
def a052_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: for each sampled query, how many of
    the full-{EMB_DIM}-dim cosine top-{MK_TOPK} survive when ranking by
    only the first {PREFIX_DIM} dims (the MRL serving trick: coarse
    search on the prefix, rerank on the full vector). recall ≈ 1 means
    the prefix ranking is safe as a first-pass filter.

    Scale shape: the query side is a broadcast ({MK_QUERIES} rows); the
    corpus streams through ONE scan computing BOTH cosines per pair
    (truncation is `slice`, no second pass over the data), then a single
    window shuffle keyed by q_id ranks both scores together — two
    row_numbers share one sort-free hash partition each. The full
    ranking is the brute-force baseline by design (this is an AUDIT of
    the approximation, so the exact ranking is the point — run it on a
    sampled corpus slab at 100 TB, never the whole corpus)."""
    emb = tables(spark, sf_dir)["embeddings"]
    # bounded materialization: MK_QUERIES rows by the query-sample
    # constant — the same rows the r10 shape's F.broadcast collected;
    # the corpus-side kernel computes both cosines per (row, query)
    # vectorized instead of 2·MK_QUERIES interpreted folds per row
    qrows = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < MK_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    ]
    scored = (
        widen_narrow_scan(emb.select("vec_id", "embedding"))
        .mapInArrow(
            _mk_panel_batches(qrows),
            "q_id long, c_id long, cf double, ct double",
        )
    )
    wf = W.partitionBy("q_id").orderBy(F.col("cf").desc(), F.col("c_id"))
    wt = W.partitionBy("q_id").orderBy(F.col("ct").desc(), F.col("c_id"))
    return (
        scored.withColumn("rf", F.row_number().over(wf))
        .withColumn("rt", F.row_number().over(wt))
        .filter((F.col("rf") <= MK_TOPK) & (F.col("rt") <= MK_TOPK))
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.round(F.count(F.lit(1)) / MK_TOPK, 2).alias("recall"),
        )
        .orderBy("q_id")
    )


def _jl_signs() -> list[list[float]]:
    """±1 JL projection matrix, row p component i = sign of md5('j<p>:<i>')
    — seeded differently from similarity._plane_signs so the projection
    is independent of the LSH bucketing used to propose pairs."""
    return [
        [
            1.0
            if hashlib.md5(f"j{p}:{i}".encode()).hexdigest()[0] < "8"
            else -1.0
            for i in range(EMB_DIM)
        ]
        for p in range(JL_DIM)
    ]


def jl_project(vec: Column) -> Column:
    """The {JL_DIM}-dim projection as ``array<double>``: one multiply-add
    per (row, plane, dim) in C — {JL_DIM} interpreted HOF folds per row
    would otherwise dominate a054's runtime. The kernel accumulates
    dimension-by-dimension in left-to-right order, so every projection
    runs the identical IEEE operation sequence as the oracle's
    ``list_sum`` (`_DUCK_JL_PROJ`; asserted bit-equal in
    tests/test_quantization.py). Null vectors project to NULL (a null
    embedding has no distance to anything; rows drop out of the pair
    join upstream)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = _jl_signs()

    @pandas_udf("array<double>")
    def proj_udf(vs: pd.Series) -> pd.Series:
        P = np.asarray(planes, dtype=np.float64)  # p × d
        out: list = [None] * len(vs)
        null_mask = vs.isna()
        if (~null_mask).any():
            idx = np.flatnonzero(~null_mask.to_numpy())
            X = np.array(
                [np.asarray(vs.iloc[i], dtype=np.float64) for i in idx]
            )
            acc = np.zeros((X.shape[0], P.shape[0]))
            # dimension-order fold == list_sum's left-to-right sum
            for i in range(P.shape[1]):
                acc += X[:, i, None] * P[None, :, i]
            acc = acc / 4.0
            for k, r in enumerate(idx):
                out[int(r)] = [float(v) for v in acc[k]]
        return pd.Series(out)

    return proj_udf(vec)


def _jl_bucket_hist(pdf):
    """a0054 per-signature-bucket kernel (r11, guide §4.2): all pairwise
    distance ratios of one LSH bucket computed vectorized, only the
    bucket's histogram partials leave Python. The r10 shape streamed
    every pair as a row and paid TWO interpreted HOF dot folds per pair
    (~7M pairs × 80 fold steps at sf3 — 171 s, THE bench straggler);
    here each vector crosses the boundary once per bucket and the dot
    products run as 64 (resp. 16) vectorized multiply-adds in exactly
    the fold's left-to-right dimension order, so every double —
    distances, ratios, bin edges — is bit-identical to the oracle's
    list_sum. Pair chunking bounds peak memory on hot
    buckets (identical-vector clusters make bucket sizes, and so pair
    counts, data-bound by design — same as the join it replaces)."""
    import numpy as np

    n = len(pdf)
    if n < 2:
        return pd.DataFrame({"ratio_bin": [], "n_pairs": []}).astype(
            {"ratio_bin": "float64", "n_pairs": "int64"}
        )
    X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    P = np.array([np.asarray(v, dtype=np.float64) for v in pdf["proj"]])
    n64 = pdf["n64"].to_numpy(dtype=np.float64)
    n16 = pdf["n16"].to_numpy(dtype=np.float64)
    bins: dict[float, int] = {}
    # Block outer-product accumulation (second r11 iteration): the first
    # cut gathered X[a]/X[b] per pair — at sf10 (~780 vectors/bucket,
    # ~78M pairs) those fancy-index copies moved ~80 GB and the kernel
    # LOST to DuckDB 5.5x. M[i,j] = Σ_d x_i[d]·x_j[d] built as 64
    # accumulated outer products touches each vector once per dim, no
    # per-pair gather, and the += order is exactly the fold's seeded
    # left-to-right d-ascending sum (M starts 0.0), so every double is
    # still bit-identical. Row-blocking bounds the (block × n) frames on
    # hot buckets.
    B = 256
    for bs in range(0, n - 1, B):
        be = min(bs + B, n)
        M = np.zeros((be - bs, n), dtype=np.float64)
        for d in range(X.shape[1]):
            M += X[bs:be, d, None] * X[None, :, d]
        T = np.zeros((be - bs, n), dtype=np.float64)
        for d in range(P.shape[1]):
            T += P[bs:be, d, None] * P[None, :, d]
        d64 = np.sqrt(
            np.maximum((n64[bs:be, None] + n64[None, :]) - 2.0 * M, 0.0)
        )
        d16 = np.sqrt(
            np.maximum((n16[bs:be, None] + n16[None, :]) - 2.0 * T, 0.0)
        )
        # strict upper triangle in GLOBAL indices: j > bs + local_i
        cols = np.arange(n)[None, :]
        rows = np.arange(bs, be)[:, None]
        keep = (cols > rows) & (d64 > 0)
        ratio = d16[keep] / d64[keep]
        binv = np.floor(ratio * 10) / 10.0
        vals, cnts = np.unique(binv, return_counts=True)
        for v, c in zip(vals, cnts):
            bins[float(v)] = bins.get(float(v), 0) + int(c)
    return pd.DataFrame(
        {
            "ratio_bin": pd.Series(sorted(bins), dtype="float64"),
            "n_pairs": pd.Series(
                [bins[k] for k in sorted(bins)], dtype="int64"
            ),
        }
    )


#: DuckDB twin of `jl_project`: the ±1 sign rows derived once from
#: DuckDB's own md5 (same seed strings as `_jl_signs`), then each
#: projection folded left to right by ``list_sum`` — the a054 oracle's
#: CTEs, and the bit-equality oracle of tests/test_quantization.py.
_DUCK_JSIGN = f"""jsign AS (
          SELECT p, list(CASE WHEN substr(md5('j' || p || ':' || i), 1, 1)
                              < '8' THEN 1.0 ELSE -1.0 END ORDER BY i) AS srow
          FROM generate_series(0, {JL_DIM - 1}) t(p)
               CROSS JOIN generate_series(0, {EMB_DIM - 1}) u(i)
          GROUP BY p)"""
_DUCK_JL_PROJ = f"""prj AS (
          SELECT e.vec_id, j.p,
                 list_sum(list_transform(generate_series(1, {EMB_DIM}),
                   i -> j.srow[i] * CAST(e.embedding[i] AS DOUBLE))) / 4.0 AS v
          FROM embeddings e CROSS JOIN jsign j),
        proj AS (SELECT vec_id, list(v ORDER BY p) AS proj
                 FROM prj GROUP BY vec_id)"""


@register(
    "a0054_jl_distortion",
    # The sign matrices are md5-CONSTANTS per (plane, dim) — DuckDB does
    # not constant-fold md5 out of a per-row list_transform lambda, so
    # the old inline form paid 1,536 md5 calls PER ROW (a 40 s oracle at
    # sf0.1, review r8). Deriving them ONCE in CTEs — still from
    # DuckDB's own md5, same seed strings, and folding in the identical
    # left-to-right order (srow[i]·vec[i], i ascending) — keeps the
    # recomputation independent and the doubles bit-identical.
    f"""WITH {_DUCK_JSIGN},
        lsign AS (
          SELECT p, list(CASE WHEN substr(md5(p || ':' || i), 1, 1)
                              < '8' THEN 1.0 ELSE -1.0 END ORDER BY i) AS srow
          FROM generate_series(0, 7) t(p)
               CROSS JOIN generate_series(0, {EMB_DIM - 1}) u(i)
          GROUP BY p),
        {_DUCK_JL_PROJ},
        sigp AS (
          SELECT e.vec_id, l.p,
                 CASE WHEN list_sum(list_transform(generate_series(1, {EMB_DIM}),
                   i -> l.srow[i] * CAST(e.embedding[i] AS DOUBLE))) >= 0
                 THEN '1' ELSE '0' END AS bit
          FROM embeddings e CROSS JOIN lsign l),
        sigs AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS s
                 FROM sigp GROUP BY vec_id),
        sig AS (
          SELECT e.vec_id, e.embedding, sigs.s, proj.proj,
                 {_duck_dot2('e.embedding', 'e.embedding')} AS n64,
                 {_duck_dot2('proj.proj', 'proj.proj', JL_DIM)} AS n16
          FROM embeddings e
          JOIN proj USING (vec_id) JOIN sigs USING (vec_id)),
        pairs AS (
          SELECT sqrt(GREATEST(a.n64 + b.n64
                      - 2.0 * ({_duck_dot2('a.embedding', 'b.embedding')}), 0.0))
                   AS d64,
                 sqrt(GREATEST(a.n16 + b.n16
                      - 2.0 * ({_duck_dot2('a.proj', 'b.proj', JL_DIM)}), 0.0))
                   AS d16
          FROM sig a JOIN sig b ON a.s = b.s AND a.vec_id < b.vec_id),
        r AS (SELECT d16 / d64 AS ratio FROM pairs WHERE d64 > 0)
        SELECT FLOOR(ratio * 10) / 10.0 AS ratio_bin,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM r GROUP BY 1 ORDER BY ratio_bin""",
)
def a054_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit: project {EMB_DIM}-dim
    embeddings to {JL_DIM} dims with a ±1/sqrt({JL_DIM}) matrix and
    histogram the pairwise-distance ratio ||proj_a − proj_b|| /
    ||a − b|| over LSH-proposed candidate pairs. The JL lemma promises
    ratios concentrated near 1; the histogram shows the actual spread
    for THIS corpus before anyone swaps the projection into a pipeline.

    Scale shape (r11): projection is one Arrow-kernel scan (bit-equal to
    the oracle's {JL_DIM}-fold ``list_sum`` — cross-checked in tests);
    squared norms are hoisted per-vector; the pair space is
    LSH-bucket-bounded (shuffle key is the 8-bit signature, never
    all-pairs) and each bucket's pair distances are computed INSIDE one
    applyInPandas kernel (_jl_bucket_hist) in the fold's exact
    left-to-right dimension order — only per-bucket histogram partials
    leave Python, where the r10 shape streamed every pair as a row and
    paid two interpreted HOF folds per pair (measured 171 s at sf3; the
    sf3 bench straggler). Ratio arithmetic stays fold-identical on both
    engines, so even the bin edges are bit-stable."""
    emb = tables(spark, sf_dir)["embeddings"]
    from one_stop_cdc_ingestion_toolkit_spark.operators.similarity import (
        lsh_signature,
    )

    sig = emb.withColumn("proj", jl_project(F.col("embedding"))).select(
        lsh_signature(F.col("embedding")).alias("s"),
        "embedding",
        "proj",
        dot(F.col("embedding"), F.col("embedding")).alias("n64"),
        dot(F.col("proj"), F.col("proj")).alias("n16"),
    )
    parts = sig.groupBy("s").applyInPandas(
        _jl_bucket_hist, "ratio_bin double, n_pairs long"
    )
    return (
        parts.groupBy("ratio_bin")
        .agg(F.sum("n_pairs").cast("long").alias("n_pairs"))
        .orderBy("ratio_bin")
    )
