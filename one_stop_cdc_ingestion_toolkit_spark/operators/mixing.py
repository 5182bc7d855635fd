"""Training-order and sampling operators: deterministic epoch-wise corpus
shuffling (e151), mixture-weight repetition (e152), quality-temperature
sampling (a002) and quality-weighted sampling without replacement
(a014).

The last mile of a training-data pipeline is ORDER and MIX: each epoch
must present documents in a different pseudo-random order that is
nevertheless reproducible across restarts and cluster sizes, and
under-represented sources are physically repeated per their mixture
weights. The shuffle and the repetition are single-shuffle plans, and
all four draw their randomness from md5, never rand() (a rand() order
would change under task retry — the same trap c80/a112 avoid).

No reference parity (provisioning CLI) — engine extension (SURVEY §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import register, track_cache
from one_stop_cdc_ingestion_toolkit_spark.operators.text import _duck_quality, quality_score

#: epochs materialized by the e151 audit query.
N_EPOCHS = 3
#: head size shown per epoch.
HEAD_K = 10


@register(
    "a005_epoch_shuffle",
    f"""WITH e AS (SELECT unnest(generate_series(0, {N_EPOCHS - 1})) AS epoch),
       ranked AS (
         SELECT e.epoch, d.doc_id,
                ROW_NUMBER() OVER (
                  PARTITION BY e.epoch
                  ORDER BY md5(CAST(d.doc_id AS VARCHAR) || ':' || e.epoch)
                ) AS rank
         FROM documents d CROSS JOIN e)
       SELECT epoch, CAST(rank AS BIGINT) AS rank, doc_id
       FROM ranked WHERE rank <= {HEAD_K}
       ORDER BY epoch, rank""",
)
def a005_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head of each epoch's deterministic shuffle order — the audit that
    (a) epochs see different permutations and (b) the order is stable
    across runs. Per-epoch top-k is a WindowGroupLimit (k rows per
    partition survive the partial sort), never a full materialized
    sort per epoch."""
    d = tables(spark, sf_dir)["documents"]
    epochs = spark.range(N_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    salted = d.select("doc_id").crossJoin(F.broadcast(epochs)).withColumn(
        "__ord",
        F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.col("epoch"))),
    )
    w = W.partitionBy("epoch").orderBy("__ord")
    return (
        salted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HEAD_K)
        .select("epoch", F.col("rank").cast("long").alias("rank"), "doc_id")
        .orderBy("epoch", "rank")
    )


@register(
    "a006_mix_repeat",
    """WITH q AS (
         SELECT source,
                CAST(COUNT(*) AS BIGINT) AS n_orig,
                AVG(CAST(n_chars AS DOUBLE)) AS mean_chars
         FROM documents GROUP BY source),
       f AS (
         SELECT source, n_orig,
                CAST(1 + FLOOR(mean_chars / 200.0) AS INT) AS factor
         FROM q),
       exploded AS (
         SELECT d.source
         FROM documents d
         JOIN f ON d.source = f.source,
         unnest(generate_series(1, f.factor)))
       SELECT f.source, f.n_orig, f.factor,
              CAST(COUNT(*) AS BIGINT) AS n_materialized
       FROM exploded e JOIN f ON e.source = f.source
       GROUP BY f.source, f.n_orig, f.factor
       ORDER BY f.source""",
)
def a006_mix_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weight repetition: each source's documents are physically
    repeated ``factor`` times (factor derived here from mean doc length
    as a deterministic stand-in for a mixture weight), the standard way
    to up-sample small high-value sources. The factor table is
    source-cardinality-sized and broadcast; the repeat is a zero-shuffle
    ``explode(sequence(...))`` — rows never move, they multiply in
    place. The query audits n_orig → n_materialized per source."""
    d = tables(spark, sf_dir)["documents"]
    # cached (review r8): the factor table is broadcast into the repeat
    # AND joined into the audit row — uncached, its corpus agg ran twice
    f_tab = track_cache(
        d.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_orig"),
            (
                F.lit(1)
                + F.floor(F.avg(F.col("n_chars").cast("double")) / F.lit(200.0))
            )
            .cast("int")
            .alias("factor"),
        )
    )
    exploded = d.join(F.broadcast(f_tab), "source").select(
        "source",
        F.explode(F.sequence(F.lit(1), F.col("factor"))).alias("__rep"),
    )
    return (
        exploded.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_materialized"))
        .join(F.broadcast(f_tab), "source")
        .select("source", "n_orig", "factor", "n_materialized")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Quality-temperature sampling (a002)
# A map-side accept/reject (md5 uniform vs a per-source temperature
# weight) and one small agg; the weight table is broadcast back.
# ---------------------------------------------------------------------------


#: sampling temperature exponent for e148.
SAMPLE_POW = 2


@register(
    "a002_temperature_sample",
    f"""WITH q AS (
         SELECT doc_id, source, {_duck_quality()} AS quality,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) / 4294967296.0 AS u
         FROM documents),
       m AS (SELECT source, MAX(quality) AS qmax FROM q GROUP BY source),
       s AS (
         SELECT q.source, q.quality,
                q.u < POW(q.quality / m.qmax, {SAMPLE_POW}) AS keep
         FROM q JOIN m ON q.source = m.source)
       SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept,
              ROUND(SUM(CASE WHEN keep THEN 1 ELSE 0 END)
                    / CAST(COUNT(*) AS DOUBLE), 4) AS kept_frac
       FROM s GROUP BY source ORDER BY source""",
)
def a002_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-temperature sampling: keep a document with probability
    (quality / source-max-quality)^2 — the standard up-weight-the-best
    corpus reshaping — decided by a deterministic md5-derived uniform,
    so the sample is identical under task retries and re-runs (no
    rand()). The per-source weight table is a tiny agg broadcast back;
    the accept test is map-side."""
    d = tables(spark, sf_dir)["documents"]
    q = d.select(
        "doc_id",
        "source",
        quality_score(F.col("text")).alias("quality"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            .cast("double")
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    m = q.groupBy("source").agg(F.max("quality").alias("qmax"))
    s = q.join(F.broadcast(m), "source").withColumn(
        "keep", F.col("u") < F.pow(F.col("quality") / F.col("qmax"), SAMPLE_POW)
    )
    kept = F.sum(F.when(F.col("keep"), 1).otherwise(0))
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            kept.cast("long").alias("kept"),
            F.round(kept / F.count(F.lit(1)).cast("double"), 4).alias("kept_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Quality-weighted sampling without replacement (a014)
# ---------------------------------------------------------------------------


#: sample size for e160.
WSAMPLE_M = 100


@register(
    "a014_weighted_sample",
    f"""WITH q AS (
         SELECT doc_id, source,
                {_duck_quality()} AS w,
                (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) + 0.5) / 4294967296.0 AS u
         FROM documents),
       keyed AS (
         SELECT doc_id, source, w, ln(u) / w AS k
         FROM q WHERE w > 0)
       SELECT doc_id, source, ROUND(w, 4) AS weight, ROUND(k, 6) AS sample_key
       FROM keyed ORDER BY k DESC, doc_id LIMIT {WSAMPLE_M}""",
)
def a014_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sample WITHOUT replacement (m=100): the
    Efraimidis–Spirakis exponential race — each doc gets key
    ln(u)/w for a deterministic md5-derived uniform u, and the m
    largest keys are exactly a weighted sample without replacement.
    Unlike e148's independent accept/reject (random output size), this
    yields a fixed-size sample — what a curated eval set or human
    review batch actually needs.

    The key is computed map-side from each row alone (no weight
    renormalization needed — the race is scale-invariant), so the whole
    query is one TakeOrderedAndProject: per-partition top-m heaps, one
    m-row driver merge, no shuffle of the corpus. Deterministic u means
    task retries can't change the sample."""
    d = tables(spark, sf_dir)["documents"]
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    w = quality_score(F.col("text"))
    keyed = d.select(
        "doc_id",
        "source",
        w.alias("w"),
        (F.log(u) / w).alias("k"),
    ).filter(F.col("w") > 0)
    return (
        keyed.select(
            "doc_id",
            "source",
            F.round("w", 4).alias("weight"),
            F.round("k", 6).alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), "doc_id")
        .limit(WSAMPLE_M)
    )
