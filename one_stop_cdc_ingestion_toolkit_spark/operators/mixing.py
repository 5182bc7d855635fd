"""Training-order operators (`e151`–`e152`): deterministic epoch-wise
corpus shuffling and mixture-weight repetition.

The last mile of a training-data pipeline is ORDER and MIX: each epoch
must present documents in a different pseudo-random order that is
nevertheless reproducible across restarts and cluster sizes, and
under-represented sources are physically repeated per their mixture
weights. Both are single-shuffle, rand()-free DataFrame plans (a rand()
order would change under task retry — the same trap c80/a112 avoid).

No reference parity (provisioning CLI) — engine extension (SURVEY §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import register, track_cache

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
