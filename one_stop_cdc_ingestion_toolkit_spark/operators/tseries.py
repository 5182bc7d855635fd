"""Time-series operators: similarity search (`e181`, z-normalized distance
between per-user daily activity curves and the global traffic curve)
and CUSUM change points over daily event volumes (a045).

Pattern follows the distributed time-series similarity literature
(PAPERS.md: "Time Series Similarity Search for Streaming Data in
Distributed Systems", EDBT 2019): z-normalize each series so SHAPE, not
volume, drives the distance, and compute distances as one dense
per-(series, timestep) join + keyed aggregation — embarrassingly
parallel over series, no pairwise blowup (each series compares against
ONE broadcast query curve; top-k over series is a TakeOrderedAndProject).

Determinism note: each user's mean/std come from EXACT integer sums
(Σn, Σn² as BIGINT over daily counts), so normalization is bit-identical
in both engines; only the final 30-term distance sum is a float
reduction, rounded at 4 dp — far above the ~1e-15 addend-order noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import register, track_cache

#: minimum active days for a user to have a meaningful curve.
MIN_ACTIVE_DAYS = 5
#: top-k most-average users reported.
TS_TOPK = 20


@register(
    "a035_curve_similarity",
    f"""WITH bounds AS (
         SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
         FROM events),
       days AS (
         SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
         FROM bounds),
       u AS (SELECT DISTINCT user_id FROM events),
       raw AS (
         SELECT user_id, CAST(ts AS DATE) AS day,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM events GROUP BY user_id, day),
       dense AS (
         SELECT u.user_id, d.day, COALESCE(r.n, 0) AS n
         FROM u CROSS JOIN days d
         LEFT JOIN raw r ON r.user_id = u.user_id AND r.day = d.day),
       ustat AS (
         SELECT user_id,
                COUNT(*) AS t,
                SUM(n) AS s1, SUM(n * n) AS s2,
                SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS active
         FROM dense GROUP BY user_id),
       g AS (
         SELECT day, CAST(SUM(n) AS BIGINT) AS gn FROM dense GROUP BY day),
       gstat AS (
         SELECT COUNT(*) AS t, SUM(gn) AS s1, SUM(gn * gn) AS s2 FROM g),
       terms AS (
         SELECT d.user_id,
                POWER(
                  (d.n - CAST(us.s1 AS DOUBLE) / us.t)
                    / sqrt(CAST(us.s2 AS DOUBLE) / us.t
                           - POWER(CAST(us.s1 AS DOUBLE) / us.t, 2))
                  - (g.gn - CAST(gs.s1 AS DOUBLE) / gs.t)
                    / sqrt(CAST(gs.s2 AS DOUBLE) / gs.t
                           - POWER(CAST(gs.s1 AS DOUBLE) / gs.t, 2)),
                  2) AS term
         FROM dense d
         JOIN ustat us ON d.user_id = us.user_id
         JOIN g ON g.day = d.day, gstat gs
         WHERE us.active >= {MIN_ACTIVE_DAYS}
           AND us.s2 * us.t > us.s1 * us.s1),
       dist AS (
         SELECT user_id, ROUND(SUM(term), 4) AS zdist
         FROM terms GROUP BY user_id)
       SELECT d.user_id,
              CAST(us.active AS BIGINT) AS n_active_days, d.zdist
       FROM dist d JOIN ustat us ON d.user_id = us.user_id
       ORDER BY d.zdist, d.user_id LIMIT {TS_TOPK}""",
)
def a035_curve_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TS_TOPK} users whose daily-activity SHAPE most tracks the
    global traffic curve (smallest z-normalized squared distance) —
    the 'representative user' search, and the building block for
    pattern search against ANY query curve (swap the global series for
    the pattern).

    Plan: one agg to (user, day) counts, densify against the day
    spine (bounded: users × days), exact-integer per-user moments, one
    day-keyed join against the broadcast-size global curve, one
    user-keyed sum, TakeOrderedAndProject top-k. Densification is the
    only row-inflating step and is linear in users × |window|."""
    ev = tables(spark, sf_dir)["events"]
    raw = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    users = ev.select("user_id").distinct()
    # cached: consumed three times (per-user moments, the global curve,
    # and the z-distance terms) — without it the densify pipeline runs
    # three times.
    dense = track_cache(
        users.crossJoin(F.broadcast(days))
        .join(raw, ["user_id", "day"], "left")
        .select("user_id", "day", F.coalesce("n", F.lit(0)).alias("n"))
    )
    ustat = dense.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("t"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
        F.sum(F.when(F.col("n") > 0, 1).otherwise(0)).alias("active"),
    )
    g = dense.groupBy("day").agg(F.sum("n").alias("gn"))
    gstat = g.agg(
        F.count(F.lit(1)).alias("gt"),
        F.sum("gn").alias("gs1"),
        F.sum(F.col("gn") * F.col("gn")).alias("gs2"),
    )

    def _z(x, s1, s2, t):
        mean = s1.cast("double") / t
        var = s2.cast("double") / t - mean * mean
        return (x - mean) / F.sqrt(var)

    eligible = ustat.filter(
        (F.col("active") >= MIN_ACTIVE_DAYS)
        & (F.col("s2") * F.col("t") > F.col("s1") * F.col("s1"))
    )
    terms = (
        dense.join(eligible, "user_id")
        .join(g, "day")
        .crossJoin(F.broadcast(gstat))
        .select(
            "user_id",
            F.pow(
                _z(F.col("n"), F.col("s1"), F.col("s2"), F.col("t"))
                - _z(F.col("gn"), F.col("gs1"), F.col("gs2"), F.col("gt")),
                2,
            ).alias("term"),
        )
    )
    dist = terms.groupBy("user_id").agg(
        F.round(F.sum("term"), 4).alias("zdist")
    )
    return (
        dist.join(eligible.select("user_id", "active"), "user_id")
        .select(
            "user_id",
            F.col("active").cast("long").alias("n_active_days"),
            "zdist",
        )
        .orderBy("zdist", "user_id")
        .limit(TS_TOPK)
    )


# ---------------------------------------------------------------------------
# CUSUM change points over daily event volumes (a045)
# ---------------------------------------------------------------------------


@register(
    "a045_cusum_changepoint",
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                           CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM events GROUP BY 1, 2),
       st AS (SELECT event_type, CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mu,
                     COUNT(*) AS n_days
              FROM daily GROUP BY 1),
       cs AS (SELECT d.event_type, day, st.n_days,
                     SUM(CAST(cnt AS DOUBLE) - mu) OVER (
                         PARTITION BY d.event_type ORDER BY day) AS cusum
              FROM daily d JOIN st USING (event_type)),
       r AS (SELECT event_type, day, n_days, cusum,
                    ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY abs(cusum) DESC, day) AS rn
             FROM cs)
       SELECT event_type, day AS change_day,
              ROUND(cusum, 4) AS peak_cusum,
              CAST(n_days AS BIGINT) AS n_days
       FROM r WHERE rn = 1 ORDER BY event_type""",
)
def a045_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on daily event volume: per event
    type, the day where the cumulative deviation from the mean daily
    count peaks in magnitude — the standard "did the stream's behavior
    shift, and when" alarm for an ingestion pipeline.

    Shape: the corpus collapses to (event_type, day) counts map-side;
    every window is partitioned by event_type over day-cardinality
    frames. The running sum folds (cnt − mu) in day order — a fixed
    sequential order both engines share, so the doubles are
    bit-identical before the final round."""
    ev = tables(spark, sf_dir)["events"]
    # cached: the (type, day) counts feed the per-type stats AND the
    # cusum window — uncached, the event scan ran twice (review r8)
    daily = track_cache(
        ev.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(F.count(F.lit(1)).alias("cnt"))
    )
    st = daily.groupBy("event_type").agg(
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).alias("n_days"),
    )
    wsum = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cs = daily.join(st, "event_type").withColumn(
        "cusum", F.sum(F.col("cnt").cast("double") - F.col("mu")).over(wsum)
    )
    wr = W.partitionBy("event_type").orderBy(F.abs("cusum").desc(), "day")
    return (
        cs.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.round("cusum", 4).alias("peak_cusum"),
            F.col("n_days").cast("long").alias("n_days"),
        )
        .orderBy("event_type")
    )
