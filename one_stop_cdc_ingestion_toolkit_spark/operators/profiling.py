"""Data-profiling / audit operators (`e177`–`e180`): temporal
autocorrelation, fact-vs-detail amount reconciliation, per-column null
and cardinality profile, and a Benford first-digit audit. Also the
distribution profiles: pandas grouped-map z-scores (b58) and UDAF
geometric mean (b68), approximate distinct counts (b59), count-min heavy
hitters (a019), and embedding drift (a042) and dimension correlation
(a044).

These are the "is the data healthy" queries run against freshly
materialized CDC tables before anything downstream trusts them. All are
single-pass or single-join DataFrame plans with exact-integer cores;
float outputs are ROUNDed at stable precision on both engines.

No reference parity (provisioning CLI — SURVEY §0); engine extensions
per SURVEY §2.5.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import register, track_cache

#: e177: autocorrelation lags (days) of the daily event-count series.
ACF_MAX_LAG = 7

#: e178: reconciliation tolerance in cents.
RECON_TOL_CENTS = 1

#: e179: columns profiled (the customer dimension).
PROFILE_COLS = ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")


@register(
    "a031_autocorrelation",
    f"""WITH daily AS (
         SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
         FROM events GROUP BY day),
       lags AS (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag),
       paired AS (
         SELECT l.lag, a.n AS x, b.n AS y
         FROM lags l
         JOIN daily a ON TRUE
         JOIN daily b ON b.day = a.day + CAST(l.lag AS INT))
       SELECT CAST(lag AS INT) AS lag,
              CAST(COUNT(*) AS BIGINT) AS n_pairs,
              ROUND(corr(x, y), 4) AS acf
       FROM paired GROUP BY lag ORDER BY lag""",
)
def a031_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1–7: the
    signal that tells a capacity planner whether traffic has a weekly
    rhythm (peak at lag 7) or is trend-dominated (slow decay).

    Shape: one agg to ~30 daily rows, then a broadcast lag-table join
    pairs each day with day+k, one corr() per lag. Pearson corr on
    counts ~10^3 over ≤30 pairs is far inside double precision, so
    ROUND(·, 4) is representation-stable across engines."""
    ev = tables(spark, sf_dir)["events"]
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.alias("a").crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("day").alias("b_day"), F.col("n").alias("y")
    ).alias("b")
    paired = a.join(
        b, F.col("b_day") == F.expr("date_add(a.day, lag)")
    ).select("lag", F.col("a.n").alias("x"), "y")
    return (
        paired.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("x", "y"), 4).alias("acf"),
        )
        .orderBy("lag")
    )


@register(
    "a032_amount_reconciliation",
    f"""WITH detail AS (
         SELECT l_orderkey,
                SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                               * (1 + l_tax) * 100) AS BIGINT)) AS calc_cents
         FROM lineitem GROUP BY l_orderkey),
       joined AS (
         SELECT o.o_orderstatus,
                CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS book_cents,
                d.calc_cents
         FROM orders o JOIN detail d ON o.o_orderkey = d.l_orderkey)
       SELECT o_orderstatus,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CASE WHEN abs(book_cents - calc_cents)
                                > {RECON_TOL_CENTS} THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_mismatched,
              CAST(MAX(abs(book_cents - calc_cents)) AS BIGINT)
                AS max_abs_diff_cents,
              CAST(SUM(book_cents - calc_cents) AS BIGINT) AS net_diff_cents
       FROM joined GROUP BY o_orderstatus ORDER BY o_orderstatus""",
)
def a032_amount_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-vs-detail amount reconciliation: recompute each order's total
    from its lineitems (price × (1−discount) × (1+tax)) and compare to
    the booked ``o_totalprice`` — the first audit an ingestion pipeline
    runs after a backfill, because partial applies and lost updates show
    up here as per-order cent drift long before anyone reads a report.

    Exactness: the per-line product is one fixed IEEE expression tree
    (identical in both engines), rounded to cents BEFORE summation, so
    per-order sums are exact BIGINTs — order-independent. One shuffle on
    orderkey (partial aggs collapse lineitems map-side), one
    orderkey-equi-join against orders, tiny status-keyed final agg."""
    li = tables(spark, sf_dir)["lineitem"]
    o = tables(spark, sf_dir)["orders"]
    detail = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
            ).cast("long")
        ).alias("calc_cents")
    )
    joined = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("book_cents"),
    ).join(detail, F.col("o_orderkey") == F.col("l_orderkey"))
    diff = F.col("book_cents") - F.col("calc_cents")
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.abs(diff) > RECON_TOL_CENTS, 1).otherwise(0)
            ).alias("n_mismatched"),
            F.max(F.abs(diff)).alias("max_abs_diff_cents"),
            F.sum(diff).alias("net_diff_cents"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "a033_null_profile",
    " UNION ALL ".join(
        f"""SELECT '{c}' AS col_name,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
            FROM customer"""
        for c in PROFILE_COLS
    )
    + " ORDER BY col_name",
)
def a033_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null count + distinct cardinality of the customer
    dimension — the schema-health profile emitted after every snapshot
    load (a column whose null count jumps or whose cardinality collapses
    is the classic symptom of a broken upstream extract).

    The engine computes ALL columns in ONE scan (a single agg row of
    2×N exprs, then an explode to long format) — not N scans like the
    naive per-column UNION the oracle runs; count(DISTINCT) for several
    columns in one agg expands via Catalyst's expand-and-partial-agg,
    still one pass over the data."""
    c = tables(spark, sf_dir)["customer"]
    wide = c.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)), F.lit(0)
            ).alias(f"null_{col}")
            for col in PROFILE_COLS
        ],
        *[
            F.countDistinct(F.col(col)).alias(f"dist_{col}")
            for col in PROFILE_COLS
        ],
    )
    stack_expr = ", ".join(
        f"'{col}', null_{col}, dist_{col}" for col in PROFILE_COLS
    )
    return (
        wide.select(
            F.expr(
                f"stack({len(PROFILE_COLS)}, {stack_expr}) "
                "AS (col_name, n_null, n_distinct)"
            )
        )
        .select(
            "col_name",
            F.col("n_null").cast("long").alias("n_null"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
        )
        .orderBy("col_name")
    )


_BENFORD = {d: math.log10(1 + 1 / d) for d in range(1, 10)}

@register(
    "a034_benford_audit",
    f"""WITH digits AS (
         SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS INT) AS digit
         FROM orders WHERE o_totalprice >= 1),
       counts AS (
         SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
         FROM digits GROUP BY digit),
       tot AS (SELECT SUM(n) AS total FROM counts),
       exp_t AS (
         SELECT digit, CAST(b AS DOUBLE) AS benford_pct FROM (VALUES
           {", ".join(f"({d}, {_BENFORD[d]:.10f})" for d in range(1, 10))})
           AS t(digit, b))
       SELECT c.digit, c.n,
              ROUND(CAST(c.n AS DOUBLE) / tot.total, 4) AS pct,
              ROUND(e.benford_pct, 4) AS benford_pct,
              ROUND(ABS(CAST(c.n AS DOUBLE) / tot.total - e.benford_pct), 4)
                AS abs_dev
       FROM counts c JOIN exp_t e ON c.digit = e.digit, tot
       ORDER BY c.digit""",
)
def a034_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: empirical leading-digit
    shares vs Benford's law (P(d) = log10(1+1/d)) — the standard
    screen for fabricated or truncated monetary data; synthetic uniform
    prices fail it loudly, which is itself a useful data-provenance
    signal. One scan, 9-group agg, broadcast expectation literals."""
    o = tables(spark, sf_dir)["orders"]
    digits = o.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    # expectation as an element_at over literal constants (same
    # 10-decimal literals as the oracle's VALUES table) and the total
    # as a window over the 9-row aggregate — ONE job, no driver-side
    # table, no broadcast round-trips. The lit(1) partition is bounded
    # by construction (digits 1-9).
    exp_arr = F.array(
        *[F.lit(float(f"{_BENFORD[d]:.10f}")) for d in range(1, 10)]
    )
    benford = F.element_at(exp_arr, F.col("digit"))
    total = F.sum("n").over(W.partitionBy(F.lit(1)))
    pct = F.col("n").cast("double") / total
    return (
        counts.select(
            "digit",
            "n",
            F.round(pct, 4).alias("pct"),
            F.round(benford, 4).alias("benford_pct"),
            F.round(F.abs(pct - benford), 4).alias("abs_dev"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Pandas grouped-map z-scores (b58), pandas UDAF geometric mean (b68),
# approximate aggregates (b59)
# The approx sketches are engine-native (values differ across engines by
# design), so b59 checks a tolerance contract instead of the raw value.
# ---------------------------------------------------------------------------


@register(
    "b58_zscore_pandas",
    """SELECT doc_id,
              ROUND((n_chars - AVG(n_chars) OVER (PARTITION BY lang))
                    / STDDEV_SAMP(n_chars) OVER (PARTITION BY lang), 4) AS z
       FROM documents ORDER BY doc_id""",
)
def b58_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc-length z-scores via applyInPandas (grouped-map
    Pandas UDF — the Arrow batch path for per-group logic Spark lacks;
    here checkable because z-scores are SQL-expressible too).

    Scale shape: one shuffle on lang; each group processed as a pandas
    frame inside the executor. Groups must fit in executor memory — for
    skewed/huge groups prefer the window-function form (the oracle SQL).
    """
    d = tables(spark, sf_dir)["documents"]

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        mu = pdf["n_chars"].mean()
        sd = pdf["n_chars"].std(ddof=1)
        if pd.isna(sd) or sd == 0:
            # SQL: STDDEV_SAMP over 1 row is NULL (and x/0 is NULL) —
            # mirror as None, not pandas NaN
            z = pd.Series([None] * len(pdf), dtype="float64")
        else:
            v = (pdf["n_chars"] - mu) / sd
            # SQL ROUND is half-away-from-zero; pandas .round is half-even
            z = np.sign(v) * np.floor(np.abs(v) * 1e4 + 0.5) / 1e4
        return pd.DataFrame({"doc_id": pdf["doc_id"], "z": z})

    return (
        d.select("doc_id", "lang", "n_chars")
        .groupBy("lang")
        .applyInPandas(zscore, "doc_id long, z double")
        .orderBy("doc_id")
    )


def approx_distinct_stats(df: DataFrame, col: str, rsd: float = 0.05) -> DataFrame:
    """approx_count_distinct (HLL sketch) next to the exact count — the
    constant-memory path for 100 TB cardinality estimation."""
    return df.agg(
        F.approx_count_distinct(col, rsd).alias("approx"),
        F.countDistinct(col).alias("exact"),
    )


@register(
    "b68_geomean_udaf",
    """SELECT lang, ROUND(EXP(AVG(LN(n_chars))), 4) AS gm
       FROM documents WHERE n_chars > 0 GROUP BY lang ORDER BY lang""",
)
def b68_geomean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean as a grouped-aggregate Pandas UDF — the UDAF shape
    of the engine's Python surface (scalar pandas_udf and grouped-map
    applyInPandas are shown elsewhere). Arrow-batched; partial
    aggregation does NOT apply to pandas UDAFs, so at 100 TB favor the
    algebraic identity exp(avg(ln x)) (the oracle text) which does."""
    import numpy as np

    @F.pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        return float(np.exp(np.log(v).mean()))

    d = tables(spark, sf_dir)["documents"]
    return (
        d.filter(F.col("n_chars") > 0)
        .groupBy("lang")
        .agg(F.round(geomean("n_chars"), 4).alias("gm"))
        .orderBy("lang")
    )


@register(
    "b59_approx_distinct",
    """SELECT COUNT(DISTINCT l_partkey) AS exact, TRUE AS within_rsd
       FROM lineitem""",
)
def b59_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch vs exact, as an oracle-checkable CONTRACT: the raw
    approx value is engine-specific (Spark HLL++ vs DuckDB's sketch), so
    the query emits the exact count plus a boolean asserting the sketch
    landed within 3x its configured rsd (3 sigma ~ 99.7% of runs; the
    sketch is deterministic for fixed input, so this is stable, not
    flaky). The oracle emits literal TRUE — a hash match proves the
    engine's estimate honored the tolerance."""
    li = tables(spark, sf_dir)["lineitem"]
    rsd = 0.05
    stats = approx_distinct_stats(li, "l_partkey", rsd)
    return stats.select(
        "exact",
        (
            F.abs(F.col("approx") - F.col("exact"))
            <= F.lit(3 * rsd) * F.col("exact")
        ).alias("within_rsd"),
    )


# ---------------------------------------------------------------------------
# Embedding distribution drift (a042)
# A posexplode + (dim, half) partial agg: the shuffle carries EMB_DIM x 2
# accumulator rows regardless of corpus size.
# ---------------------------------------------------------------------------


@register(
    "a042_embedding_drift",
    """WITH x AS (
         SELECT vec_id % 2 AS half, i.pos,
                CAST(embedding[i.pos + 1] AS DOUBLE) AS v
         FROM embeddings,
              (SELECT unnest(generate_series(0,
                      len((SELECT embedding FROM embeddings LIMIT 1)) - 1))
                      AS pos) i),
       m AS (
         SELECT pos,
                ROUND(AVG(CASE WHEN half = 0 THEN v END), 6) AS mean_even,
                ROUND(AVG(CASE WHEN half = 1 THEN v END), 6) AS mean_odd
         FROM x GROUP BY pos)
       SELECT CAST(pos AS INT) AS dim, mean_even, mean_odd,
              ROUND(ABS(mean_even - mean_odd), 6) AS drift
       FROM m ORDER BY dim""",
)
def a042_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding drift between the two id-parity halves of
    the corpus — the cheap canary for 'did my embedding distribution
    shift between ingestion waves' (run it between any two real slices
    by swapping the predicate): a dimension whose mean moves is the
    first sign of an encoder or preprocessing change that silently
    breaks ANN indexes trained on the old distribution. posexplode +
    one (dim)-keyed partial agg — the shuffle carries EMB_DIM
    accumulator rows, not vectors. Means are ROUND(·, 6): addend-order
    float drift is ~1e-12 relative, far below the rounding."""
    e = tables(spark, sf_dir)["embeddings"]
    x = e.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select("half", "pos", F.col("v").cast("double").alias("v"))
    return (
        x.groupBy("pos")
        .agg(
            F.round(F.avg(F.when(F.col("half") == 0, F.col("v"))), 6).alias(
                "mean_even"
            ),
            F.round(F.avg(F.when(F.col("half") == 1, F.col("v"))), 6).alias(
                "mean_odd"
            ),
        )
        .select(
            F.col("pos").cast("int").alias("dim"),
            "mean_even",
            "mean_odd",
            F.round(
                F.abs(F.col("mean_even") - F.col("mean_odd")), 6
            ).alias("drift"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Embedding dimension correlation (a044)
# ---------------------------------------------------------------------------


#: Leading embedding dimensions audited for pairwise correlation (a044).
CORR_DIMS = 8


@register(
    "a044_dim_correlation",
    f"""WITH ex AS (SELECT vec_id,
                         unnest(generate_series(0, {CORR_DIMS - 1})) AS pos,
                         embedding
                  FROM embeddings),
       v AS (SELECT vec_id, pos,
                    CAST(embedding[pos + 1] AS DOUBLE) AS val
             FROM ex),
       p AS (SELECT a.pos AS di, b.pos AS dj, a.val AS x, b.val AS y
             FROM v a JOIN v b ON a.vec_id = b.vec_id AND a.pos < b.pos),
       m AS (SELECT di, dj, CAST(COUNT(*) AS DOUBLE) AS n,
                    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
                    SUM(x*x) AS sxx, SUM(y*y) AS syy
             FROM p GROUP BY 1, 2)
       SELECT CAST(di AS INT) AS di, CAST(dj AS INT) AS dj,
              ROUND((n*sxy - sx*sy)
                    / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 4) AS corr
       FROM m ORDER BY di, dj""",
)
def a044_dim_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation for every pair of the first {d} embedding
    dimensions — the redundancy audit run before spending a PCA /
    whitening pass: |corr| near 1 means the dimensions carry the same
    signal and the effective dimensionality is lower than the width.

    Shape: posexplode to (vec_id, pos, val) for {d} dims only → self-join
    on vec_id (bounded fan-out {d}×({d}-1)/2 = {p} rows per vector) →
    one partial-aggregated co-moment reduce; the result frame is {p}
    rows whatever the corpus size. Correlation derives from raw co-moment
    sums — the same formula spelled identically in the oracle.""".format(
        d=CORR_DIMS, p=CORR_DIMS * (CORR_DIMS - 1) // 2
    )
    e = tables(spark, sf_dir)["embeddings"]
    v = e.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, CORR_DIMS)).alias("pos", "f")
    ).select("vec_id", "pos", F.col("f").cast("double").alias("val"))
    a = v.select("vec_id", F.col("pos").alias("di"), F.col("val").alias("x"))
    b = v.select("vec_id", F.col("pos").alias("dj"), F.col("val").alias("y"))
    p = a.join(b, "vec_id").filter(F.col("di") < F.col("dj"))
    m = p.groupBy("di", "dj").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("di").cast("int").alias("di"),
        F.col("dj").cast("int").alias("dj"),
        F.round(corr, 4).alias("corr"),
    ).orderBy("di", "dj")


# ---------------------------------------------------------------------------
# Count-min heavy hitters (a019)
# ---------------------------------------------------------------------------


#: count-min geometry: CMS_D hash rows × CMS_W buckets (eps = e/w ~ 4.2%).
CMS_D = 4
CMS_W = 64
#: heavy hitters reported (by true count).
CMS_TOPK = 10


@register(
    "a019_countmin_heavy_hitters",
    f"""WITH b AS (
         SELECT user_id, r.range AS r,
                CAST(('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' ||
                                         CAST(user_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % {CMS_W} AS bucket
         FROM events, range(0, {CMS_D}) r),
       counters AS (
         SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS c
         FROM b GROUP BY r, bucket),
       truth AS (
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_n
         FROM events GROUP BY user_id),
       top AS (
         SELECT user_id, true_n FROM truth
         ORDER BY true_n DESC, user_id LIMIT {CMS_TOPK}),
       est AS (
         SELECT t.user_id, t.true_n, MIN(c.c) AS est_n
         FROM top t
         JOIN b ON b.user_id = t.user_id
         JOIN counters c ON c.r = b.r AND c.bucket = b.bucket
         GROUP BY t.user_id, t.true_n),
       tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events)
       SELECT user_id, true_n, est_n,
              est_n >= true_n AS never_underestimates,
              est_n - true_n <= CAST(CEIL(2.718282 / {CMS_W} * tot.n) AS BIGINT)
                AS within_eps
       FROM est CROSS JOIN tot ORDER BY true_n DESC, user_id""",
)
def a019_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates for the top heavy hitters:
    a CMS_D x CMS_W counter grid (deterministic md5 row-hashes) whose
    per-key estimate is the MIN across rows — never an underestimate,
    and within eps·N (eps = e/w) with high probability. The sketch is
    MERGEABLE (counters add), so per-partition/per-day grids union into
    a global one without rescanning — the companion to a108's HLL
    (distinct-count) for the frequency-count question "which users
    dominate the stream", answerable from 256 counters instead of a
    full per-key table.

    ONE corpus scan total (r11 rewrite; r8 had two): the per-user truth
    counts are computed first (map-side partial agg on user_id — the
    shuffle carries |users| rows, not events), and the counter grid is
    derived FROM them: every event of a user lands in exactly that
    user's (r, bucket) cells, so c(r, bucket) = Σ true_n over users
    hashing there — bit-identical integers with the md5 work cut from
    CMS_D·|events| to CMS_D·|users| (~66x fewer md5s at the fixtures'
    events-per-user). The top-k users' buckets are re-derived on the
    k-row frame itself (same deterministic md5 expression → identical
    buckets), the stream total is the sum of one counter row's column
    (each event contributes exactly one row per r, an exact integer),
    and both the counter grid and the k-row side are broadcast. The
    contract booleans (no-underestimate, eps-bound) are exact-integer
    facts both engines agree on bit-for-bit."""
    ev = tables(spark, sf_dir)["events"]

    def rb_explode(df: DataFrame) -> DataFrame:
        return df.select(
            "*",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            (
                                F.conv(
                                    F.substring(
                                        F.md5(
                                            F.concat_ws(
                                                ":",
                                                F.lit(str(r)),
                                                F.col("user_id").cast("string"),
                                            )
                                        ),
                                        1,
                                        8,
                                    ),
                                    16,
                                    10,
                                ).cast("long")
                                % CMS_W
                            ).alias("bucket"),
                        )
                        for r in range(CMS_D)
                    ]
                )
            ).alias("rb"),
        ).select(*df.columns, "rb.r", "rb.bucket")

    # cached: |users| rows consumed by the counter grid AND the top-k
    # sort (released by operators.release_caches)
    truth = track_cache(
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    )
    # cached: 256 rows consumed by BOTH the estimate join and the stream
    # total below. Derived from truth, not a second corpus explode:
    # c(r, bucket) = Σ true_n over the users hashing to that cell.
    counters = track_cache(
        rb_explode(truth)
        .groupBy("r", "bucket")
        .agg(F.sum("true_n").cast("long").alias("c"))
    )
    top = truth.orderBy(F.col("true_n").desc(), "user_id").limit(CMS_TOPK)
    est = (
        rb_explode(top)
        .join(F.broadcast(counters), ["r", "bucket"])
        .groupBy("user_id", "true_n")
        .agg(F.min("c").alias("est_n"))
    )
    # N without a third corpus scan: every event lands in exactly one
    # bucket of hash row 0, so that row's counters sum to the count
    tot = counters.filter(F.col("r") == 0).agg(F.sum("c").alias("n"))
    bound = F.ceil(F.lit(2.718282 / CMS_W) * F.col("n")).cast("long")
    return (
        est.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "true_n",
            "est_n",
            (F.col("est_n") >= F.col("true_n")).alias("never_underestimates"),
            ((F.col("est_n") - F.col("true_n")) <= bound).alias("within_eps"),
        )
        .orderBy(F.col("true_n").desc(), "user_id")
    )
