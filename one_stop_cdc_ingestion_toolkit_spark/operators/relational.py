"""Declared relational query inventory (SURVEY.md §2.2, Q01–Q42), plus the
b56–b79 query-surface extensions (pivots, date arithmetic, analytic and
set operators, moments, RANGE frames, GROUPING ids, interval join) and
VARIANT extraction (a017).

The reference implements zero relational operators — it materializes
tables-as-topics whose purpose is downstream query
(``/root/reference/README.md:22-32``). This module IS that downstream query
surface, re-expressed DataFrame-first so Catalyst does predicate pushdown,
column pruning, join selection (broadcast for dims), AQE and whole-stage
codegen — none of it hand-scheduled.

Every function takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names match the registered oracle SQL exactly (driver hashing sorts
columns by name). Oracle SQL strings are dialect-portable per the SURVEY
contract: total ORDER BY, explicit NULLS FIRST on nullable sort keys,
DECIMAL casts for exact money sums, ROUND for small double sums.

Scale notes (100 TB posture):
- ``region``/``nation`` joins are explicitly broadcast.
- Aggregations use built-in functions only → partial (map-side) agg for free.
- Global windows (q22_dense_rank) are inherently single-partition; they are
  kept because the declared semantics require them, and flagged in the
  docstring — at scale, prefer a two-phase rank over pre-aggregated keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import register
from one_stop_cdc_ingestion_toolkit_spark.operators.skew import salted_join

DEC = "decimal(18,2)"

# ---------------------------------------------------------------------------
# Scans / projections / filters / predicates
# ---------------------------------------------------------------------------


@register("q01_scan_count", "SELECT COUNT(*) AS n FROM lineitem")
def q01_scan_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scan count. Parquet row-group metadata makes this a metadata op."""
    return tables(spark, sf_dir)["lineitem"].agg(F.count(F.lit(1)).alias("n"))


@register(
    "q02_project_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity
       FROM lineitem WHERE l_quantity > 45
       ORDER BY l_orderkey, l_linenumber""",
)
def q02_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection+filter; both reach the parquet scan (PushedFilters)."""
    li = tables(spark, sf_dir)["lineitem"]
    return (
        li.filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "q03_predicates",
    """SELECT o_orderkey FROM orders
       WHERE o_orderstatus IN ('F','P')
         AND o_totalprice BETWEEN 50000 AND 100000
         AND o_orderpriority LIKE '1%'
       ORDER BY o_orderkey""",
)
def q03_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables(spark, sf_dir)["orders"]
    return (
        o.filter(
            F.col("o_orderstatus").isin("F", "P")
            & F.col("o_totalprice").between(50000, 100000)
            & F.col("o_orderpriority").like("1%")
        )
        .select("o_orderkey")
        .orderBy("o_orderkey")
    )


@register(
    "q04_negation",
    """SELECT p_partkey FROM part
       WHERE p_type NOT LIKE '%BRASS%' AND p_size <> 15 AND p_brand IS NOT NULL
       ORDER BY p_partkey""",
)
def q04_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = tables(spark, sf_dir)["part"]
    return (
        p.filter(
            (~F.col("p_type").like("%BRASS%"))
            & (F.col("p_size") != 15)
            & F.col("p_brand").isNotNull()
        )
        .select("p_partkey")
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q05_star_join",
    """SELECT r_name, COUNT(*) AS c
       FROM customer JOIN nation ON c_nationkey = n_nationkey
                     JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name ORDER BY r_name""",
)
def q05_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way star join; both dims broadcast → zero shuffle until the agg."""
    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("r_name")
    )


@register(
    "q06_left_outer_null",
    """SELECT c_custkey FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       WHERE o_orderkey IS NULL ORDER BY c_custkey""",
)
def q06_left_outer_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer + IS NULL ≡ anti join; expressed as left_anti so Catalyst
    plans a broadcast/shuffled anti join instead of materializing the outer."""
    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "q07_full_outer",
    """SELECT COALESCE(c.c_custkey, o.o_custkey) AS k, COUNT(o.o_orderkey) AS n
       FROM customer c FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
       GROUP BY 1 ORDER BY k""",
)
def q07_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    c = t["customer"].select("c_custkey")
    o = t["orders"].select("o_custkey", "o_orderkey")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
        .select(F.coalesce("c_custkey", "o_custkey").alias("k"), "o_orderkey")
        .groupBy("k")
        .agg(F.count("o_orderkey").alias("n"))
        .orderBy("k")
    )


@register(
    "q08_semi_join",
    """SELECT s_suppkey, s_name FROM supplier
       WHERE EXISTS (SELECT 1 FROM lineitem
                     WHERE l_suppkey = s_suppkey AND l_quantity > 49)
       ORDER BY s_suppkey""",
)
def q08_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_quantity") > 49).select("l_suppkey")
    return (
        t["supplier"]
        .join(li, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "q09_anti_join",
    """SELECT p_partkey FROM part
       WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
       ORDER BY p_partkey""",
)
def q09_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["part"]
        .join(
            t["lineitem"].select("l_partkey"),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_anti",
        )
        .select("p_partkey")
        .orderBy("p_partkey")
    )


@register(
    "q10_cross_join",
    """SELECT r1.r_name AS a, r2.r_name AS b
       FROM region r1 CROSS JOIN region r2 ORDER BY a, b""",
)
def q10_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = tables(spark, sf_dir)["region"]
    r1 = r.select(F.col("r_name").alias("a"))
    r2 = r.select(F.col("r_name").alias("b"))
    return r1.crossJoin(F.broadcast(r2)).orderBy("a", "b")


@register(
    "q11_theta_join",
    """SELECT n1.n_name AS a, n2.n_name AS b
       FROM nation n1 JOIN nation n2
         ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
       ORDER BY a, b""",
)
def q11_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self equi-join on region + non-equi residual; the equi part keys the
    join so this is NOT a nested-loop at scale."""
    n = tables(spark, sf_dir)["nation"]
    n1 = n.select(
        F.col("n_regionkey").alias("rk1"),
        F.col("n_nationkey").alias("nk1"),
        F.col("n_name").alias("a"),
    )
    n2 = n.select(
        F.col("n_regionkey").alias("rk2"),
        F.col("n_nationkey").alias("nk2"),
        F.col("n_name").alias("b"),
    )
    return (
        n1.join(
            F.broadcast(n2),
            (F.col("rk1") == F.col("rk2")) & (F.col("nk1") < F.col("nk2")),
        )
        .select("a", "b")
        .orderBy("a", "b")
    )


@register(
    "q12_latest_per_key",
    """SELECT user_id, event_id FROM (
         SELECT user_id, event_id,
                ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events WHERE event_type = 'purchase') t
       WHERE rn = 1 ORDER BY user_id""",
)
def q12_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-key — the CDC latest-wins apply idiom (SURVEY §2.1 A15).
    Window shuffles once on user_id; filter-before-window prunes input.

    ts is a µs TIMESTAMP (catalog normalizes legacy ns-long fixtures), so
    both engines order on the identical µs instant; event_id breaks ties."""
    ev = tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@register(
    "b13_hash_agg_having",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100
                  AS sq
       FROM lineitem GROUP BY l_returnflag, l_linestatus
       HAVING COUNT(*) > 10 ORDER BY l_returnflag, l_linestatus""",
)
def b13_hash_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order-independent money sum via cents-as-BIGINT (identical
    arithmetic in the oracle): long sums stay in whole-stage codegen,
    ~2x faster than DECIMAL aggregation at scan scale, and the final
    double render removes the DECIMAL-precision rendering ambiguity
    between engines (r1 driver hash divergence: Spark DECIMAL(28,2) vs
    DuckDB DECIMAL(38,2))."""
    li = tables(spark, sf_dir)["lineitem"]
    cents = F.round(F.col("l_quantity") * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents).cast("double") / 100.0).alias("sq"),
        )
        .filter(F.col("n") > 10)
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q14_distinct",
    "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
)
def q14_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables(spark, sf_dir)["customer"]
    return c.select("c_mktsegment").distinct().orderBy("c_mktsegment")


@register(
    "q15_count_distinct",
    "SELECT COUNT(DISTINCT l_partkey) AS n FROM lineitem",
)
def q15_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]
    return li.agg(F.countDistinct("l_partkey").alias("n"))


@register(
    "q16_multi_distinct",
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS np,
              COUNT(DISTINCT l_suppkey) AS ns
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
)
def q16_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple distinct aggregates → Spark plans an Expand; AQE keeps the
    blow-up bounded."""
    li = tables(spark, sf_dir)["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("np"),
            F.countDistinct("l_suppkey").alias("ns"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q17_grouping_sets",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
       ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, n""",
)
def q17_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_returnflag", "l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
            "n",
        )
    )


@register(
    "q18_rollup",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100
                  AS s
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
)
def q18_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cents-as-BIGINT exact sum (see b13): the rollup expands every row
    3x, so keeping the aggregate in codegen long arithmetic instead of
    DECIMAL halves the query's wall clock at sf0.1."""
    li = tables(spark, sf_dir)["lineitem"]
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg((F.sum(cents).cast("double") / 100.0).alias("s"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "q19_cube",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
       FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
       ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
)
def q19_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables(spark, sf_dir)["orders"]
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "q20_minmax_avg",
    """SELECT o_orderstatus, MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx,
              ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    / COUNT(*), 4) AS avg_price
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
)
def q20_minmax_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables(spark, sf_dir)["orders"]
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.min("o_orderkey").alias("mn"),
            F.max("o_orderkey").alias("mx"),
            F.round(
                F.sum(F.col("o_totalprice").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "q21_rank_topk",
    """SELECT c_custkey, rnk FROM (
         SELECT c_custkey,
                RANK() OVER (PARTITION BY c_nationkey
                             ORDER BY CAST(c_acctbal AS DECIMAL(18,2)) DESC,
                                      c_custkey) AS rnk
         FROM customer) t
       WHERE rnk <= 3 ORDER BY c_custkey""",
)
def q21_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per partition; Spark rewrites rank<=k into a WindowGroupLimit
    (per-partition top-k) — no full sort of each partition's tail."""
    c = tables(spark, sf_dir)["customer"]
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").cast(DEC).desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_custkey", "rnk")
        .orderBy("c_custkey")
    )


@register(
    "q22_dense_rank",
    """SELECT o_orderkey, dr FROM (
         SELECT o_orderkey,
                DENSE_RANK() OVER (ORDER BY o_orderpriority, o_orderkey) AS dr
         FROM orders) t
       WHERE dr <= 20 ORDER BY o_orderkey""",
)
def q22_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global window — single-partition by construction. The dr<=20 filter
    is pushed into a WindowGroupLimit so only the global top slice sorts;
    at 100 TB prefer pre-filtering by the first 20 distinct priorities."""
    o = tables(spark, sf_dir)["orders"]
    w = W.orderBy("o_orderpriority", "o_orderkey")
    return (
        o.select("o_orderkey", "o_orderpriority")
        .withColumn("dr", F.dense_rank().over(w))
        .filter(F.col("dr") <= 20)
        .select("o_orderkey", "dr")
        .orderBy("o_orderkey")
    )


@register(
    "q23_lag",
    """SELECT event_id, user_id, prev_id FROM (
         SELECT event_id, user_id,
                LAG(event_id) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS prev_id
         FROM events) t
       ORDER BY user_id, event_id""",
)
def q23_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    return (
        ev.select("event_id", "user_id", "ts")
        .withColumn("prev_id", F.lag("event_id").over(w))
        .select("event_id", "user_id", "prev_id")
        .orderBy("user_id", "event_id")
    )


@register(
    "q24_moving_sum",
    """SELECT o_custkey, o_orderkey,
              ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS mv
       FROM orders ORDER BY o_custkey, o_orderkey""",
)
def q24_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables(spark, sf_dir)["orders"]
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, W.currentRow)
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .withColumn(
            "mv",
            F.round(F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double"), 2),
        )
        .select("o_custkey", "o_orderkey", "mv")
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "q25_top1_per_group",
    """SELECT o_custkey, o_orderkey FROM (
         SELECT o_custkey, o_orderkey,
                ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC,
                                            o_orderkey) AS rn
         FROM orders) t
       WHERE rn = 1 ORDER BY o_custkey""",
)
def q25_top1_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-apply idiom on orders: one winner per key via row_number."""
    o = tables(spark, sf_dir)["orders"]
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").cast(DEC).desc(), F.col("o_orderkey")
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey")
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k / set ops
# ---------------------------------------------------------------------------


@register(
    "q26_multikey_sort",
    """SELECT n_name, n_regionkey FROM nation
       ORDER BY n_regionkey DESC, n_name ASC""",
)
def q26_multikey_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = tables(spark, sf_dir)["nation"]
    return n.select("n_name", "n_regionkey").orderBy(
        F.col("n_regionkey").desc(), F.col("n_name").asc()
    )


@register(
    "q27_topk",
    """SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS p
       FROM orders ORDER BY p DESC, o_orderkey LIMIT 10""",
)
def q27_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Catalyst plans TakeOrderedAndProject — per-partition heap of
    10, no global sort. DOUBLE output type (both sides) per the
    no-DECIMAL-in-results hygiene rule."""
    o = tables(spark, sf_dir)["orders"]
    return (
        o.select(
            "o_orderkey", F.col("o_totalprice").cast(DEC).cast("double").alias("p")
        )
        .orderBy(F.col("p").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "q28_union_distinct",
    """SELECT c_nationkey AS k FROM customer
       UNION SELECT s_nationkey AS k FROM supplier
       ORDER BY k""",
)
def q28_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    c = t["customer"].select(F.col("c_nationkey").alias("k"))
    s = t["supplier"].select(F.col("s_nationkey").alias("k"))
    return c.union(s).distinct().orderBy("k")


@register(
    "q29_union_all_reagg",
    """SELECT k, COUNT(*) AS n FROM (
         SELECT c_nationkey AS k FROM customer
         UNION ALL SELECT s_nationkey AS k FROM supplier) t
       GROUP BY k ORDER BY k""",
)
def q29_union_all_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    c = t["customer"].select(F.col("c_nationkey").alias("k"))
    s = t["supplier"].select(F.col("s_nationkey").alias("k"))
    return c.union(s).groupBy("k").agg(F.count(F.lit(1)).alias("n")).orderBy("k")


@register(
    "q30_intersect",
    """SELECT c_nationkey FROM customer INTERSECT
       SELECT s_nationkey FROM supplier
       ORDER BY c_nationkey""",
)
def q30_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .select("c_nationkey")
        .intersect(t["supplier"].select(F.col("s_nationkey").alias("c_nationkey")))
        .orderBy("c_nationkey")
    )


@register(
    "q31_except",
    """SELECT n_nationkey FROM nation EXCEPT
       SELECT c_nationkey FROM customer
       ORDER BY n_nationkey""",
)
def q31_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["nation"]
        .select("n_nationkey")
        .subtract(t["customer"].select(F.col("c_nationkey").alias("n_nationkey")))
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# Scalar functions & subqueries
# ---------------------------------------------------------------------------


@register(
    "q32_string_funcs",
    """SELECT p_partkey, UPPER(p_brand) AS u, LOWER(p_type) AS l,
              LENGTH(p_name) AS ln, SUBSTR(p_name, 1, 5) AS s5,
              REPLACE(p_type, ' ', '_') AS r, TRIM(p_name) AS tr,
              p_brand || '#' || p_type AS cc
       FROM part ORDER BY p_partkey""",
)
def q32_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = tables(spark, sf_dir)["part"]
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("u"),
        F.lower("p_type").alias("l"),
        F.length("p_name").alias("ln"),
        F.substring("p_name", 1, 5).alias("s5"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("r"),
        F.trim("p_name").alias("tr"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("cc"),
    ).orderBy("p_partkey")


@register(
    "q33_date_parts",
    """SELECT o_orderkey,
              EXTRACT(YEAR FROM o_orderdate) AS y,
              EXTRACT(MONTH FROM o_orderdate) AS m,
              EXTRACT(DAY FROM o_orderdate) AS d,
              CAST(o_orderdate AS DATE) AS dt
       FROM orders ORDER BY o_orderkey""",
)
def q33_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables(spark, sf_dir)["orders"]
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.col("o_orderdate").cast("date").alias("dt"),
    ).orderBy("o_orderkey")


@register(
    "q34_math",
    """SELECT l_orderkey, l_linenumber, ROUND(l_discount * 100, 1) AS pct,
              CAST(FLOOR(l_extendedprice) AS BIGINT) AS f,
              CAST(CEIL(l_tax * 10) AS BIGINT) AS c,
              ABS(l_quantity - 25) AS a
       FROM lineitem WHERE l_orderkey <= 100 ORDER BY l_orderkey, l_linenumber""",
)
def q34_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]
    return (
        li.filter(F.col("l_orderkey") <= 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_discount") * 100, 1).alias("pct"),
            F.floor("l_extendedprice").cast("bigint").alias("f"),
            F.ceil(F.col("l_tax") * 10).cast("bigint").alias("c"),
            F.abs(F.col("l_quantity") - 25).alias("a"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "q35_case_coalesce",
    """SELECT o_orderkey,
              CASE WHEN o_totalprice > 300000 THEN 'big'
                   WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS b,
              COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS cs
       FROM orders ORDER BY o_orderkey""",
)
def q35_case_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables(spark, sf_dir)["orders"]
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("b"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias(
            "cs"
        ),
    ).orderBy("o_orderkey")


@register(
    "q36_correlated_scalar",
    """SELECT c_custkey FROM customer c
       WHERE c_acctbal > (SELECT 0.5 * MAX(c2.c_acctbal) FROM customer c2
                          WHERE c2.c_nationkey = c.c_nationkey)
       ORDER BY c_custkey""",
)
def q36_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decorrelated by hand the same way Catalyst would: per-nation max,
    broadcast back, filter. One shuffle (the agg), no per-row subquery."""
    c = tables(spark, sf_dir)["customer"]
    mx = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.max("c_acctbal").alias("mx_bal")
    )
    return (
        c.join(F.broadcast(mx), F.col("c_nationkey") == F.col("nk"))
        .filter(F.col("c_acctbal") > 0.5 * F.col("mx_bal"))
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "q37_in_subquery",
    """SELECT s_suppkey FROM supplier
       WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
       ORDER BY s_suppkey""",
)
def q37_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    nk = t["nation"].filter(F.col("n_regionkey") == 0).select("n_nationkey")
    return (
        t["supplier"]
        .join(F.broadcast(nk), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Pipeline-semantics queries (CDC / dedup / sessionization, batch-expressible)
# ---------------------------------------------------------------------------


@register(
    "q38_dedup_md5",
    "SELECT COUNT(*) AS n_docs, COUNT(DISTINCT MD5(text)) AS n_uniq FROM documents",
)
def q38_dedup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup stats — the north-star dedup core."""
    d = tables(spark, sf_dir)["documents"]
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_uniq"),
    )


@register(
    "q39_dedup_keep_first",
    """SELECT lang, COUNT(*) AS n FROM (
         SELECT lang, ROW_NUMBER() OVER (PARTITION BY MD5(text)
                                         ORDER BY doc_id) AS rn
         FROM documents) t
       WHERE rn = 1 GROUP BY lang ORDER BY lang""",
)
def q39_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"]
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        d.select("lang", "doc_id", "text")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang")
    )


@register(
    "q40_sessionization",
    """SELECT user_id, COUNT(*) AS n_sessions FROM (
         SELECT user_id,
                CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL '30' MINUTE
                     THEN 1 ELSE 0 END AS is_new
         FROM (SELECT user_id, ts,
                      LAG(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS prev_ts
               FROM events) a) b
       WHERE is_new = 1 GROUP BY user_id ORDER BY user_id""",
)
def q40_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessionization in batch — the batch twin of the streaming
    session_window operator (SURVEY §2.3).

    Gap arithmetic is timestamp-interval comparison on the µs instants both
    engines read from the same parquet — identical semantics either side."""
    ev = tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(
            F.col("prev_ts").isNull()
            | (F.col("ts") - F.col("prev_ts") > F.expr("INTERVAL 30 MINUTES"))
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy("user_id")
    )


@register(
    "q41_event_funnel",
    """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS nu
       FROM events GROUP BY event_type ORDER BY event_type""",
)
def q41_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalent of the streaming windowed funnel aggregation."""
    ev = tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("nu"))
        .orderBy("event_type")
    )


@register(
    "a53_tumbling_window",
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start, event_type,
              COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
       FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""",
)
def a53_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming tumbling-window aggregation
    (streaming/analytics.tumbling_counts; equivalence tested in
    tests/test_streaming_analytics.py). DECIMAL sum keeps the aggregate
    order-independent and oracle-exact."""
    from one_stop_cdc_ingestion_toolkit_spark.streaming.analytics import (
        tumbling_counts,
    )

    ev = tables(spark, sf_dir)["events"]
    return (
        tumbling_counts(ev, "1 hour")
        .withColumn("v", F.col("v").cast("double"))
        .orderBy("w_start", "event_type")
    )


@register(
    "q42_revenue_join",
    """SELECT o_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS rev
       FROM customer, orders, lineitem
       WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
         AND l_orderkey = o_orderkey
       GROUP BY o_orderkey ORDER BY rev DESC, o_orderkey LIMIT 20""",
)
def q42_revenue_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-ish revenue: filter customer early, join up the fact chain,
    aggregate, top-k via TakeOrderedAndProject."""
    t = tables(spark, sf_dir)
    cust = (
        t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    )
    return (
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("rev")
        )
        .orderBy(F.col("rev").desc(), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Moments, RANGE frames, GROUPING ids, calendar rollups, conditional
# join aggregates, first/last/nth, posexplode, salted-join parity,
# interval join (b70-b79, a90)
# Sums feeding arithmetic are exact DECIMAL(18,2) sums; double math runs
# only on the exact aggregates, with the same operation tree on both
# engines. Moments come from exact sums, not the engines' stddev/corr
# accumulators, whose merge order is nondeterministic.
# ---------------------------------------------------------------------------


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,2)")


@register(
    "b70_stats_moments",
    """SELECT l_returnflag, n,
              ROUND(SQRT((sxx - sx * sx / n) / (n - 1)), 6) AS std_qty,
              ROUND((n * sxy - sx * sy) /
                    (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS corr_qp
       FROM (
         SELECT l_returnflag,
                CAST(COUNT(*) AS DOUBLE) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
                         CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
                         CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
         FROM lineitem GROUP BY l_returnflag) t
       ORDER BY l_returnflag""",
)
def b70_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev + Pearson correlation from exact decimal sums.

    Deliberately NOT Spark's ``stddev``/``corr``: their partial-aggregate
    merge order is nondeterministic at double precision, which breaks
    hash parity. Exact decimal partial sums shuffle 6 numbers per group
    (map-side combine), and the double math on top is order-free.
    """
    li = tables(spark, sf_dir)["lineitem"]
    q, p = _dec("l_quantity"), _dec("l_extendedprice")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(p).cast("double").alias("sy"),
        F.sum(p * p).cast("double").alias("syy"),
        F.sum(q * p).cast("double").alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    return agg.select(
        "l_returnflag",
        "n",
        F.round(F.sqrt((sxx - sx * sx / n) / (n - F.lit(1))), 6).alias("std_qty"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr_qp"),
    ).orderBy("l_returnflag")


@register(
    "b71_range_frame",
    """SELECT o_custkey, o_orderkey,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderkey
                RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rsum
       FROM orders ORDER BY o_custkey, o_orderkey""",
)
def b71_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) window frame over the order-key domain —
    complements the ROWS frame of q24. One shuffle on o_custkey."""
    o = tables(spark, sf_dir)["orders"]
    w = W.partitionBy("o_custkey").orderBy("o_orderkey").rangeBetween(-5, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("rsum"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "b72_grouping_id",
    """SELECT o_orderstatus, o_orderpriority,
              GROUPING(o_orderstatus) AS gs, GROUPING(o_orderpriority) AS gp,
              COUNT(*) AS n
       FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
       ORDER BY gs, gp, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
)
def b72_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with GROUPING() markers distinguishing 'NULL because rolled
    up' from a genuine NULL group key (q19 without the markers)."""
    o = tables(spark, sf_dir)["orders"]
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").alias("gs"),
            F.grouping("o_orderpriority").alias("gp"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("o_orderstatus", "o_orderpriority", "gs", "gp", "n")
        .orderBy(
            "gs",
            "gp",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "b73_regexp_funcs",
    """SELECT p_partkey,
              regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
              LENGTH(regexp_replace(p_type, '[^0-9]', '', 'g')) AS n_digits,
              CAST(regexp_matches(p_type, '(BRASS|STEEL|COPPER)') AS INT) AS has_metal
       FROM part ORDER BY p_partkey""",
)
def b73_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp extract/replace/match. Dialects differ only in spelling
    (DuckDB needs the 'g' flag and regexp_matches); values are identical.
    All three stay in whole-stage codegen — no UDF."""
    p = tables(spark, sf_dir)["part"]
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_word"),
        F.length(F.regexp_replace("p_type", r"[^0-9]", "")).alias("n_digits"),
        F.col("p_type").rlike(r"(BRASS|STEEL|COPPER)").cast("int").alias("has_metal"),
    ).orderBy("p_partkey")


@register(
    "b74_month_rollup",
    """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
              COUNT(*) AS n,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
       FROM orders GROUP BY 1 ORDER BY mon""",
)
def b74_month_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month rollup — the partition granularity a 100 TB lake
    table would use ((db, table, month) per SURVEY §4.4), so this agg is
    partition-pruned there; here it is a single shuffle on the month."""
    o = tables(spark, sf_dir)["orders"]
    return (
        o.groupBy(F.trunc("o_orderdate", "mon").alias("mon"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("s"),
        )
        .orderBy("mon")
    )


@register(
    "b75_late_ship",
    """SELECT o_orderpriority,
              CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                       THEN 1 ELSE 0 END) AS BIGINT) AS late_cnt,
              COUNT(*) AS n
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       GROUP BY o_orderpriority ORDER BY o_orderpriority""",
)
def b75_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape on the fixture schema: fact-fact equi-join with
    conditional counts. Shuffle on the join key, partial aggs both
    sides of the final group-by; integer outputs are exact."""
    t = tables(spark, sf_dir)
    o, li = t["orders"], t["lineitem"]
    j = o.join(li, o.o_orderkey == li.l_orderkey)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                    1,
                ).otherwise(0)
            ).alias("late_cnt"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "b76_promo_share",
    """SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
                          (1 - CAST(l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                            (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
                   6) AS promo_pct
       FROM lineitem JOIN part ON l_partkey = p_partkey""",
)
def b76_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: revenue share of PROMO parts. Exact decimal
    revenue sums; the single double division on top is order-free.
    `part` broadcasts (dimension side), so the only shuffle is the
    map-side partial agg merge."""
    t = tables(spark, sf_dir)
    li, p = t["lineitem"], t["part"]
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    zero = F.lit(0).cast("decimal(18,2)")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(
                F.when(F.col("p_type").like("PROMO%"), rev).otherwise(zero)
            ).cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_pct")
    )


@register(
    "b77_first_last_nth",
    """SELECT o_custkey, o_orderkey,
              FIRST_VALUE(o_orderkey) OVER w AS first_k,
              LAST_VALUE(o_orderkey) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_k,
              NTH_VALUE(o_orderkey, 2) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_k
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       ORDER BY o_custkey, o_orderkey""",
)
def b77_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value analytics; the unbounded frame makes last/nth
    deterministic under the total (date, key) order. One shuffle, all
    three windows share the same sort."""
    o = tables(spark, sf_dir)["orders"]
    base = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = base.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(base).alias("first_k"),
        F.last("o_orderkey").over(full).alias("last_k"),
        F.nth_value("o_orderkey", 2).over(full).alias("second_k"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "b78_posexplode_words",
    """SELECT p_partkey, u.pos, u.word FROM (
         SELECT p_partkey,
                unnest(list_transform(generate_series(1, len(l)),
                                      i -> struct_pack(pos := i - 1, word := l[i]))) AS u
         FROM (SELECT p_partkey, string_split(p_name, ' ') AS l FROM part) s) t
       ORDER BY p_partkey, u.pos""",
)
def b78_posexplode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-valued positional explode (the UDTF surface of SURVEY §2.3,
    as a built-in generator — no Python). DuckDB spells it
    unnest+list_transform; values are identical."""
    p = tables(spark, sf_dir)["part"]
    return (
        p.select(
            "p_partkey", F.posexplode(F.split("p_name", " ")).alias("pos", "word")
        )
        .orderBy("p_partkey", "pos")
    )


@register(
    "b79_salted_join_parity",
    """SELECT s_nationkey, COUNT(*) AS n,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq
       FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       GROUP BY s_nationkey ORDER BY s_nationkey""",
)
def b79_salted_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted skew-join path, oracle-checked against the plain join:
    lineitem's hot supplier keys are scattered across 8 salt buckets and
    the supplier dimension is replicated 8x — results must be (and are)
    exactly the unsalted join's. At 100 TB this is the manual fallback
    when one key exceeds what AQE skew-splitting handles."""
    t = tables(spark, sf_dir)
    li = t["lineitem"]
    sup = t["supplier"].select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    j = salted_join(li.select("l_suppkey", "l_quantity"), sup, "l_suppkey")
    return (
        j.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("l_quantity")).cast("double").alias("sq"),
        )
        .orderBy("s_nationkey")
    )


@register(
    "a90_interval_join",
    """WITH c AS (SELECT user_id, event_id AS l_id, ts AS ts_l
                 FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, event_id AS r_id, ts AS ts_r
                 FROM events WHERE event_type = 'purchase')
       SELECT c.user_id, l_id, r_id
       FROM c JOIN p ON c.user_id = p.user_id
         AND p.ts_r >= c.ts_l
         AND p.ts_r <= c.ts_l + INTERVAL 30 MINUTE
       ORDER BY l_id, r_id""",
)
def a90_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (click→purchase attribution within 30
    min) — the BATCH twin of streaming.analytics.interval_join, same
    code path, oracle-checked. The equi-key (user_id) carries the
    shuffle; the range predicate filters inside the joined key group, so
    there is no Cartesian blow-up at scale. Timestamps stay internal
    (event ids are the output), sidestepping ns-vs-µs representation."""
    from one_stop_cdc_ingestion_toolkit_spark.streaming.analytics import (
        interval_join,
    )

    ev = tables(spark, sf_dir)["events"]
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return (
        interval_join(clicks, purchases, delay=None)
        .select("user_id", "l_id", "r_id")
        .orderBy("l_id", "r_id")
    )


# ---------------------------------------------------------------------------
# Pivot/unpivot, date arithmetic, cohort retention, analytic functions,
# EXCEPT ALL, exact quantiles, boolean aggregates, edit distance, array
# statistics (b56, b57, b60-b66, a67)
# ---------------------------------------------------------------------------


@register(
    "b56_pivot",
    """SELECT l_returnflag,
              COUNT(*) FILTER (WHERE l_linestatus = 'F') AS f_cnt,
              COUNT(*) FILTER (WHERE l_linestatus = 'O') AS o_cnt,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS f_qty,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS o_qty
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
)
def b56_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot on l_linestatus. Spark's pivot with an explicit value list is
    a single-pass conditional aggregation — same plan the FILTER-clause
    oracle describes; no extra shuffle versus a plain groupBy."""
    li = tables(spark, sf_dir)["lineitem"]
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
        )
    )
    return piv.select(
        "l_returnflag",
        F.col("F_cnt").alias("f_cnt"),
        F.col("O_cnt").alias("o_cnt"),
        F.col("F_qty").cast("double").alias("f_qty"),
        F.col("O_qty").cast("double").alias("o_qty"),
    ).orderBy("l_returnflag")


@register(
    "b57_date_arith",
    """SELECT o_orderkey,
              CAST(o_orderdate AS DATE) + 30 AS due,
              CAST(o_orderdate AS DATE) - INTERVAL 7 DAY AS reminded,
              EXTRACT(DOW FROM o_orderdate) AS dow
       FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""",
)
def b57_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic. DOW normalized: Spark dayofweek is 1=Sunday,
    DuckDB EXTRACT(DOW) is 0=Sunday — subtract 1 on the Spark side."""
    o = tables(spark, sf_dir)["orders"]
    return (
        o.filter(F.col("o_orderkey") <= 1000)
        .select(
            "o_orderkey",
            F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due"),
            F.date_sub(F.col("o_orderdate").cast("date"), 7).cast("timestamp").alias(
                "reminded"
            ),
            (F.dayofweek("o_orderdate") - 1).alias("dow"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "b66_unpivot",
    """SELECT p_partkey, metric, val FROM (
         SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val
         FROM part
         UNION ALL
         SELECT p_partkey, 'retail', CAST(p_retailprice AS DOUBLE) FROM part
       ) t
       WHERE p_partkey <= 300 ORDER BY p_partkey, metric""",
)
def b66_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long) via the native melt/unpivot operator — one
    Expand node, a single scan, no self-union."""
    p = tables(spark, sf_dir)["part"]
    return (
        p.filter(F.col("p_partkey") <= 300)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").cast("double").alias("retail"),
        )
        .unpivot("p_partkey", ["size", "retail"], "metric", "val")
        .orderBy("p_partkey", "metric")
    )


@register(
    "a67_cohort_retention",
    """WITH firsts AS (
         SELECT user_id, CAST(MIN(date_trunc('day', ts)) AS DATE) AS cohort
         FROM events GROUP BY user_id
       ),
       activity AS (
         SELECT DISTINCT e.user_id, f.cohort,
                datediff('day', f.cohort, CAST(date_trunc('day', e.ts) AS DATE)) AS day_n
         FROM events e JOIN firsts f ON e.user_id = f.user_id
       )
       SELECT cohort, day_n, COUNT(*) AS n_users
       FROM activity WHERE day_n <= 7
       GROUP BY cohort, day_n ORDER BY cohort, day_n""",
)
def a67_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, distinct active
    users per day-offset. Two keyed shuffles (first-seen agg + the
    distinct); the join broadcasts the cohort dim when small."""
    ev = tables(spark, sf_dir)["events"]
    day = F.col("ts").cast("date")
    ev_d = ev.select("user_id", day.alias("day"))
    firsts = ev_d.groupBy("user_id").agg(F.min("day").alias("cohort"))
    activity = (
        ev_d.join(firsts, "user_id")
        .select("user_id", "cohort", F.datediff("day", "cohort").alias("day_n"))
        .distinct()
    )
    return (
        activity.filter(F.col("day_n") <= 7)
        .groupBy("cohort", "day_n")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort", "day_n")
    )


@register(
    "b62_analytic_funcs",
    """SELECT c_custkey,
              FIRST_VALUE(c_custkey) OVER (PARTITION BY c_nationkey
                                           ORDER BY c_custkey) AS fv,
              LAST_VALUE(c_custkey) OVER (PARTITION BY c_nationkey
                                          ORDER BY c_custkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND UNBOUNDED FOLLOWING) AS lv,
              ROUND(PERCENT_RANK() OVER (PARTITION BY c_nationkey
                                         ORDER BY c_custkey), 6) AS pr
       FROM customer ORDER BY c_custkey""",
)
def b62_analytic_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables(spark, sf_dir)["customer"]
    w = W.partitionBy("c_nationkey").orderBy("c_custkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return c.select(
        "c_custkey",
        F.first("c_custkey").over(w).alias("fv"),
        F.last("c_custkey").over(w_full).alias("lv"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    ).orderBy("c_custkey")


@register(
    "b63_except_all",
    """SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 40
       EXCEPT ALL SELECT s_suppkey FROM supplier
       ORDER BY k""",
)
def b63_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_quantity") > 40).select(
        F.col("l_suppkey").alias("k")
    )
    s = t["supplier"].select(F.col("s_suppkey").alias("k"))
    return li.exceptAll(s).orderBy("k")


@register(
    "b64_median",
    """SELECT l_returnflag,
              ROUND(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 4) AS med,
              ROUND(CAST(quantile_cont(l_quantity, 0.9) AS DOUBLE), 4) AS p90
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
)
def b64_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (Spark percentile == SQL
    quantile_cont/percentile_cont definition)."""
    li = tables(spark, sf_dir)["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_quantity", F.lit(0.5)).cast("double"), 4).alias(
                "med"
            ),
            F.round(F.percentile("l_quantity", F.lit(0.9)).cast("double"), 4).alias(
                "p90"
            ),
        )
        .orderBy("l_returnflag")
    )


@register(
    "b65_bool_aggs",
    """SELECT o_orderstatus,
              BOOL_AND(o_totalprice > 0) AS all_pos,
              BOOL_OR(o_totalprice > 400000) AS any_big,
              COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
)
def b65_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables(spark, sf_dir)["orders"]
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.bool_and(F.col("o_totalprice") > 0).alias("all_pos"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_big"),
            F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "b60_levenshtein",
    """SELECT p_partkey, levenshtein(p_brand, p_type) AS d,
              levenshtein(p_name, p_brand) AS dn
       FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""",
)
def b60_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance (fuzzy matching primitive for entity dedup)."""
    p = tables(spark, sf_dir)["part"]
    return (
        p.filter(F.col("p_partkey") <= 500)
        .select(
            "p_partkey",
            F.levenshtein("p_brand", "p_type").alias("d"),
            F.levenshtein("p_name", "p_brand").alias("dn"),
        )
        .orderBy("p_partkey")
    )


@register(
    "b61_array_stats",
    """SELECT vec_id, len(embedding) AS n,
              ROUND(CAST(list_max(embedding) AS DOUBLE), 5) AS mx,
              ROUND(CAST(list_min(embedding) AS DOUBLE), 5) AS mn
       FROM embeddings ORDER BY vec_id""",
)
def b61_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column primitives over the embedding fixture."""
    e = tables(spark, sf_dir)["embeddings"]
    return e.select(
        "vec_id",
        F.size("embedding").alias("n"),
        F.round(F.array_max("embedding").cast("double"), 5).alias("mx"),
        F.round(F.array_min("embedding").cast("double"), 5).alias("mn"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# VARIANT extraction (a017)
# ---------------------------------------------------------------------------


@register(
    "a017_variant_extract",
    """SELECT event_type,
              CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
              CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
              CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k,
              COUNT(json_extract_string(props, '$.k')) AS n_k
       FROM events GROUP BY event_type ORDER BY event_type""",
)
def a017_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` once into a binary VARIANT, then typed
    ``try_variant_get`` path reads — the modern engine-native encoding
    that replaces per-access JSON string re-parsing (b51's
    ``get_json_object``) with a parse-once binary format; on wide
    telemetry payloads the VARIANT read is O(paths), not O(payload).
    Dialect pair: DuckDB extracts the same path from the JSON text."""
    ev = tables(spark, sf_dir)["events"]
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count("k").alias("n_k"),
        )
        .orderBy("event_type")
    )
