"""Behavioral-analytics operators (`e168`–`e172`): multi-granularity
rollups, gaps-and-islands streaks, RFM segmentation, market-basket
co-occurrence, rolling active-user curves, and first-order Markov
transitions between event types (a021).

These are the classic "user/revenue behavior" reporting shapes a CDC
pipeline's downstream lake tables feed. Each is a pure DataFrame plan
with explicit type hygiene (counts as BIGINT, money via cents-as-BIGINT
exact sums — the q18/b13 rule) so the oracle hash is representation-
stable across engines.

No reference parity (the reference is a provisioning CLI — SURVEY §0);
engine extensions per SURVEY §2.5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import register, track_cache

#: Market-basket guard: orders carrying more distinct parts than this are
#: dropped before pair generation (pair count is quadratic in basket
#: size; one degenerate 10^4-item basket yields 5*10^7 pairs). TPC-H
#: baskets max out at 7 lineitems, so the cap is a no-op at test scale —
#: it exists for the 100 TB posture, mirrored exactly in the oracle.
BASKET_CAP = 50

#: Top-k co-purchase pairs reported.
PAIR_TOPK = 20


def _global_ranked(df: DataFrame, order_cols: list) -> DataFrame:
    """``df`` plus ``_rank`` (exact global row_number over the total
    order ``order_cols``) and ``_total`` (row count) — with NO
    single-partition window (VERDICT r3 #3).

    Distributed exact ranking: range-repartition on the total order, take
    a partition-LOCAL row_number (WindowExec partitioned by
    spark_partition_id — never the zero-partition global sort), then add
    the cumulative size of the preceding range partitions. The prefix
    sum is a triangular self-join on the one-row-per-partition size
    frame (<= shuffle.partitions rows) — declarative, no global window,
    no extra driver job — and the join back is a broadcast. Callers must
    include a unique tie-break column so the order is total."""
    ranked = (
        df.repartitionByRange(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_local_rank",
            F.row_number().over(W.partitionBy("_pid").orderBy(*order_cols)),
        )
    )
    ranked = track_cache(ranked)
    sizes = ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    before = sizes.select(
        F.col("_pid").alias("_bpid"), F.col("_n").alias("_bn")
    )
    # one P×P cross join derives BOTH the prefix sum and the grand total
    # (r10 — the total used to be a separate aggregate + crossJoin,
    # costing an extra broadcast-build job per ranking pass; P ≤
    # shuffle.partitions, so the pair frame stays tiny)
    offsets = (
        sizes.crossJoin(F.broadcast(before))
        .groupBy("_pid")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_bpid") < F.col("_pid"), F.col("_bn"))),
                F.lit(0),
            ).alias("_offset"),
            F.sum("_bn").alias("_total"),
        )
    )
    return (
        ranked.join(F.broadcast(offsets), "_pid")
        .withColumn("_rank", F.col("_local_rank") + F.col("_offset"))
        .drop("_pid", "_local_rank", "_offset")
    )


def exact_row_number(df: DataFrame, order_cols: list, out_col: str) -> DataFrame:
    """Exact ``ROW_NUMBER() OVER (ORDER BY order_cols)`` as ``out_col``,
    distributed (see _global_ranked)."""
    return (
        _global_ranked(df, order_cols)
        .withColumn(out_col, F.col("_rank"))
        .drop("_rank", "_total")
    )


def exact_ntile(
    df: DataFrame, order_cols: list, n_buckets: int, out_col: str
) -> DataFrame:
    """Exact ``NTILE(n_buckets) OVER (ORDER BY order_cols)`` as
    ``out_col``, distributed (see _global_ranked). The bucket follows in
    closed form from (rank, n): the first ``n mod k`` buckets take
    ``ceil(n/k)`` rows, the rest ``floor(n/k)`` — identical tie handling
    to the window function because the order is total."""
    ranked = _global_ranked(df, order_cols)
    rank = F.col("_rank")
    q = F.floor(F.col("_total") / n_buckets)
    r = F.col("_total") % n_buckets
    head = (q + 1) * r  # rows covered by the ceil-sized buckets
    bucket = F.when(
        rank <= head, F.ceil(rank / (q + 1))
    ).otherwise(r + F.ceil((rank - head) / q))
    return (
        ranked.withColumn(out_col, bucket.cast("int"))
        .drop("_rank", "_total")
    )


@register(
    "a022_grouping_rollup",
    """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
              COALESCE(o_orderstatus, 'ALL') AS status,
              CAST(GROUPING(o_orderpriority) * 2
                   + GROUPING(o_orderstatus) AS INT) AS lvl,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                / 100 AS revenue
       FROM orders
       GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
       ORDER BY lvl, priority, status""",
)
def a022_grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue at three granularities in ONE pass: (priority, status),
    (priority), and grand total, via ROLLUP + GROUPING bits.

    Catalyst expands the rollup into a single Expand + hash-aggregate —
    one shuffle for all three granularities, vs. three separate
    aggregations (three shuffles) if written naively. At 100 TB the
    Expand multiplies rows 3x BEFORE the partial aggregate, but the
    partial agg collapses them map-side, so shuffle bytes stay at the
    aggregate's cardinality (dozens of groups), not the input's.
    Money is summed exactly as cents-BIGINT (order-independent)."""
    o = tables(spark, sf_dir)["orders"]
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    out = o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(cents).cast("double") / 100).alias("revenue"),
        (
            F.grouping("o_orderpriority").cast("int") * 2
            + F.grouping("o_orderstatus").cast("int")
        ).alias("lvl"),
    )
    return out.select(
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        "lvl",
        "n_orders",
        "revenue",
    ).orderBy("lvl", "priority", "status")


@register(
    "a023_activity_streaks",
    """WITH days AS (
         SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       anchored AS (
         SELECT user_id, day,
                day - CAST(ROW_NUMBER() OVER (
                  PARTITION BY user_id ORDER BY day) AS INT) AS anchor
         FROM days),
       runs AS (
         SELECT user_id, anchor, COUNT(*) AS len
         FROM anchored GROUP BY user_id, anchor),
       longest AS (
         SELECT user_id, MAX(len) AS longest FROM runs GROUP BY user_id)
       SELECT CAST(longest AS BIGINT) AS longest_streak,
              CAST(COUNT(*) AS BIGINT) AS n_users
       FROM longest GROUP BY longest ORDER BY longest_streak""",
)
def a023_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, histogrammed —
    the gaps-and-islands idiom: a run of consecutive days shares the
    anchor ``day - row_number()``, so runs fall out of a plain groupBy
    with no self-join.

    Scale shape: one shuffle to dedup (user, day), one window sort per
    user partition (bounded by a user's distinct days, not event count —
    the distinct happens FIRST, so a user with 10^6 events on one day
    contributes 1 row to the sort), then two small aggs on the same
    user partitioning. No range join, no per-user collect."""
    ev = tables(spark, sf_dir)["events"]
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    anchored = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    runs = anchored.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len")
    )
    longest = runs.groupBy("user_id").agg(F.max("len").alias("longest"))
    return (
        longest.groupBy(F.col("longest").alias("longest_streak"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("longest_streak")
    )


@register(
    "a024_rfm_segments",
    """WITH maxd AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
       cust AS (
         SELECT o_custkey,
                DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE),
                          CAST((SELECT maxd FROM maxd) AS DATE)) AS recency,
                COUNT(*) AS freq,
                SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS mon_cents
         FROM orders GROUP BY o_custkey),
       scored AS (
         SELECT o_custkey, mon_cents,
                NTILE(4) OVER (ORDER BY recency, o_custkey) AS r,
                NTILE(4) OVER (ORDER BY freq, o_custkey) AS f,
                NTILE(4) OVER (ORDER BY mon_cents, o_custkey) AS m
         FROM cust)
       SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
              CAST(COUNT(*) AS BIGINT) AS n_customers,
              CAST(SUM(mon_cents) AS DOUBLE) / 100 AS total_monetary
       FROM scored GROUP BY r, f, m ORDER BY r, f, m""",
)
def a024_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation:
    per-customer metrics, exact NTILE(4) each on a TOTAL order (metric
    then custkey — ties broken deterministically so both engines bucket
    identically), then segment-level counts and exact money totals.

    Scale note (VERDICT r3 #3): quartile assignment uses
    ``exact_ntile`` — distributed exact ranking via range repartition +
    partition-local row_number + driver-bounded cumulative offsets — so
    there is NO zero-partition WindowExec anywhere in the plan (asserted
    in tests/test_plans.py); at 10^9 customers each metric's rank is an
    ordinary range shuffle."""
    o = tables(spark, sf_dir)["orders"]
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(cents).alias("mon_cents"),
    )
    maxd = o.agg(F.max("o_orderdate").alias("maxd"))
    cust = cust.crossJoin(F.broadcast(maxd)).withColumn(
        "recency", F.datediff(F.to_date("maxd"), F.to_date("last_order"))
    )
    # ONE exact-ranking pass for all three metrics (r10 — was three
    # independent exact_ntile pipelines: 3 range shuffles, 3 offset
    # broadcasts, 3 join-backs; 15 jobs / 74 plan exchanges). The
    # metrics are stacked as (custkey, metric_idx, value) — 3n slim
    # rows — and range-partitioned by (metric, value, custkey), a total
    # order in which each metric's block is contiguous; the per-metric
    # rank is then global_rank − metric_idx·n (every metric contributes
    # exactly n = |customers| rows), and the NTILE closed form is
    # unchanged. Same bucket per (customer, metric) as the independent
    # passes: the per-metric total order and tie-break are identical.
    cust = track_cache(cust)
    stacked = cust.select(
        "o_custkey",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("_metric"),
                        F.col(metric).cast("long").alias("_v"),
                    )
                    for i, metric in enumerate(["recency", "freq", "mon_cents"])
                ]
            )
        ).alias("_mv"),
    ).select(
        "o_custkey",
        F.col("_mv._metric").alias("_metric"),
        F.col("_mv._v").alias("_v"),
    )
    ranked = _global_ranked(stacked, ["_metric", "_v", "o_custkey"])
    # rows per metric: integral division (ADVICE r10 — the double-divide
    # form silently depended on _total < 2^53; `div` is exact at any n)
    n = F.expr("_total div 3")
    rank = F.col("_rank") - F.col("_metric") * n
    k = 4
    q = F.floor(n / k)
    rem = n % k
    head = (q + 1) * rem  # rows covered by the ceil-sized buckets
    bucket = F.when(rank <= head, F.ceil(rank / (q + 1))).otherwise(
        rem + F.ceil((rank - head) / q)
    ).cast("int")
    pivot = (
        ranked.withColumn("_b", bucket)
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("_metric") == 0, F.col("_b"))).alias("r"),
            F.max(F.when(F.col("_metric") == 1, F.col("_b"))).alias("f"),
            F.max(F.when(F.col("_metric") == 2, F.col("_b"))).alias("m"),
        )
    )
    scored = cust.select("o_custkey", "mon_cents").join(pivot, "o_custkey")
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("mon_cents").cast("double") / 100).alias("total_monetary"),
        )
        .orderBy("r", "f", "m")
    )


@register(
    "a025_copurchase_pairs",
    f"""WITH items AS (
         SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       ok AS (
         SELECT l_orderkey FROM items GROUP BY l_orderkey
         HAVING COUNT(*) <= {BASKET_CAP}),
       capped AS (
         SELECT i.l_orderkey, i.l_partkey FROM items i
         JOIN ok USING (l_orderkey)),
       pairs AS (
         SELECT a.l_partkey AS p1, b.l_partkey AS p2
         FROM capped a JOIN capped b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
       SELECT p1, p2, CAST(COUNT(*) AS BIGINT) AS n_orders
       FROM pairs GROUP BY p1, p2
       ORDER BY n_orders DESC, p1, p2 LIMIT {PAIR_TOPK}""",
)
def a025_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-purchased part pairs (market-basket affinity): distinct
    (order, part), drop degenerate baskets over BASKET_CAP, self-join on
    the order key with ``p1 < p2``, count, global top-k.

    Scale shape: ONE shuffle total — `collect_set` gathers each order's
    distinct parts (map-side partial sets, basket bounded by the data
    model), the BASKET_CAP filter and the p1<p2 pair expansion are then
    LOCAL array ops inside whole-stage codegen (sorted array + nested
    `transform`/`slice`, ≤ CAP²/2 pairs per order). This replaces the
    round-3 self-join, which shuffled the (order, part) table twice and
    paid a sort-merge join for what is a per-group local product. The
    top-k is TakeOrderedAndProject (per-partition heaps, no global sort
    materialization). Same df-cap discipline as the Jaccard inverted
    index (VERDICT r1 #6): caps keep quadratic candidate generation
    linear-ish at scale, and the cap is mirrored verbatim in the
    oracle."""
    li = tables(spark, sf_dir)["lineitem"]
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts").between(2, BASKET_CAP))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (p1, i) -> "
                "transform(slice(parts, i + 2, size(parts) - i - 1), "
                "p2 -> struct(p1, p2))))"
            )
        ).alias("pr")
    ).select(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "p1", "p2")
        .limit(PAIR_TOPK)
    )


@register(
    "a026_rolling_dau",
    """WITH du AS (
         SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
       dau AS (
         SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY day),
       wau AS (
         SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
         FROM (SELECT DISTINCT day FROM du) d
         JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
         GROUP BY d.day)
       SELECT d.day, CAST(d.dau AS BIGINT) AS dau,
              CAST(w.wau AS BIGINT) AS wau
       FROM dau d JOIN wau w USING (day) ORDER BY day""",
)
def a026_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + trailing-7-day distinct users (DAU/WAU) per
    active day.

    The rolling-distinct is the interesting part: a naive range join
    (day BETWEEN d-6 AND d, the oracle's shape) is a broadcast-nested-
    loop in Spark. Instead each (day, user) row is EXPLODED to the 7
    target days it contributes to — a linear 7x inflation that turns the
    range join into a plain equi-aggregation: one shuffle on target day,
    count-distinct inside. At 100 TB the exact count-distinct (2-phase
    shuffle) swaps for approx_count_distinct or per-day HLL sketches
    merged over the window; the explode pattern is unchanged."""
    ev = tables(spark, sf_dir)["events"]
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    contrib = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "user_id",
    )
    wau = contrib.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    return dau.join(wau, "day").select("day", "dau", "wau").orderBy("day")


# ---------------------------------------------------------------------------
# Markov transitions of user events (a021)
# ---------------------------------------------------------------------------


@register(
    "a021_markov_transitions",
    """WITH seq AS (
         SELECT user_id, event_type,
                lead(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS nxt
         FROM events),
       t AS (
         SELECT event_type AS cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
         FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt),
       tot AS (SELECT cur, SUM(n) AS tn FROM t GROUP BY cur)
       SELECT t.cur, t.nxt, t.n,
              ROUND(CAST(t.n AS DOUBLE) / tot.tn, 4) AS p
       FROM t JOIN tot USING (cur) ORDER BY cur, nxt""",
)
def a021_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for every
    consecutive event pair within a user's (ts, event_id)-ordered
    history, count cur→next transitions and normalize per current
    state. The matrix is the standard sequence-model sanity check
    before training on event sequences (a114's assembly): a
    near-uniform row means that state carries no signal; a
    near-degenerate row reveals deterministic instrumentation
    (log-spam) that will dominate next-event objectives.

    One user-keyed window (the only shuffle carrying event rows) then
    two |types|²-sized exact-count aggs; probabilities are exact
    integer ratios, bit-identical across engines."""
    ev = tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    # cached: the types² transition counts feed the row totals AND the
    # probabilities — uncached, the events window pass ran twice
    # (review r8)
    t = track_cache(
        seq.groupBy(F.col("event_type").alias("cur"), "nxt").agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    tot = t.groupBy("cur").agg(F.sum("n").alias("tn"))
    return (
        t.join(F.broadcast(tot), "cur")
        .select(
            "cur",
            "nxt",
            "n",
            F.round(F.col("n").cast("double") / F.col("tn"), 4).alias("p"),
        )
        .orderBy("cur", "nxt")
    )
