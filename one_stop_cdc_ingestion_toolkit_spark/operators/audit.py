"""Data-quality auditing, cardinality estimation, and robust statistics
(round-3 ``a1xx`` batch, part 1).

These are the operational checks a 100 TB lakehouse runs continuously
over CDC-materialized tables: referential-integrity audits, join-size
(F2) estimation for planner/skew decisions, bloom-style pre-filter
semi-joins, sketch-vs-exact quantile contracts, revenue-concentration
and Pareto audits, winsorized/robust aggregates, behavioral-gap
histograms, ordered funnels, and deterministic per-stratum reservoir
sampling. The statistical audits live here too: pairwise AUC of the
quality score (a043), Welch's two-sample t (a008) and k-anonymity over
quasi-identifiers (a0055).

Scale notes (what survives 1000 executors):

- Every operator is built-in-function DataFrame code — no Python in the
  hot path; whole-stage codegen end-to-end.
- Audits aggregate per key BEFORE joining (pre-aggregated outer join),
  so the integrity check is two map-side-combined shuffles + one keyed
  join, never a row-level fact×fact join.
- The F2 estimator samples KEYS by deterministic hash, so the estimate
  is computed from a 1/16 scan-side filter that parquet row-group
  statistics can't prune but the scan applies before any shuffle.
- The bloom prefilter ships a compact bucket set (≤ ``BLOOM_BUCKETS``
  ints) through a broadcast join — the 100 TB fact scan is filtered
  map-side, the exact semi-join then runs only to measure the false
  positives the bucket filter admitted.
- Reservoir sampling is a per-group window top-k: one shuffle on the
  stratum key, ``WindowGroupLimit`` prunes to k rows per partition
  before the final sort at any corpus size.

Determinism: all sampling/ranking is md5-based (never rand()) — stable
across engines and Spark task retries (same argument as
operators/skew.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import register, track_cache
from one_stop_cdc_ingestion_toolkit_spark.operators.text import _duck_quality, quality_score

#: F2-estimator key-sample: keys whose first md5 hex digit is '0' (1/16).
F2_SALT = "f2:"
F2_RATE = 16
#: Bloom-style prefilter bucket count (compact enough to broadcast as a set).
BLOOM_BUCKETS = 1024
#: Reservoir size per stratum (a126).
RESERVOIR_K = 5
#: Winsorization clip quantiles (a122).
WINSOR_LO = 0.05
WINSOR_HI = 0.95


def hash_bucket(key: Column, buckets: int) -> Column:
    """Deterministic 32-bit md5 bucket of ``key`` — engine-portable
    (DuckDB twin: ``CAST(('0x'||substr(md5(k),1,8)) AS BIGINT) % buckets``)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
        % buckets
    )


# ---------------------------------------------------------------------------
# a117: referential-integrity audit
# ---------------------------------------------------------------------------


@register(
    "a117_integrity_audit",
    """WITH o AS (SELECT o_orderkey AS k, COUNT(*) AS n_o
                 FROM orders GROUP BY o_orderkey),
       l AS (SELECT l_orderkey AS k, COUNT(*) AS n_l
                 FROM lineitem GROUP BY l_orderkey),
       j AS (SELECT COALESCE(o.k, l.k) AS k, o.n_o, l.n_l
             FROM o FULL OUTER JOIN l ON o.k = l.k)
       SELECT CAST(COALESCE(SUM(n_o), 0) AS BIGINT) AS n_orders,
              CAST(COALESCE(SUM(n_l), 0) AS BIGINT) AS n_lineitem,
              CAST(COALESCE(SUM(CASE WHEN n_l IS NULL THEN n_o END), 0) AS BIGINT)
                  AS orders_wo_items,
              CAST(COALESCE(SUM(CASE WHEN n_o IS NULL THEN n_l END), 0) AS BIGINT)
                  AS orphan_items,
              CAST(COALESCE(SUM(CASE WHEN n_o > 1 THEN 1 END), 0) AS BIGINT)
                  AS dup_orderkeys
       FROM j""",
)
def a117_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit between a CDC-materialized parent and
    child table: row counts, parents without children, orphan children,
    duplicate parent keys — the invariants a MERGE-maintained lake table
    must keep.

    Pre-aggregates each side to (key, count) with map-side combine, then
    ONE keyed full-outer join over key-cardinality-sized inputs — never a
    row-level join. At 100 TB this is two partial-agg shuffles plus a
    co-partitioned join; the final single-row agg is a local fold."""
    t = tables(spark, sf_dir)
    o = t["orders"].groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_o")
    )
    li = t["lineitem"].groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_l")
    )
    j = o.join(li, "k", "full_outer")
    zero = F.lit(0).cast("long")
    return j.agg(
        F.coalesce(F.sum("n_o"), zero).alias("n_orders"),
        F.coalesce(F.sum("n_l"), zero).alias("n_lineitem"),
        F.coalesce(
            F.sum(F.when(F.col("n_l").isNull(), F.col("n_o"))), zero
        ).alias("orders_wo_items"),
        F.coalesce(
            F.sum(F.when(F.col("n_o").isNull(), F.col("n_l"))), zero
        ).alias("orphan_items"),
        F.coalesce(F.sum(F.when(F.col("n_o") > 1, F.lit(1))), zero).alias(
            "dup_orderkeys"
        ),
    )


# ---------------------------------------------------------------------------
# a118: self-join-size (F2) estimation by key sampling
# ---------------------------------------------------------------------------


@register(
    "a118_join_size_estimate",
    f"""WITH cnt AS (SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY l_partkey),
       act AS (SELECT CAST(SUM(c * c) AS BIGINT) AS f2 FROM cnt),
       est AS (SELECT CAST({F2_RATE} * SUM(c * c) AS BIGINT) AS f2
               FROM cnt
               WHERE substr(md5('{F2_SALT}' || CAST(l_partkey AS VARCHAR)), 1, 1) = '0')
       SELECT act.f2 AS actual_f2, est.f2 AS est_f2,
              ROUND(ABS(CAST(est.f2 AS DOUBLE) - act.f2) / act.f2, 4) AS rel_err
       FROM act, est""",
)
def a118_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join-size estimation — the second frequency moment
    F2 = Σ_k cnt(k)², the quantity a planner needs to predict
    ``lineitem ⋈ lineitem ON l_partkey`` blowup and detect skew before
    launching the join.

    Estimator: sample KEYS (not rows) with a deterministic 1/16 md5
    filter, compute Σ cnt² over sampled keys, scale by 16 — unbiased
    under uniform key hashing. At 100 TB the exact F2 needs a full
    per-key count; the estimate prunes 15/16 of the agg input with a
    map-side filter, which is the point of the operator. Both are
    computed here to report the realized relative error."""
    li = tables(spark, sf_dir)["lineitem"]
    # cached: the per-key count frame feeds BOTH the exact and the
    # sampled estimate — uncached, each agg re-ran the full lineitem
    # scan + count (review r8; released by operators.release_caches)
    cnt = track_cache(li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c")))
    f2 = (F.col("c") * F.col("c")).cast("long")
    act = cnt.agg(F.sum(f2).alias("actual_f2"))
    sampled = cnt.filter(
        F.substring(
            F.md5(F.concat(F.lit(F2_SALT), F.col("l_partkey").cast("string"))), 1, 1
        )
        == "0"
    )
    est = sampled.agg((F.lit(F2_RATE) * F.sum(f2)).cast("long").alias("est_f2"))
    return act.crossJoin(est).select(
        "actual_f2",
        "est_f2",
        F.round(
            F.abs(F.col("est_f2").cast("double") - F.col("actual_f2"))
            / F.col("actual_f2"),
            4,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# a119: bloom-style bucket prefilter vs exact semi-join
# ---------------------------------------------------------------------------


@register(
    "a119_bloom_prefilter",
    f"""WITH keys AS (SELECT DISTINCT p_partkey FROM part WHERE p_size < 10),
       buckets AS (SELECT DISTINCT
                       CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 8))
                            AS BIGINT) % {BLOOM_BUCKETS} AS b
                   FROM keys),
       pre AS (SELECT l.l_orderkey, l.l_partkey
               FROM lineitem l
               JOIN buckets ON CAST(('0x' || substr(md5(CAST(l.l_partkey AS VARCHAR)), 1, 8))
                                    AS BIGINT) % {BLOOM_BUCKETS} = buckets.b),
       ex AS (SELECT pre.l_partkey,
                     EXISTS(SELECT 1 FROM keys k WHERE k.p_partkey = pre.l_partkey)
                         AS hit
              FROM pre)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_pass,
              CAST(COUNT(CASE WHEN hit THEN 1 END) AS BIGINT) AS n_true,
              ROUND(CAST(COUNT(CASE WHEN NOT hit THEN 1 END) AS DOUBLE)
                    / COUNT(*), 4) AS fp_rate
       FROM ex""",
)
def a119_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-style pre-filter semi-join: hash the (small) build side's
    keys into a compact bucket set, broadcast it, and filter the fact
    scan map-side BEFORE the exact semi-join — the pattern runtime
    bloom-filter joins / DPP use to keep a 100 TB probe scan from
    shuffling rows the build side can never match.

    The operator reports the admitted row count, the true-match count,
    and the realized false-positive rate of the ``BLOOM_BUCKETS``-wide
    filter. ONE aggregation builds the whole broadcast structure —
    bucket → the exact key set hashing into it — so bucket membership
    IS the bloom admit and array membership IS the exact check: one
    shuffle + one broadcast join where the r5 shape paid two distincts
    and two broadcast joins (r6 stage-fusion; the weak-tail ask). The
    broadcast payload is the same full key set the exact semi-join
    shipped anyway, just grouped (avg |keys|/BLOOM_BUCKETS per array),
    and the fact table is still never shuffled. (A collect-and-inline
    IN-set variant for the bucket filter was measured ~35% SLOWER here —
    the extra synchronous collect job plus a 640-value InSet per row
    loses to the broadcast hash join.)"""
    t = tables(spark, sf_dir)
    # p_partkey is part's primary key — the oracle's DISTINCT is a no-op,
    # so the filtered scan feeds the build aggregation directly.
    keys = t["part"].filter(F.col("p_size") < 10).select("p_partkey")
    bucket_keys = keys.groupBy(
        hash_bucket(F.col("p_partkey"), BLOOM_BUCKETS).alias("b")
    ).agg(F.collect_set("p_partkey").alias("ks"))
    li = t["lineitem"].select("l_partkey")
    pre = li.withColumn("b", hash_bucket(F.col("l_partkey"), BLOOM_BUCKETS)).join(
        F.broadcast(bucket_keys), "b"
    )
    hit = F.array_contains(F.col("ks"), F.col("l_partkey"))
    return pre.agg(
        F.count(F.lit(1)).alias("n_pass"),
        F.count(F.when(hit, 1)).alias("n_true"),
        F.round(
            F.count(F.when(~hit, 1)).cast("double") / F.count(F.lit(1)), 4
        ).alias("fp_rate"),
    )


# ---------------------------------------------------------------------------
# a120: sketch-vs-exact quantile contract
# ---------------------------------------------------------------------------


@register(
    "a120_quantile_contract",
    """SELECT ROUND(quantile_cont(value, 0.5), 4) AS p50,
              ROUND(quantile_cont(value, 0.9), 4) AS p90,
              ROUND(quantile_cont(value, 0.99), 4) AS p99,
              TRUE AS approx_ok
       FROM events""",
)
def a120_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles of the event-value stream PLUS a sketch contract:
    ``approx_percentile`` (mergeable KLL-style sketch, the only shape
    that scales — exact percentile holds the whole column per group)
    must land within 1% relative error of the exact value. The oracle
    pins the exact quantiles and asserts the contract literally as TRUE;
    the engine computes it, so a sketch regression fails the hash.

    At 100 TB you run ONLY the sketch; the exact side here is the
    calibration harness."""
    ev = tables(spark, sf_dir)["events"]
    agg = ev.agg(
        F.expr("percentile(value, 0.5)").alias("e50"),
        F.expr("percentile(value, 0.9)").alias("e90"),
        F.expr("percentile(value, 0.99)").alias("e99"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("a50"),
        F.expr("approx_percentile(value, 0.9, 10000)").alias("a90"),
        F.expr("approx_percentile(value, 0.99, 10000)").alias("a99"),
    )
    within = (
        (F.abs(F.col("a50") - F.col("e50")) / F.col("e50") < 0.01)
        & (F.abs(F.col("a90") - F.col("e90")) / F.col("e90") < 0.01)
        & (F.abs(F.col("a99") - F.col("e99")) / F.col("e99") < 0.01)
    )
    return agg.select(
        F.round("e50", 4).alias("p50"),
        F.round("e90", 4).alias("p90"),
        F.round("e99", 4).alias("p99"),
        within.alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# a121: customer-LTV deciles (Pareto audit)
# ---------------------------------------------------------------------------


@register(
    "a121_ltv_deciles",
    """WITH rev AS (SELECT o_custkey,
                        CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                            AS cents
                   FROM orders GROUP BY o_custkey),
       d AS (SELECT cents, NTILE(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
             FROM rev),
       tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM d)
       SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
              CAST(SUM(cents) AS BIGINT) AS rev_cents,
              ROUND(CAST(SUM(cents) AS DOUBLE) / (SELECT t FROM tot), 4) AS share
       FROM d GROUP BY decile ORDER BY decile""",
)
def a121_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value deciles — the Pareto/data-valuation audit
    (which 10% of customers carry which revenue share). Money is summed
    as cents-in-BIGINT (exact, order-independent — the q18/b13 fix);
    NTILE's global order is made total with the custkey tie-break so
    both engines assign identical deciles.

    Decile assignment uses behavior.exact_ntile (range repartition +
    partition-local row_number + partition-size offsets) — exact NTILE
    semantics with no single-partition sort, so the plan survives
    10^9-customer cardinality (VERDICT r3 #3's a024 fix, applied to the
    other NTILE in the inventory)."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.behavior import (
        exact_ntile,
    )

    o = tables(spark, sf_dir)["orders"]
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rev = o.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    d = exact_ntile(
        rev, [F.col("cents").desc(), F.col("o_custkey")], 10, "decile"
    ).select("cents", "decile")
    tot = d.agg(F.sum("cents").alias("t"))
    return (
        d.groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_cust"), F.sum("cents").alias("rev_cents"))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_cust",
            "rev_cents",
            F.round(F.col("rev_cents").cast("double") / F.col("t"), 4).alias("share"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# a122: winsorized statistics
# ---------------------------------------------------------------------------


@register(
    "a122_winsorized_stats",
    f"""WITH q AS (SELECT o_orderpriority,
                       quantile_cont(o_totalprice, {WINSOR_LO}) AS lo,
                       quantile_cont(o_totalprice, {WINSOR_HI}) AS hi
                  FROM orders GROUP BY o_orderpriority)
       SELECT o.o_orderpriority,
              ROUND(q.lo, 4) AS p05, ROUND(q.hi, 4) AS p95,
              ROUND(AVG(LEAST(GREATEST(o.o_totalprice, q.lo), q.hi)), 4) AS wmean,
              ROUND(AVG(o.o_totalprice), 4) AS mean
       FROM orders o JOIN q USING (o_orderpriority)
       GROUP BY o.o_orderpriority, q.lo, q.hi
       ORDER BY o.o_orderpriority""",
)
def a122_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per order priority — the outlier-robust aggregate
    a pipeline uses when raw AVG is hostage to a few extreme rows.
    Clip bounds are the per-group 5th/95th percentiles, computed once
    per group (5 groups) and broadcast back onto the fact scan; the
    clip + mean is then a single map-side-combined agg. Two passes over
    the data, zero row-level joins."""
    o = tables(spark, sf_dir)["orders"]
    q = o.groupBy("o_orderpriority").agg(
        F.expr(f"percentile(o_totalprice, {WINSOR_LO})").alias("lo"),
        F.expr(f"percentile(o_totalprice, {WINSOR_HI})").alias("hi"),
    )
    j = o.join(F.broadcast(q), "o_orderpriority")
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    return (
        j.groupBy("o_orderpriority", "lo", "hi")
        .agg(
            F.round(F.avg(clipped), 4).alias("wmean"),
            F.round(F.avg("o_totalprice"), 4).alias("mean"),
        )
        .select(
            "o_orderpriority",
            F.round("lo", 4).alias("p05"),
            F.round("hi", 4).alias("p95"),
            "wmean",
            "mean",
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# a123: revenue concentration (HHI)
# ---------------------------------------------------------------------------


@register(
    "a123_hhi_concentration",
    """WITH rev AS (SELECT c.c_mktsegment, o.o_custkey,
                       CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                           AS cents
                   FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                   GROUP BY c.c_mktsegment, o.o_custkey),
       seg AS (SELECT c_mktsegment, CAST(SUM(cents) AS BIGINT) AS seg_cents
               FROM rev GROUP BY c_mktsegment)
       SELECT rev.c_mktsegment,
              CAST(COUNT(*) AS BIGINT) AS n_cust,
              ROUND(SUM(POW(CAST(cents AS DOUBLE) / seg_cents, 2)), 6) AS hhi
       FROM rev JOIN seg USING (c_mktsegment)
       GROUP BY rev.c_mktsegment
       ORDER BY rev.c_mktsegment""",
)
def a123_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of revenue per market segment:
    Σ (customer share)² — the skew audit for "does one key dominate this
    segment", the same statistic that decides whether a downstream join
    needs salting (operators/skew.py).

    Exact cents arithmetic for the shares' numerator/denominator; the
    only doubles are the final share ratios. Per-customer partial aggs
    shuffle once on (segment, custkey); segment totals are a
    key-cardinality agg broadcast back."""
    t = tables(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # cached: the join+agg feeds the segment totals AND the HHI pass —
    # uncached, the orders⋈customer join ran twice (review r8)
    rev = track_cache(
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum(cents).alias("cents"))
    )
    seg = rev.groupBy("c_mktsegment").agg(F.sum("cents").alias("seg_cents"))
    share = F.col("cents").cast("double") / F.col("seg_cents")
    return (
        rev.join(F.broadcast(seg), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum(F.pow(share, 2)), 6).alias("hhi"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# a124: inter-event gap histogram
# ---------------------------------------------------------------------------


@register(
    "a124_session_gap_hist",
    """WITH g AS (SELECT user_id,
                     epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
                 FROM events)
       SELECT CAST(FLOOR(LOG2(1 + gap_us / 1000000)) AS INT) AS bucket,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(MIN(gap_us // 1000000) AS BIGINT) AS min_gap_s,
              CAST(MAX(gap_us // 1000000) AS BIGINT) AS max_gap_s
       FROM g WHERE gap_us IS NOT NULL
       GROUP BY bucket ORDER BY bucket""",
)
def a124_session_gap_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed histogram of inter-event gaps per user — the
    diagnostic that calibrates the sessionization gap threshold (q40's
    30-minute rule) and the streaming watermark delay against observed
    behavior. Gap arithmetic is exact integer µs (timestamps never pass
    through doubles); only the bucket boundary uses log2, on an
    integer-valued input. One user-keyed window pass + one small agg."""
    ev = tables(spark, sf_dir)["events"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    bucket = F.floor(F.log2(F.lit(1) + F.col("gap_us") / F.lit(1000000))).cast("int")
    return (
        g.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.col("gap_us").cast("long") / F.lit(1000000)).cast("long"),
            F.max(F.col("gap_us").cast("long") / F.lit(1000000)).cast("long"),
        )
        .toDF("bucket", "n", "min_gap_s", "max_gap_s")
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# a125: strictly-ordered funnel with conversion timing
# ---------------------------------------------------------------------------


@register(
    "a125_funnel_ordered",
    """WITH v AS (SELECT user_id, MIN(ts) AS t_v FROM events
                 WHERE event_type = 'view' GROUP BY user_id),
       c AS (SELECT e.user_id, MIN(e.ts) AS t_c
             FROM events e JOIN v ON e.user_id = v.user_id
             WHERE e.event_type = 'click' AND e.ts > v.t_v GROUP BY e.user_id),
       p AS (SELECT e.user_id, MIN(e.ts) AS t_p
             FROM events e JOIN c ON e.user_id = c.user_id
             WHERE e.event_type = 'purchase' AND e.ts > c.t_c GROUP BY e.user_id),
       hrs AS (SELECT v.user_id,
                      (epoch_us(p.t_p) - epoch_us(v.t_v)) / 3600000000.0 AS h
               FROM v JOIN p ON v.user_id = p.user_id)
       SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
              CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_after,
              CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_after,
              ROUND((SELECT quantile_cont(h, 0.5) FROM hrs), 4) AS med_hours""",
)
def a125_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ORDERED funnel (view → later click → later purchase) with
    median time-to-convert — unlike q41's per-type counts, each stage
    requires the event to happen AFTER the user's previous stage.

    Three user-keyed aggregations chained by broadcast-able (one row
    per user) joins; timing math in exact integer µs until the final
    median. At 100 TB the per-stage frames stay key-cardinality sized,
    so every join after the first agg broadcasts or co-partitions on
    user_id."""
    ev = tables(spark, sf_dir)["events"]
    # each stage frame is cached: every one is consumed 2-3 times (the
    # next stage's join, the timing join, its count) and uncached every
    # consumer re-executed the whole upstream chain — the counts row
    # alone re-scanned events ~6x (review r8)
    v = track_cache(
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_v"))
    )
    c = track_cache(
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_v"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_c"))
    )
    p = track_cache(
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_c"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_p"))
    )
    hrs = v.join(p, "user_id").select(
        (
            (
                F.unix_micros(F.col("t_p").cast("timestamp"))
                - F.unix_micros(F.col("t_v").cast("timestamp"))
            )
            / F.lit(3600000000.0)
        ).alias("h")
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after")))
        .crossJoin(hrs.agg(F.round(F.expr("percentile(h, 0.5)"), 4).alias("med_hours")))
    )
    return counts


# ---------------------------------------------------------------------------
# a126: deterministic per-stratum reservoir sample
# ---------------------------------------------------------------------------


@register(
    "a126_reservoir_per_group",
    f"""WITH r AS (SELECT lang, doc_id,
                      ROW_NUMBER() OVER (
                          PARTITION BY lang
                          ORDER BY md5('rsv:' || CAST(doc_id AS VARCHAR)), doc_id
                      ) AS rk
                  FROM documents)
       SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk
       FROM r WHERE rk <= {RESERVOIR_K}
       ORDER BY lang, rk""",
)
def a126_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-stratum "reservoir" sample: rank rows inside
    each stratum by md5 of a salted key and keep the k smallest — the
    reproducible replacement for per-group reservoir sampling (same
    sample across engines, runs, and task retries; a true
    random-reservoir is none of those).

    Plan: one shuffle on the stratum key; Spark's WindowGroupLimit
    pushes the rk <= k cut below the sort, so each partition holds k
    survivors, not the stratum. Eyeball-check vs c80: c80 keeps a
    FRACTION per stratum, this keeps an exact COUNT."""
    d = tables(spark, sf_dir)["documents"]
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(
            F.md5(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string"))), F.col("doc_id")
        )
    )
    return (
        d.select("lang", "doc_id", rk.alias("rk"))
        .filter(F.col("rk") <= RESERVOIR_K)
        .select("lang", "doc_id", F.col("rk").cast("long").alias("rk"))
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# a131: Gini coefficient of document length per source
# ---------------------------------------------------------------------------


@register(
    "a131_gini_by_source",
    """WITH r AS (SELECT source, n_chars,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY n_chars, doc_id) AS i
                 FROM documents)
       SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              ROUND((2.0 * CAST(SUM(i * n_chars) AS BIGINT)
                     - (COUNT(*) + 1) * CAST(SUM(n_chars) AS BIGINT))
                    / (COUNT(*) * CAST(SUM(n_chars) AS BIGINT)), 4) AS gini
       FROM r GROUP BY source ORDER BY source""",
)
def a131_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document-length mass per source — the
    inequality audit that complements a123's HHI: a source where 1% of
    documents carry 90% of the bytes needs different sharding (d94) and
    sampling (c80) treatment than a uniform one.

    Computed from the rank formulation G = (2·Σ i·x_i − (n+1)·Σ x_i)
    / (n·Σ x_i) over ascending-sorted lengths: all sums are exact
    BIGINT arithmetic, one double division at the end. One window pass
    per source key + one agg."""
    d = tables(spark, sf_dir)["documents"]
    i = F.row_number().over(
        W.partitionBy("source").orderBy("n_chars", "doc_id")
    )
    r = d.select("source", "n_chars", i.alias("i"))
    n = F.count(F.lit(1))
    s_ix = F.sum(F.col("i") * F.col("n_chars")).cast("long")
    s_x = F.sum("n_chars").cast("long")
    return (
        r.groupBy("source")
        .agg(
            n.alias("n_docs"),
            F.round(
                (F.lit(2.0) * s_ix - (n + 1) * s_x) / (n * s_x), 4
            ).alias("gini"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# a132: embedding norm hygiene audit
# ---------------------------------------------------------------------------


@register(
    "a132_embedding_norms",
    """WITH n AS (SELECT label,
                     sqrt(list_sum(list_transform(embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
                 FROM embeddings)
       SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
              ROUND(MIN(nrm), 4) AS min_norm,
              ROUND(AVG(nrm), 4) AS avg_norm,
              ROUND(MAX(nrm), 4) AS max_norm,
              CAST(COUNT(CASE WHEN nrm < 1e-9 THEN 1 END) AS BIGINT) AS n_zero
       FROM n GROUP BY label ORDER BY label""",
)
def a132_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-hygiene audit before any ANN build (q46/b54/b69):
    per-label L2-norm distribution plus zero-vector count — zero or
    wildly-scaled vectors poison cosine top-k silently, so this is the
    gate a pipeline runs when a new embedding batch lands from the CDC
    stream.

    The norm is a per-row higher-order-function fold (codegen, fixed
    left-to-right order — bit-identical across engines); the audit is
    one small agg on label. No shuffle carries the vectors themselves."""
    e = tables(spark, sf_dir)["embeddings"]
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        e.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
            F.count(F.when(F.col("nrm") < 1e-9, 1)).alias("n_zero"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# a133: top-variance embedding dimensions
# ---------------------------------------------------------------------------

#: Number of top-variance dimensions reported (a133).
VAR_TOP = 10


@register(
    "a133_dim_variance_topk",
    f"""WITH x AS (SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
                  FROM embeddings,
                       unnest(generate_series(1, len(embedding))) AS t(i))
       SELECT dim, ROUND(var_samp(v), 6) AS variance, ROUND(AVG(v), 6) AS mean
       FROM x GROUP BY dim
       ORDER BY variance DESC, dim LIMIT {VAR_TOP}""",
)
def a133_dim_variance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance ranking of the embedding space — the
    dimensionality audit behind IVF/PCA decisions (a near-constant
    dimension carries no retrieval signal; one dominating dimension
    distorts unnormalized distances).

    posexplode → groupBy(dim) with algebraic var_samp/avg (partials
    merge map-side, so the shuffle carries 64 accumulators per
    partition, not 64×rows values); top-k via TakeOrderedAndProject.
    Rounding to 6 absorbs summation-order ulp drift (label_centroids
    convention)."""
    e = tables(spark, sf_dir)["embeddings"]
    x = e.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim", F.col("v").cast("double").alias("v")
    )
    return (
        x.groupBy("dim")
        .agg(
            F.round(F.var_samp("v"), 6).alias("variance"),
            F.round(F.avg("v"), 6).alias("mean"),
        )
        .orderBy(F.col("variance").desc(), "dim")
        .limit(VAR_TOP)
    )


# ---------------------------------------------------------------------------
# a136: chi-square independence (event type x weekday)
# ---------------------------------------------------------------------------


@register(
    "a136_chisq_weekday",
    """WITH obs AS (SELECT event_type, isodow(ts) AS dow, COUNT(*) AS o
                   FROM events GROUP BY event_type, isodow(ts)),
       tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                      COUNT(DISTINCT event_type) AS r,
                      COUNT(DISTINCT dow) AS c
               FROM obs),
       rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS row_n FROM obs GROUP BY event_type),
       ct AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS col_n FROM obs GROUP BY dow)
       SELECT ROUND(SUM(POW(obs.o - CAST(rt.row_n AS DOUBLE) * ct.col_n / tot.n, 2)
                        / (CAST(rt.row_n AS DOUBLE) * ct.col_n / tot.n)), 4) AS chi2,
              CAST(ANY_VALUE((tot.r - 1) * (tot.c - 1)) AS BIGINT) AS dof,
              CAST(ANY_VALUE(tot.n) AS BIGINT) AS n
       FROM obs JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN tot""",
)
def a136_chisq_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of event type × ISO weekday — the
    seasonality audit that decides whether a behavioral feature needs
    day-of-week stratification before training. Contingency cells are
    exact BIGINT counts; expected values and the statistic are the only
    doubles (35 cells — rounding to 4 is far above ulp noise).

    The contingency table is key-cardinality sized (types × 7), so
    after the one counting shuffle everything joins broadcast."""
    ev = tables(spark, sf_dir)["events"]
    # cached: the ≤35-cell contingency table feeds the totals, both
    # margins AND the statistic — uncached, the event scan ran four
    # times (review r8; released by operators.release_caches)
    obs = track_cache(
        ev.groupBy(
            "event_type", (F.weekday(F.col("ts")) + 1).alias("dow")
        ).agg(F.count(F.lit(1)).alias("o"))
    )
    tot = obs.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("dow").alias("c"),
    )
    rt = obs.groupBy("event_type").agg(F.sum("o").cast("long").alias("row_n"))
    ct = obs.groupBy("dow").agg(F.sum("o").cast("long").alias("col_n"))
    exp = F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    return (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum(F.pow(F.col("o") - exp, 2) / exp), 4).alias("chi2"),
            F.first((F.col("r") - 1) * (F.col("c") - 1))
            .cast("long")
            .alias("dof"),
            F.first("n").cast("long").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# a137: hash-partition balance audit
# ---------------------------------------------------------------------------

#: Simulated shuffle width for the balance audit (a137).
N_PARTS = 32


@register(
    "a137_partition_balance",
    f"""WITH b AS (SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
                            AS BIGINT) % {N_PARTS} AS part,
                      COUNT(*) AS load
                  FROM lineitem GROUP BY part)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
              CAST(MIN(load) AS BIGINT) AS min_load,
              CAST(MAX(load) AS BIGINT) AS max_load,
              ROUND(AVG(CAST(load AS DOUBLE)), 4) AS avg_load,
              ROUND(CAST(MAX(load) AS DOUBLE) / AVG(CAST(load AS DOUBLE)), 4)
                  AS imbalance
       FROM b""",
)
def a137_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-partition balance audit: simulate hash-partitioning the
    join key across ``N_PARTS`` reducers and report the max/avg load
    imbalance — the straggler predictor for a planned repartition or
    bucketing layout (TableStore). a99 audits per-KEY skew; this
    audits the PARTITIONER output, which also catches collision pileups
    of medium keys that no single-key audit shows. Imbalance ≈ 1.0 means
    the layout scales linearly; the md5 bucket is the engine-portable
    stand-in for Spark's murmur3 HashPartitioner."""
    li = tables(spark, sf_dir)["lineitem"]
    b = li.groupBy(
        hash_bucket(F.col("l_orderkey"), N_PARTS).alias("part")
    ).agg(F.count(F.lit(1)).alias("load"))
    return b.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("load").alias("min_load"),
        F.max("load").alias("max_load"),
        F.round(F.avg(F.col("load").cast("double")), 4).alias("avg_load"),
        F.round(
            F.max("load").cast("double") / F.avg(F.col("load").cast("double")), 4
        ).alias("imbalance"),
    )


# ---------------------------------------------------------------------------
# Pairwise AUC of the quality score (a043)
# Mann-Whitney with tie handling, per source; distinct rounded scores are
# bounded (<= 10^4, the score is rounded to 4 places), so the rank
# shuffle carries short keys only.
# ---------------------------------------------------------------------------


@register(
    "a043_pairwise_auc",
    f"""WITH q AS (SELECT source, lang = 'en' AS pos, {_duck_quality()} AS s
                 FROM documents),
       per AS (SELECT source, s,
                      CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
                      CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
               FROM q GROUP BY 1, 2),
       cum AS (SELECT source, np, nn,
                      COALESCE(SUM(nn) OVER (
                          PARTITION BY source ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS below
               FROM per),
       agg AS (SELECT source, SUM(np) AS p, SUM(nn) AS n,
                      SUM(CAST(np AS DOUBLE)
                          * (CAST(below AS DOUBLE) + 0.5 * CAST(nn AS DOUBLE)))
                        AS u
               FROM cum GROUP BY source)
       SELECT source, CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
              ROUND(u / (CAST(p AS DOUBLE) * CAST(n AS DOUBLE)), 4) AS auc
       FROM agg WHERE p > 0 AND n > 0 ORDER BY source""",
)
def a043_pairwise_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source AUC of the quality score as a classifier of English vs
    non-English documents — the Mann–Whitney rank statistic with exact
    tie handling: AUC = Σ_s np(s)·(cum_nn(<s) + ½·nn(s)) / (P·N).

    Scale shape: docs collapse map-side to (source, score) count rows;
    the only window runs per source over DISTINCT ROUNDED scores (≤ 10^4
    values by construction — quality ∈ [0,1] rounded to 4 places), so no
    corpus-sized frame ever sorts. The U accumulator sums exact
    half-integers (np·below and ½·np·nn are both representable), so the
    statistic is bit-identical across engines before the single
    divide+round."""
    d = tables(spark, sf_dir)["documents"]
    q = d.select(
        "source",
        (F.col("lang") == "en").alias("pos"),
        quality_score(F.col("text")).alias("s"),
    )
    per = q.groupBy("source", "s").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("np"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("nn"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("s")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = per.withColumn("below", F.coalesce(F.sum("nn").over(w), F.lit(0)))
    agg = cum.groupBy("source").agg(
        F.sum("np").alias("p"),
        F.sum("nn").alias("n"),
        F.sum(
            F.col("np").cast("double")
            * (F.col("below").cast("double") + 0.5 * F.col("nn").cast("double"))
        ).alias("u"),
    )
    return (
        agg.filter((F.col("p") > 0) & (F.col("n") > 0))
        .select(
            "source",
            F.col("p").cast("long").alias("n_pos"),
            F.col("n").cast("long").alias("n_neg"),
            F.round(
                F.col("u") / (F.col("p").cast("double") * F.col("n").cast("double")),
                4,
            ).alias("auc"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (a0055)
# One quasi-id partial agg plus a 4-row rollup; percentages come from a
# broadcast 1-row total, never a global window.
# ---------------------------------------------------------------------------


#: Balance band width for the quasi-identifier (c_acctbal ∈ [-999, 9999]).
BAL_BAND = 1000


@register(
    "a0055_k_anonymity",
    f"""WITH qi AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / {BAL_BAND}) AS BIGINT)
                   AS bal_band,
                 COUNT(*) AS k
          FROM customer GROUP BY 1, 2, 3),
        tiers AS (
          SELECT CASE WHEN k = 1 THEN 1 WHEN k < 5 THEN 2
                      WHEN k < 10 THEN 3 ELSE 4 END AS tier_ord,
                 CASE WHEN k = 1 THEN 'unique' WHEN k < 5 THEN 'k<5'
                      WHEN k < 10 THEN 'k<10' ELSE 'k>=10' END AS risk_tier,
                 k
          FROM qi),
        tot AS (SELECT SUM(k) AS t FROM tiers)
        SELECT tier_ord, risk_tier,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(k) AS BIGINT) AS n_rows,
               ROUND(SUM(k) / t, 4) AS pct_rows
        FROM tiers CROSS JOIN tot
        GROUP BY tier_ord, risk_tier, t ORDER BY tier_ord""",
)
def a055_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over (nation, market segment, balance band)
    quasi-identifiers: how many equivalence classes — and what fraction
    of rows — sit in each re-identification risk tier (unique, k<5,
    k<10, k≥10). A release gate reads `pct_rows` for the `unique` tier.

    Scale shape: ONE partial-aggregable shuffle on the quasi-id key
    produces the class sizes; everything after operates on classes (≤
    nations × segments × bands rows), with the corpus total carried by
    a broadcast 1-row frame — no global window, no second data scan."""
    c = tables(spark, sf_dir)["customer"]
    # cached: the class-size frame feeds the corpus total AND the tier
    # rollup — uncached, the customer scan ran twice, contradicting the
    # "no second data scan" claim below (review r8)
    qi = track_cache(
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal").cast("double") / BAL_BAND)
            .cast("long")
            .alias("bal_band"),
        ).agg(F.count(F.lit(1)).alias("k"))
    )
    tiers = qi.select(
        F.when(F.col("k") == 1, 1)
        .when(F.col("k") < 5, 2)
        .when(F.col("k") < 10, 3)
        .otherwise(4)
        .alias("tier_ord"),
        F.when(F.col("k") == 1, "unique")
        .when(F.col("k") < 5, "k<5")
        .when(F.col("k") < 10, "k<10")
        .otherwise("k>=10")
        .alias("risk_tier"),
        "k",
    )
    tot = tiers.agg(F.sum("k").alias("t"))
    return (
        tiers.crossJoin(F.broadcast(tot))
        .groupBy("tier_ord", "risk_tier", "t")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("k").alias("n_rows"),
            F.round(F.sum("k") / F.col("t"), 4).alias("pct_rows"),
        )
        .drop("t")
        .orderBy("tier_ord")
    )


# ---------------------------------------------------------------------------
# Welch two-sample t audit (a008)
# The event stream reduces to one exact per-type row (n, sum, sum of
# squares as DECIMAL(38,0) milli-units); every complement ("rest")
# statistic derives from the broadcast 1-row total.
# ---------------------------------------------------------------------------


#: |t| threshold for the e154 significance flag (two-sided 5%).
T_CRIT = 1.96


@register(
    "a008_welch_audit",
    f"""WITH mv AS (
         SELECT event_type,
                CAST(ROUND(value * 1000) AS DECIMAL(38,0)) AS m
         FROM events),
       per AS (
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                SUM(m) AS s1, SUM(m * m) AS s2
         FROM mv GROUP BY event_type),
       tot AS (SELECT SUM(n) AS tn, SUM(s1) AS t1, SUM(s2) AS t2 FROM per),
       st AS (
         SELECT event_type, n,
                CAST(s1 AS DOUBLE) / n AS m1,
                (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                  / (n - 1) AS v1,
                tn - n AS n2,
                CAST(t1 - s1 AS DOUBLE) / (tn - n) AS m2,
                (CAST(t2 - s2 AS DOUBLE)
                 - CAST(t1 - s1 AS DOUBLE) * CAST(t1 - s1 AS DOUBLE) / (tn - n))
                  / (tn - n - 1) AS v2
         FROM per CROSS JOIN tot),
       t AS (
         SELECT event_type, n, m1, v1, n2, m2, v2,
                v1 / n + v2 / n2 AS se2
         FROM st)
       SELECT event_type, n,
              ROUND(m1 / 1000, 4) AS mean_value,
              ROUND((m1 - m2) / sqrt(se2), 4) + 0.0 AS t_welch,
              ROUND(se2 * se2 / ((v1 / n) * (v1 / n) / (n - 1)
                                 + (v2 / n2) * (v2 / n2) / (n2 - 1)), 2)
                AS df_welch,
              abs((m1 - m2) / sqrt(se2)) > {T_CRIT} AS significant
       FROM t ORDER BY event_type""",
)
def a008_welch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-shift tripwire: Welch's unequal-variance t-test of
    ``events.value`` for each event type against all other events —
    the standard "did this segment's metric really move" audit over an
    event stream, with the Welch–Satterthwaite degrees of freedom.

    Values are quantized to exact milli-unit DECIMAL(38,0) sums (n, Σv,
    Σv² — overflow-safe past 10^12 rows and bit-identical across
    engines regardless of addend order); each type's complement comes
    from the broadcast one-row total, so the whole test costs one
    partial-aggregated shuffle."""
    ev = tables(spark, sf_dir)["events"]
    m = F.round(F.col("value") * 1000).cast("decimal(38,0)")
    # cached: the per-type moment frame feeds the totals AND the test —
    # uncached, the event scan ran twice (review r8)
    per = track_cache(
        ev.select("event_type", m.alias("m")).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("m").alias("s1"),
            F.sum(F.col("m") * F.col("m")).alias("s2"),
        )
    )
    tot = per.agg(
        F.sum("n").alias("tn"), F.sum("s1").alias("t1"), F.sum("s2").alias("t2")
    )
    j = per.crossJoin(F.broadcast(tot))
    n = F.col("n").cast("double")
    n2 = (F.col("tn") - F.col("n")).cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    r1d = (F.col("t1") - F.col("s1")).cast("double")
    r2d = (F.col("t2") - F.col("s2")).cast("double")
    m1 = s1d / n
    v1 = (s2d - s1d * s1d / n) / (n - F.lit(1.0))
    m2 = r1d / n2
    v2 = (r2d - r1d * r1d / n2) / (n2 - F.lit(1.0))
    se2 = v1 / n + v2 / n2
    t_stat = (m1 - m2) / F.sqrt(se2)
    df_w = (se2 * se2) / (
        (v1 / n) * (v1 / n) / (n - F.lit(1.0))
        + (v2 / n2) * (v2 / n2) / (n2 - F.lit(1.0))
    )
    return j.select(
        "event_type",
        "n",
        F.round(m1 / 1000, 4).alias("mean_value"),
        # + 0.0 collapses IEEE −0.0 (a sub-half-ulp negative t rounds to
        # −0.0 in one engine and +0.0 in the other) to a single encoding
        (F.round(t_stat, 4) + F.lit(0.0)).alias("t_welch"),
        F.round(df_w, 2).alias("df_welch"),
        (F.abs(t_stat) > T_CRIT).alias("significant"),
    ).orderBy("event_type")
