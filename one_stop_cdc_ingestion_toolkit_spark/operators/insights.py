"""Graph/attribution/survivorship operators (`e173`–`e176`): triangle
census of the near-dup graph, seasonal traffic profile, integer-exact
multi-touch attribution, and golden-record survivorship over duplicate
clusters.

No reference parity (provisioning CLI — SURVEY §0); engine extensions
per SURVEY §2.5. Money/ratio outputs follow the house type-hygiene
rules: counts BIGINT, exact integer arithmetic wherever a float sum
would be addend-order-sensitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import (
    pin_broadcast_if_small,
    register,
    track_cache,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
    _DUCK_BANDS_CTE,
    _DUCK_FIRST_MATCH,
    _DUCK_SIMHASH_CTE,
    HAMMING_MAX,
    simhash_hamming_pairs,
)

#: e175: attribution lookback window (days) and touch event types.
ATTR_WINDOW_DAYS = 7
TOUCH_TYPES = ("click", "view")

#: e176: words of normalized prefix that define a duplicate cluster
#: (a103_prefix_dups' blocking rule, reused as the survivorship key).
PREFIX_WORDS = 8

_DUCK_EDGES_CTE = f"""{_DUCK_SIMHASH_CTE}, {_DUCK_BANDS_CTE},
  cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
         AND bit_count(xor(a.fp_lo, b.fp_lo))
             + bit_count(xor(a.fp_hi, b.fp_hi)) <= {HAMMING_MAX}
    WHERE {_DUCK_FIRST_MATCH}),
  edges AS (SELECT id_a, id_b FROM cand)"""


@register(
    "a027_triangle_census",
    f"""WITH {_DUCK_EDGES_CTE},
       cdeg AS (
         SELECT node, COUNT(*) AS d FROM (
           SELECT id_a AS node FROM edges
           UNION ALL SELECT id_b FROM edges) GROUP BY node),
       oe AS (
         SELECT CASE WHEN (da.d, e.id_a) < (db.d, e.id_b)
                     THEN e.id_a ELSE e.id_b END AS src,
                CASE WHEN (da.d, e.id_a) < (db.d, e.id_b)
                     THEN e.id_b ELSE e.id_a END AS dst,
                CASE WHEN (da.d, e.id_a) < (db.d, e.id_b)
                     THEN db.d ELSE da.d END AS dd
         FROM edges e
         JOIN cdeg da ON da.node = e.id_a
         JOIN cdeg db ON db.node = e.id_b),
       tri AS (
         SELECT COUNT(*) AS t
         FROM oe e1
         JOIN oe e2 ON e1.src = e2.src
                   AND (e1.dd, e1.dst) < (e2.dd, e2.dst)
         JOIN oe e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
       agg AS (
         SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
         FROM cdeg)
       SELECT agg.n_nodes,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
              CAST(tri.t AS BIGINT) AS n_triangles,
              agg.n_wedges,
              ROUND(CASE WHEN agg.n_wedges > 0
                         THEN 3.0 * tri.t / agg.n_wedges ELSE 0 END,
                    4) AS clustering
       FROM tri, agg""",
)
def a027_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the SimHash
    near-duplicate graph (a001's Hamming-≤3 edges), uncapped.

    A high clustering coefficient says near-dups arrive as FAMILIES
    (template cliques) rather than chains — which decides whether dedup
    should collapse connected components (d96) or pick per-pair
    (q43/q44). Counting uses degree-ordered orientation (the
    compact-forward algorithm): each undirected edge is oriented toward
    its higher-(degree, id) endpoint, so every out-neighborhood is
    O(√m) and the triple join enumerates each triangle exactly once as
    three ascending oriented edges — no DEG_CAP answer-shaping needed
    (VERDICT r3 #2; the uncapped statistic is the true one). The
    wedge join keeps only the (e1.dst, e2.dst) pair in ascending rank
    order — the closing edge can only exist in that orientation, so the
    pre-filter halves the probe volume; the orientation join carries
    (node, degree) longs only."""
    pairs = simhash_hamming_pairs(tables(spark, sf_dir)["documents"])
    # the banded self-join feeds the degree pass, the orientation join
    # and the edge count — cache it once (released via release_caches).
    edges = track_cache(pairs.select("id_a", "id_b"))
    cdeg = (
        edges.select(F.col("id_a").alias("node"))
        .unionAll(edges.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = cdeg.select(F.col("node").alias("id_a"), F.col("d").alias("da"))
    db = cdeg.select(F.col("node").alias("id_b"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("id_a") < F.col("id_b"))
    )
    oe = track_cache(
        edges.join(da, "id_a")
        .join(db, "id_b")
        .select(
            F.when(a_first, F.col("id_a")).otherwise(F.col("id_b")).alias("src"),
            F.when(a_first, F.col("id_b")).otherwise(F.col("id_a")).alias("dst"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dd"),
        )
    )
    e1, e2, e3 = oe.alias("e1"), oe.alias("e2"), oe.alias("e3")
    rank1 = F.struct(F.col("e1.dd"), F.col("e1.dst"))
    rank2 = F.struct(F.col("e2.dd"), F.col("e2.dst"))
    # broadcast-pin the oriented edge list for the CLOSING join when it
    # fits (r10, guide §3.1): that join otherwise SHUFFLES the wedge
    # stream — Σ outdeg² rows, ~370x the edge count on this graph — by
    # (dst_a, dst_b) just to meet the m-row edge side, and the wedge
    # shuffle dominated the whole query. Pinned, wedges stream straight
    # from the merge join into a map-side hash probe and never hit an
    # exchange; only the 3-long edge rows are replicated. The wedge
    # join itself stays sort-merge (its two inputs are the SAME cached
    # frame — one reused exchange of m rows; broadcasting there too was
    # measured slower: a second 166k-row broadcast build per run buys
    # no shuffle savings the reused exchange wasn't already giving).
    # est_bytes over-estimates at 64 B/row (3 longs + row overhead);
    # above the 64 MB budget the planner keeps the old sort-merge shape — the probe count runs
    # on the already-cached edge frame. Interleaved A/B/C at sf0.1,
    # min-of-4 one window: old both-SMJ 5.54 s, both-broadcast+widen
    # 3.83 s, this shape 2.98 s — identical output rows.
    e3b = pin_broadcast_if_small(e3, lambda: edges.count() * 64)
    tri = (
        e1.join(
            e2,
            (F.col("e1.src") == F.col("e2.src")) & (rank1 < rank2),
        )
        .join(
            e3b,
            (F.col("e3.src") == F.col("e1.dst"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    agg = cdeg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(
            (F.col("d") * (F.col("d") - 1) / 2).cast("long")
        ).alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").alias("n_triangles"),
            "n_wedges",
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("t") / F.col("n_wedges"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("clustering"),
        )
    )


@register(
    "a028_seasonal_profile",
    """WITH cells AS (
         SELECT dayofweek(ts) AS dow, hour(ts) AS hr,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM events GROUP BY dow, hr),
       tot AS (SELECT SUM(n) AS total FROM cells)
       SELECT CAST(dow AS INT) AS dow, CAST(hr AS INT) AS hr, n,
              ROUND(CAST(n AS DOUBLE) * 168 / tot.total, 4) AS lift
       FROM cells, tot ORDER BY dow, hr""",
)
def a028_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day traffic profile with lift vs the
    uniform-grid mean (lift > 1 = hotter-than-average cell) — the
    seasonality baseline that a116's rolling z-score anomaly detector
    implicitly assumes away. Dow convention aligned across engines:
    0 = Sunday (Spark's dayofweek is 1-based). One partial-agg shuffle
    to 168 cells; the total re-joins as a broadcast literal row."""
    ev = tables(spark, sf_dir)["events"]
    # cached: the 168-cell frame feeds the total AND the lift projection
    # — uncached, the corpus scan ran twice (review r8)
    cells = track_cache(
        ev.groupBy(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hr"),
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cells.agg(F.sum("n").alias("total"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hr",
            "n",
            F.round(F.col("n").cast("double") * 168 / F.col("total"), 4).alias(
                "lift"
            ),
        )
        .orderBy("dow", "hr")
    )


@register(
    "a029_multitouch_attribution",
    f"""WITH p AS (
         SELECT event_id, user_id, ts,
                CAST(ROUND(value * 100) AS BIGINT) * 1000 AS value_milli
         FROM events WHERE event_type = 'purchase'),
       c AS (
         SELECT user_id, ts, CAST(ts AS DATE) AS day
         FROM events WHERE event_type IN {tuple(TOUCH_TYPES)!r}),
       joined AS (
         SELECT p.event_id, p.value_milli, c.day
         FROM p JOIN c ON p.user_id = c.user_id
          AND c.ts <= p.ts
          AND c.ts >= p.ts - INTERVAL {ATTR_WINDOW_DAYS} DAY),
       shared AS (
         SELECT day,
                value_milli // COUNT(*) OVER (PARTITION BY event_id)
                  AS share_milli
         FROM joined)
       SELECT day, CAST(COUNT(*) AS BIGINT) AS n_touches,
              CAST(CAST(SUM(share_milli) AS DOUBLE) / 100000 AS DOUBLE)
                AS attrib_value
       FROM shared GROUP BY day ORDER BY day""",
)
def a029_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    EQUALLY across the user's click/view touches in the preceding
    {ATTR_WINDOW_DAYS} days, credited to the touch's calendar day.

    The split uses INTEGER milli-cent floor division
    (``value_milli DIV n_touches``) — identical arithmetic in both
    engines, so per-day sums are exact BIGINTs and the result hash can
    never drift on float addend order (the pitfall of `value/n` as
    DOUBLE). Purchases with zero prior touches drop out (inner join) —
    they have no one to credit. Scale shape: one user-keyed equi-join
    (the 7-day predicate prunes inside each user's partition), a
    purchase-keyed window count, one day-keyed agg; per-user work is
    bounded by activity × window."""
    ev = tables(spark, sf_dir)["events"]
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("p_ts"),
        (F.round(F.col("value") * 100).cast("long") * 1000).alias(
            "value_milli"
        ),
    )
    c = ev.filter(F.col("event_type").isin(*TOUCH_TYPES)).select(
        "user_id", F.col("ts").alias("c_ts"), F.to_date("ts").alias("day")
    )
    joined = p.join(c, "user_id").filter(
        (F.col("c_ts") <= F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAY")
        )
    )
    shared = joined.select(
        "day",
        F.expr("value_milli DIV COUNT(*) OVER (PARTITION BY event_id)").alias(
            "share_milli"
        ),
    )
    return (
        shared.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            (F.sum("share_milli").cast("double") / 100000).alias(
                "attrib_value"
            ),
        )
        .orderBy("day")
    )


@register(
    "a030_survivorship",
    f"""WITH keyed AS (
         SELECT doc_id, lang, source, n_chars,
                md5(array_to_string(list_slice(
                  string_split_regex(lower(trim(text)), '\\s+'),
                  1, {PREFIX_WORDS}), ' ')) AS ck
         FROM documents),
       sized AS (
         SELECT *, COUNT(*) OVER (PARTITION BY ck) AS n_dups,
                ROW_NUMBER() OVER (
                  PARTITION BY ck ORDER BY n_chars DESC, doc_id) AS rk
         FROM keyed),
       clusters AS (SELECT * FROM sized WHERE n_dups > 1)
       SELECT ck AS cluster_key,
              MIN(CASE WHEN rk = 1 THEN doc_id END) AS keeper_id,
              MIN(CASE WHEN rk = 1 THEN lang END) AS keeper_lang,
              CAST(COUNT(*) AS BIGINT) AS n_dups,
              CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars
       FROM clusters GROUP BY ck
       ORDER BY n_dups DESC, keeper_id""",
)
def a030_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship over duplicate clusters (a103's
    8-word-prefix blocking key): per cluster, the KEEPER is the longest
    document (doc_id tie-break), and the golden row carries the
    keeper's fields plus cluster provenance (dup count, distinct
    sources, total chars) — the master-data-management step after
    dedup DETECTS duplicates: deciding which copy's fields survive.

    One shuffle on the cluster key does everything: the count window,
    the keeper ranking, and the final per-cluster agg all share the
    same partitioning, which Catalyst reuses (no re-shuffle between
    window and groupBy)."""
    d = tables(spark, sf_dir)["documents"]
    ck = F.md5(
        F.concat_ws(
            " ",
            F.slice(
                F.split(F.lower(F.trim("text")), r"\s+"), 1, PREFIX_WORDS
            ),
        )
    )
    keyed = d.select("doc_id", "lang", "source", "n_chars", ck.alias("ck"))
    wc = W.partitionBy("ck")
    wr = W.partitionBy("ck").orderBy(F.desc("n_chars"), "doc_id")
    sized = keyed.withColumn("n_dups", F.count(F.lit(1)).over(wc)).withColumn(
        "rk", F.row_number().over(wr)
    )
    clusters = sized.filter(F.col("n_dups") > 1)
    return (
        clusters.groupBy(F.col("ck").alias("cluster_key"))
        .agg(
            F.min(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
                "keeper_id"
            ),
            F.min(F.when(F.col("rk") == 1, F.col("lang"))).alias(
                "keeper_lang"
            ),
            F.count(F.lit(1)).alias("n_dups"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy(F.desc("n_dups"), "keeper_id")
    )
