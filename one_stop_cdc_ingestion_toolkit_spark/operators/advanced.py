"""Advanced analytics operators: as-of join, TF-IDF, shard packing,
exact quantiles, duplicate clustering, PMI collocations.

Second extension batch (after operators/pipeline_ops.py) — the analytic
shapes a training-data pipeline needs beyond per-document filters:
temporal alignment (as-of join), corpus-level term statistics (TF-IDF,
PMI), grouping duplicates into clusters (connected components), and
packing documents into fixed-token-budget training shards (distributed
prefix sum).

Every operator is built-in-functions-only on the hot path; the two that
cannot be a single Catalyst plan (connected components, prefix sum) use
the standard distributed formulations — iterative min-label propagation
and per-partition offset broadcast. Connected components first tries a
bounded collect: an edge list that fits the 64 MB pin budget is labeled
by a numpy union-find on the driver, in a fixed number of Spark jobs.

Reference anchor: the reference's lake-as-topics output is the INPUT to
exactly this kind of downstream analysis (/root/reference/README.md:22-32);
none of these exist in the reference itself.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import (
    PIN_BUDGET_BYTES,
    register,
    release_checkpoint,
    track_cache,
    track_local_checkpoint,
    widen_narrow_scan,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_P,
    SHINGLE_K,
    _duck_shingles,
    minhash_cc_edges,
    word_shingles,
)

# ---------------------------------------------------------------------------
# d92 — as-of join (last-touch attribution)
# ---------------------------------------------------------------------------


def asof_join_latest(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_id: str,
    out_col: str,
) -> DataFrame:
    """As-of join: for every ``left`` row, the ``right_id`` of the latest
    ``right`` row with the same ``key`` and ``right_ts`` <= ``left_ts``.

    Implemented as the union+window trick: tag both sides, union into one
    frame, sort per key by (ts, side, id) and carry the last non-null
    right id forward. ONE shuffle on the key, state bounded by a single
    row per partition — versus the naive inequality join whose candidate
    set is O(|left_k| * |right_k|) per key. This is the scalable as-of
    formulation (same idea Flink/kdb use); Spark has no built-in as-of
    join, so this is the composition SURVEY §4.3 calls for.

    Ties: a right row at exactly left_ts counts (sorts before the left
    row via the side tag); equal-ts right rows resolve to the max id.
    """
    lcols = [c for c in left.columns if c not in (key, left_ts)]
    l = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast("long").alias("__rid"),
        *lcols,
    )
    r = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        F.col(right_id).cast("long").alias("__rid"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
    )
    w = (
        W.partitionBy("__k")
        .orderBy("__t", "__side", "__rid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    merged = l.unionByName(r).withColumn(
        out_col, F.last("__rid", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("__side") == 1).select(
        F.col("__k").alias(key), F.col("__t").alias(left_ts), *lcols, out_col
    )


@register(
    "d92_asof_attribution",
    """WITH u AS (
         SELECT event_id, user_id, epoch_ns(ts) AS t,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
         FROM events WHERE event_type IN ('click', 'purchase')
       )
       SELECT event_id, user_id, last_click_id FROM (
         SELECT event_id, user_id, is_p,
                last_value(CASE WHEN is_p = 0 THEN event_id END IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY t, is_p, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_id
         FROM u) x
       WHERE is_p = 1 ORDER BY event_id""",
)
def d92_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase joined as-of to the same
    user's latest prior (or simultaneous) click. events.ts is ns-precision
    (read as long in Spark, FIXTURES.md §3), so the oracle compares on
    epoch_ns — identical total order, never emitted."""
    ev = tables(spark, sf_dir)["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return (
        asof_join_latest(
            purchases,
            clicks,
            key="user_id",
            left_ts="ts",
            right_ts="ts",
            right_id="event_id",
            out_col="last_click_id",
        )
        .select("event_id", "user_id", "last_click_id")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# d93 — TF-IDF top terms per language
# ---------------------------------------------------------------------------


@register(
    "d93_tfidf_topterms",
    r"""WITH tok AS (
         SELECT doc_id, lang, w
         FROM (SELECT doc_id, lang,
                      unnest(string_split_regex(lower(text), '\s+')) AS w
               FROM documents) s
         WHERE w != ''
       ),
       nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
       dfreq AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w),
       lw AS (SELECT lang, w, COUNT(*) AS n_occ FROM tok GROUP BY lang, w),
       scored AS (
         SELECT lang, w AS term, n_occ,
                ROUND(n_occ * ln((CAST((SELECT n FROM nd) AS DOUBLE) + 1.0)
                                 / (CAST(df AS DOUBLE) + 1.0)), 4) AS tfidf
         FROM lw JOIN dfreq USING (w)
       )
       SELECT lang, term, n_occ, tfidf FROM (
         SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY lang ORDER BY tfidf DESC, term) AS rn
         FROM scored) t
       WHERE rn <= 10 ORDER BY lang, tfidf DESC, term""",
)
def d93_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 distinguishing terms per language by corpus TF-IDF
    (occurrences x smoothed idf). Float discipline: the only double math
    is ONE division + ln + multiply per term, rounded to 4 — no cross-row
    double summation, so the hash is engine-stable. Plan: two partial-agg
    shuffles (term df, per-lang tf) + a term-keyed join + WindowGroupLimit
    top-k; the doc-count side is a 1-row broadcast."""
    d = tables(spark, sf_dir)["documents"]
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    nd = d.agg(F.count_distinct("doc_id").alias("n"))
    dfreq = tok.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    lw = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("n_occ"))
    scored = (
        lw.join(dfreq, "w")
        .crossJoin(F.broadcast(nd))
        .select(
            "lang",
            F.col("w").alias("term"),
            "n_occ",
            F.round(
                F.col("n_occ")
                * F.log(
                    (F.col("n").cast("double") + F.lit(1.0))
                    / (F.col("df").cast("double") + F.lit(1.0))
                ),
                4,
            ).alias("tfidf"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("lang").orderBy(F.col("tfidf").desc(), "term")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= 10)
        .drop("rn")
        .orderBy("lang", F.col("tfidf").desc(), "term")
    )


# ---------------------------------------------------------------------------
# d94 — training-shard packing via distributed prefix sum
# ---------------------------------------------------------------------------

SHARD_TOKEN_BUDGET = 2000
SHARD_NPART = 8


def pack_shards(
    df: DataFrame, id_col: str, weight_col: str, budget: int, npart: int = SHARD_NPART
) -> DataFrame:
    """Assign each row a shard id = floor(prefix_sum(weight) / budget) in
    ``id_col`` order — the document→training-shard packing step.

    A single-partition global window would serialize the corpus through
    one task; instead this is the textbook distributed prefix sum:
    repartitionByRange on the id (ranges ascending with partition index),
    per-partition local running sums, plus a broadcast of the per-partition
    totals' exclusive prefix (npart rows — the ONLY driver materialization,
    bounded by the partition count, not the data). Scales as one range
    shuffle + one map-side join at any corpus size.
    """
    ranged = track_cache(
        df.select(id_col, weight_col)
        .repartitionByRange(npart, id_col)
        .withColumn("__pid", F.spark_partition_id())
    )
    # Exclusive prefix of per-partition totals; ordered by each range's
    # minimum id (== partition index order for repartitionByRange, but
    # computed from data so the invariant is explicit).
    per = sorted(
        ranged.groupBy("__pid")
        .agg(F.sum(weight_col).alias("s"), F.min(id_col).alias("lo"))
        .collect(),
        key=lambda r: r["lo"],
    )
    offsets, acc = [], 0
    for row in per:
        offsets.append((row["__pid"], acc))
        acc += row["s"]
    if offsets:
        # VALUES literal: one py4j call, no Python->JVM conversion job
        # (createDataFrame costs ~1s of fixed overhead per call).
        vals = ", ".join(f"({p}, {o})" for p, o in offsets)
        off_df = df.sparkSession.sql(
            "SELECT CAST(__pid AS INT) AS __pid, "
            "CAST(__offset AS BIGINT) AS __offset "
            f"FROM VALUES {vals} AS t(__pid, __offset)"
        )
    else:
        off_df = df.sparkSession.createDataFrame(
            [], "__pid int, __offset long"
        )
    off = F.broadcast(off_df)
    local = (
        W.partitionBy("__pid").orderBy(id_col).rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        ranged.withColumn(
            "__local", F.coalesce(F.sum(weight_col).over(local), F.lit(0))
        )
        .join(off, "__pid")
        .withColumn(
            "shard_id",
            F.floor((F.col("__local") + F.col("__offset")) / F.lit(float(budget))).cast(
                "long"
            ),
        )
        .drop("__pid", "__local", "__offset")
    )


@register(
    "d94_shard_packing",
    rf"""WITH t AS (
          SELECT doc_id,
                 len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok
          FROM documents
        ),
        c AS (
          SELECT doc_id, n_tok,
                 COALESCE(SUM(n_tok) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
          FROM t
        )
        SELECT CAST(floor(cb / {SHARD_TOKEN_BUDGET}.0) AS BIGINT) AS shard_id,
               COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM c GROUP BY 1 ORDER BY shard_id""",
)
def d94_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents (doc_id order) into ~{budget}-token training shards
    and report per-shard stats. The oracle re-derives the same prefix sum
    with a global SQL window; the engine uses the distributed
    per-partition-offset formulation (pack_shards) — identical integer
    arithmetic, different physical plan."""
    d = tables(spark, sf_dir)["documents"]
    toks = d.select(
        "doc_id",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n_tok"),
    )
    packed = pack_shards(toks, "doc_id", "n_tok", SHARD_TOKEN_BUDGET)
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


# ---------------------------------------------------------------------------
# d95 — exact per-group quantiles
# ---------------------------------------------------------------------------


@register(
    "d95_exact_quantiles",
    """SELECT o_orderstatus, COUNT(*) AS n,
              ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
              ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
              ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
              ROUND(quantile_cont(o_totalprice, 0.90), 4) AS p90
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
)
def d95_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles of order value per status
    (Spark `percentile` == DuckDB `quantile_cont` semantics: index
    (n-1)*p, lo + frac*(hi-lo)). Exactness contract: Spark's percentile
    UDAF buffers each group's values, so memory is O(group size) — at
    100 TB the engine path is approx_percentile (same API shape, bounded
    error & memory); this query is the oracle-checked exact baseline the
    approximation is judged against."""
    o = tables(spark, sf_dir)["orders"]
    pct = F.expr(
        "percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.9D))"
    ).alias("p")
    agg = o.groupBy("o_orderstatus").agg(pct, F.count(F.lit(1)).alias("n"))
    return agg.select(
        "o_orderstatus",
        "n",
        F.round(F.element_at("p", 1), 4).alias("p25"),
        F.round(F.element_at("p", 2), 4).alias("p50"),
        F.round(F.element_at("p", 3), 4).alias("p75"),
        F.round(F.element_at("p", 4), 4).alias("p90"),
    ).orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# d96 — duplicate clusters: connected components over the LSH pair graph
# ---------------------------------------------------------------------------

CC_MAX_ITERS = 20

#: Most pair rows connected_components labels on the driver: the shared
#: pin budget at two longs (16 B) per collected edge.
CC_LOCAL_EDGES = PIN_BUDGET_BYTES // 16


def _local_components(
    src: np.ndarray, dst: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(node, comp) arrays of the undirected graph with edges
    src[i]–dst[i], comp = the min node id of node's component.

    Union-find by hook-and-compress over dense node indices (sorted, so
    a smaller index is a smaller id): every round hooks the larger root
    of each edge that still crosses two trees onto the smaller one, then
    jumps pointers until every node points at its root. A root either
    hooks or is hooked onto, so the roots of a component at least halve
    per round: O(log n) rounds of O(edges) numpy work, whatever the
    diameter. Edges are replaced by their root pairs after each round,
    so a round only touches edges that still cross."""
    nodes, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = idx[: len(src)], idx[len(src):]
    parent = np.arange(len(nodes))
    while True:
        ru, rv = parent[u], parent[v]
        cross = ru != rv
        if not cross.any():
            break
        u, v = ru[cross], rv[cross]
        # parent[x] <= x always holds, so the forest has no cycles and
        # every tree's root is its min index
        np.minimum.at(parent, np.maximum(u, v), np.minimum(u, v))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
    return nodes, nodes[parent]


def connected_components(pairs: DataFrame, a: str = "id_a", b: str = "id_b") -> DataFrame:
    """Connected components of an undirected pair graph: (node, comp)
    where comp = min node id reachable — the canonical duplicate-cluster
    labeling.

    Local path: one bounded Arrow collect of the pairs,
    ``limit(CC_LOCAL_EDGES + 1)``. When the edges fit the pin budget
    (``CC_LOCAL_EDGES`` rows, 16 B each), they are labeled on the driver
    by :func:`_local_components` and come back as one local frame. The
    job count is then that of the pair build plus the collect, whatever
    the graph's diameter. This is the "finish on one machine" step of
    Łącki et al. (arXiv:1807.10727), taken before any distributed round
    when the whole graph already fits.

    Distributed path, above the budget: iterative min-label propagation
    with POINTER JUMPING. Each round every node takes min(own label,
    neighbors' labels, label-of-its-label). The pointer jump (join
    labels with itself on comp -> node) halves label distances, so
    convergence takes O(log diameter) rounds, not O(diameter): a
    4096-hop chain settles in ~12 rounds. Near-duplicate graphs are not
    as shallow as their cliques suggest: d96's star edges at sf0.1
    (1,191 rows, 514 distinct) have a max eccentricity of 8 and take 6
    rounds, each one localCheckpoint and one count.

    Every round is lineage-truncated via localCheckpoint: rebuilding a
    DataFrame on its own previous generation otherwise grows the logical
    plan exponentially until plan construction overflows the JVM stack.
    Superseded generations free their backing RDD immediately; the final
    one is released by release_caches(). Per-round driver work is ONE
    scalar count (the convergence test) — never row data.
    """
    got = (
        pairs.select(F.col(a).cast("long"), F.col(b).cast("long"))
        .limit(CC_LOCAL_EDGES + 1)
        .toArrow()
    )
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    undirected = fwd.unionByName(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )
    if got.num_rows <= CC_LOCAL_EDGES:
        node, comp = _local_components(
            got.column(0).to_numpy(), got.column(1).to_numpy()
        )
        ids = undirected.schema["src"].dataType
        return pairs.sparkSession.createDataFrame(
            pa.table({"node": node, "comp": comp})
        ).select(F.col("node").cast(ids), F.col("comp").cast(ids))
    # hash-partition the edge list by src ONCE (r10): the per-round
    # message join is then co-partitioned with the node-partitioned
    # label frame and adds NO exchange — the old shape re-shuffled the
    # cached edge list by src EVERY round. At scale this converts
    # O(rounds) edge shuffles into one.
    edges = track_cache(
        undirected.repartition("src").sortWithinPartitions("src")
    )
    # distinct() leaves the label frame hash-partitioned by node — the
    # same partitioning every round's output is restored to below, so
    # the message join stays exchange-free for the whole loop
    # (localCheckpoint preserves outputPartitioning in the LogicalRDD).
    ck = track_local_checkpoint(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
    )
    labels = ck
    for _ in range(CC_MAX_ITERS):
        # one union'd candidate stream — own label (prev rides on the
        # self row only) + neighbor labels — collapsed by ONE partial
        # aggregation. The old shape spent three joins and ~6 exchanges
        # per round (nbr_min join + left-join back + jump join); this
        # one pays the co-partitioned message join (no exchange), one
        # groupBy(node) exchange of (node, comp) longs, and the jump
        # join's comp-keyed exchange. r10 interleaved A/B at sf0.1:
        # 3.01 s old vs 3.10 s new (bench-neutral — the loop is
        # per-round job-latency-bound at this scale), bit-identical
        # labels; the win is the shuffle-bytes budget at scale, where
        # the old shape re-shuffled the full edge list every round and
        # this one moves label rows (3 longs) only.
        msgs = edges.join(labels, edges["src"] == labels["node"]).select(
            F.col("dst").alias("node"),
            F.col("comp"),
            F.lit(None).cast("long").alias("prev"),
        )
        cand = labels.select(
            "node", "comp", F.col("comp").alias("prev")
        ).unionByName(msgs)
        half = cand.groupBy("node").agg(
            F.min("comp").alias("comp"),
            # exactly one non-null per node (the self row): max == that value
            F.max("prev").alias("prev"),
        )
        jump = labels.select(
            F.col("node").alias("jnode"), F.col("comp").alias("jcomp")
        )
        new_ck = track_local_checkpoint(
            # pointer jump: comp := min(comp, label(comp))
            half.join(jump, F.col("comp") == F.col("jnode"), "left")
            .select(
                "node",
                "prev",
                F.least(
                    F.col("comp"), F.coalesce(F.col("jcomp"), F.col("comp"))
                ).alias("comp"),
            )
            # restore node partitioning so next round's message join and
            # jump build stay exchange-free (rows are 3 longs)
            .repartition("node")
        )
        # prev rides along in the checkpointed frame: the convergence test
        # is a filter over already-materialized data, not a self-join.
        changed = new_ck.filter(F.col("comp") != F.col("prev")).count()
        release_checkpoint(ck)
        ck = new_ck
        labels = new_ck.select("node", "comp")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: no convergence in {CC_MAX_ITERS} rounds"
        )
    return labels


def _dup_clusters_oracle() -> str:
    """Recursive-CTE oracle: enumerate reachability over the LSH pair
    graph (q43's SQL construction), component id = min reachable node."""
    mins = ", ".join(
        f"MIN((h*{a}+{b})%{MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_idx, mh{a} || '|' || mh{b} AS band_sig FROM sig"
        for i, (a, b) in enumerate(MINHASH_BANDS)
    )
    return rf"""WITH RECURSIVE w AS (
          SELECT doc_id, string_split_regex(lower(text), '\s+') AS words
          FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 {_duck_shingles()} AS shingle
          FROM w WHERE len(words) >= {SHINGLE_K}
        ),
        base AS (
          SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
          FROM sh
        ),
        sig AS (SELECT doc_id, {mins} FROM base GROUP BY doc_id),
        bands AS ({bands}),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
           AND a.doc_id < b.doc_id
        ),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs
        ),
        reach(node, r) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.node
        )
        SELECT node AS doc_id, MIN(r) AS cluster_id
        FROM reach GROUP BY node ORDER BY doc_id"""


@register("d96_dup_clusters", _dup_clusters_oracle())
def d96_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS (not just pairs): connected components of
    the MinHash-LSH candidate graph, labeling every involved doc with its
    cluster's min doc_id. The oracle re-derives reachability with a
    recursive CTE — DuckDB can recurse, Spark SQL cannot, so the engine
    side is connected_components: a driver-side union-find when the
    edges fit the pin budget, the distributed label-propagation loop
    above it.

    Edge generation links every doc of an LSH bucket to the bucket's
    min id (dedup.minhash_cc_edges): one window over the band rows, at
    most 4 edges per doc, component-identical to the full band graph
    the oracle enumerates, and linear instead of quadratic when the
    corpus carries a hot exact-duplicate cluster. At sf0.1 the query
    runs 4 Spark jobs; the round loop alone took 6 rounds there."""
    d = tables(spark, sf_dir)["documents"]
    pairs = minhash_cc_edges(d, "doc_id", "text")
    return (
        connected_components(pairs)
        .select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# d97 — PMI collocations
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5


@register(
    "d97_pmi_collocations",
    rf"""WITH w AS (
          SELECT doc_id, string_split_regex(lower(text), '\s+') AS words
          FROM documents
        ),
        uni AS (SELECT unnest(words) AS w FROM w),
        ucnt AS (SELECT w, COUNT(*) AS c1 FROM uni WHERE w != '' GROUP BY w),
        tot AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n_tok FROM ucnt),
        bg AS (
          SELECT {_duck_shingles(2)} AS bigram
          FROM w WHERE len(words) >= 2
        ),
        bcnt AS (
          SELECT bigram, COUNT(*) AS n_pair FROM bg
          GROUP BY bigram HAVING COUNT(*) >= {PMI_MIN_COUNT}
        ),
        parts AS (
          SELECT bigram, n_pair,
                 string_split(bigram, ' ')[1] AS w1,
                 string_split(bigram, ' ')[2] AS w2
          FROM bcnt
        )
        SELECT bigram, n_pair,
               ROUND(ln((CAST(n_pair AS DOUBLE) * (SELECT n_tok FROM tot))
                        / (CAST(u1.c1 AS DOUBLE) * CAST(u2.c1 AS DOUBLE))), 4) AS pmi
        FROM parts
        JOIN ucnt u1 ON u1.w = parts.w1
        JOIN ucnt u2 ON u2.w = parts.w2
        ORDER BY pmi DESC, bigram LIMIT 50""",
)
def d97_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by pointwise mutual information:
    pmi = ln(P(xy) / (P(x)P(y))) = ln(n_pair * N / (c_x * c_y)), with a
    min-count floor to kill noise. All counts are exact integers below
    2^53 (products exact as doubles), ONE division + ln per bigram,
    ROUND(4) — no double summation. Plan: two partial-agg shuffles
    (unigrams, bigrams) over a widened scan, TakeOrderedAndProject.
    The unigram table has THREE consumers (total + both term joins);
    at THIS scale recomputing it is cheaper than persisting it (the
    cache write cost more than the two saved re-aggregations — measured
    1.59 s cached vs 1.39 s uncached, interleaved min-of-3), but at
    real scale persist it: the table is vocabulary-sized while each
    recompute re-explodes the corpus. The term joins are deliberately
    NOT force-broadcast: a web-scale vocabulary after whitespace split
    runs to 10^8+ rows (typos, URLs), which would OOM a forced
    broadcast — AQE picks broadcast at runtime when the unigram table
    is actually small."""
    d = widen_narrow_scan(tables(spark, sf_dir)["documents"])
    uni = d.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    tot = ucnt.agg(F.sum("c1").cast("double").alias("n_tok"))
    bg = d.select(F.explode(word_shingles(F.col("text"), k=2)).alias("bigram"))
    bcnt = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= PMI_MIN_COUNT)
    )
    parts = bcnt.select(
        "bigram",
        "n_pair",
        F.split(F.col("bigram"), " ").getItem(0).alias("w1"),
        F.split(F.col("bigram"), " ").getItem(1).alias("w2"),
    )
    u1 = ucnt.select(F.col("w").alias("w1"), F.col("c1").alias("c_w1"))
    u2 = ucnt.select(F.col("w").alias("w2"), F.col("c1").alias("c_w2"))
    scored = (
        parts.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "bigram",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair").cast("double") * F.col("n_tok"))
                    / (F.col("c_w1").cast("double") * F.col("c_w2").cast("double"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "bigram").limit(50)


# ---------------------------------------------------------------------------
# e98 — semantic duplicate clusters (embedding-space connected components)
# ---------------------------------------------------------------------------

SEMANTIC_THRESHOLD = 0.3  # matches b55 (calibrated to the random fixture)


def _semantic_clusters_oracle() -> str:
    """Recursive-CTE oracle over b55's embedding-LSH pair construction."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.similarity import (
        _duck_cos,
        _duck_signature,
    )

    return rf"""WITH RECURSIVE sig AS (
          SELECT vec_id, embedding, {_duck_signature()} AS s FROM embeddings
        ),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM sig a JOIN sig b ON a.s = b.s AND a.vec_id < b.vec_id
          WHERE {_duck_cos('a.embedding', 'b.embedding')} >= {SEMANTIC_THRESHOLD}
        ),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs
        ),
        reach(node, r) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.node
        )
        SELECT node AS vec_id, MIN(r) AS cluster_id
        FROM reach GROUP BY node ORDER BY vec_id"""


@register("a038_semantic_clusters", _semantic_clusters_oracle())
def a038_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup clusters: connected components over the
    embedding-cosine near-dup graph (b55's LSH-bucketed pair space, so
    candidate generation is per-bucket, never all-pairs). Composes two
    already-proven primitives — lsh-bucketed pair finding and pointer-
    jumping label propagation — into the semantic-dedup step a training
    pipeline runs after exact/minhash dedup.

    Like d96, identical-EMBEDDING groups are star-collapsed before the
    bucket self-join (the adversarial input: one template's embedding
    repeated B times lands in one bucket and would cost B²/2 cosine
    evaluations). Component-identical to the full graph the oracle
    enumerates: an identical-embedding group shares its signature, so
    in-group pairs all evaluate cosine(v, v) — the star keeps exactly
    the rows that predicate admits — note cosine(0⃗,0⃗) is NaN, and both
    Spark and DuckDB order NaN ABOVE every double, so ``NaN >= t`` is
    TRUE and a zero-vector group links in BOTH shapes (and in the
    oracle); the invariant is shape-parity, not that NaN fails — and any
    member↔x edge exists as rep↔rep_x because banding and cosine see
    only the embedding."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.similarity import (
        cosine_hoisted,
        lsh_signature,
        norm,
    )

    emb = tables(spark, sf_dir)["embeddings"]
    # cached: consumed by the star filter AND both sides of the rep
    # bucket self-join (released by operators.release_caches).
    # the leading xxhash64 makes the window's sort compare LONGS, falling
    # back to full-array comparison only on hash-equal runs (= the real
    # groups, plus astronomically-rare collisions the array key still
    # separates correctly); measured 3.90 → 3.16 s min-of-4 interleaved
    # at sf0.1 vs the array-only partition key (old full-pair shape
    # 2.78 s same sitting — the +14% is the collapse pass's price).
    # nrm cached too (r8 norm hoist): the rep self-join's cosine filter
    # pays one dot fold per candidate pair instead of three.
    lab = track_cache(
        emb.select(
            "vec_id",
            "embedding",
            lsh_signature(F.col("embedding")).alias("s"),
            norm(F.col("embedding")).alias("nrm"),
        ).withColumn(
            "rep",
            F.min("vec_id").over(
                W.partitionBy(F.xxhash64("embedding"), F.col("embedding"))
            ),
        )
    )
    star = (
        lab.filter(F.col("vec_id") != F.col("rep"))
        # cosine(v, v) with the norm hoisted — same doubles
        # (0⃗ still yields 0/0 = NaN, which sorts/compares >= t as before)
        .filter(
            cosine_hoisted(
                F.col("embedding"), F.col("embedding"), F.col("nrm"), F.col("nrm")
            )
            >= SEMANTIC_THRESHOLD
        )
        .select(F.col("rep").alias("id_a"), F.col("vec_id").alias("id_b"))
    )
    reps = lab.filter(F.col("vec_id") == F.col("rep"))
    a = reps.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        "s",
        F.col("nrm").alias("na"),
    )
    b = reps.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        "s",
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            cosine_hoisted(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
            >= SEMANTIC_THRESHOLD
        )
        .select("id_a", "id_b")
        .unionByName(star)
    )
    return (
        connected_components(pairs)
        .select(F.col("node").alias("vec_id"), F.col("comp").alias("cluster_id"))
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# e99 — join-key skew audit
# ---------------------------------------------------------------------------


@register(
    "a039_skew_audit",
    """WITH k AS (
         SELECT l_suppkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1
       ),
       g AS (
         SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_keys FROM k
       )
       SELECT key, n,
              ROUND(CAST(n AS DOUBLE) / (SELECT total FROM g), 6) AS share,
              ROUND(CAST(n AS DOUBLE) * (SELECT n_keys FROM g)
                    / (SELECT total FROM g), 4) AS skew_factor
       FROM k ORDER BY n DESC, key LIMIT 5""",
)
def a039_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit: the top-5 heaviest keys with their share of
    rows and skew factor (key count / mean key count) — the measurement
    that decides operators/skew.py's salt factor before a big join. One
    partial-agg shuffle on the key + a 1-row broadcast of the totals;
    top-5 via TakeOrderedAndProject. skew_factor > ~4 on a head key is
    the standard trigger for salting (or AQE skew-join at runtime)."""
    li = tables(spark, sf_dir)["lineitem"]
    # cached: the per-key counts feed the totals AND the share
    # projection — uncached, the lineitem scan ran twice (review r8)
    k = track_cache(
        li.groupBy(F.col("l_suppkey").alias("key")).agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    g = k.agg(
        F.sum("n").cast("long").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        k.crossJoin(F.broadcast(g))
        .select(
            "key",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
            F.round(
                F.col("n").cast("double") * F.col("n_keys") / F.col("total"), 4
            ).alias("skew_factor"),
        )
        .orderBy(F.col("n").desc(), "key")
        .limit(5)
    )
