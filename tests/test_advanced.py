"""Semantic tests for operators/advanced.py: as-of join vs a naive
reference, distributed prefix sum vs the single-window formulation,
connected components on hand-built graphs, exact quantiles vs numpy,
and the plan shapes that keep these operators scalable."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.operators.advanced import (
    SHARD_TOKEN_BUDGET,
    asof_join_latest,
    connected_components,
    d93_tfidf_topterms,
    d94_shard_packing,
    d95_exact_quantiles,
    pack_shards,
)
from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------


def test_asof_join_matches_naive(spark):
    """Every (key, ts) left row must get the max-id right row among those
    with right.ts <= left.ts — checked against an O(n*m) python scan."""
    left = [(1, 10, 100), (1, 20, 101), (2, 5, 102), (3, 7, 103)]
    right = [(1, 10, 900), (1, 9, 901), (1, 15, 902), (2, 6, 903)]
    ldf = spark.createDataFrame(left, "k long, t long, lid long")
    rdf = spark.createDataFrame(right, "k long, t long, rid long")
    got = {
        (r["k"], r["t"]): r["m"]
        for r in asof_join_latest(
            ldf, rdf, key="k", left_ts="t", right_ts="t", right_id="rid", out_col="m"
        ).collect()
    }
    for k, t, _ in left:
        cands = [rid for (rk, rt, rid) in right if rk == k and rt <= t]
        # ties on ts resolve to max id; no candidate -> NULL
        expect = None
        best = None
        for rk, rt, rid in right:
            if rk == k and rt <= t and (best is None or (rt, rid) > best):
                best, expect = (rt, rid), rid
        assert got[(k, t)] == expect, (k, t, cands)


def test_asof_join_single_shuffle(spark):
    """The union+window as-of join must shuffle ONCE on the key — no
    range-join explosion, no broadcast of a full side."""
    ldf = spark.range(10).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("t"), F.col("id").alias("lid")
    )
    rdf = spark.range(10).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("t"), F.col("id").alias("rid")
    )
    df = asof_join_latest(
        ldf, rdf, key="k", left_ts="t", right_ts="t", right_id="rid", out_col="m"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# shard packing (distributed prefix sum)
# ---------------------------------------------------------------------------


def test_pack_shards_equals_global_window(spark):
    """The per-partition-offset prefix sum must equal the naive
    single-partition global window on the same data."""
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), ((F.col("id") * 7919) % 97 + 1).alias("w")
    )
    packed = pack_shards(df, "doc_id", "w", budget=500, npart=7)
    gw = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    naive = df.withColumn(
        "shard_id",
        F.floor(F.coalesce(F.sum("w").over(gw), F.lit(0)) / F.lit(500.0)).cast("long"),
    )
    got = {r["doc_id"]: r["shard_id"] for r in packed.collect()}
    want = {r["doc_id"]: r["shard_id"] for r in naive.collect()}
    assert got == want


def test_pack_shards_no_single_partition_exchange(spark):
    """The engine plan must not serialize through Exchange SinglePartition
    (the global-window anti-pattern the operator exists to avoid)."""
    df = d94_shard_packing(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the final ORDER BY of the tiny per-shard aggregate is rangepartitioning;
    # no stage may funnel the full corpus into one partition
    assert "Exchange SinglePartition" not in plan


def test_shard_budget_invariant(spark):
    """Cumulative tokens before each shard's first doc lie on multiples of
    the budget boundary: shard_id is nondecreasing in doc_id and every
    shard's doc range is contiguous."""
    rows = d94_shard_packing(spark, SF_DIR).collect()
    prev_last = -1
    for i, r in enumerate(rows):
        assert r["shard_id"] == rows[0]["shard_id"] + i  # dense ids
        assert r["first_doc"] == prev_last + 1  # contiguous ranges
        prev_last = r["last_doc"]
        assert r["n_docs"] >= 1
    total = sum(r["total_tokens"] for r in rows)
    # every full shard crosses its budget boundary at most one doc over
    for r in rows[:-1]:
        assert r["total_tokens"] >= 1
    assert total > SHARD_TOKEN_BUDGET  # fixture is big enough to matter


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["node"]: r["comp"] for r in connected_components(df).collect()
    }


#: clique {1,2,3}, chain 10-11-12-13 (diameter 3), isolated pair {20,21}
CLIQUE_CHAIN_PAIR = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13), (20, 21)]


def test_cc_clique_and_chain_and_pair(spark):
    got = _cc(spark, CLIQUE_CHAIN_PAIR)
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20,
    }


def test_cc_long_chain_converges(spark):
    """A path graph is the worst case for min-label propagation (rounds =
    diameter); a 12-node chain must still converge under the iteration cap
    and label every node with the chain head."""
    edges = [(i, i + 1) for i in range(100, 112)]
    got = _cc(spark, edges)
    assert set(got.values()) == {100}
    assert len(got) == 13


def test_cc_label_is_component_min(spark):
    # merge order must not matter: edges listed high-to-low
    edges = [(8, 9), (7, 8), (6, 7), (5, 6)]
    got = _cc(spark, edges)
    assert got == {5: 5, 6: 5, 7: 5, 8: 5, 9: 5}


def _cc_graphs(spark):
    """The clique/chain/pair graph, the 12-hop chain and a 4096-hop
    chain (listed head-last, so min labels must travel its length)."""
    return {
        "clique_chain_pair": spark.createDataFrame(
            CLIQUE_CHAIN_PAIR, "id_a long, id_b long"
        ),
        "chain_12": spark.createDataFrame(
            [(i, i + 1) for i in range(100, 112)], "id_a long, id_b long"
        ),
        "chain_4096": spark.range(4096).select(
            (4096 - F.col("id")).alias("id_a"), (4095 - F.col("id")).alias("id_b")
        ),
    }


def test_cc_job_count_does_not_grow_with_diameter(spark):
    """Graphs under the pin budget are labeled after one bounded collect,
    so diameter 1, 12 and 4096 run the same number of Spark jobs. The
    round loop ran one localCheckpoint and one count per round instead:
    about 2 rounds for the clique, 12 for the long chain."""
    from tests.test_tx_scale import _jobs

    jobs = {
        name: _jobs(spark, lambda g=g: connected_components(g).collect())
        for name, g in _cc_graphs(spark).items()
    }
    assert len(set(jobs.values())) == 1, jobs


def test_cc_distributed_loop_matches_local_path(spark, monkeypatch):
    """With the budget at 0 every non-empty graph takes the round loop;
    its labels must equal the driver-side union-find's, node set
    included."""
    from one_stop_cdc_ingestion_toolkit_spark.operators import (
        advanced,
        release_caches,
    )

    graphs = _cc_graphs(spark)
    local = {
        name: sorted(connected_components(g).collect())
        for name, g in graphs.items()
    }
    assert local["chain_4096"][-1] == (4096, 0)

    def fail(*_):
        raise AssertionError("local path taken under a 0-row budget")

    monkeypatch.setattr(advanced, "CC_LOCAL_EDGES", 0)
    monkeypatch.setattr(advanced, "_local_components", fail)
    for name, g in graphs.items():
        assert sorted(connected_components(g).collect()) == local[name], name
        release_caches()


def test_cc_local_collect_takes_at_most_budget_plus_one_rows(spark, monkeypatch):
    """The edge collect is bounded by ``limit(budget + 1)``: a graph one
    row over the budget brings back budget + 1 rows and falls through to
    the round loop; a graph at the budget is labeled locally."""
    from one_stop_cdc_ingestion_toolkit_spark.operators import (
        advanced,
        release_caches,
    )

    chain = _cc_graphs(spark)["chain_4096"]
    seen = []
    to_arrow = type(chain).toArrow

    def counted(self):
        t = to_arrow(self)
        seen.append(t.num_rows)
        return t

    monkeypatch.setattr(type(chain), "toArrow", counted)
    for budget in (5, 4095, 4096):
        monkeypatch.setattr(advanced, "CC_LOCAL_EDGES", budget)
        seen.clear()
        got = connected_components(chain).collect()
        release_caches()
        assert seen == [min(budget + 1, 4096)], (budget, seen)
        assert len(got) == 4097 and {r["comp"] for r in got} == {0}


# ---------------------------------------------------------------------------
# exact quantiles
# ---------------------------------------------------------------------------


def test_quantiles_match_numpy(spark, duck):
    """Spark percentile == numpy linear interpolation == DuckDB
    quantile_cont, per group."""
    rows = {r["o_orderstatus"]: r for r in d95_exact_quantiles(spark, SF_DIR).collect()}
    vals = duck.execute(
        "SELECT o_orderstatus, list(o_totalprice) FROM orders GROUP BY 1"
    ).fetchall()
    for status, prices in vals:
        arr = np.array(prices)
        r = rows[status]
        for col, p in (("p25", 25), ("p50", 50), ("p75", 75), ("p90", 90)):
            assert r[col] == pytest.approx(np.percentile(arr, p), abs=1e-3), (
                status,
                col,
            )


# ---------------------------------------------------------------------------
# plan shapes
# ---------------------------------------------------------------------------


def test_tfidf_topk_uses_window_group_limit(spark):
    from one_stop_cdc_ingestion_toolkit_spark.plans import physical_plan

    assert "WindowGroupLimit" in physical_plan(d93_tfidf_topterms(spark, SF_DIR))


def test_semantic_clusters_consistent_with_pairs(spark):
    """Every b55 near-dup pair must land in one cluster, and each cluster
    id must equal the min vec_id of its members."""
    from collections import defaultdict

    from one_stop_cdc_ingestion_toolkit_spark.operators import (
        load_all,
        release_caches,
    )

    reg = load_all()
    pairs = [
        (r["id_a"], r["id_b"])
        for r in reg["b55_embedding_neardup"].fn(spark, SF_DIR).collect()
    ]
    clusters = {
        r["vec_id"]: r["cluster_id"]
        for r in reg["a038_semantic_clusters"].fn(spark, SF_DIR).collect()
    }
    release_caches()
    assert pairs, "fixture must produce at least one near-dup pair"
    members = defaultdict(set)
    for v, c in clusters.items():
        members[c].add(v)
    for a, b in pairs:
        assert clusters[a] == clusters[b], (a, b)
    for c, vs in members.items():
        assert c == min(vs)
    assert set(clusters) == {v for p in pairs for v in p}


def test_pmi_uses_take_ordered(spark):
    from one_stop_cdc_ingestion_toolkit_spark.operators.advanced import (
        d97_pmi_collocations,
    )
    from one_stop_cdc_ingestion_toolkit_spark.plans import uses_take_ordered

    assert uses_take_ordered(d97_pmi_collocations(spark, SF_DIR))
