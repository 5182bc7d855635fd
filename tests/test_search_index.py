"""Incremental BM25 search index (streaming.search_index): after ANY
replay of change batches — inserts, updates, deletes, across batch
boundaries — querying the index must score exactly like a from-scratch
BM25 recompute over the merged snapshot."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from one_stop_cdc_ingestion_toolkit_spark.operators.retrieval import _bm25_scores
from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    Pipeline,
    PipelineSpec,
    TableSpec,
)
from tests.cdc_fixtures import write_stream_files
from tests.test_dedup_index import DOCS_SCHEMA, doc_envelope


def _spec(tmp_path, n_buckets=1):
    return PipelineSpec(
        name="search_pipe",
        source_dir=str(tmp_path / "stream"),
        tables=[
            TableSpec(
                "docs",
                ["doc_id"],
                DOCS_SCHEMA,
                n_buckets=n_buckets,
                search_text_col="text",
            )
        ],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )


DOCS = [
    (1, "table merge table window table scan"),
    (2, "table scan scan sort filter project"),
    (3, "window merge window sort join join"),
    (4, "filter project join sort scan scan"),
]


def _index_scores(spark, pipe, terms, k=10):
    return {
        r["id"]: r["score"]
        for r in pipe.search_indexes["docs"].bm25(spark, terms, k).collect()
    }


def _recompute_scores(spark, pipe, terms):
    """From-scratch BM25 over the merged snapshot, via the registered
    batch operator's internals (same formula, fixed QUERY_TERMS not
    needed — patch the term list by scoring with the index-free path)."""
    snap = pipe.read_table("docs").select(
        F.col("doc_id"), F.col("text")
    )
    import one_stop_cdc_ingestion_toolkit_spark.operators.retrieval as R

    old = R.QUERY_TERMS
    R.QUERY_TERMS = tuple(terms)
    try:
        out = {r["doc_id"]: r["score"] for r in _bm25_scores(snap).collect()}
    finally:
        R.QUERY_TERMS = old
    return out


def _assert_matches_recompute(spark, pipe, terms):
    got = _index_scores(spark, pipe, terms)
    want = _recompute_scores(spark, pipe, terms)
    assert set(got) == set(want)
    for doc_id, s in want.items():
        # summation order differs (fixed-order vs aggregate), so allow
        # one ulp-at-the-4th-decimal of slack
        assert abs(got[doc_id] - s) <= 1e-3, (doc_id, got[doc_id], s)


def test_search_index_tracks_replay(spark, tmp_path):
    """Insert + update + delete across batches; index-only BM25 equals a
    full recompute after every stage."""
    spec = _spec(tmp_path)
    batch1 = [doc_envelope("c", i, d, t) for i, (d, t) in enumerate(DOCS, 1)]
    write_stream_files(spec.source_dir, batch1, files=2)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    _assert_matches_recompute(spark, pipe, ["table", "merge"])
    # doc 1 dominates: three 'table' hits plus 'merge'
    top = pipe.search_indexes["docs"].bm25(spark, ["table", "merge"], 1).collect()
    assert top[0]["id"] == 1

    batch2 = [
        doc_envelope("u", 10, 1, "sort filter project join nothing relevant"),
        doc_envelope("d", 11, 3, DOCS[2][1]),
        doc_envelope("c", 12, 5, "merge merge merge table"),
    ]
    with open(f"{spec.source_dir}/b2.json", "w") as f:
        for e in batch2:
            f.write(json.dumps(e) + "\n")
    pipe.process_available()
    pipe.stop()
    _assert_matches_recompute(spark, pipe, ["table", "merge"])
    got = _index_scores(spark, pipe, ["table", "merge"])
    assert 3 not in got  # deleted doc is gone from the index
    assert 1 not in got  # updated doc no longer matches the query
    top = pipe.search_indexes["docs"].bm25(spark, ["merge"], 1).collect()
    assert top[0]["id"] == 5


def test_search_index_bucketed_layout(spark, tmp_path):
    """Bucketed index: same answers, only touched buckets rewritten."""
    spec = _spec(tmp_path, n_buckets=4)
    batch1 = [doc_envelope("c", i, d, t) for i, (d, t) in enumerate(DOCS, 1)]
    write_stream_files(spec.source_dir, batch1, files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    _assert_matches_recompute(spark, pipe, ["scan", "join"])


def test_search_empty_query_terms_absent(spark, tmp_path):
    spec = _spec(tmp_path)
    write_stream_files(
        spec.source_dir, [doc_envelope("c", 1, 1, "alpha beta gamma")], files=1
    )
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    assert _index_scores(spark, pipe, ["missingterm"]) == {}


def test_rebuild_repairs_drift(spark, tmp_path):
    """Wipe the index (simulated drift), rebuild from the snapshot, and
    the queries come back identical."""
    spec = _spec(tmp_path)
    batch1 = [doc_envelope("c", i, d, t) for i, (d, t) in enumerate(DOCS, 1)]
    write_stream_files(spec.source_dir, batch1, files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    before = _index_scores(spark, pipe, ["table", "merge"])
    sindex = pipe.search_indexes["docs"]
    pipe.store.drop(sindex.index_table)
    assert sindex.read(spark) is None
    sindex.rebuild(spark, pipe.read_table("docs"))
    assert _index_scores(spark, pipe, ["table", "merge"]) == before


def test_layout_change_keeps_indexes(spark, tmp_path):
    """Switching an indexed table from snapshot to bucketed (None → 4)
    must carry both indexes over whole: the bucketed update used to read
    the still-snapshot index as empty, shrinking it to the batch's docs."""
    from tests.test_dedup_index import _assert_index_equals_recompute

    spec = _spec(tmp_path)
    spec.tables[0].index_text_col = "text"
    batch1 = [doc_envelope("c", i, d, t) for i, (d, t) in enumerate(DOCS[:3], 1)]
    write_stream_files(spec.source_dir, batch1, files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()

    with open(f"{spec.source_dir}/b2.json", "w") as f:
        f.write(json.dumps(doc_envelope("u", 10, 2, "merge table scan")) + "\n")
    spec_b = _spec(tmp_path, n_buckets=4)  # same dirs, now bucketed
    spec_b.tables[0].index_text_col = "text"
    pipe2 = Pipeline(spark, spec_b)
    pipe2.process_available()
    pipe2.stop()

    doc_rows = pipe2.search_indexes["docs"].read(spark).filter(F.col("term").isNull())
    assert doc_rows.count() == 3
    _assert_matches_recompute(spark, pipe2, ["table", "merge"])
    assert pipe2.indexes["docs"].read(spark).select("id").distinct().count() == 3
    _assert_index_equals_recompute(spark, pipe2)
