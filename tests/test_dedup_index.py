"""Incremental dedup index (streaming.dedup_index): after ANY replay of
change batches, the index must equal a full batch recompute over the
merged snapshot — the O(batch)-per-batch index is indistinguishable from
the O(corpus) rebuild."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from one_stop_cdc_ingestion_toolkit_spark.operators import release_caches
from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import minhash_lsh_pairs
from one_stop_cdc_ingestion_toolkit_spark.operators.text import fingerprint
from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    Pipeline,
    PipelineSpec,
    TableSpec,
)
from tests.cdc_fixtures import write_stream_files

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = BASE.replace("today", "tonight")  # near-dup: one word differs
OTHER = "completely different content with no overlap at all in any words"


def doc_envelope(op, pos, doc_id, text=None):
    after = {"doc_id": doc_id, "text": text} if op != "d" else None
    before = {"doc_id": doc_id, "text": text} if op == "d" else None
    return {
        "key": str(doc_id),
        "value": json.dumps(
            {
                "before": before,
                "after": after,
                "op": op,
                "ts_ms": 1_700_000_000_000 + pos,
                "source": {"db": "corpus", "table": "docs", "pos": pos, "server_id": 1},
            }
        ),
    }


def _spec(tmp_path, n_buckets=1):
    return PipelineSpec(
        name="docs_pipe",
        source_dir=str(tmp_path / "stream"),
        tables=[
            TableSpec(
                "docs",
                ["doc_id"],
                DOCS_SCHEMA,
                n_buckets=n_buckets,
                index_text_col="text",
            )
        ],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )


def _pairs(df):
    return sorted((r.id_a, r.id_b) for r in df.collect())


def _assert_index_equals_recompute(spark, pipe):
    """The incremental index must match a from-scratch recompute on the
    current snapshot, for both near-dup candidates and exact groups."""
    snap = pipe.read_table("docs")
    idx = pipe.indexes["docs"]
    assert _pairs(idx.near_duplicate_pairs(spark)) == _pairs(
        minhash_lsh_pairs(snap, "doc_id", "text")
    )
    exact = {
        (r.fp, r.n, r.keeper) for r in idx.exact_duplicates(spark).collect()
    }
    recomputed = {
        (r.fp, r.n, r.keeper)
        for r in snap.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n") > 1)
        .collect()
    }
    assert exact == recomputed
    release_caches()


import pytest


@pytest.mark.parametrize("n_buckets", [1, 4], ids=["snapshot", "bucketed"])
def test_incremental_index_equals_batch_recompute(spark, tmp_path, n_buckets):
    spec = _spec(tmp_path, n_buckets=n_buckets)
    pipe = Pipeline(spark, spec)

    # batch 1: three docs — exact dup (1,2), near dup (3 vs 1), distinct 4
    write_stream_files(
        spec.source_dir,
        [
            doc_envelope("r", 1, 1, BASE),
            doc_envelope("r", 2, 2, BASE),
            doc_envelope("c", 3, 3, NEAR),
            doc_envelope("c", 4, 4, OTHER),
        ],
        files=1,
    )
    pipe.process_available()
    _assert_index_equals_recompute(spark, pipe)
    assert _pairs(pipe.indexes["docs"].near_duplicate_pairs(spark)) != []

    # batch 2: update 4 to become a dup of BASE; delete 2; duplicate
    # delivery of pos=3; stale out-of-order update of 3 (pos=2 < applied 3)
    more = [
        doc_envelope("u", 5, 4, BASE),
        doc_envelope("d", 6, 2, BASE),
        doc_envelope("c", 3, 3, NEAR),  # redelivery
        doc_envelope("u", 2, 3, OTHER),  # stale: must NOT change doc 3
    ]
    import pathlib

    with open(pathlib.Path(spec.source_dir) / "batch-0100.json", "w") as f:
        for e in more:
            f.write(json.dumps(e) + "\n")
    pipe.process_available()
    pipe.stop()

    snap = {r.doc_id: r.text for r in pipe.read_table("docs").collect()}
    assert snap == {1: BASE, 3: NEAR, 4: BASE}  # 2 deleted, 3 unchanged
    _assert_index_equals_recompute(spark, pipe)
    # the index reflects the post-merge truth: 4 now exactly dups 1
    exact = pipe.indexes["docs"].exact_duplicates(spark).collect()
    assert [(r.n, r.keeper) for r in exact] == [(2, 1)]


def test_index_survives_checkpoint_restart(spark, tmp_path):
    """A fresh Pipeline on the same checkpoint must not corrupt the index
    (no double-apply of old batches) and must fold new batches in — the
    incremental == recompute invariant holds across restarts."""
    import pathlib

    spec = _spec(tmp_path)
    write_stream_files(
        spec.source_dir,
        [
            doc_envelope("r", 1, 1, BASE),
            doc_envelope("r", 2, 2, BASE),
            doc_envelope("c", 3, 3, NEAR),
        ],
        files=1,
    )
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    _assert_index_equals_recompute(spark, pipe)

    # new batch after restart: update 3 to an exact dup of 1, add 4
    more = [
        doc_envelope("u", 4, 3, BASE),
        doc_envelope("c", 5, 4, OTHER),
    ]
    with open(pathlib.Path(spec.source_dir) / "batch-late.json", "w") as f:
        for e in more:
            f.write(json.dumps(e) + "\n")
    pipe2 = Pipeline(spark, spec)  # fresh instance, same checkpoint
    pipe2.process_available()
    pipe2.stop()
    _assert_index_equals_recompute(spark, pipe2)
    exact = pipe2.indexes["docs"].exact_duplicates(spark).collect()
    assert [(r.n, r.keeper) for r in exact] == [(3, 1)]  # 1,2,3 identical


def test_cli_duplicates_verb(spark, tmp_path, capsys):
    """quickstart a doc pipeline from a spec file (registry round-trips
    index_text_col), then query the index through the CLI."""
    from one_stop_cdc_ingestion_toolkit_spark.cli import main
    from one_stop_cdc_ingestion_toolkit_spark.registry import spec_to_json

    spec = _spec(tmp_path)
    write_stream_files(
        spec.source_dir,
        [
            doc_envelope("r", 1, 1, BASE),
            doc_envelope("r", 2, 2, BASE),
            doc_envelope("c", 3, 3, NEAR),
        ],
        files=1,
    )
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(json.dumps(spec_to_json(spec)))
    registry = str(tmp_path / "pipelines.json")
    assert main(["--registry", registry, "quickstart", str(spec_file)]) == 0
    assert main(["--registry", registry, "duplicates", spec.sink_dir, "docs"]) == 0
    out = capsys.readouterr().out
    assert "keeper" in out  # exact-dup group for docs 1,2
    assert main(
        ["--registry", registry, "duplicates", spec.sink_dir, "docs", "--near"]
    ) == 0
    out = capsys.readouterr().out
    assert "id_a" in out
    # unknown table → error exit
    assert main(["--registry", registry, "duplicates", spec.sink_dir, "nope"]) == 1


def test_index_requires_single_key(tmp_path):
    spec = PipelineSpec(
        name="bad",
        source_dir=str(tmp_path / "s"),
        tables=[
            TableSpec(
                "docs",
                ["doc_id", "text"],
                DOCS_SCHEMA,
                index_text_col="text",
            )
        ],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "c"),
    )
    import pytest

    with pytest.raises(ValueError, match="single"):
        spec.validate()


def test_index_rows_plan_is_shuffle_free(spark):
    """The micro-batch index maintenance must stay a map-only plan: the
    Arrow minhash kernel (pinned use_arrow=True) plus widen=False mean
    NO Exchange per batch — the r7 JVM explode default would have added
    a groupBy shuffle to every DedupIndex.update (review r7)."""
    from one_stop_cdc_ingestion_toolkit_spark.streaming.dedup_index import (
        DedupIndex,
    )

    idx = DedupIndex.__new__(DedupIndex)
    idx.id_col = "doc_id"
    idx.text_col = "text"
    idx.n_buckets = 1
    batch = spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER)], DOCS_SCHEMA
    )
    plan = (
        idx._index_rows(batch)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan[:800]
