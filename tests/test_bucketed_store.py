"""Bucketed CDC state: golden equality with the whole-snapshot path, and
the scale property — a batch rewrites ONLY the buckets it touches."""

from __future__ import annotations

import json
import pathlib

import pytest

from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    Pipeline,
    PipelineSpec,
    TableSpec,
)
from tests.cdc_fixtures import (
    CANONICAL_EVENTS,
    GOLDEN_STATE,
    PERSON_SCHEMA,
    envelope,
    person,
    write_stream_files,
)

N_BUCKETS = 8


def _spec(tmp_path) -> PipelineSpec:
    return PipelineSpec(
        name="pb",
        source_dir=str(tmp_path / "stream"),
        tables=[TableSpec("person", ["firstName"], PERSON_SCHEMA, n_buckets=N_BUCKETS)],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )


def _state(pipe) -> dict:
    return {
        r["firstName"]: (r["firstName"], r["lastName"], r["age"])
        for r in pipe.read_table("person").collect()
    }


def test_bucketed_golden(spark, tmp_path):
    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=2)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    assert _state(pipe) == GOLDEN_STATE


def test_batch_rewrites_only_touched_buckets(spark, tmp_path):
    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    before = pipe.store.bucket_map("person")

    # second batch touches a single key → a single bucket
    late = [envelope("u", 10, before=person("alice", "brown", 31),
                     after=person("alice", "grey", 32))]
    with open(pathlib.Path(spec.source_dir) / "late.json", "w") as f:
        for e in late:
            f.write(json.dumps(e) + "\n")
    pipe2 = Pipeline(spark, spec)
    pipe2.process_available()
    pipe2.stop()
    after = pipe2.store.bucket_map("person")

    changed = {b for b in after if after[b] != before.get(b)}
    assert len(changed) == 1, f"one key => one rewritten bucket, got {changed}"
    expect = dict(GOLDEN_STATE)
    expect["alice"] = ("alice", "grey", 32)
    assert _state(pipe2) == expect
    # untouched buckets still point at the original generation
    untouched = set(before) - changed
    assert all(after[b] == before[b] for b in untouched)


def test_snapshot_to_bucketed_migration(spark, tmp_path):
    """Enabling n_buckets on an existing whole-snapshot table must fold
    the snapshot into the bucketed layout, not silently start empty."""
    spec_flat = PipelineSpec(
        name="pb",
        source_dir=str(tmp_path / "stream"),
        tables=[TableSpec("person", ["firstName"], PERSON_SCHEMA)],  # no buckets
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    write_stream_files(spec_flat.source_dir, CANONICAL_EVENTS, files=1)
    pipe = Pipeline(spark, spec_flat)
    pipe.process_available()
    pipe.stop()
    assert pipe.store.layout("person") == "snapshot"

    late = [envelope("u", 10, before=person("alice", "brown", 31),
                     after=person("alice", "grey", 32))]
    with open(pathlib.Path(spec_flat.source_dir) / "late.json", "w") as f:
        for e in late:
            f.write(json.dumps(e) + "\n")
    spec_b = _spec(tmp_path)  # same dirs, now bucketed
    pipe2 = Pipeline(spark, spec_b)
    pipe2.process_available()
    pipe2.stop()
    assert pipe2.store.layout("person") == "bucketed"
    expect = dict(GOLDEN_STATE)
    expect["alice"] = ("alice", "grey", 32)
    assert _state(pipe2) == expect  # snapshot rows survived the migration


def test_whole_snapshot_write_refused_on_bucketed_table(spark, tmp_path):

    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS[:2], files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    df = pipe.store.read(spark, "person")
    with pytest.raises(ValueError, match="bucketed layout"):
        pipe.store.write(df, "person")


def test_generation_pruning(spark, tmp_path):
    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=4)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    tdir = pathlib.Path(spec.sink_dir) / "person"
    live = set(pipe.store.bucket_map("person").values())
    on_disk = {p.name for p in tdir.glob("gen-*")}
    assert on_disk == live, "unreferenced generations must be pruned"



@pytest.mark.parametrize("old_n,new_n", [(4, 8), (8, 4)], ids=["grow", "shrink"])
def test_bucket_count_change_keeps_one_row_per_key(spark, tmp_path, old_n, new_n):
    """Changing n_buckets on a bucketed table must rewrite it once under
    the new count: pruning a 4-bucket map by 8-bucket ids (or the
    reverse) missed carol's old row (bucket 2 of 4, bucket 6 of 8), so
    an update to carol left two live carol rows."""
    from pyspark.sql import functions as F

    from one_stop_cdc_ingestion_toolkit_spark.streaming.table_store import (
        key_bucket,
    )

    moved = spark.createDataFrame([("carol",)], "k string").select(
        key_bucket(4, F.col("k")).alias("b4"), key_bucket(8, F.col("k")).alias("b8")
    ).first()
    assert (moved["b4"], moved["b8"]) == (2, 6)

    spec = _spec(tmp_path)
    spec.tables[0].n_buckets = old_n
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()

    late = [envelope("u", 10, before=person("carol", "white", 25),
                     after=person("carol", "black", 26))]
    with open(pathlib.Path(spec.source_dir) / "late.json", "w") as f:
        for e in late:
            f.write(json.dumps(e) + "\n")
    spec.tables[0].n_buckets = new_n  # same dirs, new bucket count
    pipe2 = Pipeline(spark, spec)
    pipe2.process_available()
    pipe2.stop()

    rows = pipe2.read_table("person").collect()
    assert sorted(r["firstName"] for r in rows) == sorted(GOLDEN_STATE)
    expect = dict(GOLDEN_STATE)
    expect["carol"] = ("carol", "black", 26)
    assert _state(pipe2) == expect
    assert set(pipe2.store.bucket_map("person")) <= set(range(new_n))
