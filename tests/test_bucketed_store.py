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


def _state(pipe, table="person") -> dict:
    return {
        r["firstName"]: (r["firstName"], r["lastName"], r["age"])
        for r in pipe.read_table(table).collect()
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


def test_every_table_is_a_bucket_map(spark, tmp_path):
    """An unkeyed write, a default keyed table and a 16-bucket table all
    leave the same pointer file, a bucket map, and no whole-snapshot
    pointer; only a many-bucket map records its count."""
    spec = _spec(tmp_path)
    spec.tables = [
        TableSpec("person", ["firstName"], PERSON_SCHEMA),
        TableSpec("person16", ["firstName"], PERSON_SCHEMA, n_buckets=16),
    ]
    events = list(CANONICAL_EVENTS)
    for e in CANONICAL_EVENTS:
        value = json.loads(e["value"])
        value["source"]["table"] = "person16"
        events.append({**e, "value": json.dumps(value)})
    write_stream_files(spec.source_dir, events, files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    pipe.store.write(spark.createDataFrame([(1,)], "v int"), "plain")
    lake = pathlib.Path(spec.sink_dir)
    for table, n in (("plain", 1), ("person", 1), ("person16", 16)):
        names = {p.name for p in (lake / table).iterdir()}
        assert "_BUCKETS" in names and "_CURRENT" not in names, names
        assert ("_NBUCKETS" in names) == (n > 1), names
    assert (lake / "person16" / "_NBUCKETS").read_text() == "16"
    assert set(pipe.store.bucket_map("person")) == {0}
    assert _state(pipe) == _state(pipe, "person16") == GOLDEN_STATE


@pytest.mark.parametrize("n", [-4, 0, 1, 16])
def test_bucket_count_must_be_positive(tmp_path, n):
    """A count below 1 is refused: -4 made the whole rewrite map no
    bucket at all (``range(-4)`` is empty), so the table read back as
    absent after its rows were written."""
    spec = _spec(tmp_path)
    spec.tables[0].n_buckets = n
    if n < 1:
        with pytest.raises(ValueError, match="n_buckets"):
            spec.validate()
    else:
        spec.validate()


@pytest.mark.parametrize(
    "old_n,new_n",
    [(4, 8), (8, 4), (1, 16), (16, 1)],
    ids=["grow", "shrink", "from_one", "to_one"],
)
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


def test_snapshot_layout_lake_is_adopted(spark, tmp_path):
    """A lake of the older snapshot layout (``_CURRENT`` naming a
    generation whose files sit at its root, history records naming that
    generation) is moved into the one-bucket map when a store opens it:
    its rows survive the next batch, and with retain=1 its history and
    the time-travel read of its last state still work. Read as an empty
    map, the batch's merge would have replaced every earlier row."""
    spec = _spec(tmp_path)
    spec.tables[0].n_buckets = 1
    spec.snapshot_retain = 1
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()

    # rewrite the table by hand into the older layout
    tdir = pathlib.Path(spec.sink_dir) / "person"
    (gen,) = set(pipe.store.bucket_map("person").values())
    stored = sorted(map(tuple, pipe.store.read(spark, "person").collect()))
    for f in (tdir / gen / "__bucket=0").iterdir():
        f.rename(tdir / gen / f.name)
    (tdir / gen / "__bucket=0").rmdir()
    (tdir / "_BUCKETS").unlink()
    (tdir / "_CURRENT").write_text(gen)
    (tdir / "_HISTORY").write_text(
        json.dumps({"seq": 0, "kind": "snapshot", "state": gen}) + "\n"
    )

    late = [envelope("u", 10, before=person("carol", "white", 25),
                     after=person("carol", "black", 26))]
    with open(pathlib.Path(spec.source_dir) / "late.json", "w") as f:
        for e in late:
            f.write(json.dumps(e) + "\n")
    pipe2 = Pipeline(spark, spec)
    assert not (tdir / "_CURRENT").exists()
    assert pipe2.store.bucket_map("person") == {0: gen}
    pipe2.process_available()
    pipe2.stop()

    expect = dict(GOLDEN_STATE)
    expect["carol"] = ("carol", "black", 26)
    assert _state(pipe2) == expect
    hist = pipe2.store.history("person")
    assert hist[0]["state"] == {"0": gen} and hist[0]["live"]
    old = pipe2.store.read_as_of(spark, "person", 0)
    assert sorted(map(tuple, old.collect())) == stored
