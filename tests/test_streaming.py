"""End-to-end streaming ingestion: file-source change stream → decode →
merge → materialized snapshot; checkpoint recovery; registry round-trip."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

from one_stop_cdc_ingestion_toolkit_spark.registry import PipelineRegistry
from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    Pipeline,
    PipelineSpec,
    TableSpec,
)
from one_stop_cdc_ingestion_toolkit_spark.streaming.table_store import TableStore
from tests.cdc_fixtures import (
    CANONICAL_EVENTS,
    GOLDEN_STATE,
    PERSON_SCHEMA,
    envelope,
    person,
    write_stream_files,
)


def _spec(tmp_path, name="p1") -> PipelineSpec:
    return PipelineSpec(
        name=name,
        source_dir=str(tmp_path / "stream"),
        tables=[TableSpec("person", ["firstName"], PERSON_SCHEMA)],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )


def _state(df) -> dict:
    return {
        r["firstName"]: (r["firstName"], r["lastName"], r["age"])
        for r in df.collect()
    }  # df is already the clean read_table() view


def test_stream_ingest_golden(spark, tmp_path):
    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=3)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    snap = pipe.read_table("person")
    assert _state(snap) == GOLDEN_STATE
    assert pipe.schemas.list_subjects() == ["person"]


def test_stream_checkpoint_recovery(spark, tmp_path):
    """Restarting from the checkpoint must not re-apply old files, and new
    files continue the state."""
    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()

    late = [
        envelope("u", 8, before=person("carol", "white", 25), after=person("carol", "black", 26)),
        envelope("d", 9, before=person("dave", None, 55)),
    ]
    import pathlib

    with open(pathlib.Path(spec.source_dir) / "batch-late.json", "w") as f:
        for e in late:
            f.write(json.dumps(e) + "\n")

    pipe2 = Pipeline(spark, spec)  # fresh instance, same checkpoint
    pipe2.process_available()
    pipe2.stop()
    snap = pipe2.read_table("person")
    expect = dict(GOLDEN_STATE)
    expect["carol"] = ("carol", "black", 26)
    del expect["dave"]
    assert _state(snap) == expect


def test_late_out_of_order_update_respected_across_batches(spark, tmp_path):
    """One envelope per file and one file per trigger: the out-of-order
    pos=2 update arrives in a LATER batch than pos=3 and must still lose
    (sequence-number merge, not arrival order)."""
    events = [
        envelope("c", 1, after=person("zed", "alpha", 20)),
        envelope("u", 3, before=person("zed", "alpha", 20), after=person("zed", "gamma", 22)),
        envelope("u", 2, before=person("zed", "alpha", 20), after=person("zed", "beta", 21)),
    ]
    spec = _spec(tmp_path, name="pds2")
    spec.max_files_per_trigger = 1
    write_stream_files(spec.source_dir, events, files=3)
    # the file source takes files oldest mtime first
    for i, f in enumerate(sorted(Path(spec.source_dir).iterdir())):
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    snap = pipe.read_table("person")
    rows = {r["firstName"]: r["lastName"] for r in snap.collect()}
    assert rows == {"zed": "gamma"}


def test_spec_rejects_unknown_options(tmp_path):
    """Only ``tx_atomic`` is an option: a spec naming a key the pipeline
    no longer reads fails instead of silently running without it."""
    spec = _spec(tmp_path)
    spec.options = {"source_format": "changelog"}
    with pytest.raises(ValueError, match="unknown options"):
        spec.validate()
    spec.options = {"tx_atomic": True}
    spec.validate()


def test_stream_status_and_remove(spark, tmp_path):
    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS[:2], files=1)
    pipe = Pipeline(spark, spec)
    assert pipe.status() == {
        "state": "STOPPED",
        "dlq_rows": 0,
        "open_transactions": 0,
    }
    pipe.process_available()
    assert pipe.status()["state"] == "RUNNING"
    pipe.remove(drop_data=True)
    assert pipe.status()["state"] == "TERMINATED"
    assert TableStore(spec.sink_dir).list_tables() == []
    # remove is idempotent (reference teardown is best-effort, A17)
    pipe.remove(drop_data=True)


def test_multi_table_demux(spark, tmp_path):
    """One change stream carrying two tables (the reference's
    topic-per-table demux, A4): each table materializes independently,
    and a mixed batch routes rows to the right merges."""
    import pyspark.sql.types as T

    order_schema = T.StructType(
        [
            T.StructField("order_id", T.LongType(), False),
            T.StructField("amount", T.IntegerType(), True),
        ]
    )

    def order_env(op, pos, before=None, after=None):
        e = envelope(op, pos, before=before, after=after)
        doc = json.loads(e["value"])
        doc["source"]["table"] = "orders"
        e["value"] = json.dumps(doc)
        e["key"] = str(((after or before) or {}).get("order_id"))
        return e

    events = list(CANONICAL_EVENTS) + [
        order_env("c", 1, after={"order_id": 1, "amount": 10}),
        order_env("c", 2, after={"order_id": 2, "amount": 20}),
        order_env("u", 3, before={"order_id": 1, "amount": 10},
                  after={"order_id": 1, "amount": 15}),
        order_env("d", 4, before={"order_id": 2, "amount": 20}),
    ]
    spec = PipelineSpec(
        name="multi",
        source_dir=str(tmp_path / "stream"),
        tables=[
            TableSpec("person", ["firstName"], PERSON_SCHEMA),
            TableSpec("orders", ["order_id"], order_schema, n_buckets=4),
        ],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    write_stream_files(spec.source_dir, events, files=2)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    assert _state(pipe.read_table("person")) == GOLDEN_STATE
    orders = {r["order_id"]: r["amount"] for r in pipe.read_table("orders").collect()}
    assert orders == {1: 15}
    assert sorted(pipe.store.list_tables()) == ["orders", "person"]


def test_pipeline_rejects_incompatible_evolution(spark, tmp_path):
    """Restarting a pipeline whose table schema added a NOT NULL column
    must fail the batch (BACKWARD gate inside the stream, A11)."""
    import pyspark.sql.types as T
    from pyspark.errors.exceptions.captured import StreamingQueryException

    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS[:3], files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()

    evolved = T.StructType(
        PERSON_SCHEMA.fields + [T.StructField("address", T.StringType(), False)]
    )
    spec2 = PipelineSpec(
        name="p1",
        source_dir=spec.source_dir,
        tables=[TableSpec("person", ["firstName"], evolved)],
        sink_dir=spec.sink_dir,
        checkpoint_dir=str(tmp_path / "ckpt2"),  # fresh stream, same lake
    )
    pipe2 = Pipeline(spark, spec2)
    with pytest.raises(StreamingQueryException, match="address"):
        pipe2.process_available()
    pipe2.stop()


def test_pipeline_survives_compatible_evolution(spark, tmp_path):
    """v1 state + v3 schema (drop lastName, add nullable email): the
    SchemaStore accepts the evolution AND the merge reads old-schema
    state under the new schema (old rows get NULL email, lose lastName)."""
    import pyspark.sql.types as T

    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()

    v3 = T.StructType(
        [
            T.StructField("firstName", T.StringType(), True),
            T.StructField("age", T.IntegerType(), False),
            T.StructField("email", T.StringType(), True),
        ]
    )
    v3_events = [
        {
            "key": "erin",
            "value": json.dumps(
                {
                    "before": None,
                    "after": {"firstName": "erin", "age": 22, "email": "e@x.io"},
                    "op": "c",
                    "ts_ms": 1_700_000_000_020,
                    "source": {"db": "cdc_test_db", "table": "person", "pos": 20, "server_id": 1},
                }
            ),
        }
    ]
    import pathlib

    with open(pathlib.Path(spec.source_dir) / "v3.json", "w") as f:
        for e in v3_events:
            f.write(json.dumps(e) + "\n")

    spec2 = PipelineSpec(
        name="p1",
        source_dir=spec.source_dir,
        tables=[TableSpec("person", ["firstName"], v3)],
        sink_dir=spec.sink_dir,
        checkpoint_dir=spec.checkpoint_dir,  # same checkpoint: continue
    )
    pipe2 = Pipeline(spark, spec2)
    pipe2.process_available()
    pipe2.stop()
    snap = pipe2.read_table("person")
    assert set(snap.columns) == {"firstName", "age", "email"}
    got = {r["firstName"]: (r["age"], r["email"]) for r in snap.collect()}
    assert got == {
        "alice": (31, None),
        "carol": (25, None),
        "dave": (55, None),
        "erin": (22, "e@x.io"),
    }
    assert len(pipe2.schemas.versions("person")) == 2


def test_registry_round_trip(tmp_path):
    reg = PipelineRegistry(tmp_path / "pipelines.json")
    spec = _spec(tmp_path)
    spec.database_include = ["cdc_test_db"]
    reg.save(spec)
    assert reg.list_pipelines() == ["p1"]
    loaded = reg.get("p1")
    assert loaded.tables[0].row_schema == PERSON_SCHEMA
    assert loaded.tables[0].key_cols == ["firstName"]
    assert loaded.database_include == ["cdc_test_db"]
    assert reg.remove("p1") is True
    assert reg.remove("p1") is False


def test_database_include_filters_foreign_dbs(spark, tmp_path):
    """database.include.list (A3): events from other databases are ignored
    even when table names collide."""
    import pathlib

    spec = _spec(tmp_path)
    spec.database_include = ["cdc_test_db"]
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=1)
    foreign = envelope("c", 99, after=person("zoe", "foreign", 99))
    doc = json.loads(foreign["value"])
    doc["source"]["db"] = "other_db"
    foreign["value"] = json.dumps(doc)
    with open(pathlib.Path(spec.source_dir) / "foreign.json", "w") as f:
        f.write(json.dumps(foreign) + "\n")
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    assert _state(pipe.read_table("person")) == GOLDEN_STATE  # no zoe


def test_drop_tables_by_pattern(spark, tmp_path):
    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS[:2], files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    store = pipe.store
    assert store.list_tables() == ["person"]
    assert store.drop_tables("nomatch.*") == []
    assert store.drop_tables("per.*") == ["person"]
    assert store.list_tables() == []


def test_gc_tombstones_both_layouts(spark, tmp_path):
    """gc_tombstones drops only horizon-old tombstones, preserves live
    rows, and respects the table layout (snapshot + bucketed)."""
    for n_buckets, sub in ((1, "snap"), (4, "buck")):
        base = tmp_path / sub
        spec = PipelineSpec(
            name=f"p_{sub}",
            source_dir=str(base / "stream"),
            tables=[TableSpec("person", ["firstName"], PERSON_SCHEMA, n_buckets=n_buckets)],
            sink_dir=str(base / "lake"),
            checkpoint_dir=str(base / "ckpt"),
        )
        write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=1)
        pipe = Pipeline(spark, spec)
        pipe.process_available()
        pipe.stop()
        state = pipe.store.read(spark, "person")
        assert state.filter("__deleted").count() == 1  # bob, pos=6
        # horizon below the tombstone: nothing removed
        assert pipe.gc_tombstones(min_pos=6) == {"person": 0}
        # horizon past it: tombstone gone, live state intact
        assert pipe.gc_tombstones(min_pos=7) == {"person": 1}
        state = pipe.store.read(spark, "person")
        assert state.filter("__deleted").count() == 0
        assert _state(pipe.read_table("person")) == GOLDEN_STATE
