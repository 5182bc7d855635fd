"""A5 wiring: DDL schema-change events on the change stream drive schema
evolution mid-stream (the reference's ``include.schema.changes=true``,
``/root/reference/bin/mskc-connector.sh:399``), gated by BACKWARD."""

from __future__ import annotations

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
    schema_change_event,
    write_stream_files,
)

BASE_COLS = [
    ("firstName", "VARCHAR", True),
    ("lastName", "VARCHAR", True),
    ("age", "INT", False),
]


def _spec(tmp_path) -> PipelineSpec:
    return PipelineSpec(
        name="ddl-pipe",
        source_dir=str(tmp_path / "stream"),
        tables=[TableSpec("person", ["firstName"], PERSON_SCHEMA)],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )


def test_ddl_event_evolves_table_mid_stream(spark, tmp_path):
    """Batch 1: base schema. Batch 2 leads with an ALTER adding a nullable
    email column, followed by data using it — the same micro-batch must
    decode with the evolved schema; pre-DDL rows read email as NULL."""
    spec = _spec(tmp_path)
    pipe = Pipeline(spark, spec)

    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=1)
    pipe.process_available()
    assert len(pipe.schemas.versions("person")) == 1

    batch2 = [
        schema_change_event(
            BASE_COLS + [("email", "VARCHAR", True)],
            ddl="ALTER TABLE person ADD COLUMN email varchar(64)",
        ),
        envelope(
            "c", 10,
            after={"firstName": "eve", "lastName": "black", "age": 28,
                   "email": "eve@x.io"},
        ),
        envelope(
            "u", 11,
            before={"firstName": "alice", "lastName": "brown", "age": 31},
            after={"firstName": "alice", "lastName": "brown", "age": 32,
                   "email": "alice@x.io"},
        ),
    ]
    import json
    with open(f"{spec.source_dir}/batch-0100.json", "w") as f:
        for e in batch2:
            f.write(json.dumps(e) + "\n")
    pipe.process_available()
    pipe.stop()

    assert len(pipe.schemas.versions("person")) == 2
    assert ("person", 2, None) in pipe.schema_log

    snap = pipe.read_table("person")
    assert "email" in snap.columns
    rows = {r["firstName"]: r for r in snap.collect()}
    assert rows["eve"]["email"] == "eve@x.io"
    assert rows["alice"]["email"] == "alice@x.io" and rows["alice"]["age"] == 32
    # pre-DDL rows surface the added column as NULL (BACKWARD semantics)
    assert rows["carol"]["email"] is None
    assert set(rows) == set(GOLDEN_STATE) | {"eve"}


def test_incompatible_ddl_is_recorded_not_fatal(spark, tmp_path):
    """Adding a NOT NULL column without default violates BACKWARD: the
    event is recorded with an error in the schema log, the registry keeps
    the old version, and data keeps flowing on the old schema (the
    reference's registry rejects the write while the connector keeps
    running, README.md:476-479)."""
    spec = _spec(tmp_path)
    pipe = Pipeline(spark, spec)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=1)
    pipe.process_available()

    import json
    bad = [
        schema_change_event(
            BASE_COLS + [("ssn", "VARCHAR", False)],
            ddl="ALTER TABLE person ADD COLUMN ssn varchar(16) NOT NULL",
        ),
        envelope("c", 20, after={"firstName": "frank", "lastName": "gray", "age": 50}),
    ]
    with open(f"{spec.source_dir}/batch-0100.json", "w") as f:
        for e in bad:
            f.write(json.dumps(e) + "\n")
    pipe.process_available()
    pipe.stop()

    assert len(pipe.schemas.versions("person")) == 1
    table, version, err = pipe.schema_log[-1]
    assert table == "person" and version is None and "ssn" in err
    rows = {r["firstName"] for r in pipe.read_table("person").collect()}
    assert "frank" in rows


def test_two_ddl_events_in_one_batch_register_in_source_order(spark, tmp_path):
    """One batch carries two ALTERs for the same table (v2 adds email,
    v3 adds phone) and then data using both columns: they register as
    v2 then v3, and the rows after them decode with v3. Registered in
    the other order, v3 would be followed by an email-only v2 and the
    phone values would be dropped to the DLQ as decode mismatches."""
    import json

    spec = _spec(tmp_path)
    pipe = Pipeline(spark, spec)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=1)
    pipe.process_available()

    v2 = BASE_COLS + [("email", "VARCHAR", True)]
    v3 = v2 + [("phone", "VARCHAR", True)]
    batch2 = [
        schema_change_event(v2, ddl="ALTER TABLE person ADD COLUMN email varchar(64)"),
        schema_change_event(v3, ddl="ALTER TABLE person ADD COLUMN phone varchar(16)"),
        envelope(
            "c", 10,
            after={"firstName": "eve", "lastName": "black", "age": 28,
                   "email": "eve@x.io", "phone": "555-0100"},
        ),
    ]
    with open(f"{spec.source_dir}/batch-0100.json", "w") as f:
        for e in batch2:
            f.write(json.dumps(e) + "\n")
    pipe.process_available()
    pipe.stop()

    assert pipe.schema_log[-2:] == [("person", 2, None), ("person", 3, None)]
    versions = pipe.schemas.versions("person")
    assert [v.fieldNames()[-1] for v in versions[1:]] == ["email", "phone"]
    assert pipe.read_dlq() is None
    rows = {r["firstName"]: r for r in pipe.read_table("person").collect()}
    assert rows["eve"]["email"] == "eve@x.io"
    assert rows["eve"]["phone"] == "555-0100"
    assert rows["carol"]["phone"] is None
