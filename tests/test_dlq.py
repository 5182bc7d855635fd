"""Dead-letter quarantine: malformed source records land in the reserved
``_dlq`` table with a reason, never poison the merge, and stay
idempotent under at-least-once replay."""

from __future__ import annotations

import json

from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    Pipeline,
    PipelineSpec,
    TableSpec,
)
from tests.cdc_fixtures import (
    CANONICAL_EVENTS,
    GOLDEN_STATE,
    PERSON_SCHEMA,
    write_stream_files,
)

BROKEN = [
    {"key": "x1", "value": "{this is not json"},
    {"key": "x2", "value": json.dumps({"foo": 1})},  # JSON, not an envelope
    {
        "key": "x3",
        # envelope-ish but no source.table
        "value": json.dumps(
            {"before": None, "after": {"firstName": "zed"}, "op": "c",
             "ts_ms": 1, "source": {"db": "cdc_test_db"}}
        ),
    },
]


def _spec(tmp_path) -> PipelineSpec:
    return PipelineSpec(
        name="dlq",
        source_dir=str(tmp_path / "stream"),
        tables=[TableSpec("person", ["firstName"], PERSON_SCHEMA)],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )


def _state(df) -> dict:
    return {
        r["firstName"]: (r["firstName"], r["lastName"], r["age"])
        for r in df.collect()
    }


def test_malformed_records_quarantined_not_merged(spark, tmp_path):
    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS + BROKEN, files=2)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    # the merge saw only the clean events
    assert _state(pipe.read_table("person")) == GOLDEN_STATE
    dlq = {r["key"]: r["reason"] for r in pipe.read_dlq().collect()}
    assert dlq == {
        "x1": "not_an_envelope",
        "x2": "not_an_envelope",
        "x3": "missing_source_table",
    }


def test_dlq_replay_idempotent(spark, tmp_path):
    """Re-delivering the same malformed records (at-least-once) must not
    duplicate DLQ rows."""
    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS + BROKEN, files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    # second delivery of the same bad records in a NEW file (the file
    # source tracks processed paths by name)
    with open(f"{spec.source_dir}/redeliver.json", "w") as f:
        for e in BROKEN:
            f.write(json.dumps(e) + "\n")
    pipe.process_available()
    pipe.stop()
    assert pipe.read_dlq().count() == len(BROKEN)


def test_clean_stream_has_no_dlq(spark, tmp_path):
    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    assert pipe.read_dlq() is None

# ---------------------------------------------------------------------------
# decode-mismatch quarantine + replay
# ---------------------------------------------------------------------------

def _mismatch_record() -> dict:
    """Valid envelope for person whose ``age`` is a string — type drift
    ahead of the DDL event (upstream widened INT → VARCHAR)."""
    return {
        "key": "eve",
        "value": json.dumps(
            {
                "before": None,
                "after": {"firstName": "eve", "lastName": "lee", "age": "x35"},
                "op": "c",
                "ts_ms": 1_700_000_000_009,
                "source": {"db": "cdc_test_db", "table": "person", "pos": 9,
                           "server_id": 1},
            }
        ),
    }


def test_decode_mismatch_quarantined(spark, tmp_path):
    """PERMISSIVE parsing would merge eve with age=NULL (silent data
    loss); the pipeline must quarantine the record instead."""
    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS + [_mismatch_record()])
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    assert _state(pipe.read_table("person")) == GOLDEN_STATE  # no eve
    dlq = {r["key"]: r["reason"] for r in pipe.read_dlq().collect()}
    assert dlq == {"eve": "decode_mismatch"}
    assert pipe.status()["dlq_rows"] == 1


def test_replay_after_schema_evolution(spark, tmp_path):
    """The quarantined record becomes decodable once a DDL event widens
    age to VARCHAR; replay_dlq() merges it and empties the DLQ."""
    from tests.cdc_fixtures import schema_change_event

    spec = _spec(tmp_path)
    spec.compatibility = "NONE"  # type widening is not BACKWARD
    write_stream_files(spec.source_dir, CANONICAL_EVENTS + [_mismatch_record()])
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    assert pipe.status()["dlq_rows"] == 1
    # DDL arrives on the stream (A5): age INT -> VARCHAR
    with open(f"{spec.source_dir}/ddl.json", "w") as f:
        f.write(
            json.dumps(
                schema_change_event(
                    [("firstName", "VARCHAR", True), ("lastName", "VARCHAR", True),
                     ("age", "VARCHAR", True)],
                    ddl="ALTER TABLE person MODIFY age varchar(16)",
                )
            )
            + "\n"
        )
    pipe.process_available()
    n = pipe.replay_dlq()
    pipe.stop()
    assert n == 1
    state = _state(pipe.read_table("person"))
    assert state["eve"] == ("eve", "lee", "x35")
    # pre-evolution rows survive with their values widened to string
    assert state["alice"] == ("alice", "brown", "31")
    dlq = pipe.read_dlq()
    assert dlq is None or dlq.count() == 0
    assert pipe.status()["dlq_rows"] == 0


def test_replay_still_bad_records_stay(spark, tmp_path):
    """Replaying without fixing anything re-quarantines every record and
    reports zero repaired."""
    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS + BROKEN)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    assert pipe.replay_dlq() == 0
    pipe.stop()
    assert pipe.read_dlq().count() == len(BROKEN)
    assert _state(pipe.read_table("person")) == GOLDEN_STATE


def test_tombstones_dropped_not_quarantined(spark, tmp_path):
    """Debezium log-compaction tombstones — (key, NULL) records after a
    delete — carry no envelope and are NOT errors: they must be dropped,
    not DLQ'd (dlq_rows would read nonzero on a healthy stream —
    review r7)."""
    spec = _spec(tmp_path)
    tombstones = [{"key": "alice", "value": None}, {"key": "bob", "value": None}]
    write_stream_files(spec.source_dir, CANONICAL_EVENTS + tombstones, files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()
    assert _state(pipe.read_table("person")) == GOLDEN_STATE
    dlq = pipe.read_dlq()
    assert dlq is None or dlq.count() == 0


def test_remove_drop_data_cascades_everything(spark, tmp_path):
    """remove(drop_data=True) must leave sink_dir with no stale engine
    state: schema registry, epoch log, and view/index tables all go —
    a recreated pipeline on the same sink_dir starts clean (review r7)."""
    import pathlib

    spec = _spec(tmp_path)
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=1)
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.remove(drop_data=True)
    sink = pathlib.Path(spec.sink_dir)
    assert not (sink / "_schemas").exists()
    assert not (sink / "_EPOCHS").exists()
    assert not (sink / "person").exists()
    # recreate on the same sink_dir: clean start, no stale registry
    pipe2 = Pipeline(spark, spec)
    assert pipe2.schemas.list_subjects() == []


def test_decode_mismatch_in_two_tables_one_dlq_write(spark, tmp_path):
    """One batch with decode-mismatch rows in two tables (merged
    concurrently): every bad row of both lands in _dlq exactly once with
    reason decode_mismatch, in ONE write of the DLQ table — a per-table
    read-modify-write of _dlq running in each table's thread could lose
    the other table's rows."""
    from pyspark.sql import types as T

    pet_schema = T.StructType(
        [
            T.StructField("name", T.StringType(), True),
            T.StructField("legs", T.IntegerType(), True),
        ]
    )

    def pet(pos: int, name: str, legs) -> dict:
        return {
            "key": name,
            "value": json.dumps(
                {
                    "before": None,
                    "after": {"name": name, "legs": legs},
                    "op": "c",
                    "ts_ms": 1_700_000_000_000 + pos,
                    "source": {"db": "cdc_test_db", "table": "pet", "pos": pos,
                               "server_id": 1},
                }
            ),
        }

    spec = _spec(tmp_path)
    spec.tables.append(TableSpec("pet", ["name"], pet_schema))
    bad_person = _mismatch_record()
    bad_pets = [pet(101, "rex", "four"), pet(102, "tom", "many")]
    write_stream_files(
        spec.source_dir,
        CANONICAL_EVENTS + [bad_person, pet(100, "fido", 4)] + bad_pets,
    )
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    pipe.stop()

    assert _state(pipe.read_table("person")) == GOLDEN_STATE
    assert {r["name"]: r["legs"] for r in pipe.read_table("pet").collect()} == {
        "fido": 4
    }
    dlq = [(r["key"], r["reason"]) for r in pipe.read_dlq().collect()]
    assert sorted(dlq) == [
        ("eve", "decode_mismatch"),
        ("rex", "decode_mismatch"),
        ("tom", "decode_mismatch"),
    ]
    assert len(pipe.store.history("_dlq")) == 1
