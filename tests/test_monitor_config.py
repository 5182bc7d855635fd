"""Monitoring listener + secret indirection (A16/A27/A12 analogues)."""

from __future__ import annotations

import json

import pytest

from one_stop_cdc_ingestion_toolkit_spark.config import (
    UnresolvedSecretError,
    resolve_options,
    resolve_value,
)
from one_stop_cdc_ingestion_toolkit_spark.streaming.monitor import (
    PipelineListener,
    diagnose,
    read_event_log,
)
from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    Pipeline,
    PipelineSpec,
    TableSpec,
)
from tests.cdc_fixtures import CANONICAL_EVENTS, PERSON_SCHEMA, write_stream_files


def test_listener_logs_lifecycle(spark, tmp_path):
    log = tmp_path / "events.jsonl"
    listener = PipelineListener(log)
    spark.streams.addListener(listener)
    try:
        spec = PipelineSpec(
            name="mon",
            source_dir=str(tmp_path / "stream"),
            tables=[TableSpec("person", ["firstName"], PERSON_SCHEMA)],
            sink_dir=str(tmp_path / "lake"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=1)
        pipe = Pipeline(spark, spec)
        pipe.process_available()
        d = diagnose(pipe)
        assert d["state"] == "RUNNING" and d["exception"] is None
        assert d["last_progress"] is not None
        pipe.stop()
    finally:
        spark.streams.removeListener(listener)
    # listener events are delivered asynchronously on the bus thread
    import time

    events, deadline = [], time.time() + 15
    while time.time() < deadline:
        events = read_event_log(log)
        if any(e["event"] == "progress" for e in events):
            break
        time.sleep(0.5)
    kinds = [e["event"] for e in events]
    assert "started" in kinds and "progress" in kinds
    prog = [e for e in events if e["event"] == "progress"]
    assert any(e["numInputRows"] > 0 for e in prog)


def test_resolve_env(monkeypatch):
    monkeypatch.setenv("OSCI_PW", "s3cret")
    assert resolve_value("${env:OSCI_PW}") == "s3cret"
    assert resolve_value("user:${env:OSCI_PW}@host") == "user:s3cret@host"


def test_resolve_file(tmp_path):
    cred = tmp_path / "creds.json"
    cred.write_text(json.dumps({"password": "pw123"}))
    opts = resolve_options(
        {"sasl.jaas.config": f"pw=${{file:{cred}:password}}", "n": 3}
    )
    assert opts == {"sasl.jaas.config": "pw=pw123", "n": 3}


def test_unresolved_raises():
    with pytest.raises(UnresolvedSecretError, match="NO_SUCH_VAR"):
        resolve_value("${env:NO_SUCH_VAR}")


def test_unknown_provider_raises(monkeypatch):
    """An unimplemented provider must never pass through as literal
    password text (review r7) — even next to a resolvable one."""
    monkeypatch.setenv("OSCI_PW", "s3cret")
    with pytest.raises(UnresolvedSecretError, match="secretsmanager"):
        resolve_value("${secretsmanager:prod/db:password}")
    with pytest.raises(UnresolvedSecretError, match="secretsmanager"):
        resolve_value("${env:OSCI_PW}:${secretsmanager:prod/db:password}")


def test_resolved_secret_may_contain_placeholder_text(monkeypatch, tmp_path):
    """ADVICE r8: the unknown-provider scan runs on the TEMPLATE's
    unsubstituted spans, not the substituted output — a legitimately
    resolved secret whose VALUE contains ${word:...} text (a password,
    a log4j-style pattern) is a valid config, not an error."""
    monkeypatch.setenv("OSCI_TRICKY", "pa${ss:wo}rd")
    assert resolve_value("${env:OSCI_TRICKY}") == "pa${ss:wo}rd"
    cred = tmp_path / "creds.json"
    cred.write_text(json.dumps({"pw": "${secretsmanager:looks:like-one}"}))
    assert (
        resolve_value(f"${{file:{cred}:pw}}")
        == "${secretsmanager:looks:like-one}"
    )
    # review r8: removing the supported span must not FUSE the literal
    # text around it into a placeholder-shaped span
    monkeypatch.setenv("OSCI_A", "VAL")
    assert resolve_value("${foo${env:OSCI_A}:bar}") == "${fooVAL:bar}"


def test_freshness_report(spark, tmp_path):
    """freshness(): live/tombstone split, per-table source high-water,
    lag vs a FIXED clock, and None (not zero) for non-CDC tables."""
    from one_stop_cdc_ingestion_toolkit_spark.streaming.monitor import freshness
    from one_stop_cdc_ingestion_toolkit_spark.streaming.table_store import TableStore

    store = TableStore(tmp_path / "lake")
    cdc = spark.createDataFrame(
        [
            (1, "a", 0, 1_000, False),
            (2, "b", 1, 5_000, False),
            (3, "c", 2, 9_000, True),  # tombstone advances the high-water
        ],
        "id long, v string, __pos long, __ts_ms long, __deleted boolean",
    )
    plain = spark.createDataFrame([(1, "x")], "id long, v string")
    store.write(cdc, "orders")
    store.write(plain, "dim")

    recs = {r["table"]: r for r in freshness(spark, store, now_ms=10_000)}
    o = recs["orders"]
    assert (o["rows_live"], o["tombstones"]) == (2, 1)
    assert (o["ts_high_ms"], o["lag_ms"]) == (9_000, 1_000)
    d = recs["dim"]
    assert (d["rows_live"], d["tombstones"]) == (1, 0)
    assert d["ts_high_ms"] is None and d["lag_ms"] is None
    # table filter; an explicitly requested MISSING table is flagged,
    # never silently dropped (it is the maximally stale case)
    only = freshness(spark, store, tables=["orders", "typo"], now_ms=10_000)
    assert [r["table"] for r in only] == ["orders", "typo"]
    assert only[1]["missing"] is True and only[1]["lag_ms"] is None


def test_capacity_report(tmp_path):
    """capacity_report: busy fraction, throughput, and per-query split
    from a synthetic listener log with a fixed clock."""
    import json as _json

    from one_stop_cdc_ingestion_toolkit_spark.streaming.monitor import (
        capacity_report,
    )

    log = tmp_path / "events.jsonl"
    evs = [
        # query "hot": 2 batches over 10 s, 9 s busy -> 0.9
        {"ts": 100.0, "event": "progress", "id": "1", "name": "hot",
         "numInputRows": 500, "triggerMs": 4500},
        {"ts": 110.0, "event": "progress", "id": "1", "name": "hot",
         "numInputRows": 500, "triggerMs": 4500},
        # query "idle": 2 batches over 100 s, 2 s busy -> 0.02
        {"ts": 100.0, "event": "progress", "id": "2", "name": "idle",
         "numInputRows": 10, "triggerMs": 1000},
        {"ts": 200.0, "event": "progress", "id": "2", "name": "idle",
         "numInputRows": 10, "triggerMs": 1000},
        {"ts": 50.0, "event": "started", "id": "1", "name": "hot"},
    ]
    log.write_text("\n".join(_json.dumps(e) for e in evs) + "\n")
    rep = {r["name"]: r for r in capacity_report(log)}
    hot, idle = rep["hot"], rep["idle"]
    # the span covers the ONE interval between the two events, so the
    # first batch's duration/rows are excluded from the rate numerators
    assert (hot["n_batches"], hot["rows"], hot["rows_per_sec"]) == (2, 1000, 50.0)
    assert hot["busy_fraction"] == 0.45 and hot["max_trigger_ms"] == 4500
    assert idle["busy_fraction"] == 0.01


def test_capacity_report_malformed_events(tmp_path):
    """Events without a numeric ts (hand-edited / foreign logs) are
    skipped, not crashed on; a busy query cannot exceed 1.0."""
    import json as _json

    from one_stop_cdc_ingestion_toolkit_spark.streaming.monitor import (
        capacity_report,
    )

    log = tmp_path / "ev.jsonl"
    evs = [
        {"event": "progress", "name": "q"},  # no ts: dropped
        {"ts": 0.0, "event": "progress", "name": "q", "numInputRows": 5,
         "triggerMs": 9000},
        {"ts": 10.0, "event": "progress", "name": "q", "numInputRows": 5,
         "triggerMs": 9000},
        {"ts": "bogus", "event": "progress", "name": "q"},  # non-numeric ts
    ]
    log.write_text("\n".join(_json.dumps(e) for e in evs) + "\n")
    (r,) = capacity_report(log)
    assert r["n_batches"] == 2 and r["busy_fraction"] == 0.9
    assert r["busy_fraction"] <= 1.0


def test_freshness_bucketed_layout(spark, tmp_path):
    """freshness() works identically over the bucketed table layout
    (TableStore.read reads every mapped bucket) — the CLI path."""
    from pyspark.sql import functions as F

    from one_stop_cdc_ingestion_toolkit_spark.streaming.monitor import freshness
    from one_stop_cdc_ingestion_toolkit_spark.streaming.table_store import TableStore

    store = TableStore(tmp_path / "lake")
    df = spark.createDataFrame(
        [(1, 0, 3_000, False), (2, 1, 7_000, False)],
        "id long, __pos long, __ts_ms long, __deleted boolean",
    ).withColumn("__bucket", (F.col("id") % 2).cast("int"))
    store.write_buckets(df, "t", buckets=[0, 1])

    (rec,) = freshness(spark, store, now_ms=9_000)
    assert rec["table"] == "t"
    assert (rec["rows_live"], rec["ts_high_ms"], rec["lag_ms"]) == (2, 7_000, 2_000)
