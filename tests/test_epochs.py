"""Cross-table consistent snapshots (epochs): one consistency point per
applied micro-batch, readable as-of any retained epoch across ALL the
pipeline's tables at once — no torn view of a half-applied batch."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    RAW_SCHEMA,
    Pipeline,
    PipelineSpec,
    TableSpec,
)

PERSON = T.StructType(
    [
        T.StructField("firstName", T.StringType(), True),
        T.StructField("age", T.IntegerType(), True),
    ]
)
ACCOUNT = T.StructType(
    [
        T.StructField("accId", T.StringType(), True),
        T.StructField("balance", T.IntegerType(), True),
    ]
)


def _env(table: str, op: str, pos: int, after: dict) -> tuple[str, str]:
    key = next(iter(after.values()))
    return (
        str(key),
        json.dumps(
            {
                "before": None,
                "after": after,
                "op": op,
                "ts_ms": 1_700_000_000_000 + pos,
                "source": {"db": "db", "table": table, "pos": pos, "server_id": 1},
            }
        ),
    )


def _spec(tmp_path, retain: int) -> PipelineSpec:
    return PipelineSpec(
        name="ep",
        source_dir=str(tmp_path / "stream"),
        tables=[
            TableSpec("person", ["firstName"], PERSON),
            TableSpec("account", ["accId"], ACCOUNT),
        ],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        snapshot_retain=retain,
    )


def _apply(spark, pipe, rows):
    pipe.apply_batch(spark.createDataFrame(rows, RAW_SCHEMA))


def test_epoch_is_cross_table_consistent(spark, tmp_path):
    pipe = Pipeline(spark, _spec(tmp_path, retain=4))
    _apply(
        spark,
        pipe,
        [
            _env("person", "c", 1, {"firstName": "alice", "age": 30}),
            _env("account", "c", 2, {"accId": "a1", "balance": 100}),
        ],
    )
    _apply(
        spark,
        pipe,
        [
            _env("person", "u", 3, {"firstName": "alice", "age": 31}),
            _env("account", "u", 4, {"accId": "a1", "balance": 50}),
        ],
    )
    eps = pipe.store.epochs()
    assert [e["epoch"] for e in eps] == [0, 1]
    # epoch 0: BOTH tables pre-update — the consistent pair (30, 100)
    v0 = pipe.store.read_epoch(spark, 0)
    from one_stop_cdc_ingestion_toolkit_spark.operators.cdc import snapshot

    assert snapshot(v0["person"]).collect()[0]["age"] == 30
    assert snapshot(v0["account"]).collect()[0]["balance"] == 100
    # epoch 1 == current state: the consistent pair (31, 50)
    v1 = pipe.store.read_epoch(spark, 1)
    assert snapshot(v1["person"]).collect()[0]["age"] == 31
    assert snapshot(v1["account"]).collect()[0]["balance"] == 50
    assert pipe.store.read_epoch(spark, 99) is None


def test_epoch_pruned_without_retain(spark, tmp_path):
    pipe = Pipeline(spark, _spec(tmp_path, retain=0))
    _apply(spark, pipe, [_env("person", "c", 1, {"firstName": "a", "age": 1})])
    _apply(spark, pipe, [_env("person", "u", 2, {"firstName": "a", "age": 2})])
    with pytest.raises(ValueError, match="pruned"):
        pipe.store.read_epoch(spark, 0)


def test_cli_epochs_and_sql_at_epoch(spark, tmp_path, capsys):
    from one_stop_cdc_ingestion_toolkit_spark.cli import main

    pipe = Pipeline(spark, _spec(tmp_path, retain=4))
    _apply(spark, pipe, [_env("person", "c", 1, {"firstName": "a", "age": 1})])
    _apply(spark, pipe, [_env("person", "u", 2, {"firstName": "a", "age": 2})])
    rc = main(["epochs", str(tmp_path / "lake")])
    out = capsys.readouterr().out
    assert rc == 0 and '"epoch": 0' in out and '"epoch": 1' in out
    rc = main(
        [
            "sql",
            str(tmp_path / "lake"),
            "SELECT age FROM person",
            "--epoch",
            "0",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0 and "1" in out


def test_failed_table_fails_batch_without_epoch(spark, tmp_path, monkeypatch):
    """The two tables of one batch merge concurrently; when one table's
    merge fails, the batch fails after the other has finished, no epoch
    is logged, and re-applying the batch converges."""
    pipe = Pipeline(spark, _spec(tmp_path, retain=0))
    rows = [
        _env("person", "c", 1, {"firstName": "alice", "age": 30}),
        _env("account", "c", 2, {"accId": "a1", "balance": 100}),
    ]
    merge = Pipeline._merge_table

    def failing(self, tspec, *args):
        if tspec.name == "account":
            raise RuntimeError("account merge failed")
        return merge(self, tspec, *args)

    monkeypatch.setattr(Pipeline, "_merge_table", failing)
    with pytest.raises(RuntimeError, match="account merge failed"):
        _apply(spark, pipe, rows)
    assert pipe.store.epochs() == []
    assert pipe.read_table("person").count() == 1
    assert pipe.read_table("account") is None

    monkeypatch.setattr(Pipeline, "_merge_table", merge)
    _apply(spark, pipe, rows)
    assert [e["epoch"] for e in pipe.store.epochs()] == [0]
    assert pipe.read_table("person").count() == 1
    assert pipe.read_table("account").collect()[0]["balance"] == 100


def test_more_tables_than_cores_merge_concurrently(spark, tmp_path):
    """Stress: one batch touching more tables than there are cores runs
    one merge thread per table, with a short thread switch interval. Each
    table must hold exactly its own rows, and the one epoch must name
    every table (a lost or crossed update would break either)."""
    import os
    import sys
    import threading

    n_tables = (os.cpu_count() or 4) + 2
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), True),
            T.StructField("v", T.IntegerType(), True),
        ]
    )
    names = [f"t{i}" for i in range(n_tables)]
    spec = PipelineSpec(
        name="many",
        source_dir=str(tmp_path / "stream"),
        tables=[
            TableSpec(n, ["k"], schema, n_buckets=4 if i % 2 else 1)
            for i, n in enumerate(names)
        ],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    pipe = Pipeline(spark, spec)
    rows = [
        _env(n, "c", 10 * i + j, {"k": f"{n}-{j}", "v": i})
        for i, n in enumerate(names)
        for j in range(3)
    ]
    errors = []

    def run():
        try:
            _apply(spark, pipe, rows)
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        worker = threading.Thread(target=run)
        worker.start()
        worker.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not worker.is_alive() and errors == []
    for i, n in enumerate(names):
        got = {(r["k"], r["v"]) for r in pipe.read_table(n).collect()}
        assert got == {(f"{n}-{j}", i) for j in range(3)}, n
    (epoch,) = pipe.store.epochs()
    assert sorted(epoch["tables"]) == sorted(names)
