"""Scale of the transaction gate (streaming/tx_gate.py): a micro-batch
runs a fixed number of Spark jobs and plans a fixed-size query whatever
its transaction count and whatever the gate's history."""

from __future__ import annotations

import json
import os
import uuid

from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    Pipeline,
    RAW_SCHEMA,
)
from one_stop_cdc_ingestion_toolkit_spark.streaming.tx_gate import TxGate
from tests.cdc_fixtures import envelope, person, schema_change_event
from tests.test_tx_atomic import _raw, _spec, boundary, tx_envelope


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _single_event_txs(n: int, pos0: int = 1) -> list[dict]:
    """n one-row transactions, each with its END (event_count=1)."""
    events = []
    for i in range(n):
        tx = f"tx-{pos0 + i}"
        events.append(
            tx_envelope("c", pos0 + i, tx, after=person(f"p{pos0 + i}", "x", i))
        )
        events.append(boundary(tx, event_count=1))
    return events


def test_apply_batch_jobs_do_not_grow_with_transaction_count(spark, tmp_path):
    counts = {}
    for n in (5, 50, 100):
        pipe = Pipeline(spark, _spec(tmp_path / str(n)))
        raw = _raw(spark, _single_event_txs(n))
        counts[n] = _jobs(spark, lambda: pipe.apply_batch(raw))
        assert pipe.read_table("person").count() == n
    assert counts[5] == counts[50] == counts[100], counts


def test_filter_batch_plan_does_not_grow_with_closed_ids(spark, tmp_path):
    def plan_length(n_closed: int) -> int:
        base = tmp_path / f"closed{n_closed}"
        base.mkdir()
        closed = {f"old-{i}": {"batch": 1, "mode": "s"} for i in range(n_closed)}
        (base / "_txstate.json").write_text(
            json.dumps({"ended": {}, "released": {}, "tombstones": closed, "seq": 1})
        )
        gate = TxGate(spark, str(base))
        batch = _raw(
            spark,
            [
                envelope("c", 1, after=person("plain", "p", 1)),
                tx_envelope("c", 2, "old-3", after=person("late", "l", 2)),
                tx_envelope("c", 3, "tx-open", after=person("held", "h", 3)),
                tx_envelope("c", 4, "tx-done", after=person("done", "d", 4)),
                boundary("tx-done", event_count=1),
            ],
        )
        out = gate.filter_batch(batch, batch_id=2)
        names = {json.loads(r["value"])["after"]["firstName"] for r in out.collect()}
        assert names == {"plain", "late", "done"}
        return len(out._jdf.queryExecution().optimizedPlan().toString())

    small, large = plan_length(10), plan_length(10_000)
    assert large < 1.1 * small, (small, large)


def test_complete_transactions_are_never_buffered(spark, tmp_path):
    pipe = Pipeline(spark, _spec(tmp_path))
    pipe.apply_batch(
        _raw(
            spark,
            _single_event_txs(3) + [envelope("c", 9, after=person("solo", "s", 9))],
        )
    )
    assert pipe.read_table("person").count() == 4
    written = [f for _, _, fs in os.walk(pipe.tx_gate.dir) for f in fs]
    assert written == []


def test_held_transaction_costs_later_batches_nothing(spark, tmp_path):
    """A transaction whose END's event_count is never met stays held; the
    plain batches after it run as many jobs as without it."""
    plain = [envelope("c", 1, after=person("ann", "a", 1))]
    held = [
        tx_envelope("c", 2, "tx-held", after=person("hal", "h", 2)),
        boundary("tx-held", event_count=2),
    ]
    later = [
        [envelope("u", 10 + i, before=person("ann", "a", i), after=person("ann", "a", i + 1))]
        for i in range(3)
    ]
    jobs = {}
    for name, first in (("held", plain + held), ("none", plain)):
        pipe = Pipeline(spark, _spec(tmp_path / name))
        pipe.apply_batch(_raw(spark, first))
        jobs[name] = [
            _jobs(spark, lambda b=b: pipe.apply_batch(_raw(spark, b))) for b in later
        ]
        if name == "held":
            assert pipe.status()["open_transactions"] == 1
    assert jobs["held"] == jobs["none"], jobs


def test_ddl_events_cost_no_jobs_under_the_gate(spark, tmp_path):
    """Two DDL events leading a batch are registered, in source order,
    from the observation of the gate's own pass: the batch runs as many
    jobs as the same batch without them."""
    cols = [("firstName", "VARCHAR", True), ("lastName", "VARCHAR", True),
            ("age", "INT", False)]
    v2 = cols + [("email", "VARCHAR", True)]
    v3 = v2 + [("phone", "VARCHAR", True)]
    ddl = [
        schema_change_event(v2, ddl="ALTER TABLE person ADD COLUMN email varchar(64)"),
        schema_change_event(v3, ddl="ALTER TABLE person ADD COLUMN phone varchar(16)"),
    ]
    data = [envelope("c", 10 + i, after=person(f"n{i}", "x", i)) for i in range(4)]

    def one_per_partition(events):
        rows = [(e["key"], e["value"]) for e in events]
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, len(rows)), RAW_SCHEMA
        )

    jobs = {}
    for name, batch in (("ddl", ddl + data), ("plain", data)):
        pipe = Pipeline(spark, _spec(tmp_path / name))
        pipe.apply_batch(_raw(spark, [envelope("c", 1, after=person("ann", "a", 1))]))
        jobs[name] = _jobs(spark, lambda: pipe.apply_batch(one_per_partition(batch)))
        if name == "ddl":
            assert pipe.schema_log == [("person", 2, None), ("person", 3, None)]
            assert pipe.schemas.versions("person")[-1].fieldNames()[-1] == "phone"
    assert jobs["ddl"] == jobs["plain"], jobs
