"""Transaction-boundary atomicity (streaming/tx_gate.py): a source
transaction is never applied torn across micro-batches."""

from __future__ import annotations

import json

from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    Pipeline,
    PipelineSpec,
    RAW_SCHEMA,
    TableSpec,
)
from tests.cdc_fixtures import PERSON_SCHEMA, envelope, person


def tx_envelope(op, pos, tx, before=None, after=None):
    e = envelope(op, pos, before=before, after=after)
    v = json.loads(e["value"])
    v["transaction"] = {"id": tx, "total_order": pos}
    e["value"] = json.dumps(v)
    return e


def boundary(tx, status="END", event_count=None):
    v = {"status": status, "id": tx}
    if event_count is not None:
        v["event_count"] = event_count
    return {"key": None, "value": json.dumps(v)}


def _spec(tmp_path, name="txp"):
    return PipelineSpec(
        name=name,
        source_dir=str(tmp_path / "stream"),
        tables=[TableSpec("person", ["firstName"], PERSON_SCHEMA)],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        options={"tx_atomic": True},
    )


def _raw(spark, events):
    return spark.createDataFrame(
        [(e["key"], e["value"]) for e in events], RAW_SCHEMA
    )


def _names(pipe):
    snap = pipe.read_table("person")
    return set() if snap is None else {r["firstName"] for r in snap.collect()}


def test_open_transaction_is_held_then_released(spark, tmp_path):
    pipe = Pipeline(spark, _spec(tmp_path))
    # batch 1: half of tx-1, no END → nothing visible
    pipe.apply_batch(
        _raw(spark, [tx_envelope("c", 1, "tx-1", after=person("ann", "a", 1))])
    )
    assert _names(pipe) == set()
    assert pipe.status()["open_transactions"] == 1
    # batch 2: rest of tx-1 + END → whole tx lands in ONE batch/epoch
    pipe.apply_batch(
        _raw(
            spark,
            [
                tx_envelope("c", 2, "tx-1", after=person("bob", "b", 2)),
                boundary("tx-1"),
            ],
        )
    )
    assert _names(pipe) == {"ann", "bob"}
    assert pipe.status()["open_transactions"] == 0


def test_untagged_records_pass_through_immediately(spark, tmp_path):
    pipe = Pipeline(spark, _spec(tmp_path))
    pipe.apply_batch(
        _raw(
            spark,
            [
                envelope("c", 1, after=person("solo", "s", 9)),
                tx_envelope("c", 2, "tx-9", after=person("held", "h", 3)),
            ],
        )
    )
    assert _names(pipe) == {"solo"}


def test_event_count_gates_release(spark, tmp_path):
    """END with event_count=2 seen BEFORE the second event arrives: the
    release waits for the full transaction, not just the marker."""
    pipe = Pipeline(spark, _spec(tmp_path))
    pipe.apply_batch(
        _raw(
            spark,
            [
                tx_envelope("c", 1, "tx-2", after=person("eve", "e", 4)),
                boundary("tx-2", event_count=2),
            ],
        )
    )
    assert _names(pipe) == set()
    pipe.apply_batch(
        _raw(spark, [tx_envelope("c", 2, "tx-2", after=person("fay", "f", 5))])
    )
    assert _names(pipe) == {"eve", "fay"}


def test_interleaved_transactions_release_independently(spark, tmp_path):
    pipe = Pipeline(spark, _spec(tmp_path))
    pipe.apply_batch(
        _raw(
            spark,
            [
                tx_envelope("c", 1, "tx-a", after=person("ada", "a", 1)),
                tx_envelope("c", 2, "tx-b", after=person("ben", "b", 2)),
                boundary("tx-a"),
            ],
        )
    )
    assert _names(pipe) == {"ada"}
    assert pipe.status()["open_transactions"] == 1
    pipe.apply_batch(_raw(spark, [boundary("tx-b")]))
    assert _names(pipe) == {"ada", "ben"}


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """Crash-replay: the same micro-batch applied twice (buffer appended
    twice) still yields exactly the golden state — the buffer DISTINCTs
    and the merge is (key, pos) idempotent."""
    pipe = Pipeline(spark, _spec(tmp_path))
    b1 = [tx_envelope("c", 1, "tx-r", after=person("gil", "g", 6))]
    pipe.apply_batch(_raw(spark, b1))
    pipe.apply_batch(_raw(spark, b1))  # replay
    pipe.apply_batch(
        _raw(
            spark,
            [
                tx_envelope("u", 2, "tx-r",
                            before=person("gil", "g", 6),
                            after=person("gil", "gold", 7)),
                boundary("tx-r", event_count=2),
            ],
        )
    )
    snap = pipe.read_table("person")
    rows = {r["firstName"]: (r["lastName"], r["age"]) for r in snap.collect()}
    assert rows == {"gil": ("gold", 7)}


def test_delete_inside_transaction(spark, tmp_path):
    pipe = Pipeline(spark, _spec(tmp_path))
    pipe.apply_batch(
        _raw(spark, [envelope("c", 1, after=person("del", "d", 1))])
    )
    assert _names(pipe) == {"del"}
    pipe.apply_batch(
        _raw(
            spark,
            [
                tx_envelope("d", 2, "tx-d", before=person("del", "d", 1)),
                tx_envelope("c", 3, "tx-d", after=person("new", "n", 2)),
            ],
        )
    )
    assert _names(pipe) == {"del"}  # tx still open: delete not applied
    pipe.apply_batch(_raw(spark, [boundary("tx-d")]))
    assert _names(pipe) == {"new"}


def test_release_is_replay_safe(spark, tmp_path):
    """Crash between release and checkpoint commit (advisory r3, high):
    replaying the releasing micro-batch must re-emit the full
    transaction from its buffer partition even though the state already
    marks it released — no rows lost, no permanently-open tx."""
    import os

    from one_stop_cdc_ingestion_toolkit_spark.streaming.tx_gate import TxGate

    gate = TxGate(spark, str(tmp_path / "g"))
    b1 = _raw(spark, [tx_envelope("c", 1, "tx-1", after=person("ann", "a", 1))])
    assert gate.filter_batch(b1, batch_id=1).count() == 0
    b2 = _raw(
        spark,
        [
            tx_envelope("c", 2, "tx-1", after=person("bob", "b", 2)),
            boundary("tx-1", event_count=2),
        ],
    )
    out1 = gate.filter_batch(b2, batch_id=2)
    assert out1.count() == 2  # released
    assert gate.pending() == {}  # no longer open
    # simulate the crash: downstream merge of batch 2 never committed,
    # the stream replays the SAME batch id against a fresh gate instance
    gate2 = TxGate(spark, str(tmp_path / "g"))
    out2 = gate2.filter_batch(b2, batch_id=2)
    # the replayed in-batch row ALSO passes through as a straggler of the
    # released tx — duplicates are harmless (the merge is (key,pos)
    # idempotent); what matters is that BOTH rows of the tx are present
    assert out2.distinct().count() == 2, (
        "replay must re-emit the staged transaction"
    )
    # a LATER batch proves the checkpoint advanced: the partition is
    # GC'd, tombstone retained
    assert gate2.filter_batch(_raw(spark, []), batch_id=3).count() == 0
    assert not os.path.exists(gate2.partition("tx-1"))
    assert "tx-1" in gate2._load_state()["tombstones"]


def test_straggler_after_release_passes_through(spark, tmp_path):
    """END-without-event_count releases what is buffered; a same-tx row
    arriving in a LATER batch (advisory r3, medium) must pass straight
    through to the idempotent merge, not re-buffer forever."""
    pipe = Pipeline(spark, _spec(tmp_path))
    pipe.apply_batch(
        _raw(spark, [tx_envelope("c", 1, "tx-2", after=person("ann", "a", 1))])
    )
    pipe.apply_batch(_raw(spark, [boundary("tx-2")]))  # END, no count
    assert _names(pipe) == {"ann"}
    # straggler of the already-released tx-2, delivered out of order
    pipe.apply_batch(
        _raw(spark, [tx_envelope("c", 2, "tx-2", after=person("bob", "b", 2))])
    )
    assert _names(pipe) == {"ann", "bob"}, "straggler must reach the merge"
    assert pipe.status()["open_transactions"] == 0
    # and a redelivered END for the tombstoned tx is ignored
    pipe.apply_batch(_raw(spark, [boundary("tx-2")]))
    assert pipe.status()["open_transactions"] == 0


def test_direct_call_does_not_gc_streaming_release(spark, tmp_path):
    """Code-review r4: a DIRECT (batch_id=None) call's internal sequence
    says nothing about the stream's checkpoint progress, so it must not
    garbage-collect a streaming batch's staged release — the stream may
    still replay that batch after a crash."""
    import os

    from one_stop_cdc_ingestion_toolkit_spark.streaming.tx_gate import TxGate

    gate = TxGate(spark, str(tmp_path / "g"))
    b0 = _raw(spark, [tx_envelope("c", 1, "tx-9", after=person("ann", "a", 1))])
    assert gate.filter_batch(b0, batch_id=4).count() == 0  # buffered
    b = _raw(spark, [boundary("tx-9", event_count=1)])
    assert gate.filter_batch(b, batch_id=5).count() == 1  # stream releases
    staged = gate.partition("tx-9")
    assert os.path.exists(staged)
    # a direct backfill call runs during the stream's crash window
    gate.filter_batch(_raw(spark, []), batch_id=None)
    assert os.path.exists(staged), "direct call must not GC stream release"
    # stream replays its batch: the staged rows are still re-emittable
    assert gate.filter_batch(b, batch_id=5).distinct().count() == 1
    # and a LATER stream batch does GC it
    gate.filter_batch(_raw(spark, []), batch_id=6)
    assert not os.path.exists(staged)


def test_flat_layout_is_refused(spark, tmp_path):
    """A gate directory of the earlier flat layout (open rows as files at
    the top of _txbuf, released rows under _txrelease/<tx>) is refused
    with an error instead of being opened with its rows unseen."""
    import pytest

    from one_stop_cdc_ingestion_toolkit_spark.streaming.tx_gate import TxGate

    for layout in ("_txbuf", "_txrelease/tx-2"):
        base = tmp_path / layout.split("/")[0]
        _raw(spark, [tx_envelope("c", 1, "tx-1", after=person("ann", "a", 1))]).write.parquet(
            str(base / layout)
        )
        with pytest.raises(ValueError, match="flat layout"):
            TxGate(spark, str(base))
