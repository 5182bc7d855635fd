"""Transaction-boundary atomicity for the CDC apply path.

Debezium (the reference's capture layer — `bin/mskc-connector.sh`
configures Debezium-MySQL 2.2.0) can annotate every change event with a
``transaction`` block and emit BEGIN/END boundary records on a metadata
stream (``provide.transaction.metadata=true``, public Debezium config).
The engine's merge is sequence-arbited and idempotent, so a torn
transaction eventually CONVERGES — but mid-stream readers could observe
half a source transaction. This gate upgrades "eventually consistent"
to "transactionally atomic": change records carrying a transaction id
are held in a durable buffer and released into the apply path only when
their transaction has provably COMMITTED (its END boundary was seen,
and, when the boundary carries ``event_count``, all its events are in
the buffer).

Together with the epoch log (`table_store.log_epoch`) this gives
cross-table, transaction-atomic snapshots: a released transaction's
rows for ALL tables enter in the same micro-batch, hence the same epoch.

Record shapes (over the raw ``(key, value)`` stream):

- data record in a tx: envelope JSON with ``transaction.id`` set;
- boundary record:  ``{"status": "BEGIN"|"END", "id": ..,
  "event_count": n?}`` (no ``op`` field — it would otherwise hit the
  DLQ, so the gate strips boundaries before the malformed-check);
- anything without ``transaction.id`` passes through untouched.

Durability & replay (the round-3 advisory fixes):

- A release is IDEMPOTENT under micro-batch replay. Released rows are
  staged per transaction under ``_txrelease/<tx_id>/`` and the state
  file records ``released[tx] = batch``. The staged rows and the marker
  survive until a LATER batch runs — foreachBatch only starts batch
  N+1 after batch N's checkpoint committed, so seeing batch > N proves
  the released rows reached the sink durably. A crash between release
  and checkpoint commit therefore replays batch N, finds
  ``released[tx] == N``, and re-emits the staged rows — nothing is
  lost even though the buffer was already rewritten.
- Ended/released transactions leave a TOMBSTONE (bounded, newest
  ``TOMBSTONE_KEEP``). Same-tx records arriving in a later micro-batch
  than the END (multi-partition redelivery) pass straight through to
  the idempotent merge instead of re-buffering against a transaction
  that can never re-complete; a redelivered END for a tombstoned tx is
  ignored.
- The buffer swap is crash-recoverable: ``__init__`` rolls a leftover
  ``-gone``/``-stage-*`` pair forward or back before first use.

Scale: buffered volume is bounded by OPEN transactions only (released
data is physically removed), i.e. by transaction size × concurrency,
not stream history. All buffer operations are DataFrame scans/writes —
no driver-side row materialization except the (small) set of boundary
records per batch.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from one_stop_cdc_ingestion_toolkit_spark.sources.debezium import route_envelopes

BUFFER_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("tx_id", T.StringType(), True),
    ]
)

#: How many released-transaction tombstones to retain (newest first, by
#: release batch). A tombstone only matters within the source's
#: redelivery horizon — a straggler arriving after its tombstone aged
#: out would re-open the transaction forever, so size this above the
#: maximum END-to-last-straggler batch distance the broker can produce.
TOMBSTONE_KEEP = 10_000


class TxGate:
    """Durable hold-and-release buffer for in-flight transactions."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.dir = os.path.join(base_dir, "_txbuf")
        self.state_path = os.path.join(base_dir, "_txstate.json")
        self.release_root = os.path.join(base_dir, "_txrelease")
        self._recover_buffer_swap()
        os.makedirs(self.dir, exist_ok=True)

    # -- crash recovery ----------------------------------------------------

    def _recover_buffer_swap(self) -> None:
        """Roll a torn _rewrite_buffer forward or back (advisory: a crash
        between the two renames left no _txbuf dir at all)."""
        gone = self.dir + "-gone"
        # newest-by-mtime, NOT lexicographic: stage names are random uuid
        # hex, and a partial stage from an earlier failed write could sort
        # after the complete one whose rename was in progress (review r7).
        # (_rewrite_buffer also removes its stage on a failed write, so a
        # partial stage coexisting with a torn swap is doubly unlikely.)
        stages = sorted(glob.glob(self.dir + "-stage-*"), key=os.path.getmtime)
        if not os.path.exists(self.dir):
            if os.path.exists(gone) and stages:
                # crash between the renames: the stage dir is a complete
                # replacement buffer (written before any rename) — roll
                # FORWARD to it and drop the old generation
                os.rename(stages[-1], self.dir)
                stages = stages[:-1]
                shutil.rmtree(gone)
            elif os.path.exists(gone):
                # stage already swapped in then crashed mid-cleanup is
                # impossible without self.dir; a lone -gone means the
                # stage rename finished and cleanup raced — or nothing
                # was ever staged. Rolling BACK is always safe: the
                # release state was not saved before the swap completed.
                os.rename(gone, self.dir)
        else:
            if os.path.exists(gone):
                shutil.rmtree(gone)  # crash after swap, before cleanup
        for s in stages:
            shutil.rmtree(s, ignore_errors=True)

    # -- state ------------------------------------------------------------

    def _load_state(self) -> dict:
        state = {"ended": {}, "released": {}, "tombstones": {}, "seq": 0}
        if os.path.exists(self.state_path):
            with open(self.state_path) as f:
                state.update(json.load(f))
        for field in ("released", "tombstones"):
            state[field] = {
                t: (v if isinstance(v, dict) else {"batch": v, "mode": "s"})
                for t, v in state[field].items()
            }
        return state

    def _save_state(self, state: dict) -> None:
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.state_path)

    # -- buffer I/O -------------------------------------------------------

    def _read_buffer(self) -> DataFrame:
        if any(n.endswith(".parquet") for n in os.listdir(self.dir)):
            return self.spark.read.schema(BUFFER_SCHEMA).parquet(self.dir)
        return self.spark.createDataFrame([], BUFFER_SCHEMA)

    def _append_buffer(self, df: DataFrame) -> None:
        # one file per batch, unique name: append without listing races
        df.coalesce(1).write.mode("append").parquet(self.dir)

    def _rewrite_buffer(self, df: DataFrame) -> None:
        stage = self.dir + f"-stage-{uuid.uuid4().hex[:8]}"
        try:
            df.write.mode("overwrite").parquet(stage)
        except BaseException:
            # a partial stage must not survive: recovery rolls forward to
            # a leftover stage on the assumption it is a COMPLETE buffer
            shutil.rmtree(stage, ignore_errors=True)
            raise
        old = self.dir
        gone = self.dir + "-gone"
        os.rename(old, gone)
        os.rename(stage, old)
        shutil.rmtree(gone)

    def _staged_dir(self, tx_id: str) -> str:
        return os.path.join(self.release_root, tx_id)

    def _read_staged(self, tx_ids: list[str]) -> DataFrame:
        # one multi-path relation, not a per-tx union tree (plan depth
        # and file-listing rounds stay O(1) in transaction count)
        return self.spark.read.schema(
            T.StructType(BUFFER_SCHEMA.fields[:2])
        ).parquet(*[self._staged_dir(t) for t in tx_ids])

    # -- the gate ---------------------------------------------------------

    def filter_batch(
        self, raw: DataFrame, batch_id: int | None = None
    ) -> DataFrame:
        """One micro-batch in → the records the apply path may see now.

        ``raw`` is raw ``(key, value)`` records or, from the pipeline,
        the same records already classified by
        :func:`~one_stop_cdc_ingestion_toolkit_spark.sources.debezium.route_envelopes`
        (then nothing is parsed again); the return carries the routing
        columns either way. Splits the batch into boundary records
        (consumed here), tx-tagged data (buffered, as raw ``(key,
        value)``), and plain data (passes through). Returns plain
        data UNIONed with every buffered record of transactions that
        are now provably committed. ``batch_id`` is the foreachBatch
        epoch — the replay detector; direct (non-streaming) callers get
        a monotonic internal sequence instead.

        Direct-mode contract (at-least-once): a direct call's release is
        GC'd by the NEXT direct call on the assumption the caller merged
        the returned rows before calling again. A caller that can crash
        between receiving the return and completing its merge must
        RE-FEED the unmerged input on restart (released transactions are
        tombstoned, so replayed rows pass straight through to the
        idempotent merge) — i.e. exactly the chunk-high-water-mark
        semantics the backfill driver already has. Streaming mode does
        not need this: foreachBatch replays batch N itself and the
        released marker re-emits the staged rows."""
        state = self._load_state()
        mode = "s" if batch_id is not None else "d"
        eb = state["seq"] + 1 if batch_id is None else batch_id
        state["seq"] = max(state["seq"], eb)

        # 0. GC: a released transaction whose batch is OLDER than this
        # one IN THE SAME MODE is durably applied (foreachBatch only
        # starts batch N+1 after N committed; direct calls likewise
        # complete their merge before returning). A DIRECT call must
        # never GC a STREAMING release — its seq says nothing about the
        # stream's checkpoint progress (a backfill run during the
        # stream's crash window would otherwise delete staged rows the
        # replay still needs) — hence the mode scoping.
        gced = [
            t
            for t, rb in state["released"].items()
            if rb["mode"] == mode and rb["batch"] < eb
        ]
        for t in gced:
            shutil.rmtree(self._staged_dir(t), ignore_errors=True)
            state["tombstones"][t] = state["released"].pop(t)
        if len(state["tombstones"]) > TOMBSTONE_KEEP:
            for t, _ in sorted(
                state["tombstones"].items(), key=lambda kv: kv[1]["batch"]
            )[: len(state["tombstones"]) - TOMBSTONE_KEEP]:
                del state["tombstones"][t]
        closed = set(state["released"]) | set(state["tombstones"])
        if gced:
            # a crash between a release's state save and its buffer
            # rewrite leaves the released rows in the buffer; the
            # tombstone transition is the deterministic moment to purge
            # them (once per tx — later rewrites never revisit them)
            buf0 = self._read_buffer()
            stale = buf0.filter(F.col("tx_id").isin(sorted(closed)))
            if not stale.isEmpty():
                self._rewrite_buffer(
                    buf0.filter(~F.col("tx_id").isin(sorted(closed)))
                )

        # 1. one pass over the routed batch: the END boundaries (bounded
        # by tx ends per batch) and whether any OPEN-tx data needs
        # buffering come back as observed metrics of a no-op write — it
        # also fills the caller's cache of the batch, and any observation
        # the caller put on ``raw`` fires in the same pass
        batch = raw if "boundary" in raw.columns else route_envelopes(raw)
        in_closed = (
            F.col("tx_id").isin(sorted(closed)) if closed else F.lit(False)
        )
        is_open = ~F.col("boundary") & F.col("tx_id").isNotNull() & ~in_closed
        end = F.when(
            F.col("boundary") & (F.col("status") == "END"),
            F.struct("boundary_id", "event_count"),
        )
        seen = Observation("tx_gate")
        batch.observe(
            seen,
            F.collect_list(end).alias("ends"),
            F.count_if(is_open).alias("open"),
        ).write.format("noop").mode("overwrite").save()
        facts = seen.get
        # collect_list has no order: sort so a tx whose END arrives twice
        # in one batch with different counts resolves the same way on
        # every run (the larger count wins; a redelivered END is the same
        # record, so this only matters for a malformed source)
        ends = sorted(facts["ends"], key=lambda r: (r[0], r[1] is not None, r[1]))
        for tx, count in ends:
            if tx not in closed:  # redelivered END: ignore
                state["ended"][tx] = count

        # 2. buffer OPEN-tx data; rows of already-released/tombstoned
        # transactions pass straight through to the idempotent merge
        # (advisory: re-buffering them would strand them forever)
        if facts["open"]:
            self._append_buffer(
                batch.filter(is_open).select("key", "value", "tx_id")
            )
        passthrough = batch.filter(
            ~F.col("boundary") & (F.col("tx_id").isNull() | in_closed)
        )

        # 3. release committed transactions
        if state["ended"]:
            buf = self._read_buffer().distinct()
            counts = {
                r["tx_id"]: r["n"]
                for r in buf.groupBy("tx_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            release = [
                t
                for t, need in state["ended"].items()
                if t in counts and (need is None or counts[t] >= need)
            ]
            if release:
                # stage per-tx BEFORE the buffer swap invalidates
                # lineage; the staged dirs + released markers are
                # what make a post-release crash replayable
                for t in release:
                    buf.filter(F.col("tx_id") == t).select(
                        "key", "value"
                    ).write.mode("overwrite").parquet(self._staged_dir(t))
                    state["released"][t] = {"batch": eb, "mode": mode}
                    del state["ended"][t]
                self._save_state(state)
                self._rewrite_buffer(
                    buf.filter(~F.col("tx_id").isin(release))
                )

        # 4. emit staged rows for every tx released IN THIS batch —
        # covers fresh releases and the replay-after-crash case
        # (the released marker survives until a later same-mode
        # batch GCs it)
        emit = [
            t
            for t, rb in state["released"].items()
            if rb["mode"] == mode and rb["batch"] == eb
        ]
        self._save_state(state)
        if emit:
            return passthrough.unionByName(
                route_envelopes(self._read_staged(emit))
            )
        return passthrough

    def pending(self) -> dict:
        """Observability: open transaction ids → buffered record count.
        Excludes transactions already released or tombstoned — their rows
        can linger in the buffer only inside the crash window between a
        release's state save and the buffer rewrite, and they are not
        open."""
        state = self._load_state()
        closed = set(state["released"]) | set(state["tombstones"])
        buf = self._read_buffer().distinct()
        return {
            r["tx_id"]: r["n"]
            for r in buf.groupBy("tx_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
            if r["tx_id"] not in closed
        }
