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

Durability & replay:

- A release is IDEMPOTENT under micro-batch replay. The state file
  records ``released[tx] = batch``, and a released transaction's
  buffered rows stay in place — its buffer partition — until a LATER
  batch runs: foreachBatch only starts batch N+1 after batch N's
  checkpoint committed, so seeing batch > N proves the released rows
  reached the sink durably, and that batch's GC deletes the partition.
  A crash between release and checkpoint commit therefore replays batch
  N, finds ``released[tx] == N``, and emits the same rows again from
  the replayed batch and the partition.
- Ended/released transactions leave a TOMBSTONE (bounded, newest
  ``TOMBSTONE_KEEP``). Same-tx records arriving in a later micro-batch
  than the END (multi-partition redelivery) pass straight through to
  the idempotent merge instead of re-buffering against a transaction
  that can never re-complete; a redelivered END for a tombstoned tx is
  ignored.
- Every durable step is an append, a delete or a single-file replace,
  so the next attempt completes whatever a crash left: the buffer
  append (it skips rows already buffered, so a repeat adds nothing), the
  state save (write + rename), the GC's partition deletes (repeated
  until the state that tombstones them is saved).

Scale: a micro-batch runs a fixed number of Spark jobs whatever its
transaction count: the classify pass (shared with the caller), one
buffer append when transactions are still open at batch end, and one
aggregate when a transaction with rows in this batch has an
``event_count`` its lower bound does not meet. Only transactions that
gained an END or rows are checked, so a held one costs nothing; one
complete within its batch passes straight through, never buffered. The
buffer holds each row once, one partition per transaction: its count
is read from parquet footers, a release reads it in place, and the GC
deletes it. Transaction ids reach the plan only as a small broadcast
table, never as literal lists. Only the batch's transaction ids and END
boundaries are collected — bounded by transactions per batch, never rows.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.sources.debezium import route_envelopes

#: Buffered rows: the raw record and its transaction id.
BUFFER_SCHEMA = "key string, value string, tx_id string"
BUFFER_COLS = ["key", "value", "tx_id"]

#: How many released-transaction tombstones to retain (newest first, by
#: release batch). A tombstone only matters within the source's
#: redelivery horizon — a straggler arriving after its tombstone aged
#: out would re-open the transaction forever, so size this above the
#: maximum END-to-last-straggler batch distance the broker can produce.
TOMBSTONE_KEEP = 10_000

#: Per-transaction routing of a batch's tx-tagged rows (``act`` column):
#: PASS — the transaction closed in an earlier batch (a straggler);
#: RELEASE — it commits in this batch; null — still open, buffered.
PASS, RELEASE = "pass", "release"


class TxGate:
    """Durable hold-and-release buffer for in-flight transactions."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.dir = os.path.join(base_dir, "_txbuf")
        self.state_path = os.path.join(base_dir, "_txstate.json")
        os.makedirs(self.dir, exist_ok=True)
        if glob.glob(os.path.join(self.dir, "*.parquet")) or os.path.exists(
            os.path.join(base_dir, "_txrelease")
        ):
            raise ValueError(
                f"{base_dir} holds transaction rows in the older flat layout "
                "(_txbuf/*.parquet or _txrelease/), which this gate no longer reads"
            )

    # -- state ------------------------------------------------------------

    def _load_state(self) -> dict:
        state = {"ended": {}, "released": {}, "tombstones": {}, "seq": 0}
        if os.path.exists(self.state_path):
            with open(self.state_path) as f:
                state.update(json.load(f))
        return state

    def _save_state(self, state: dict) -> None:
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.state_path)

    # -- buffer I/O -------------------------------------------------------

    def partition(self, tx_id: str) -> str:
        """Buffer directory of one transaction's rows (named by a hash of
        its id, so any id is a safe directory name)."""
        digest = hashlib.sha256(tx_id.encode()).hexdigest()
        return os.path.join(self.dir, f"h={digest}")

    def _read_buffer(self, dirs: list[str]) -> DataFrame | None:
        """One relation over these buffer partitions; None when none exists."""
        dirs = [d for d in dirs if os.path.isdir(d)]
        return self.spark.read.schema(BUFFER_SCHEMA).parquet(*dirs) if dirs else None

    def _buffered(self, tx_id: str) -> int:
        """Distinct buffered rows of a transaction: the row counts in its
        partition's parquet footers (the buffer holds each row once), so
        no Spark job."""
        files = glob.glob(os.path.join(self.partition(tx_id), "*.parquet"))
        return sum(pq.read_metadata(f).num_rows for f in files)

    def _append(self, rows: DataFrame, tx_ids: set) -> None:
        """Buffer these transactions' rows in one write whatever their
        count: each transaction's rows land in (and are later deleted
        with) its own partition. Each row is written once — deduplicated
        within the batch and against the partitions already there, so a
        repeated append (a replay) adds nothing."""
        rows = rows.coalesce(1).distinct()
        old = self._read_buffer([self.partition(t) for t in tx_ids])
        if old is not None:
            same = [rows[c].eqNullSafe(old[c]) for c in BUFFER_COLS]
            rows = rows.join(old, same, "left_anti")
        rows = rows.withColumn("h", F.sha2("tx_id", 256)).coalesce(1)
        rows.write.partitionBy("h").mode("append").parquet(self.dir)

    def _tag(self, rows: DataFrame, acts: dict, tx_ids: set) -> DataFrame:
        """``rows`` plus their transaction's ``act``. A literal when every
        transaction of the batch shares one act, else a broadcast join
        with a table of the batch's PASS/RELEASE ids (open ids are absent
        and read null) — never a literal list of ids."""
        kinds = set(acts.values()) | ({None} if len(acts) < len(tx_ids) else set())
        if len(kinds) > 1:
            table = self.spark.createDataFrame(
                sorted(acts.items()), "tx_id string, act string"
            )
            return rows.join(F.broadcast(table), "tx_id", "left")
        act = F.lit(kinds.pop() if kinds else None).cast("string")
        return rows.withColumn("act", F.when(F.col("tx_id").isNotNull(), act))

    # -- the gate ---------------------------------------------------------

    def filter_batch(
        self, raw: DataFrame, batch_id: int | None = None
    ) -> DataFrame:
        """One micro-batch in → the records the apply path may see now.

        ``raw`` is raw ``(key, value)`` records or, from the pipeline,
        the same records already classified by
        :func:`~one_stop_cdc_ingestion_toolkit_spark.sources.debezium.route_envelopes`
        (then nothing is parsed again); the return carries the routing
        columns either way (a released row read back from the buffer has
        nulls in any other column of ``raw``). Splits the batch into
        boundary records (consumed here), tx-tagged data, and plain data
        (passes through). Returns plain data UNIONed with the distinct
        rows — from this batch and the buffer — of every transaction
        that is now provably committed; rows of transactions still open
        are buffered, as raw ``(key, value)``. ``batch_id`` is the
        foreachBatch epoch — the replay detector; direct (non-streaming)
        callers get a monotonic internal sequence instead.

        Direct-mode contract (at-least-once): a direct call's release is
        GC'd by the NEXT direct call on the assumption the caller merged
        the returned rows before calling again. A caller that can crash
        between receiving the return and completing its merge must
        RE-FEED the unmerged input on restart (released transactions are
        tombstoned, so replayed rows pass straight through to the
        idempotent merge) — i.e. exactly the chunk-high-water-mark
        semantics the backfill driver already has. Streaming mode does
        not need this: foreachBatch replays batch N itself and the
        released marker re-emits the transaction."""
        state = self._load_state()
        mode = "s" if batch_id is not None else "d"
        eb = state["seq"] + 1 if batch_id is None else batch_id
        state["seq"] = max(state["seq"], eb)
        released, tombstones = state["released"], state["tombstones"]

        # 0. GC: a released transaction whose batch is OLDER than this
        # one IN THE SAME MODE is durably applied (foreachBatch only
        # starts batch N+1 after N committed; direct calls likewise
        # complete their merge before returning) — delete its partition.
        # A DIRECT call must never GC a STREAMING release — its seq says
        # nothing about the stream's checkpoint progress (a backfill run
        # during the stream's crash window would otherwise delete rows
        # the replay still needs) — hence the mode scoping.
        for t, rb in list(released.items()):
            if rb["mode"] == mode and rb["batch"] < eb:
                shutil.rmtree(self.partition(t), ignore_errors=True)
                tombstones[t] = released.pop(t)
        if len(tombstones) > TOMBSTONE_KEEP:
            for t, _ in sorted(
                tombstones.items(), key=lambda kv: kv[1]["batch"]
            )[: len(tombstones) - TOMBSTONE_KEEP]:
                del tombstones[t]
        # transactions this batch released on an earlier attempt (a
        # replay) are emitted again; every other closed one passes through
        emit = {
            t for t, rb in released.items() if rb["mode"] == mode and rb["batch"] == eb
        }
        closed = (set(released) | set(tombstones)) - emit

        # 1. one pass over the routed batch: its END boundaries and its
        # transaction ids (both bounded by transactions per batch) come
        # back as observed metrics of a no-op write — it also fills the
        # caller's cache of the batch, and any observation the caller put
        # on ``raw`` fires in the same pass
        batch = raw if "boundary" in raw.columns else route_envelopes(raw)
        is_tx = ~F.col("boundary") & F.col("tx_id").isNotNull()
        end = F.when(
            F.col("boundary") & (F.col("status") == "END"),
            F.struct("boundary_id", "event_count"),
        )
        seen = Observation("tx_gate")
        batch.observe(
            seen,
            F.collect_list(end).alias("ends"),
            F.collect_set(F.when(is_tx, F.col("tx_id"))).alias("txs"),
        ).write.format("noop").mode("overwrite").save()
        facts = seen.get
        # collect_list has no order: sort so a tx whose END arrives twice
        # in one batch with different counts resolves the same way on
        # every run (the larger count wins; a redelivered END is the same
        # record, so this only matters for a malformed source)
        ends = sorted(facts["ends"], key=lambda r: (r[0], r[1] is not None, r[1]))
        for tx, count in ends:
            if tx not in closed and tx not in emit:  # redelivered END: ignore
                state["ended"][tx] = count
        tx_ids = set(facts["txs"])

        # 2. completion check, only for ended transactions that gained an
        # END or rows in this batch (a held one that gained nothing
        # cannot have completed). A transaction's buffered distinct rows
        # are its footer counts; one that also has rows in this batch
        # needs the exact count only when the lower bound (its buffered
        # rows, and at least one) falls short of its event_count — those
        # are counted over the batch and the buffer in one aggregate.
        gained = tx_ids | {tx for tx, _ in ends}
        check = {t: need for t, need in state["ended"].items() if t in gained}
        have = {t: max(self._buffered(t), int(t in tx_ids)) for t in check}
        exact = [t for t, n in check.items() if t in tx_ids and n and have[t] < n]
        if exact:
            rows = batch.filter(is_tx).select(*BUFFER_COLS)
            buf = self._read_buffer([self.partition(t) for t in exact])
            if buf is not None:
                rows = rows.unionByName(buf)
            counts = rows.coalesce(1).distinct().groupBy("tx_id").count().collect()
            have.update((t, n) for t, n in counts if t in exact)
        for t, need in check.items():
            if have[t] and (need is None or have[t] >= need):
                released[t] = {"batch": eb, "mode": mode}
                del state["ended"][t]
                emit.add(t)

        # 3. route the batch's tx rows: buffer the still-open ones (rows
        # of closed transactions pass straight through to the idempotent
        # merge — re-buffering them would strand them forever)
        acts = {t: RELEASE if t in emit else PASS for t in tx_ids & (closed | emit)}
        tagged = self._tag(batch.filter(~F.col("boundary")), acts, tx_ids)
        if len(acts) < len(tx_ids):
            is_open = F.col("tx_id").isNotNull() & F.col("act").isNull()
            self._append(
                tagged.filter(is_open).select(*BUFFER_COLS), tx_ids - set(acts)
            )
        self._save_state(state)

        # 4. emit: the distinct rows of every transaction released IN
        # THIS batch, from its partition in place (each row once) and from
        # the batch — covers fresh releases and the replay-after-crash
        # case
        out = tagged.filter(
            F.col("tx_id").isNull() | (F.col("act") == PASS)
        ).drop("act")
        rows = self._read_buffer([self.partition(t) for t in emit])
        if emit & tx_ids:
            here = tagged.filter(F.col("act") == RELEASE).select(*BUFFER_COLS)
            rows = here if rows is None else rows.unionByName(here)
            rows = rows.coalesce(1).distinct()
        if rows is None:
            return out
        return out.unionByName(
            route_envelopes(rows.select("key", "value")), allowMissingColumns=True
        )

    def pending(self) -> dict:
        """Observability: open transaction ids → buffered distinct record
        count. Excludes transactions already released or tombstoned —
        a released one keeps its partition until the next batch's GC,
        and it is not open."""
        state = self._load_state()
        closed = set(state["released"]) | set(state["tombstones"])
        buf = self._read_buffer(glob.glob(os.path.join(self.dir, "h=*")))
        if buf is None:
            return {}
        counts = buf.groupBy("tx_id").count().collect()
        return {t: n for t, n in counts if t not in closed}
