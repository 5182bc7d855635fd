"""CDC ingestion pipeline: change stream → decode → route → merge → lake.

The engine equivalent of the reference's connector lifecycle
(`/root/reference/bin/mskc-connector.sh:287-362` create,
`:461-489` monitor, `:48-63` remove): a named StreamingQuery with a
checkpoint, driven by ``foreachBatch``:

    readStream (file source; Kafka shares the code path — the decode and
    merge stages are source-agnostic)
      → route_envelopes (one parse of the routing fields; the tx gate
        and the decode share it — the reference's topic-per-table, A4)
      → decode check (each record by its own table's envelope schema)
      → schema auto-registration + BACKWARD gate   (A10/A11)
      → flatten_changes → apply_changes            (latest-wins merge)
      → BucketedTableStore.replace_keys (atomic snapshot / bucket swap)

Checkpointing makes replay after restart at-least-once; the merge is
idempotent (keyed, total-ordered), so end-to-end state is exactly-once.

Scale posture: the only shuffles are keyed (window + anti-join) inside
each table's merge; routing and decode are maps. A micro-batch costs a
fixed number of passes whatever its table or transaction count — one to
classify (shared with the tx gate), one to check every table's decode —
whose facts (the DDL events themselves, bad-record counts, per-table row
counts and touched key buckets) are observed metrics of a no-op write
that also fills the cache, not probe actions; the tx gate adds at most a
completion count and a buffer append (``streaming/tx_gate.py``). The
tables with rows then merge concurrently, one thread each (tables
linked by a join view share one), so their small jobs and the query
planning between them overlap on otherwise idle cores.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from one_stop_cdc_ingestion_toolkit_spark.operators.cdc import (
    apply_changes,
    expire_tombstones,
    snapshot,
)
from one_stop_cdc_ingestion_toolkit_spark.sources.debezium import (
    change_key,
    envelope_schema,
    flatten_changes,
    route_envelopes,
)
from one_stop_cdc_ingestion_toolkit_spark.sources.schema_events import (
    apply_schema_changes,
)
from one_stop_cdc_ingestion_toolkit_spark.streaming.agg_view import (
    AggView,
    eager,
    release_eager,
)
from one_stop_cdc_ingestion_toolkit_spark.streaming.join_view import JoinView
from one_stop_cdc_ingestion_toolkit_spark.streaming.dedup_index import DedupIndex
from one_stop_cdc_ingestion_toolkit_spark.streaming.search_index import SearchIndex
from one_stop_cdc_ingestion_toolkit_spark.streaming.schema_store import SchemaStore
from one_stop_cdc_ingestion_toolkit_spark.streaming.table_store import BucketedTableStore

#: Reserved lake table holding quarantined (malformed) source records.
DLQ_TABLE = "_dlq"
#: Durable staging snapshot during ``replay_dlq`` — survives a crash
#: mid-replay; a fresh replay resumes from it (replay is idempotent:
#: CDC merge dedups per key by sequence, quarantine dedups by value).
DLQ_REPLAY_TABLE = "_dlq_replay"
#: Decoded envelope fields a table's merge reads (``flatten_changes``).
ENVELOPE_FIELDS = ("before", "after", "op", "ts_ms", "source")


@dataclass
class TableSpec:
    """One captured table: name, primary-key columns, row schema.

    ``n_buckets`` switches the table to key-bucketed state
    (BucketedTableStore): each micro-batch rewrites only the hash buckets
    its keys touch — the 100 TB merge path. None = whole-snapshot swap.
    Changing it on an existing table is one whole-table rewrite on the
    next batch, for None→n and for n→m alike; n→None is refused.

    ``index_text_col`` names a text column to maintain an incremental
    near-duplicate index over (``streaming.dedup_index.DedupIndex``):
    each batch fingerprints only the rows it touched. Requires a single
    key column (the document id).

    ``search_text_col`` likewise maintains an incremental BM25 search
    index (``streaming.search_index.SearchIndex``) over a text column —
    same O(batch) touched-keys maintenance, queryable without a corpus
    rescan.
    """

    name: str
    key_cols: list[str]
    row_schema: T.StructType
    n_buckets: int | None = None
    index_text_col: str | None = None
    search_text_col: str | None = None
    #: standing GROUP-BY aggregate view maintained incrementally from the
    #: change stream (``streaming.agg_view.AggView``): per batch the view
    #: absorbs an O(batch) state-difference delta instead of a recompute.
    agg_group_cols: list[str] | None = None
    agg_sum_cols: list[str] | None = None


@dataclass
class PipelineSpec:
    """Engine analogue of the reference's connector config
    (`bin/mskc-connector.sh:509-543`): where to read, what to capture,
    where to materialize, how schemas may evolve."""

    name: str
    source_dir: str  # directory of envelope-JSON files (the change stream)
    tables: list[TableSpec]
    sink_dir: str
    checkpoint_dir: str
    compatibility: str = "BACKWARD"
    max_files_per_trigger: int | None = None  # capacity knob (A14)
    database_include: list[str] | None = None  # database.include.list (A3)
    #: time-travel depth: how many PRIOR pointer states per table keep
    #: their data on disk (cross-table epoch reads need > 0 to look back)
    snapshot_retain: int = 0
    #: standing denormalized fact⟕dim views maintained incrementally
    #: from the change stream (``streaming.join_view.JoinView``)
    join_views: list = field(default_factory=list)
    #: ``{"tx_atomic": True}`` turns on the transaction gate; no other key
    options: dict = field(default_factory=dict)

    def validate(self) -> None:
        if not self.name:
            raise ValueError("pipeline name required")
        unknown = sorted(set(self.options) - {"tx_atomic"})
        if unknown:
            # a stale spec file must fail here, not run with its key ignored
            raise ValueError(f"{self.name}: unknown options {unknown}")
        if not self.tables:
            raise ValueError(f"{self.name}: at least one table required")
        for t in self.tables:
            missing = [k for k in t.key_cols if k not in t.row_schema.fieldNames()]
            if missing:
                raise ValueError(f"{self.name}.{t.name}: key cols {missing} not in schema")
            for attr in ("index_text_col", "search_text_col"):
                col = getattr(t, attr)
                if col is None:
                    continue
                if len(t.key_cols) != 1:
                    raise ValueError(
                        f"{self.name}.{t.name}: {attr} requires a single "
                        f"key column, got {t.key_cols}"
                    )
                if col not in t.row_schema.fieldNames():
                    raise ValueError(
                        f"{self.name}.{t.name}: {attr} {col!r} not in schema"
                    )
            if t.agg_sum_cols and not t.agg_group_cols:
                raise ValueError(
                    f"{self.name}.{t.name}: agg_sum_cols requires agg_group_cols"
                )
            for c in (t.agg_group_cols or []) + (t.agg_sum_cols or []):
                if c not in t.row_schema.fieldNames():
                    raise ValueError(
                        f"{self.name}.{t.name}: agg view column {c!r} not in schema"
                    )
        by_name = {t.name: t for t in self.tables}
        for jv in self.join_views:
            if jv.fact == jv.dim:
                raise ValueError(
                    f"{self.name}: join view fact and dim must differ"
                )
            if jv.fact not in by_name or jv.dim not in by_name:
                raise ValueError(
                    f"{self.name}: join view references unknown table "
                    f"({jv.fact!r}, {jv.dim!r})"
                )
            dim = by_name[jv.dim]
            if len(dim.key_cols) != 1:
                raise ValueError(
                    f"{self.name}: join view dim {jv.dim!r} must have a "
                    f"single key column, got {dim.key_cols}"
                )
            if jv.join_col not in by_name[jv.fact].row_schema.fieldNames():
                raise ValueError(
                    f"{self.name}: join col {jv.join_col!r} not in {jv.fact!r}"
                )
            missing = [
                c for c in jv.dim_cols
                if c not in dim.row_schema.fieldNames()
            ]
            if missing:
                raise ValueError(
                    f"{self.name}: join view dim cols {missing} not in {jv.dim!r}"
                )


#: raw schema of the change-stream files: one JSON envelope per line with
#: a string key — mirrors the Kafka record shape (key string, value bytes).
RAW_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)


def _ddl_events() -> Column:
    """Observed metric ``ddl``: the batch's schema-change events as
    ``(ord, value)`` rows."""
    return F.collect_list(F.when(F.col("ddl"), F.struct("ord", "value"))).alias("ddl")


def _literal(text: str) -> str:
    """A string as a SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _linked_groups(spec: PipelineSpec) -> list[list[int]]:
    """The declared tables (as indexes) grouped by join-view links: two
    tables share a group when a view joins them, directly or through
    other tables. Groups and their members keep declaration order."""
    names = [t.name for t in spec.tables]
    group = list(range(len(names)))  # table index -> group leader

    def leader(i: int) -> int:
        while group[i] != i:
            i = group[i]
        return i

    for jv in spec.join_views:
        a, b = leader(names.index(jv.fact)), leader(names.index(jv.dim))
        group[max(a, b)] = min(a, b)
    out: dict[int, list[int]] = {}
    for i in range(len(names)):
        out.setdefault(leader(i), []).append(i)
    return list(out.values())


class Pipeline:
    """A running (or startable) CDC ingestion pipeline."""

    def __init__(self, spark: SparkSession, spec: PipelineSpec):
        spec.validate()
        self.spark = spark
        self.spec = spec
        # serializes apply_batch across threads: the streaming query's
        # foreachBatch and a concurrent SnapshotBackfill.step both merge
        # through this pipeline ("start the stream first, backfill
        # whenever"), and TableStore's read-pointer → write-gen → flip
        # sequence is not safe under two unsynchronized writers to the
        # same table (both would target the same generation dir and one
        # merge would be silently lost — review r7).
        import threading

        self._apply_lock = threading.Lock()
        self.store = BucketedTableStore(spec.sink_dir, retain=spec.snapshot_retain)
        self.schemas = SchemaStore(
            Path(spec.sink_dir) / "_schemas", spec.compatibility
        )
        #: per-DDL-event outcomes (table, version|None, error|None) — the
        #: engine's schema-history record (A6) alongside the store's
        #: append-only version log.
        self.schema_log: list[tuple[str | None, int | None, str | None]] = []
        # Debezium provide.transaction.metadata analogue: hold change
        # records until their source transaction provably committed
        # (streaming/tx_gate.py). Off by default — it delays visibility
        # by up to one transaction.
        if spec.options.get("tx_atomic"):
            from one_stop_cdc_ingestion_toolkit_spark.streaming.tx_gate import (
                TxGate,
            )

            self.tx_gate: TxGate | None = TxGate(spark, spec.sink_dir)
        else:
            self.tx_gate = None
        self.indexes: dict[str, DedupIndex] = {
            t.name: DedupIndex(
                self.store,
                t.name,
                t.key_cols[0],
                t.index_text_col,
                n_buckets=t.n_buckets,
                id_type=t.row_schema[t.key_cols[0]].dataType.simpleString(),
            )
            for t in spec.tables
            if t.index_text_col
        }
        self.search_indexes: dict[str, SearchIndex] = {
            t.name: SearchIndex(
                self.store,
                t.name,
                t.key_cols[0],
                t.search_text_col,
                n_buckets=t.n_buckets,
            )
            for t in spec.tables
            if t.search_text_col
        }
        self.agg_views: dict[str, AggView] = {
            t.name: AggView(
                self.store, t.name, t.agg_group_cols, t.agg_sum_cols or []
            )
            for t in spec.tables
            if t.agg_group_cols
        }
        _by_name = {t.name: t for t in spec.tables}
        self.join_views: list[JoinView] = [
            JoinView(
                self.store,
                jv,
                _by_name[jv.fact].key_cols,
                _by_name[jv.dim].key_cols[0],
                dim_schema=_by_name[jv.dim].row_schema,
            )
            for jv in spec.join_views
        ]
        self._groups = _linked_groups(spec)
        self.query: StreamingQuery | None = None

    # -- batch core (also used directly by tests / backfills) -------------

    def apply_batch(self, raw: DataFrame, batch_id: int | None = None) -> None:
        """Decode + merge one micro-batch of raw (key,value) records.

        Three steps, each a fixed number of Spark passes whatever the
        table count:

        1. classify: every record's routing fields are parsed once
           (``route_envelopes``) into a persisted frame the tx gate and
           the decode share; DDL events are registered first, in source
           order, from the metrics the gate's pass observes (without a
           gate, from the check pass's);
        2. check: one pass decodes each record with its own table's
           schema, flags malformed and decode-mismatch records, and
           observes per-table row counts and touched key buckets;
        3. merge: the tables with rows merge concurrently, one thread per
           group of tables linked by a join view (declaration order
           inside a group); then every bad record goes to ``_dlq`` in one
           write and one epoch is logged.

        A failure anywhere fails the batch before its epoch is logged, so
        a replay redoes it. Thread-safe: the whole batch holds
        ``_apply_lock`` (streaming foreachBatch vs concurrent backfill)."""
        with self._apply_lock:
            self._apply_batch_locked(raw, batch_id)

    def _apply_batch_locked(
        self, raw: DataFrame, batch_id: int | None = None
    ) -> None:
        # persisted before ANY action: the tx gate and the check pass both
        # read it, and un-persisted each action re-read the source (the
        # r6 soak's listener log showed ~2.4x numInputRows per batch).
        # ``ord`` keeps source order for the DDL events a pass observes.
        ordinal = F.monotonically_increasing_id().alias("ord")
        routed = route_envelopes(raw).select("*", ordinal).persist()
        checked = None
        try:
            # A5: schema-change (DDL) events ride the same stream
            # (``include.schema.changes=true``, the reference's
            # bin/mskc-connector.sh:399). Debezium logs DDL BEFORE the data
            # that uses the new schema, so register first — data later in
            # this same batch then decodes with the evolved schema.
            registered: set = set()
            batch = routed
            if self.tx_gate is not None:
                # transaction atomicity: boundary records are consumed,
                # open transactions buffered, committed ones released into
                # THIS batch — so a source transaction lands in one epoch.
                # The gate's one pass fills the routed cache and also
                # observes this batch's DDL events.
                seen = Observation("classify")
                batch = self.tx_gate.filter_batch(
                    routed.observe(seen, _ddl_events()), batch_id
                )
                registered = self._register_ddl(seen.get["ddl"])
            schemas = [self._decode_schema(t) for t in self.spec.tables]
            checked, facts = self._check_batch(batch, schemas)
            ddl = [e for e in facts["ddl"] if e["ord"] not in registered]
            if ddl:
                # DDL found by the check pass itself (no gate, or a DDL
                # released from the tx buffer): register it, and decode
                # again if it evolved a table this batch has rows for
                self._register_ddl(ddl)
                evolved = [self._decode_schema(t) for t in self.spec.tables]
                if any(
                    facts[f"n{i}"] and evolved[i] != schemas[i]
                    for i in range(len(schemas))
                ):
                    checked.unpersist()
                    schemas = evolved
                    checked, facts = self._check_batch(batch, schemas)
            self._run_concurrently(
                [
                    self._merge_group(group, checked, schemas, facts)
                    for group in self._groups
                    if any(facts[f"g{i}"] for i in group)
                ]
            )
            # Dead-letter quarantine: records that are not parseable
            # envelopes (broken JSON, missing op/source.table) or whose
            # payload lost data in decoding must not vanish silently — the
            # reference's only diagnosis is grepping connector logs for
            # 'error|failed' (A27, bin/mskc-connector.sh:491-499); the
            # engine materializes the offending records themselves. One
            # write per batch, after the merges: _quarantine is a
            # read-modify-write of one table.
            if facts["bad"]:
                self._quarantine(
                    checked.filter(F.col("reason").isNotNull()).select(
                        "key", "value", "reason"
                    )
                )
            # Consistency point: every declared table has now absorbed
            # this batch — record one epoch over their current pointer
            # seqs so read_epoch() can serve a cross-table-consistent
            # view (and, with snapshot_retain > 0, any past batch).
            self.store.log_epoch([t.name for t in self.spec.tables])
        finally:
            if checked is not None:
                checked.unpersist()
            routed.unpersist()

    def _register_ddl(self, events: list) -> set:
        """Register observed schema-change events (bounded by schema changes
        per batch, never data volume) in source order; their ordinals."""
        events = sorted(events, key=lambda e: (e["ord"] is None, e["ord"] or 0))
        values = [e["value"] for e in events]
        self.schema_log.extend(apply_schema_changes(self.schemas, values))
        return {e["ord"] for e in events}

    def _decode_schema(self, tspec: TableSpec) -> T.StructType:
        """Effective row schema: when the declared schema is already a
        registered version, the stream may have evolved past it (DDL
        events) — use the latest version. A declared schema NOT in the
        registry is a new user declaration (redeployed spec) and must
        itself pass the registry's gate at merge time.

        NOTE (ADVICE r10): register() dedups to the EARLIEST identical
        version (Confluent semantics), so a genuine DDL revert A→B→A
        leaves versions[-1] == B and decode stays pinned to B: the
        reverted-away column reads as NULL from then on, and latest()
        reflects the widest historical schema, not the active writer's.
        That is BACKWARD-safe (B ⊇ A under the gate, so every A-shaped
        payload decodes losslessly) and matches Confluent Schema
        Registry, which also returns the earliest id on re-register. If
        revert-following decode is ever wanted, track the active schema
        from the most recent successful register() call instead of
        versions[-1] — deliberately not done: flip-flopping writers
        would churn the decode schema per batch."""
        versions = self.schemas.versions(tspec.name)
        if versions and tspec.row_schema in versions:
            return versions[-1]
        return tspec.row_schema

    def _check_batch(
        self, batch: DataFrame, schemas: list[T.StructType]
    ) -> tuple[DataFrame, dict]:
        """Decode every record with its own table's schema, in one pass.

        Returns the persisted frame — ``key, value, ddl, ord, reason``
        and, per declared table i, its decoded envelope ``__env<i>``
        (null on other tables' rows) — and the facts observed while
        filling it: the ``ddl`` events (see :func:`_ddl_events`), the
        ``bad`` count, and per table ``n<i>`` (rows routed
        to it), ``g<i>`` (rows to merge) and, where the store prunes
        reads by key bucket, ``b<i>`` (their buckets).

        ``reason`` is null on a good row, else the DLQ reason:
        ``not_an_envelope`` (no ``op``), ``missing_source_table``, or
        ``decode_mismatch`` (see :meth:`_decode_mismatch`). Debezium
        log-compaction tombstones — (key, NULL) records after a delete —
        have no envelope and are NOT errors: they get no reason and no
        table, as on the Avro path (``sources/debezium.avro_to_json``).
        Valid envelopes for undeclared tables, or outside
        ``database_include`` (A3), are dropped the same way."""
        envs, reason, metrics = self._check_columns(schemas)
        checked = (
            batch.select("key", "value", "ddl", "ord", "op", "table", *envs)
            .select(
                "key", "value", "ddl", "ord", reason.alias("reason"),
                *[f"__env{i}" for i in range(len(envs))],
            )
            .persist()
        )
        good_rows = F.col("reason").isNull()
        for i, t in enumerate(self.spec.tables):
            env = F.col(f"__env{i}")
            bucket = self.store.bucket_of(
                t.name, [change_key(k, env) for k in t.key_cols], t.n_buckets
            )
            if bucket is not None:
                good = env.isNotNull() & good_rows
                metrics = metrics + [
                    F.collect_set(F.when(good, bucket)).alias(f"b{i}")
                ]
        seen = Observation("decode check")
        checked.observe(seen, *metrics).write.format("noop").mode(
            "overwrite"
        ).save()
        return checked, seen.get

    def _check_columns(self, schemas: list[T.StructType]) -> tuple:
        """(envelope columns, reason column, metric columns) of the check
        pass for these decode schemas, built from SQL text: a few py4j
        calls per table, whatever its field count."""
        live = "NOT ddl AND value IS NOT NULL"
        envelope = f"{live} AND op IS NOT NULL AND `table` IS NOT NULL"
        if self.spec.database_include:
            dbs = ", ".join(map(_literal, self.spec.database_include))
            envelope += f" AND db IN ({dbs})"
        cases = [
            f"WHEN {live} AND op IS NULL THEN 'not_an_envelope'",
            f"WHEN {live} AND `table` IS NULL THEN 'missing_source_table'",
        ]
        envs = []
        metrics = [_ddl_events(), F.expr("count_if(reason IS NOT NULL)").alias("bad")]
        for i, (t, schema) in enumerate(zip(self.spec.tables, schemas)):
            env, name = f"`__env{i}`", _literal(t.name)
            decoded = f"from_json(value, {_literal(envelope_schema(schema).json())})"
            envs.append(
                F.expr(
                    f"CASE WHEN {envelope} AND `table` = {name} THEN {decoded} END"
                ).alias(f"__env{i}")
            )
            cases += [
                f"WHEN {env} IS NOT NULL AND NOT ({env}.source.`table` <=> {name})"
                " THEN 'missing_source_table'",
                f"WHEN {env} IS NOT NULL AND {self._decode_mismatch(env, schema)}"
                " THEN 'decode_mismatch'",
            ]
            metrics += [
                F.expr(f"count_if({env} IS NOT NULL)").alias(f"n{i}"),
                F.expr(f"count_if({env} IS NOT NULL AND reason IS NULL)").alias(f"g{i}"),
            ]
        return envs, F.expr(f"CASE {' '.join(cases)} END"), metrics

    def _merge_group(
        self, group: list[int], checked: DataFrame, schemas: list, facts: dict
    ):
        """The merge work of one group of tables (indexes into the
        declared tables, declaration order), as a callable."""

        def run() -> None:
            for i in group:
                if not facts[f"g{i}"]:
                    continue
                env = F.col(f"__env{i}")
                rows = checked.filter(
                    env.isNotNull() & F.col("reason").isNull()
                ).select(
                    "key", *[env[c].alias(c) for c in ENVELOPE_FIELDS]
                )
                buckets = facts.get(f"b{i}")
                self._merge_table(
                    self.spec.tables[i],
                    rows,
                    schemas[i],
                    None if buckets is None else sorted(buckets),
                )

        return run

    def _merge_table(
        self,
        tspec: TableSpec,
        rows: DataFrame,
        row_schema: T.StructType,
        buckets: list[int] | None,
    ) -> None:
        """Merge one table's decoded envelope rows into its state, then
        maintain its views and indexes. ``buckets``: the touched key
        buckets, when the store prunes this table's reads by bucket."""
        # schema auto-registration + BACKWARD gate (A10/A11):
        # no-op when row_schema is already the latest version.
        self.schemas.register(tspec.name, row_schema)
        changes = flatten_changes(rows, tspec.key_cols)
        # keyed merge: only the touched buckets of a bucketed table are
        # read and rewritten; the bucket list is reused by index/view upkeep
        current, buckets = self._read_keys(tspec, changes, buckets)
        merged = apply_changes(current, changes, tspec.key_cols)
        delta = self._view_delta(tspec, current, merged, changes)
        self.store.replace_keys(
            merged, tspec.name, tspec.key_cols, tspec.n_buckets, buckets
        )
        self._apply_view(tspec, delta)
        self._update_index(tspec, changes, buckets)
        self._update_join_views(tspec, changes, buckets)

    def _run_concurrently(self, tasks: list) -> None:
        """Run the tasks in threads of their own (inline when there is one)
        and wait for all of them; then re-raise the first failure. The
        threads inherit the caller's Spark local properties (job group,
        description) and job tags."""
        if len(tasks) <= 1:
            for task in tasks:
                task()
            return
        inherit = inheritable_thread_target(self.spark)
        with ThreadPoolExecutor(len(tasks)) as pool:
            futures = [pool.submit(inherit(t)) for t in tasks]
        for f in futures:
            if f.exception() is not None:
                raise f.exception()

    def _decode_mismatch(self, env: str, row_schema: T.StructType) -> str:
        """SQL predicate over the decoded envelope column ``env`` (a quoted
        name) and the raw ``value``: true when the after/before payload
        lost data in PERMISSIVE parsing (type drift — e.g. upstream widened
        int→string ahead of the DDL event). Without this the merge writes
        a null over real data; with it the record waits in _dlq until the
        schema evolves, then replay_dlq() re-decodes it.

        A side is bad when its raw JSON is present but either (a) it is
        not an object (map parse fails), or (b) some schema field decoded
        to NULL while the raw JSON carries a non-null value for it — the
        signature of type drift. Missing fields are NOT flagged (nullable
        columns are legitimate; adding them is what BACKWARD evolution
        allows)."""

        def side_bad(side: str) -> str:
            raw = f"get_json_object(value, '$.{side}')"
            m = f"from_json({raw}, 'map<string,string>')"
            dropped = " OR ".join(
                f"({env}.`{side}`.`{f.replace('`', '``')}` IS NULL"
                f" AND {m}[{_literal(f)}] IS NOT NULL)"
                for f in row_schema.fieldNames()
            )
            return f"({raw} IS NOT NULL AND ({m} IS NULL OR {dropped}))"

        return f"({side_bad('after')} OR {side_bad('before')})"

    def _quarantine(self, rows: DataFrame) -> None:
        """Append (key, value, reason) rows to the reserved ``_dlq`` table.

        Replay-idempotent under at-least-once delivery: the union is
        deduplicated on the raw value, so re-processing a batch after a
        crash does not double-count dead letters. DLQ volume is bounded
        by the malformed-record rate, not data volume."""
        current = self.store.read(self.spark, DLQ_TABLE)
        merged = rows if current is None else current.unionByName(rows)
        self.store.write(merged.dropDuplicates(["value"]), DLQ_TABLE)

    def read_dlq(self) -> DataFrame | None:
        """Quarantined records (key, value, reason), or None if clean."""
        return self.store.read(self.spark, DLQ_TABLE)

    def replay_dlq(self) -> int:
        """Re-process quarantined records through the normal batch path;
        returns how many left the DLQ (decoded + merged this time).

        Use after the cause is fixed — e.g. a DDL event (A5) or redeployed
        spec evolved the table schema past the type drift that quarantined
        them. Crash-safe: the DLQ snapshot is staged to a durable table
        before the live DLQ is cleared, and a later call resumes from the
        stage (both merge and quarantine are idempotent, so a double
        replay converges)."""
        staged = self.store.read(self.spark, DLQ_REPLAY_TABLE)
        if staged is None:
            dlq = self.read_dlq()
            if dlq is None or dlq.isEmpty():
                return 0
            self.store.write(dlq, DLQ_REPLAY_TABLE)
            staged = self.store.read(self.spark, DLQ_REPLAY_TABLE)
        n_staged = staged.count()
        self.store.drop(DLQ_TABLE)
        # still-bad records re-quarantine themselves inside apply_batch
        self.apply_batch(staged.select("key", "value"))
        still = self.store.read(self.spark, DLQ_TABLE)
        n_still = 0 if still is None else still.count()
        self.store.drop(DLQ_REPLAY_TABLE)
        return n_staged - n_still

    #: sentinel: the view must be rebuilt from the post-merge snapshot
    #: (fresh view, or an applied_upto gap after a crash between the base
    #: write and the view write).
    _VIEW_REBUILD = "__rebuild__"

    def _view_delta(
        self,
        tspec: TableSpec,
        current: DataFrame | None,
        merged: DataFrame,
        changes: DataFrame,
    ):
        """O(batch) agg-view delta, materialized BEFORE the base write
        (the prior generation's files may be pruned by it). Returns None
        (no view), the eager delta, or the rebuild sentinel."""
        view = self.agg_views.get(tspec.name)
        if view is None:
            return None
        if view.applied_upto() != self.store.history_len(tspec.name):
            return self._VIEW_REBUILD
        keys = changes.select(*tspec.key_cols).distinct()
        prior_t = (
            current.join(keys, tspec.key_cols) if current is not None else None
        )
        post_t = merged.join(keys, tspec.key_cols)
        return eager(view.delta(prior_t, post_t))

    def _apply_view(self, tspec: TableSpec, delta) -> None:
        """Fold the pre-computed delta into the view, or repair by full
        rebuild when the consistency check flagged a gap."""
        view = self.agg_views.get(tspec.name)
        if view is None or delta is None:
            return
        applied = self.store.history_len(tspec.name)
        if isinstance(delta, str):
            view.rebuild(
                self.spark, self.store.read(self.spark, tspec.name), applied
            )
        else:
            view.apply(self.spark, delta, applied)
            # the eager delta is consumed — free its checkpoint blocks now
            # instead of waiting on Python GC + ContextCleaner (a pipeline
            # would otherwise hold one dead block-set per batch in flight)
            release_eager(delta)

    def _update_join_views(
        self, tspec: TableSpec, changes: DataFrame, buckets: list[int] | None
    ) -> None:
        """Maintain every declared fact⟕dim view this table participates
        in — O(touched keys) per side, driven by POST-merge state.

        Sync rule: at maintenance time the view's recorded history
        lengths must match the CURRENT ones except the side just merged
        (one behind — its write happened inside this batch). Any other
        shape is a gap (crash between base write and view write, or a
        view declared over existing tables) and repairs by full rebuild.
        When one batch touches both sides, each side's pass re-reads the
        other's post-merge state, so the view converges at the batch
        boundary regardless of table order."""
        for jv in self.join_views:
            is_fact = jv.spec.fact == tspec.name
            is_dim = jv.spec.dim == tspec.name
            if not (is_fact or is_dim):
                continue
            fact_upto = self.store.history_len(jv.spec.fact)
            dim_upto = self.store.history_len(jv.spec.dim)
            expected = {
                "fact_upto": fact_upto - (1 if is_fact else 0),
                "dim_upto": dim_upto - (1 if is_dim else 0),
            }
            if jv.applied_upto() != expected:
                jv.rebuild(
                    self.spark,
                    self.store.read(self.spark, jv.spec.fact),
                    self.store.read(self.spark, jv.spec.dim),
                    fact_upto,
                    dim_upto,
                )
                continue
            if is_fact:
                # fact side bucket-pruned: on_fact_batch only reads the
                # touched keys' post-merge rows (review r7); the dim
                # side stays a full read — it is semi-joined to the
                # touched join keys inside on_fact_batch
                jv.on_fact_batch(
                    self.spark,
                    changes.select(*tspec.key_cols).distinct(),
                    self._read_keys(tspec, changes, buckets)[0],
                    self.store.read(self.spark, jv.spec.dim),
                    fact_upto,
                    dim_upto,
                )
            else:
                jv.on_dim_batch(
                    self.spark,
                    changes.select(
                        F.col(tspec.key_cols[0]).alias(jv.spec.join_col)
                    ).distinct(),
                    self.store.read(self.spark, jv.spec.dim),
                    fact_upto,
                    dim_upto,
                )

    def read_join_view(self, fact: str, dim: str) -> DataFrame | None:
        """Query side of a declared fact⟕dim denormalized view."""
        for jv in self.join_views:
            if jv.spec.fact == fact and jv.spec.dim == dim:
                return jv.read(self.spark)
        return None

    def read_agg_view(self, table: str) -> DataFrame | None:
        """Query side of a declared aggregate view (n, sum_*, avg_*)."""
        view = self.agg_views.get(table)
        return view.read(self.spark) if view is not None else None

    def _read_keys(
        self, tspec: TableSpec, changes: DataFrame, buckets: list[int] | None = None
    ) -> tuple[DataFrame | None, list[int] | None]:
        """(state, buckets) of the table rows holding this batch's keys —
        bucket-pruned in the table's requested bucketed layout, whole
        otherwise (``BucketedTableStore.read_keys``)."""
        return self.store.read_keys(
            self.spark, tspec.name, tspec.key_cols, tspec.n_buckets, changes, buckets
        )

    def _update_index(
        self, tspec: TableSpec, changes: DataFrame, buckets: list[int] | None
    ) -> None:
        """Fold this batch into the table's dedup/search indexes, if
        configured.

        Driven by the POST-MERGE state of the touched keys (read back
        from the just-written store generation, so nothing is
        recomputed): the raw batch's per-key winner can lose to already-
        applied state under cross-batch out-of-order delivery, but the
        merged state is authoritative. The touched-key read is
        bucket-pruned to ``buckets``, the list the merge just rewrote."""
        index = self.indexes.get(tspec.name)
        sindex = self.search_indexes.get(tspec.name)
        if index is None and sindex is None:
            return
        state, affected = self._read_keys(tspec, changes, buckets)
        if state is None:
            return
        keys = changes.select(*tspec.key_cols).distinct()
        touched = state.join(keys, tspec.key_cols)
        if index is not None and sindex is not None:
            touched = touched.persist()
        try:
            if index is not None:
                index.update(self.spark, touched, affected=affected)
            if sindex is not None:
                sindex.update(self.spark, touched, affected=affected)
        finally:
            if index is not None and sindex is not None:
                touched.unpersist()

    def gc_tombstones(self, min_pos: int) -> dict[str, int]:
        """Maintenance: drop tombstones whose sequence is older than the
        redelivery horizon (``cdc.expire_tombstones``) — run with min_pos
        = the checkpointed min source offset, so a redelivered old insert
        can no longer resurrect the key. Returns per-table removed counts.
        Each table with expired tombstones is rewritten whole, in its
        declared layout."""
        removed: dict[str, int] = {}
        for tspec in self.spec.tables:
            state = self.store.read(self.spark, tspec.name)
            if state is None:
                continue
            expired = state.filter(
                F.col("__deleted") & (F.col("__pos") < min_pos)
            ).count()
            if expired == 0:
                removed[tspec.name] = 0
                continue
            self.store.replace_keys(
                expire_tombstones(state, min_pos),
                tspec.name,
                tspec.key_cols,
                tspec.n_buckets,
                None,
            )
            removed[tspec.name] = expired
        return removed

    def read_table(self, name: str) -> DataFrame | None:
        """Live rows of a materialized table (tombstones/metadata hidden)."""
        state = self.store.read(self.spark, name)
        return snapshot(state) if state is not None else None

    # -- streaming lifecycle ----------------------------------------------

    def start(self) -> StreamingQuery:
        """Start the StreamingQuery (A13). File source: new files in
        source_dir are micro-batches, at most ``max_files_per_trigger``
        each (the capacity knob, A14); Kafka would swap the reader only."""
        reader = self.spark.readStream.schema(RAW_SCHEMA).format("json")
        if self.spec.max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", self.spec.max_files_per_trigger
            )
        stream = reader.load(self.spec.source_dir)

        def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
            self.apply_batch(batch_df, batch_id=epoch_id)

        self.query = (
            stream.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", self.spec.checkpoint_dir)
            .queryName(self.spec.name)
            .start()
        )
        return self.query

    def process_available(self) -> None:
        """Drain everything currently in the source dir (test/backfill aid)."""
        if self.query is None:
            self.start()
        self.query.processAllAvailable()

    def status(self, count_dlq: bool = True) -> dict:
        """Connector-state analogue (A16), plus the dead-letter depth —
        the first number an operator checks when a table looks stale.

        ``count_dlq=False`` skips the DLQ count job and reports
        ``dlq_rows=None`` — for callers (monitor.diagnose) that read the
        DLQ themselves in the same breath and would otherwise pay two
        Spark jobs over the same table."""
        dlq_rows: int | None = None
        if count_dlq:
            dlq = self.read_dlq()
            dlq_rows = 0 if dlq is None else dlq.count()
        open_tx = (
            len(self.tx_gate.pending()) if self.tx_gate is not None else 0
        )
        if self.query is None:
            return {
                "state": "STOPPED",
                "dlq_rows": dlq_rows,
                "open_transactions": open_tx,
            }
        return {
            "state": "RUNNING" if self.query.isActive else "TERMINATED",
            "status": self.query.status,
            "exception": self.query.exception(),
            "dlq_rows": dlq_rows,
            "open_transactions": open_tx,
        }

    def view_status(self) -> dict:
        """Sync health of every standing view: for each, whether its
        recorded applied-upto matches the base tables' current pointer
        history — False means the next batch will repair by rebuild."""
        out: dict[str, bool] = {}
        for name, av in self.agg_views.items():
            out[f"aggview:{name}"] = (
                av.applied_upto() == self.store.history_len(name)
            )
        for jv in self.join_views:
            out[f"joinview:{jv.spec.fact}⟕{jv.spec.dim}"] = jv.in_sync(
                self.store.history_len(jv.spec.fact),
                self.store.history_len(jv.spec.dim),
            )
        return out

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def remove(self, drop_data: bool = False) -> None:
        """Teardown with cascade (A17), best-effort idempotent like the
        reference's `removeMskcConnector` (`bin/mskc-connector.sh:48-63`).

        ``drop_data`` cascades over EVERYTHING this pipeline materialized
        under sink_dir — base tables, DLQ, dedup/search indexes, agg and
        join views, the schema registry, tx-gate buffers, the epoch log,
        and backfill progress — so a recreated pipeline on the same
        sink_dir starts truly clean (stale view generations and old
        registry versions used to survive and serve/reject against
        dropped data, review r7)."""
        try:
            self.stop()
        finally:
            import shutil

            shutil.rmtree(self.spec.checkpoint_dir, ignore_errors=True)
            if drop_data:
                self.store.drop(DLQ_TABLE)
                self.store.drop(DLQ_REPLAY_TABLE)
                for t in self.spec.tables:
                    self.store.drop(t.name)
                for index in self.indexes.values():
                    self.store.drop(index.index_table)
                for sindex in self.search_indexes.values():
                    self.store.drop(sindex.index_table)
                for av in self.agg_views.values():
                    self.store.drop(av.view_table)
                for jv in self.join_views:
                    self.store.drop(jv.spec.view_table)
                sink = Path(self.spec.sink_dir)
                shutil.rmtree(sink / "_schemas", ignore_errors=True)
                if self.tx_gate is not None:
                    shutil.rmtree(self.tx_gate.dir, ignore_errors=True)
                    Path(self.tx_gate.state_path).unlink(missing_ok=True)
                (sink / "_EPOCHS").unlink(missing_ok=True)
                for p in sink.glob("_backfill_*.json"):
                    p.unlink(missing_ok=True)
