"""``osci-spark`` CLI: the reference's verb surface over the Spark engine.

Maps the reference dispatch table (`/root/reference/bin/osci.sh:193-269`)
to engine verbs; composite verbs mirror `bin/global.sh:6-25`.

    setup-pipeline   — register a pipeline spec          (A13, configure+setup)
    start-pipeline   — start its StreamingQuery          (A13)
    pipeline-status  — poll state                        (A16 monitor loop)
    remove-pipeline  — stop + cascade cleanup            (A17)
    list-pipelines   — registry listing                  (A19 list topics)
    list-tables      — materialized tables               (A19)
    show-table       — peek at a table                   (A20 console consumer)
    sql              — arbitrary SQL over the lake       (A30 exec escape hatch)
    duplicates       — query a table's incremental dedup index
    gc-tombstones    — expire tombstones past the redelivery horizon
    show-dlq         — quarantined (malformed / type-drifted) records
    replay-dlq       — re-process the DLQ after the cause is fixed
    search           — BM25 search over a table's incremental search index
    rebuild-index    — recompute dedup/search indexes from the snapshot
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from one_stop_cdc_ingestion_toolkit_spark.registry import (
    PipelineRegistry,
    spec_from_json,
)
from one_stop_cdc_ingestion_toolkit_spark.session import get_session
from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import Pipeline
from one_stop_cdc_ingestion_toolkit_spark.streaming.table_store import TableStore



def _register_store_views(spark, store, snapshot) -> None:
    """Register every store table as a temp view for the sql/explain
    verbs. Derived tables (__aggview, __search_idx, _dlq, join views)
    have no CDC meta columns — snapshot() unconditionally filtering
    __deleted crashed the verbs on any store with an index/view/DLQ
    (review r7)."""
    for t in store.list_tables():
        df = store.read(spark, t)
        if df is None:
            continue
        if "__deleted" in df.columns:
            df = snapshot(df)
        df.createOrReplaceTempView(t)

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="osci-spark")
    ap.add_argument("--registry", default="pipelines.json")
    sub = ap.add_subparsers(dest="verb", required=True)

    p = sub.add_parser("setup-pipeline", help="register a pipeline from a spec file")
    p.add_argument("spec_file")

    p = sub.add_parser(
        "quickstart",
        help="register + start + drain in one step (the reference's composite verb)",
    )
    p.add_argument("spec_file")

    p = sub.add_parser("start-pipeline", help="start a registered pipeline")
    p.add_argument("name")
    p.add_argument("--drain", action="store_true", help="process available then stop")

    p = sub.add_parser("pipeline-status")
    p.add_argument("name")

    p = sub.add_parser("remove-pipeline")
    p.add_argument("name")
    p.add_argument("--drop-data", action="store_true")

    sub.add_parser("list-pipelines")

    p = sub.add_parser("list-tables")
    p.add_argument("sink_dir")

    p = sub.add_parser(
        "remove-tables", help="drop tables matching a regex (reference A18)"
    )
    p.add_argument("sink_dir")
    p.add_argument("pattern")

    p = sub.add_parser("show-table")
    p.add_argument("sink_dir")
    p.add_argument("table")
    p.add_argument("-n", type=int, default=20)
    p.add_argument("--raw", action="store_true", help="include tombstones/merge metadata")
    p.add_argument(
        "--as-of",
        type=int,
        default=None,
        metavar="SEQ",
        help="time-travel: read the table at pointer state SEQ (see `history`)",
    )

    p = sub.add_parser(
        "history", help="pointer-flip history of a materialized table"
    )
    p.add_argument("sink_dir")
    p.add_argument("table")

    p = sub.add_parser("sql", help="run SQL over materialized tables")
    p.add_argument("sink_dir")
    p.add_argument("query")
    p.add_argument(
        "--epoch",
        type=int,
        default=None,
        help="query the cross-table-consistent view of this epoch (see `epochs`)",
    )

    p = sub.add_parser(
        "explain", help="formatted physical plan of a SQL query (no execution)"
    )
    p.add_argument("sink_dir")
    p.add_argument("query")

    p = sub.add_parser(
        "epochs", help="cross-table consistency points logged per micro-batch"
    )
    p.add_argument("sink_dir")

    p = sub.add_parser(
        "freshness",
        help="per-table replication lag vs the source clock (max __ts_ms)",
    )
    p.add_argument("sink_dir")
    p.add_argument("--table", action="append", help="limit to TABLE (repeatable)")
    p.add_argument(
        "--now-ms",
        type=int,
        default=None,
        help="fixed reference clock (ms) for deterministic reports",
    )

    p = sub.add_parser(
        "capacity",
        help="right-sizing report from a pipeline listener event log",
    )
    p.add_argument("event_log")

    p = sub.add_parser(
        "gc-tombstones",
        help="expire tombstones older than the redelivery horizon",
    )
    p.add_argument("name")
    p.add_argument("--min-pos", type=int, required=True)

    p = sub.add_parser(
        "rebuild-index",
        help="recompute a table's dedup/search indexes from its snapshot",
    )
    p.add_argument("name")
    p.add_argument("table")

    p = sub.add_parser(
        "backfill",
        help="chunked snapshot backfill of a table (DBLog-style; safe to "
        "interleave with the live stream, resumes after a crash)",
    )
    p.add_argument("name")
    p.add_argument("table")
    p.add_argument("snapshot_parquet", help="consistent source snapshot")
    p.add_argument("--chunk-col", required=True)
    p.add_argument("--chunk-size", type=int, default=1024)
    p.add_argument("--snapshot-pos", type=int, default=0)
    p.add_argument(
        "--steps", type=int, default=None,
        help="apply only N chunks this invocation (default: run to completion)",
    )

    p = sub.add_parser(
        "search",
        help="BM25 keyword search over a table's incremental search index",
    )
    p.add_argument("sink_dir")
    p.add_argument("table")
    p.add_argument("terms", nargs="+")
    p.add_argument("-k", type=int, default=10)

    p = sub.add_parser(
        "show-dlq", help="quarantined (malformed / type-drifted) records"
    )
    p.add_argument("name")
    p.add_argument("-n", type=int, default=20)

    p = sub.add_parser(
        "replay-dlq",
        help="re-process the DLQ after the cause is fixed (e.g. schema evolved)",
    )
    p.add_argument("name")

    p = sub.add_parser(
        "duplicates",
        help="query a table's incremental dedup index (TableSpec.index_text_col)",
    )
    p.add_argument("sink_dir")
    p.add_argument("table")
    p.add_argument(
        "--near", action="store_true", help="near-dup candidate pairs (LSH bands)"
    )
    p.add_argument("-n", type=int, default=20)

    p = sub.add_parser(
        "diff-table",
        help="change feed (insert/update/delete) between two generations "
        "of a materialized table (time-travel CDF)",
    )
    p.add_argument("sink_dir")
    p.add_argument("table")
    p.add_argument("--keys", required=True, help="comma-separated key columns")
    p.add_argument("--from-seq", type=int, required=True)
    p.add_argument("--to-seq", type=int, required=True)
    p.add_argument("-n", type=int, default=20)

    p = sub.add_parser(
        "optimize-table",
        help="re-cluster a one-bucket table on sort columns so "
        "file-level min/max stats prune range scans",
    )
    p.add_argument("sink_dir")
    p.add_argument("table")
    p.add_argument("--sort-cols", help="comma-separated sort columns")
    p.add_argument(
        "--zorder", help="two comma-separated columns for Morton clustering"
    )

    p = sub.add_parser(
        "agg-view",
        help="show a table's incrementally-maintained aggregate view",
    )
    p.add_argument("sink_dir")
    p.add_argument("table")
    p.add_argument("-n", type=int, default=20)

    args = ap.parse_args(argv)
    reg = PipelineRegistry(args.registry)

    if args.verb == "setup-pipeline":
        spec = spec_from_json(json.load(open(args.spec_file)))
        reg.save(spec)
        print(f"registered pipeline {spec.name}")
        return 0

    if args.verb == "quickstart":
        spec = spec_from_json(json.load(open(args.spec_file)))
        reg.save(spec)
        pipe = Pipeline(get_session("osci-spark"), spec)
        pipe.process_available()
        pipe.stop()
        print(f"{spec.name}: registered + drained; tables: "
              + ", ".join(pipe.store.list_tables()))
        return 0

    if args.verb == "list-pipelines":
        for name in reg.list_pipelines():
            print(name)
        return 0

    if args.verb == "list-tables":
        for t in TableStore(args.sink_dir).list_tables():
            print(t)
        return 0

    if args.verb == "remove-tables":
        for t in TableStore(args.sink_dir).drop_tables(args.pattern):
            print(f"dropped {t}")
        return 0

    if args.verb == "gc-tombstones":
        spec = reg.get(args.name)
        if spec is None:
            print(f"unknown pipeline: {args.name}", file=sys.stderr)
            return 1
        pipe = Pipeline(get_session("osci-spark"), spec)
        removed = pipe.gc_tombstones(args.min_pos)
        print(json.dumps(removed))
        return 0

    if args.verb == "rebuild-index":
        spec = reg.get(args.name)
        if spec is None:
            print(f"unknown pipeline: {args.name}", file=sys.stderr)
            return 1
        pipe = Pipeline(get_session("osci-spark"), spec)
        snap = pipe.read_table(args.table)
        if snap is None:
            print(f"no such table: {args.table}", file=sys.stderr)
            return 1
        rebuilt = []
        for kind, idxmap in (
            ("dedup", pipe.indexes),
            ("search", pipe.search_indexes),
        ):
            idx = idxmap.get(args.table)
            if idx is not None:
                idx.rebuild(pipe.spark, snap)
                rebuilt.append(kind)
        print(json.dumps({"rebuilt": rebuilt}))
        return 0

    if args.verb == "backfill":
        from one_stop_cdc_ingestion_toolkit_spark.streaming.backfill import (
            SnapshotBackfill,
        )

        spec = reg.get(args.name)
        if spec is None:
            print(f"unknown pipeline: {args.name}", file=sys.stderr)
            return 1
        spark = get_session("osci-spark")
        pipe = Pipeline(spark, spec)
        bf = SnapshotBackfill(
            pipe,
            args.table,
            spark.read.parquet(args.snapshot_parquet),
            args.chunk_col,
            chunk_size=args.chunk_size,
            snapshot_pos=args.snapshot_pos,
        )
        if args.steps is None:
            bf.run()
        else:
            for _ in range(args.steps):
                if bf.step() is None:
                    break
        print(json.dumps(bf.status()))
        return 0

    if args.verb in ("show-dlq", "replay-dlq"):
        spec = reg.get(args.name)
        if spec is None:
            print(f"unknown pipeline: {args.name}", file=sys.stderr)
            return 1
        pipe = Pipeline(get_session("osci-spark"), spec)
        if args.verb == "show-dlq":
            dlq = pipe.read_dlq()
            if dlq is None or dlq.isEmpty():
                print("DLQ empty")
            else:
                dlq.show(args.n, truncate=False)
        else:
            print(json.dumps({"replayed": pipe.replay_dlq()}))
        return 0

    if args.verb in ("start-pipeline", "pipeline-status", "remove-pipeline"):
        spec = reg.get(args.name)
        if spec is None:
            print(f"unknown pipeline: {args.name}", file=sys.stderr)
            return 1
        pipe = Pipeline(get_session("osci-spark"), spec)
        if args.verb == "start-pipeline":
            pipe.start()
            if args.drain:
                pipe.process_available()
                pipe.stop()
                print(f"{spec.name}: drained")
            else:
                print(f"{spec.name}: RUNNING")
                while pipe.query.isActive:  # monitor loop (A16)
                    time.sleep(1)
                # a dead stream must NOT read as a clean shutdown —
                # surface the exception and a nonzero exit so a
                # supervisor restarts it (review r7)
                exc = pipe.query.exception()
                if exc is not None:
                    print(f"{spec.name}: FAILED: {exc}", file=sys.stderr)
                    return 1
                print(f"{spec.name}: stopped")
        elif args.verb == "pipeline-status":
            print(json.dumps(pipe.status(), default=str))
        else:
            pipe.remove(drop_data=args.drop_data)
            reg.remove(args.name)
            print(f"{spec.name}: removed")
        return 0

    if args.verb == "show-table":
        from one_stop_cdc_ingestion_toolkit_spark.operators.cdc import snapshot

        spark = get_session("osci-spark")
        store = TableStore(args.sink_dir)
        if args.as_of is not None:
            df = store.read_as_of(spark, args.table, args.as_of)
        else:
            df = store.read(spark, args.table)
        if df is None:
            print(f"no such table: {args.table}", file=sys.stderr)
            return 1
        if not args.raw and "__deleted" in df.columns:
            # derived tables (join/agg views, indexes) carry no merge
            # metadata — show them as-is
            df = snapshot(df)
        df.show(args.n, truncate=False)
        return 0

    if args.verb == "history":
        recs = TableStore(args.sink_dir).history(args.table)
        if not recs:
            print(f"no history for table: {args.table}", file=sys.stderr)
            return 1
        for r in recs:
            print(json.dumps(r))
        return 0

    if args.verb == "search":
        from one_stop_cdc_ingestion_toolkit_spark.streaming.search_index import (
            SearchIndex,
        )

        spark = get_session("osci-spark")
        sindex = SearchIndex(TableStore(args.sink_dir), args.table)
        if sindex.read(spark) is None:
            print(f"no search index for table: {args.table}", file=sys.stderr)
            return 1
        sindex.bm25(spark, args.terms, args.k).show(args.k, truncate=False)
        return 0

    if args.verb == "duplicates":
        from one_stop_cdc_ingestion_toolkit_spark.streaming.dedup_index import (
            DedupIndex,
        )

        spark = get_session("osci-spark")
        index = DedupIndex(TableStore(args.sink_dir), args.table)
        if index.read(spark) is None:
            print(f"no dedup index for table: {args.table}", file=sys.stderr)
            return 1
        if args.near:
            index.near_duplicate_pairs(spark).orderBy("id_a", "id_b").show(
                args.n, truncate=False
            )
        else:
            index.exact_duplicates(spark).orderBy("fp").show(args.n, truncate=False)
        return 0

    if args.verb == "diff-table":
        from one_stop_cdc_ingestion_toolkit_spark.operators.cdc import (
            META_COLS,
            snapshot,
        )
        from one_stop_cdc_ingestion_toolkit_spark.operators.history import (
            snapshot_diff,
        )

        spark = get_session("osci-spark")
        store = TableStore(args.sink_dir)
        keys = args.keys.split(",")
        sides = []
        for seq in (args.from_seq, args.to_seq):
            df = store.read_as_of(spark, args.table, seq)
            if df is None:
                print(f"no such generation: {args.table}@{seq}", file=sys.stderr)
                return 1
            if "__deleted" in df.columns:
                df = snapshot(df)
            sides.append(df.drop("__bucket"))
        compare = [
            c for c in sides[1].columns
            if c in sides[0].columns and c not in keys and c not in META_COLS
        ]
        diff = snapshot_diff(sides[0], sides[1], keys, compare)
        diff.orderBy(*keys).show(args.n, truncate=False)
        return 0

    if args.verb == "optimize-table":
        from one_stop_cdc_ingestion_toolkit_spark.sinks import optimize_layout

        if not args.sort_cols and not args.zorder:
            print("need --sort-cols or --zorder", file=sys.stderr)
            return 1
        spark = get_session("osci-spark")
        store = TableStore(args.sink_dir)
        bmap = store.bucket_map(args.table)
        if not bmap:
            print(f"no such table: {args.table}", file=sys.stderr)
            return 1
        if len(bmap) > 1:
            print(
                "optimize-table works on one-bucket tables (key-bucketed "
                "tables are clustered by key hash already)",
                file=sys.stderr,
            )
            return 1
        (b, gen), = bmap.items()
        n = optimize_layout(
            spark,
            str(store.bucket_dir(args.table, b, gen)),
            args.sort_cols.split(",") if args.sort_cols else [],
            zorder_pair=tuple(args.zorder.split(",")) if args.zorder else None,
        )
        print(json.dumps({"table": args.table, "files": n}))
        return 0

    if args.verb == "agg-view":
        from pyspark.sql import functions as F

        spark = get_session("osci-spark")
        store = TableStore(args.sink_dir)
        v = store.read(spark, f"{args.table}__aggview")
        if v is None:
            print(f"no aggregate view for table: {args.table}", file=sys.stderr)
            return 1
        for c in v.columns:
            if c.startswith("sum_"):
                v = v.withColumn("avg_" + c[4:], F.col(c) / F.col("n"))
        v.orderBy(v.columns[0]).show(args.n, truncate=False)
        return 0

    if args.verb == "explain":
        # plan-audit escape hatch: the discipline tests/test_plans.py
        # enforces on registered queries, exposed for ad-hoc SQL — check
        # pushdown/broadcast/codegen BEFORE running on the big table.
        from one_stop_cdc_ingestion_toolkit_spark.operators.cdc import snapshot

        spark = get_session("osci-spark")
        store = TableStore(args.sink_dir)
        _register_store_views(spark, store, snapshot)
        spark.sql(args.query).explain("formatted")
        return 0

    if args.verb == "sql":
        from one_stop_cdc_ingestion_toolkit_spark.functions import (
            register_sql_functions,
        )
        from one_stop_cdc_ingestion_toolkit_spark.functions.udtfs import (
            register_udtfs,
        )
        from one_stop_cdc_ingestion_toolkit_spark.operators.cdc import snapshot

        spark = get_session("osci-spark")
        # the full engine function surface is SQL-callable from the verb:
        # scalar SQL UDFs (dot_product, token_count, ...) and table
        # functions (LATERAL text_chunks(...)).
        register_sql_functions(spark)
        register_udtfs(spark)
        store = TableStore(args.sink_dir)
        if args.epoch is not None:
            try:
                views = store.read_epoch(spark, args.epoch)
            except ValueError as exc:  # pruned generation
                print(str(exc), file=sys.stderr)
                return 1
            if views is None:
                print(f"no such epoch: {args.epoch}", file=sys.stderr)
                return 1
            for t, df in views.items():
                if df is None:  # empty bucketed state at that epoch
                    continue
                if "__deleted" in df.columns:
                    df = snapshot(df)
                df.createOrReplaceTempView(t)
        else:
            _register_store_views(spark, store, snapshot)
        spark.sql(args.query).show(100, truncate=False)
        return 0

    if args.verb == "epochs":
        recs = TableStore(args.sink_dir).epochs()
        if not recs:
            print("no epochs logged", file=sys.stderr)
            return 1
        for r in recs:
            print(json.dumps(r))
        return 0

    if args.verb == "capacity":
        from one_stop_cdc_ingestion_toolkit_spark.streaming.monitor import (
            capacity_report,
        )

        recs = capacity_report(args.event_log)
        if not recs:
            print("no progress events in log", file=sys.stderr)
            return 1
        for r in recs:
            print(json.dumps(r))
        return 0

    if args.verb == "freshness":
        from one_stop_cdc_ingestion_toolkit_spark.streaming.monitor import (
            freshness,
        )

        spark = get_session("osci-spark")
        recs = freshness(
            spark,
            TableStore(args.sink_dir),
            tables=args.table,
            now_ms=args.now_ms,
        )
        if not recs:
            print("no materialized tables", file=sys.stderr)
            return 1
        for r in recs:
            print(json.dumps(r))
        return 0

    return 1


if __name__ == "__main__":
    sys.exit(main())
