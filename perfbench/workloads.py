"""The three benchmark workloads.

Each ``run_*`` function takes a :class:`Ctx`, does its set-up, calls
``ctx.setup_done()`` just before its first timed operation, measures, and
checks its outputs. It returns a :class:`Outcome` whose ``e2e`` values are
the benchmark's end-to-end metrics and whose ``report`` carries the
workload's own named figures.
"""

from __future__ import annotations

import json
import os
import queue
import random
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import changelog

HERE = os.path.dirname(os.path.abspath(__file__))

#: Registry queries of ``query_mix`` by layer class.
QUERY_CLASSES = {
    "relational": ["q18_rollup"],
    "pairs": ["q44_ngram_jaccard_dups"],
    "iterative": ["a141_cluster_retention"],
    "python_kernels": ["c87_repetition_ratio"],
    "big_fetch": ["b71_range_frame"],
}

#: cdc_bulk: an ``r`` snapshot in file 0, then churn files; one
#: micro-batch per file.
BULK_SNAPSHOT = 10_000
BULK_EVENTS_PER_FILE = 12_000
BULK_CHURN_FILES = 3

#: cdc_trickle: state preloaded from file 0, then one file of
#: TRICKLE_EVENTS_PER_FILE events every TRICKLE_PERIOD_S seconds.
TRICKLE_PRELOAD = 20_000
TRICKLE_EVENTS_PER_FILE = 1_000
TRICKLE_PERIOD_S = 4.0
READBACK_KEYS = 50

#: query_mix: repeat passes after the cold first pass, a fixed count so
#: that every host measures the same thing.
REPEAT_PASSES = 1
KEEP_INPUT_SETS = 8

_STORE_CALLS = ("write", "write_buckets", "read", "read_buckets", "log_epoch")
_ENGINE_PHASES = {"latestOffset": "latest_offset", "getBatch": "get_batch",
                  "walCommit": "wal_commit", "commitOffsets": "commit_offsets",
                  "addBatch": "add_batch", "triggerExecution": "trigger"}

#: Per-layer metrics of a traced run. A layer a workload does not run
#: reports 0.
STREAM_LAYERS = (
    ["streaming.pipeline.self_s", "streaming.pipeline.jobs",
     "streaming.tx_gate.filter_batch_s", "streaming.tx_gate.filter_batch_jobs"]
    + [f"streaming.table_store.{c}_{m}" for c in _STORE_CALLS for m in ("s", "jobs")]
    + ["streaming.table_store.write_amp", "streaming.schema_store.register_s"]
    + [f"streaming.engine.{m}_ms" for m in _ENGINE_PHASES.values()]
    + ["spark.jobs_per_batch", "spark.tasks_per_batch"]
)
QUERY_LAYERS = (
    [f"operators.{c}.{m}" for c in QUERY_CLASSES
     for m in ("build_s", "plan_s", "collect_s", "jobs", "shuffle_bytes")]
    + ["operators.python_kernels.python_s", "operators.big_fetch.fetch_s"]
)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: int
    cache_dir: str
    work_dir: str
    tracer: object | None
    setup_done: object  # callable()
    setup_extra: list = field(default_factory=list)  # seconds to subtract


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def _untimed(ctx: Ctx, fn):
    """Run the benchmark's own input preparation; its time is excluded
    from setup_s (it is not work the system under test does)."""
    t = time.perf_counter()
    out = fn()
    ctx.setup_extra.append(time.perf_counter() - t)
    return out


# --------------------------------------------------------------------- CDC


def _schemas():
    from pyspark.sql import types as T

    acct = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("balance", T.LongType(), True),
        ]
    )
    ev = T.StructType(
        [
            T.StructField("ev_id", T.IntegerType(), False),
            T.StructField("kind", T.StringType(), True),
            T.StructField("amount", T.LongType(), True),
        ]
    )
    return acct, ev


def _batch_files(checkpoint_dir: str, batch_id: int) -> list[str]:
    """Input files of one micro-batch, from the file source's metadata
    log in the checkpoint (written before the batch runs; every tenth
    batch is compacted into ``<id>.compact`` holding all entries)."""
    log = os.path.join(checkpoint_dir, "sources", "0")
    path = os.path.join(log, str(batch_id))
    if not os.path.exists(path):
        path += ".compact"
    with open(path) as fh:
        entries = [json.loads(line) for line in fh.read().splitlines()[1:] if line]
    return [os.path.basename(e["path"]) for e in entries if e["batchId"] == batch_id]


class _Commits:
    """Records, per applied micro-batch, its input files and the wall
    clock at which ``apply_batch`` returned (the batch's tables are
    visible from then on)."""

    def __init__(self):
        self.q: queue.Queue = queue.Queue()
        self.log: list[tuple[int, list[str], float, float]] = []

    def pipeline_class(self):
        from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import Pipeline

        commits = self

        class TimedPipeline(Pipeline):
            def apply_batch(self, raw, batch_id=None):
                files = _batch_files(self.spec.checkpoint_dir, batch_id)
                t0 = time.time()
                super().apply_batch(raw, batch_id)
                rec = (batch_id, files, t0, time.time())
                commits.log.append(rec)
                commits.q.put(rec)

        return TimedPipeline


def _build_pipeline(ctx: Ctx, commits: _Commits):
    from one_stop_cdc_ingestion_toolkit_spark.registry import PipelineRegistry
    from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
        PipelineSpec,
        TableSpec,
    )

    acct, ev = _schemas()
    spec = PipelineSpec(
        name="bench",
        source_dir=os.path.join(ctx.work_dir, "stream"),
        tables=[
            TableSpec("accounts", ["id"], acct),
            TableSpec("events_tbl", ["ev_id"], ev, n_buckets=changelog.N_BUCKETS),
        ],
        sink_dir=os.path.join(ctx.work_dir, "lake"),
        checkpoint_dir=os.path.join(ctx.work_dir, "ckpt"),
        max_files_per_trigger=1,
        options={"tx_atomic": True},
    )
    os.makedirs(spec.source_dir, exist_ok=True)
    registry = PipelineRegistry(os.path.join(ctx.work_dir, "registry.json"))
    registry.save(spec)
    return commits.pipeline_class()(ctx.spark, registry.get("bench"))


def _place(src: str, stream_dir: str, mtime: float | None = None) -> None:
    """Copy one changelog file into the source directory under a hidden
    name, then rename it so the file source never sees a partial file."""
    name = os.path.basename(src)
    tmp = os.path.join(stream_dir, "." + name + ".tmp")
    shutil.copyfile(src, tmp)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, os.path.join(stream_dir, name))


def _check_tables(out: Outcome, pipe, oracle: changelog.Oracle) -> None:
    from pyspark.sql import functions as F

    cols = {"accounts": ("id", ("name", "balance", "note")),
            "events_tbl": ("ev_id", ("kind", "amount"))}
    for table, (key, vals) in cols.items():
        df = pipe.read_table(table)
        got = {} if df is None else {
            r[key]: tuple(r[c] for c in vals) for r in df.select(key, *vals).collect()
        }
        want = oracle.live(table)
        out.check(got == want, f"{table}: {len(got)} rows differ from oracle's {len(want)}")
        state = pipe.store.read(pipe.spark, table)
        dead = 0 if state is None else state.filter(F.col("__deleted")).count()
        out.check(dead == oracle.tombstones(table),
                  f"{table}: {dead} tombstones, oracle {oracle.tombstones(table)}")
    dlq = pipe.read_dlq()
    n_dlq = 0 if dlq is None else dlq.count()
    out.check(n_dlq == 0, f"DLQ holds {n_dlq} rows")
    open_tx = pipe.status(count_dlq=False)["open_transactions"]
    out.check(open_tx == oracle.open_transactions(), f"{open_tx} transactions left open")


def _batch_ok(out: Outcome, pipe) -> None:
    """A failed micro-batch stops the query with an exception."""
    exc = pipe.query.exception() if pipe.query is not None else None
    out.check(exc is None, f"streaming query failed: {exc}")


def _stream_layers(ctx: Ctx, pipe, changelog_bytes: int, batch_ids: set) -> dict:
    """Per-micro-batch means of the traced layers over the timed batches."""
    import tracing

    spans = ctx.tracer.spans
    roots = [s for s in spans if s.name == "streaming.pipeline" and s.parent is None]
    # the timed batches are the last len(batch_ids) roots
    roots = roots[-len(batch_ids):] if batch_ids else []
    n = max(1, len(roots))
    lay: dict[str, float] = {}
    inner = {s.id for r in roots for s in tracing.subtree(spans, r)}
    mine = [s for s in spans if s.id in inner]
    lay["streaming.pipeline.self_s"] = sum(r.self_s for r in roots) / n
    lay["streaming.pipeline.jobs"] = sum(r.jobs for r in roots) / n
    calls = ["streaming.tx_gate.filter_batch", "streaming.schema_store.register"]
    calls += [f"streaming.table_store.{c}" for c in _STORE_CALLS]
    for name in calls:
        ss = [s for s in mine if s.name == name]
        lay[f"{name}_s"] = sum(s.self_s for s in ss) / n
        lay[f"{name}_jobs"] = sum(s.jobs for s in ss) / n
    written = sum(s.attrs.get("bytes", 0) for s in mine)
    lay["streaming.table_store.write_amp"] = written / max(1, changelog_bytes)
    lay["spark.jobs_per_batch"] = sum(s.jobs for s in mine) / n
    lay["spark.tasks_per_batch"] = sum(s.tasks for s in mine) / n

    progs = [p for p in pipe.query.recentProgress if p.batchId in batch_ids]
    for key, metric in _ENGINE_PHASES.items():
        vals = [p.durationMs.get(key, 0) for p in progs]
        lay[f"streaming.engine.{metric}_ms"] = sum(vals) / max(1, len(vals))
    return {k: v for k, v in lay.items() if k in STREAM_LAYERS}


def _inputs(ctx: Ctx, name: str, n_files: int, make) -> list[str]:
    """Cached changelog for this workload, seed and size; only the
    KEEP_INPUT_SETS most recently used sets are kept."""
    paths = _untimed(ctx, lambda: changelog.cached(os.path.join(ctx.cache_dir, name),
                                                   n_files, make))
    os.utime(os.path.join(ctx.cache_dir, name, "_DONE"))
    sets = sorted(
        (os.path.getmtime(os.path.join(ctx.cache_dir, d, "_DONE")), d)
        for d in os.listdir(ctx.cache_dir)
        if d.startswith("cdc_") and os.path.exists(os.path.join(ctx.cache_dir, d, "_DONE"))
    )
    for _, d in sets[:-KEEP_INPUT_SETS]:
        shutil.rmtree(os.path.join(ctx.cache_dir, d), ignore_errors=True)
    return paths


def run_cdc_bulk(ctx: Ctx) -> Outcome:
    out = Outcome()
    paths = _inputs(
        ctx, f"cdc_bulk-s{ctx.seed}-{BULK_SNAPSHOT}-{BULK_CHURN_FILES}x{BULK_EVENTS_PER_FILE}",
        BULK_CHURN_FILES + 1, lambda: changelog.generate(
            ctx.seed, BULK_SNAPSHOT, BULK_CHURN_FILES, BULK_EVENTS_PER_FILE))
    commits = _Commits()
    pipe = _build_pipeline(ctx, commits)
    base = time.time() - 3600
    for i, p in enumerate(paths):  # strictly increasing mtimes: file order
        _place(p, pipe.spec.source_dir, base + i)

    ctx.setup_done()
    t0 = time.time()
    pipe.process_available()
    t1 = time.time()

    _batch_ok(out, pipe)
    cycle = []
    prev = t0
    for _, _, _, end in commits.log:
        cycle.append(end - prev)
        prev = end
    oracle = changelog.Oracle()
    for p in paths:
        oracle.replay(p)
    applied = [f for _, files, _, _ in commits.log for f in files]
    out.check(applied == [os.path.basename(p) for p in paths],
              f"batches applied files {applied}")
    _check_tables(out, pipe, oracle)
    out.e2e = {
        "latency_s": statistics.median(cycle[1:]),
        "cold_s": cycle[0],
    }
    out.report = {
        "ingest_events_per_s": {"value": oracle.events / (t1 - t0), "unit": "1/s"},
        "drain_s": {"value": t1 - t0, "unit": "s"},
        "events": {"value": oracle.events, "unit": "count"},
        "batches": {"value": len(commits.log), "unit": "count"},
        "batch_cycle_s": {"value": cycle, "unit": "s"},
    }
    if ctx.tracer is not None:
        ids = {b for b, _, _, _ in commits.log}
        out.layers = _stream_layers(ctx, pipe, oracle.bytes, ids)
    pipe.stop()
    return out


def run_cdc_trickle(ctx: Ctx) -> Outcome:
    out = Outcome()
    n_files = max(4, round(ctx.seconds / TRICKLE_PERIOD_S))
    paths = _inputs(
        ctx, f"cdc_trickle-s{ctx.seed}-{TRICKLE_PRELOAD}-{n_files}x{TRICKLE_EVENTS_PER_FILE}",
        n_files + 1, lambda: changelog.generate(
            ctx.seed, TRICKLE_PRELOAD, n_files, TRICKLE_EVENTS_PER_FILE))

    def plan_readback():
        """Keys whose last change in the run is in file k: read back after
        file k commits, they must already show their final value."""
        oracle = changelog.Oracle()
        last_file: dict = {}
        for k, p in enumerate(paths):
            for tk in oracle.replay(p):
                last_file[tk] = k
        readback: dict[int, dict[str, list]] = {}
        for (table, key), k in last_file.items():
            if k > 0 and key < 10_000_000:  # transaction rows are held a file
                readback.setdefault(k, {}).setdefault(table, []).append(key)
        rng = random.Random(ctx.seed)
        for per in readback.values():
            for table, keys in per.items():
                keys.sort()
                per[table] = rng.sample(keys, min(READBACK_KEYS, len(keys)))
        return oracle, readback

    oracle, readback = _untimed(ctx, plan_readback)
    live = {t: oracle.live(t) for t in ("accounts", "events_tbl")}

    commits = _Commits()
    pipe = _build_pipeline(ctx, commits)
    stream = pipe.spec.source_dir
    _place(paths[0], stream)
    pipe.process_available()  # preload: the snapshot file, one batch
    preload_batches = len(commits.log)
    while not commits.q.empty():
        commits.q.get_nowait()

    ctx.setup_done()
    t0 = time.time() + 0.05
    due = {os.path.basename(p): t0 + (k - 1) * TRICKLE_PERIOD_S
           for k, p in enumerate(paths) if k > 0}
    late: list[float] = []

    def generator():
        for p in paths[1:]:
            name = os.path.basename(p)
            wait = due[name] - time.time()
            if wait > 0:
                time.sleep(wait)
            _place(p, stream)
            late.append(time.time() - due[name])

    gen = threading.Thread(target=generator, name="perfbench-generator", daemon=True)
    gen.start()

    from pyspark.sql import functions as F

    visible: dict[str, float] = {}
    readback_s: list[float] = []
    deadline = t0 + ctx.seconds + 90
    index = {os.path.basename(p): k for k, p in enumerate(paths)}
    while len(visible) < n_files and time.time() < deadline:
        try:
            _, files, _, end = commits.q.get(timeout=1.0)
        except queue.Empty:
            if pipe.query.exception() is not None:
                break
            continue
        for f in files:
            visible[f] = end
            k = index[f]
            t = time.perf_counter()
            for table, keys in readback.get(k, {}).items():
                key_col = "id" if table == "accounts" else "ev_id"
                vals = ("name", "balance", "note") if table == "accounts" else ("kind", "amount")
                df = pipe.read_table(table)
                rows = df.filter(F.col(key_col).isin(keys)).collect()
                got = {r[key_col]: tuple(r[c] for c in vals) for r in rows}
                want = {x: live[table][x] for x in keys if x in live[table]}
                out.check(got == want, f"read-back of {table} after {f} differs")
            readback_s.append(time.perf_counter() - t)
    gen.join(timeout=ctx.seconds + 60)

    _batch_ok(out, pipe)
    out.check(len(visible) == n_files, f"{len(visible)}/{n_files} files became visible")
    lat = sorted(visible[n] - due[n] for n in visible)
    _check_tables(out, pipe, oracle)
    tail_at = len(lat) - 11
    tail_pct = 100.0 * (tail_at + 1) / len(lat) if tail_at >= 0 else 100.0
    out.e2e = {
        "latency_s": statistics.median(lat),
        "cold_s": visible[os.path.basename(paths[1])] - due[os.path.basename(paths[1])],
    }
    out.report = {
        "visible_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "visible_tail_s": {"value": lat[max(tail_at, 0)] if tail_at >= 0 else lat[-1],
                           "unit": "s", "percentile": tail_pct,
                           "samples": len(lat)},
        "visible_s": {"value": lat, "unit": "s"},
        "readback_p50_s": {"value": statistics.median(readback_s) if readback_s else 0.0,
                           "unit": "s"},
        "generator_late_max_s": {"value": max(late) if late else 0.0, "unit": "s"},
        "period_s": {"value": TRICKLE_PERIOD_S, "unit": "s"},
        "preload_keys": {"value": TRICKLE_PRELOAD, "unit": "count"},
    }
    if ctx.tracer is not None:
        ids = {b for b, _, _, _ in commits.log[preload_batches:]}
        timed_bytes = sum(os.path.getsize(p) for p in paths[1:])
        out.layers = _stream_layers(ctx, pipe, timed_bytes, ids)
        out.layers["cdc_trickle.generator_late_s"] = max(late) if late else 0.0
    pipe.stop()
    return out


# --------------------------------------------------------------- query mix


def ensure_sf01(cache_dir: str) -> str:
    """The repository's seeded sf0.1 tables (``tools/gen_sf.py``, seed 42),
    generated once; ``expected_sf01.json`` was computed over them."""
    import contextlib
    import sys

    from tools.gen_sf import generate

    sf_dir = os.path.join(cache_dir, "sf0.1")
    if not os.path.exists(os.path.join(sf_dir, "_DONE")):
        shutil.rmtree(sf_dir, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):
            generate(sf_dir, 0.1, 42)
        open(os.path.join(sf_dir, "_DONE"), "w").close()
    return sf_dir


def run_query_mix(ctx: Ctx) -> Outcome:
    from one_stop_cdc_ingestion_toolkit_spark.operators import load_all, release_caches
    from one_stop_cdc_ingestion_toolkit_spark.oracle import table_hash

    out = Outcome()
    sf_dir = _untimed(ctx, lambda: ensure_sf01(ctx.cache_dir))
    with open(os.path.join(HERE, "expected_sf01.json")) as fh:
        expected = json.load(fh)
    registry = load_all()
    klass = {q: c for c, qs in QUERY_CLASSES.items() for q in qs}
    names = sorted(klass)
    missing = [q for q in names if q not in registry]
    if missing:
        raise SystemExit(f"registry lacks queries {missing}")

    # generic engine warm-up, touching none of the queries
    (ctx.spark.range(200_000).selectExpr("id % 97 AS k", "id * 2 AS v")
     .groupBy("k").sum("v").collect())
    tr = ctx.tracer
    times: dict[str, list[float]] = {q: [] for q in names}
    lay: dict[str, dict[str, list[float]]] = {}
    gc_s: list[float] = []

    def one(q: str, first: bool) -> None:
        spec = registry[q]
        c = klass[q]
        # Start each query from a collected heap, so the previous query's
        # garbage is not collected on this one's clock.
        t = time.perf_counter()
        ctx.spark.sparkContext._jvm.System.gc()
        gc_s.append(time.perf_counter() - t)
        if tr is None:
            t = time.perf_counter()
            df = spec.fn(ctx.spark, sf_dir)
            rows = df.collect()
            times[q].append(time.perf_counter() - t)
        else:
            import tracing

            t = time.perf_counter()
            with tr.span(f"operators.{c}.build") as b:
                df = spec.fn(ctx.spark, sf_dir)
            with tr.span(f"operators.{c}.collect") as k:
                rows = df.collect()
            times[q].append(time.perf_counter() - t)
            rec = lay.setdefault(q, {})
            if first:
                rec["build_s"] = [b.dur]
                rec["plan_s"] = [tracing.planning_ms(df) / 1e3]
            else:
                pm = tracing.plan_metrics(df)
                rec.setdefault("collect_s", []).append(k.dur)
                rec.setdefault("jobs", []).append(b.jobs + k.jobs)
                rec.setdefault("shuffle_bytes", []).append(pm["shuffle_bytes"])
                rec.setdefault("python_s", []).append(pm["python_total_ms"] / 1e3)
                if c == "big_fetch":
                    t = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    rec.setdefault("fetch_s", []).append(k.dur - (time.perf_counter() - t))
        release_caches()
        exp = expected[q]
        got = {"rows": len(rows), "hash": table_hash(df.columns, rows),
               "columns": sorted(df.columns)}
        out.check(got == exp, f"{q}: {got} != expected {exp}")

    ctx.setup_done()
    # Every pass runs the queries in one fixed order: a query's time depends
    # on what ran before it in the same JVM. The inputs are the fixed sf0.1
    # tables, so the seed changes nothing in this workload.
    for q in names:
        one(q, True)
    for _ in range(REPEAT_PASSES):
        for q in names:
            one(q, False)

    first = {q: ts[0] for q, ts in times.items()}
    warm_med = {q: statistics.median(ts[1:]) for q, ts in times.items()}
    out.e2e = {
        "latency_s": sum(warm_med.values()),
        "cold_s": sum(first.values()),
    }
    out.report = {
        "query_total_s": {"value": sum(warm_med.values()), "unit": "s"},
        "query_first_s": {"value": sum(first.values()), "unit": "s"},
        "repeat_passes": {"value": REPEAT_PASSES, "unit": "count"},
        "gc_s": {"value": sum(gc_s), "unit": "s"},
        "per_query_first_s": {"value": first, "unit": "s"},
        "per_query_median_s": {"value": warm_med, "unit": "s"},
        "per_query_repeats_s": {"value": {q: ts[1:] for q, ts in times.items()}, "unit": "s"},
    }
    if tr is not None:
        for c, qs in QUERY_CLASSES.items():
            for m in ("build_s", "plan_s", "collect_s", "jobs", "shuffle_bytes"):
                out.layers[f"operators.{c}.{m}"] = sum(
                    statistics.median(lay[q][m]) for q in qs)
        out.layers["operators.python_kernels.python_s"] = sum(
            statistics.median(lay[q]["python_s"]) for q in QUERY_CLASSES["python_kernels"])
        out.layers["operators.big_fetch.fetch_s"] = sum(
            statistics.median(lay[q]["fetch_s"]) for q in QUERY_CLASSES["big_fetch"])
    return out


WORKLOADS = {
    "cdc_bulk": run_cdc_bulk,
    "cdc_trickle": run_cdc_trickle,
    "query_mix": run_query_mix,
}
