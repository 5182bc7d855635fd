"""Spans around the public calls of each layer, recorded from outside the
package.

``Tracer.install_streaming()`` wraps the layer entry points on their classes
(``Pipeline.apply_batch``, ``TxGate.filter_batch``, the
``BucketedTableStore`` reads and writes, ``SchemaStore.register``); the
query-mix driver opens its own spans around the registry query function
and ``collect``. Every span runs its Spark jobs under a job group of its
own and restores the caller's group on exit, so a job is charged to the
innermost open span; the streaming engine's own group comes back intact
after each wrapped call. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    jobs: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[type, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _count_jobs(self, group: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                tasks += st.numCompletedTasks if st else 0
        return len(job_ids), tasks

    def wrap(self, cls: type, method: str, name: str, after=None) -> None:
        """Replace ``cls.method`` by a spanned call; ``after(span, result)``
        may add attributes once the call returns."""
        orig = cls.__dict__[method]
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, out)
                return out

        setattr(cls, method, spanned)
        self._patched.append((cls, method, orig))

    def uninstall(self) -> None:
        for cls, method, orig in reversed(self._patched):
            setattr(cls, method, orig)
        self._patched.clear()

    def install_streaming(self) -> None:
        from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import Pipeline
        from one_stop_cdc_ingestion_toolkit_spark.streaming.schema_store import (
            SchemaStore,
        )
        from one_stop_cdc_ingestion_toolkit_spark.streaming.table_store import (
            BucketedTableStore,
            TableStore,
        )
        from one_stop_cdc_ingestion_toolkit_spark.streaming.tx_gate import TxGate

        def bytes_written(sp: Span, path) -> None:
            sp.attrs["bytes"] = _du(path)

        self.wrap(Pipeline, "apply_batch", "streaming.pipeline")
        self.wrap(TxGate, "filter_batch", "streaming.tx_gate.filter_batch")
        self.wrap(SchemaStore, "register", "streaming.schema_store.register")
        self.wrap(TableStore, "write", "streaming.table_store.write", bytes_written)
        self.wrap(TableStore, "log_epoch", "streaming.table_store.log_epoch")
        self.wrap(BucketedTableStore, "read", "streaming.table_store.read")
        self.wrap(BucketedTableStore, "read_buckets", "streaming.table_store.read_buckets")
        self.wrap(
            BucketedTableStore,
            "write_buckets",
            "streaming.table_store.write_buckets",
            bytes_written,
        )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> Span:
        tr = self.tracer
        stack = tr._stack()
        sp = Span(next(tr._ids), stack[-1].id if stack else None, self.name, 0.0)
        self.prev_group = tr.sc.getLocalProperty(GROUP_KEY)
        self.group = f"perfbench-span-{sp.id}"
        tr.sc.setLocalProperty(GROUP_KEY, self.group)
        stack.append(sp)
        sp.t0 = time.perf_counter()
        self.span = sp
        return sp

    def __exit__(self, *exc) -> None:
        tr, sp = self.tracer, self.span
        sp.t1 = time.perf_counter()
        tr.sc.setLocalProperty(GROUP_KEY, self.prev_group)
        stack = tr._stack()
        stack.pop()
        if stack:
            stack[-1].children_s += sp.dur
        sp.jobs, sp.tasks = tr._count_jobs(self.group)
        with tr._lock:
            tr.spans.append(sp)


def _du(path) -> int:
    import os

    total = 0
    for root, _, files in os.walk(str(path)):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, ()))
    return out


def plan_metrics(df) -> dict[str, float]:
    """Sum selected SQL metrics over the executed plan of a collected
    DataFrame, descending into adaptive query stages and subqueries."""
    wanted = {
        "shuffleBytesWritten": "shuffle_bytes",
        "pythonTotalTime": "python_total_ms",
    }
    out = {v: 0.0 for v in wanted.values()}
    qe = df._jdf.queryExecution()
    todo = [qe.executedPlan()]
    seen = 0
    while todo and seen < 10_000:
        node = todo.pop()
        seen += 1
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = wanted.get(kv._1())
            if key is None:
                continue
            m = kv._2()
            v = float(m.value())
            if m.metricType() == "nsTiming":
                v /= 1e6
            out[key] += v
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                todo.append(seq.apply(i))
    return out


def planning_ms(df) -> float:
    """Analysis + optimization + planning time from the query's
    QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        total += float(kv._2().durationMs())
    return total
