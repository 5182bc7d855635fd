"""osci-spark benchmark: one workload per fresh process, cold JVM.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_bulk --seed 1 --seconds 15 --trace 0

Workloads: ``cdc_bulk``, ``cdc_trickle``, ``query_mix`` (see README.md).
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run takes the untraced result of the same seed and
source recorded in this checkout (or first runs itself untraced in a
child process), then runs traced and reports the per-layer metrics plus
the tracing overhead (traced minus untraced) of every end-to-end metric.
The line before it is a JSON report with the workload's own named
figures, the host-noise marker and the effective environment; the same
report, and the spans of a traced run, are also written under
``perfbench/.cache/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
PACKAGE = "one_stop_cdc_ingestion_toolkit_spark"

END_TO_END = {
    "setup_s": "s",
    "latency_s": "s",
    "cold_s": "s",
}


def _process_start_wall() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / hz)


T_PROCESS = _process_start_wall()


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


_SPIN = """
import time
t = time.perf_counter()
x = 0
for i in range(2_000_000):
    x = (x * 31 + i) % 1_000_003
print(time.perf_counter() - t)
"""


def _reap(procs) -> None:
    """Kill what is still running of ``procs`` (each the leader of its own
    process group) and wait until every one has ended."""
    for p in procs:
        if p.poll() is None:
            try:
                os.killpg(p.pid, 9)
            except OSError:
                p.kill()
        p.wait()


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state,
    parent pid, ...; index 19 is the start time), or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _descendants(pid: int) -> dict[int, str]:
    """Every live descendant of ``pid`` with its start time, which tells a
    reused pid apart."""
    children: dict[int, list[int]] = {}
    start: dict[int, str] = {}
    for d in os.listdir("/proc"):
        fields = _stat(int(d)) if d.isdigit() else None
        if fields:
            children.setdefault(int(fields[1]), []).append(int(d))
            start[int(d)] = fields[19]
    out: dict[int, str] = {}
    todo = [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out[c] = start[c]
            todo.append(c)
    return out


def _await_gone(procs: dict[int, str], grace_s: float = 15.0) -> None:
    """Wait until every process of ``procs`` has ended (the Spark JVM does
    not wait for its Python workers); kill those left after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        alive = []
        for pid, start in procs.items():
            fields = _stat(pid)
            if fields and fields[19] == start and fields[0] != "Z":
                alive.append(pid)
        if not alive or time.monotonic() > deadline + 5:
            return
        if time.monotonic() > deadline and not killed:
            for pid in alive:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            killed = True
        time.sleep(0.05)


def host_marker(nproc: int, rounds: int = 3) -> dict:
    """Fixed single-threaded loop, run once per core at the same time in
    separate processes, a few rounds in a row: on a quiet host every copy
    takes the same time; steal or contention shows as a slower median and
    a wider max/min. The rounds before a run also bring idle cores up to
    speed."""
    walls: list[float] = []
    for _ in range(rounds):
        procs = []
        try:
            for _ in range(nproc):
                procs.append(subprocess.Popen([sys.executable, "-c", _SPIN], text=True,
                                              stdout=subprocess.PIPE, start_new_session=True))
            walls += [float(p.communicate(timeout=60)[0]) for p in procs]
        finally:
            _reap(procs)
    return {"median_s": statistics.median(walls), "max_over_min": max(walls) / min(walls)}


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _environment(spark, args, nproc: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf()
    keys = ("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.driver.memory", "spark.sql.execution.arrow.pyspark.enabled")
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "source_digest": source_digest(),
        "spark_conf": {k: spark.conf.get(k, None) or conf.get(k) for k in keys},
        "versions": {"spark": pyspark.__version__, "python": sys.version.split()[0],
                     "duckdb": duckdb.__version__, "pyarrow": pyarrow.__version__},
    }


def source_digest() -> str:
    """SHA-256 over the source files of the package, of ``tools/`` (the
    input generators) and of the benchmark: two runs with the same digest
    ran the same code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PACKAGE), os.path.join(ROOT, "tools"), HERE):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if not x.startswith("."))
            for f in sorted(files):
                if f.endswith((".py", ".json")):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def _untraced(args) -> dict:
    """Result line of an untraced run of the same workload, seed and
    seconds on the same source: the one recorded in this checkout, else a
    fresh run in a child process."""
    path = os.path.join(CACHE, "results", f"{args.workload}-seed{args.seed}-trace0.json")
    if os.path.exists(path):
        with open(path) as fh:
            report = json.load(fh)
        env = report["environment"]
        if env["seconds"] == args.seconds and env.get("source_digest") == source_digest():
            return report["result"]
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    # Its own process group, so that its JVM goes with it if it is killed.
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            cwd=ROOT, start_new_session=True)
    try:
        stdout, stderr = proc.communicate(timeout=150)
    finally:
        _reap([proc])
    if proc.returncode != 0:
        sys.stderr.write(stderr[-4000:])
        raise SystemExit(f"untraced run failed with code {proc.returncode}")
    return json.loads(stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A terminated run still stops the JVM and its children on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path[:0] = [HERE, ROOT]
    try:
        import one_stop_cdc_ingestion_toolkit_spark  # noqa: F401
    except ImportError as e:
        print(f"the osci-spark package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    t = time.perf_counter()
    untraced = _untraced(args) if args.trace else None
    nproc = _nproc()
    marker_before = host_marker(nproc)
    not_setup_s = time.perf_counter() - t  # the child run and the marker

    work = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    spark = jvm = None
    try:
        from one_stop_cdc_ingestion_toolkit_spark.session import get_session

        spark = get_session(f"perfbench-{args.workload}")
        jvm = spark.sparkContext._gateway.proc
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark.sparkContext)
            tracer.install_streaming()

        setup_mark: list[float] = []
        ctx = workloads.Ctx(
            spark=spark, seed=args.seed, seconds=args.seconds,
            cache_dir=os.path.join(CACHE, "inputs"), work_dir=work, tracer=tracer,
            setup_done=lambda: setup_mark.append(time.time()),
        )
        out = workloads.WORKLOADS[args.workload](ctx)
        setup_s = setup_mark[0] - T_PROCESS - not_setup_s - sum(ctx.setup_extra)

        peak_mb = (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm.pid)) / 1024
        env = _environment(spark, args, nproc)
        if tracer is not None:
            tracer.uninstall()
    finally:
        started = _descendants(os.getpid())  # the JVM and its Python workers
        try:
            if spark is not None:
                spark.stop()
        finally:
            if jvm is not None:  # the gateway JVM exits when its stdin closes
                jvm.stdin.close()
                try:
                    jvm.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait()
            _await_gone(started)
            shutil.rmtree(work, ignore_errors=True)
    marker_after = host_marker(nproc)

    e2e = {"setup_s": setup_s, **out.e2e}
    report = {
        "workload": args.workload,
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()},
        "named": {
            **out.report,
            "setup_s": {"value": e2e["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
            "setup_excluded_s": {"value": not_setup_s + sum(ctx.setup_extra), "unit": "s"},
            "error_rate": {"value": out.failed / max(1, out.attempted), "unit": "ratio"},
        },
        "problems": out.problems,
        "host_marker": {"before": marker_before, "after": marker_after},
        "environment": env,
    }
    attempted, failed = out.attempted, out.failed
    if untraced is None:
        metrics = report["end_to_end"]
    else:
        layers = {k: 0.0 for k in workloads.STREAM_LAYERS + workloads.QUERY_LAYERS}
        layers.update(out.layers)
        layers["process.peak_rss_mb"] = peak_mb
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layers.items()}
        for k, u in END_TO_END.items():
            metrics[f"trace.overhead.{k}"] = {
                "value": e2e[k] - untraced["metrics"][k]["value"], "unit": u}
        attempted += untraced["attempted"]
        failed += untraced["failed"]
        report["untraced"] = untraced
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    report["result"] = result

    results = os.path.join(CACHE, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    if tracer is not None:
        with open(stem + "-spans.jsonl", "w") as fh:
            for s in tracer.spans:
                fh.write(json.dumps({"id": s.id, "parent": s.parent, "name": s.name,
                                     "t0": s.t0, "t1": s.t1, "self_s": s.self_s,
                                     "jobs": s.jobs, "tasks": s.tasks, **s.attrs}) + "\n")

    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("write_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
