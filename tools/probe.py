"""Probe registry queries cold, as bench.py runs them.

Collects each named query once, cold, in this one fresh process (no
warm-up collect), with bench.py's scale-dependent engine settings and one
Spark core per usable CPU unless ``SPARK_GRAFT_CPUS`` says otherwise, over
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1). Each result is
checked against the query's DuckDB oracle SQL with ``oracle.compare``.

Run it from the checkout whose package is measured: the package and
``__spark_entry__`` are imported from the working directory, so a checkout
that predates this script can be probed too (``tools/ab.py --queries``
does this). Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python3 tools/probe.py q18_rollup c87_repetition_ratio

The last stdout line has the shape of perfbench/run.py's result line,
``{"correct", "attempted", "failed", "metrics"}``; per query the metrics
are ``<query>.wall_s`` (build and collect), ``.jobs``, ``.plan_s``
(analysis, optimization and planning), ``.shuffle_bytes`` and
``.python_s`` (Python UDF and Arrow kernel time summed over tasks), the
plan figures from perfbench/tracing.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def scale_settings(sf_dir: str) -> None:
    """bench.py's engine settings for the scale factor in ``sf_dir``'s name.

    At the contract scale (sf <= 0.1, a few MB of shuffle) 8 shuffle
    partitions run about 40% faster than one per core; above it the
    session sizes partitions to the core count, so an 8-vs-32-core scaling
    comparison can tell a parallel plan from a serial one. AQE's
    query-stage re-planning costs ~0.1 s per shuffle stage, which a few-MB
    shuffle never pays back, so it is off unless SPARK_GRAFT_AQE says
    otherwise. Settings already in the environment win.
    """
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.1
    if sf <= 0.1:
        os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    os.environ.setdefault("SPARK_GRAFT_AQE", "false")


def main(names: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.getcwd())
    sys.path.append(os.path.join(ROOT, "perfbench"))
    import __spark_entry__ as entry_mod
    import tracing
    from one_stop_cdc_ingestion_toolkit_spark.operators import release_caches
    from one_stop_cdc_ingestion_toolkit_spark.oracle import compare, duck_connect
    from one_stop_cdc_ingestion_toolkit_spark.session import get_session

    queries = entry_mod.queries()
    unknown = [n for n in names if n not in queries]
    if not names or unknown:
        print(f"name registry queries to probe; unknown: {unknown}", file=sys.stderr)
        return 2
    oracles = entry_mod.oracle_sql()
    scale_settings(sf_dir)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spark = get_session("probe")
    tracer = tracing.Tracer(spark.sparkContext)
    con = duck_connect(sf_dir)
    metrics: dict[str, dict] = {}
    failed = 0
    try:
        for name in names:
            try:
                t = time.perf_counter()
                with tracer.span(name) as sp:
                    df = queries[name](spark, sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                wall = time.perf_counter() - t
                pm = tracing.plan_metrics(df)
                figures = {"wall_s": (wall, "s"), "jobs": (sp.jobs, "count"),
                           "plan_s": (tracing.planning_ms(df) / 1e3, "s"),
                           "shuffle_bytes": (pm["shuffle_bytes"], "bytes"),
                           "python_s": (pm["python_total_ms"] / 1e3, "s")}
                metrics.update({f"{name}.{k}": {"value": v, "unit": u}
                                for k, (v, u) in figures.items()})
                if name in oracles:
                    res = con.execute(oracles[name])
                    problems = compare(df.columns, rows, [d[0] for d in res.description],
                                       res.fetchall())
                else:
                    problems = []
                    print(f"{name}: no oracle SQL, rows not checked", file=sys.stderr)
            except Exception as exc:  # noqa: BLE001 — one failing query is one failure
                problems = [f"{type(exc).__name__}: {exc}"[:400]]
            finally:
                release_caches()
            if problems:
                failed += 1
                print(f"{name}: " + "; ".join(problems), file=sys.stderr)
    finally:
        con.close()
        spark.stop()
    print(json.dumps({"correct": failed == 0, "attempted": len(names), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
