"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed over a full execute-and-fetch (collect), which is what
the DuckDB oracle side measures too.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from one_stop_cdc_ingestion_toolkit_spark.operators import release_caches  # noqa: E402
from one_stop_cdc_ingestion_toolkit_spark.session import get_session  # noqa: E402
from perfbench.run import host_marker  # noqa: E402
from tools.probe import scale_settings  # noqa: E402


def _host_spread() -> float | None:
    """Host-noise marker: max/min wall time of one fixed loop run at the
    same time on every core this process may use (perfbench/run.py's
    ``host_marker``). This host shows intermittent steal that inflates
    Spark totals up to ±50% between sittings while DuckDB stays flat
    (PARITY.md host-noise note) — reporting the spread alongside the
    timings lets a reader discount a noisy run: ≤1.4 is a clean window,
    ≥2 means the totals are not comparable across runs."""
    try:
        return round(host_marker(len(os.sched_getaffinity(0)))["max_over_min"], 2)
    except Exception as exc:  # noqa: BLE001 — a probe must never kill the bench
        print(f"host_spread probe failed: {type(exc).__name__}: {exc}", file=sys.stderr)
        return None


# Paired mode runs each engine query back-to-back with its DuckDB
# oracle in the SAME process window, making the per-query ratio
# steal-robust — host CPU-steal inflates both sides of the pair alike,
# so the ratio survives windows where absolute totals don't (PARITY.md
# host-noise note; judge ask r6→r7 #2). The oracle connection/view
# setup is the shared definition in oracle.duck_connect.
from one_stop_cdc_ingestion_toolkit_spark.oracle import duck_connect as _oracle_con  # noqa: E402

#: results larger than this are driver-serialization-bound on collect():
#: q24's 150k-row fetch is 75% row pickling (BASELINE.md decomposition),
#: so such queries get a SECOND, compute-only wall via a noop-sink write
#: that materializes every column executor-side with zero driver
#: transfer. (.count() would undermeasure: the optimizer drops window/
#: project operators whose outputs a bare count never reads.)
BIG_RESULT_ROWS = 10_000


def _payload_target(here: str, sf: float, force: bool) -> str:
    """Which file the full payload lands in (overwrite guard, judge ask
    r8→r9 #7). Smoke scales (sf != 0.1) never touch BENCH_LOCAL.json —
    three rounds running, a forgotten sf0.001 run clobbered the
    committed sf0.1 sitting. At sf0.1, refuse to overwrite a
    BENCH_LOCAL.json that byte-matches the committed sitting (the
    driver's per-round run used to leave an accidental working-tree
    diff); pass --force / SPARK_GRAFT_BENCH_FORCE=1 when a new sitting
    is MEANT to replace it. A locally-dirty BENCH_LOCAL.json (mid-
    iteration) keeps being overwritten as before."""
    if abs(sf - 0.1) > 1e-9:
        return "BENCH_SMOKE.json"
    if force:
        return "BENCH_LOCAL.json"
    local = os.path.join(here, "BENCH_LOCAL.json")
    try:
        import subprocess

        committed = subprocess.run(
            ["git", "-C", here, "show", "HEAD:BENCH_LOCAL.json"],
            capture_output=True,
            text=True,
            timeout=10,
        )
        if committed.returncode == 0 and os.path.exists(local):
            with open(local) as fh:
                if fh.read() == committed.stdout:
                    print(
                        "BENCH_LOCAL.json matches the committed sitting; "
                        "writing BENCH_SMOKE.json instead (use --force or "
                        "SPARK_GRAFT_BENCH_FORCE=1 to replace the sitting)",
                        file=sys.stderr,
                    )
                    return "BENCH_SMOKE.json"
    except Exception:  # noqa: BLE001 — the guard must never kill the bench
        pass
    return "BENCH_LOCAL.json"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spread = _host_spread()
    scale_settings(sf_dir)
    spark = get_session("bench")

    queries = entry_mod.queries()
    # Warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session startup.
    try:
        next(iter(queries.values()))(spark, sf_dir).collect()
    except Exception:
        pass

    # Repeats separate plan cost from run-to-run variance (machine load,
    # JIT, GC): per-query time is the MIN across repeats — the standard
    # best-of-n noise floor. r1 flagged q32/q33/q53 at 1.5-2x their own
    # baseline purely from single-shot variance at sub-2s scale; the r4
    # host shows CPU-steal spikes that inflate single runs 3-5x, so the
    # default is min-of-3 (run 1 additionally pays per-plan codegen that
    # runs 2-3 measure without).
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    # Paired mode (default ON): each engine repeat is immediately followed
    # by a DuckDB-oracle repeat of the same query in the same process
    # window, and the reported ratio is min-of-N engine / min-of-N oracle.
    # CPU-steal on this host inflates whole windows, so a pair measured
    # inside one window keeps a meaningful ratio even when spread > 1.4
    # and absolute totals are garbage. SPARK_GRAFT_PAIRED=0 restores the
    # engine-only bench (halves wall time).
    paired = os.environ.get("SPARK_GRAFT_PAIRED", "1") not in ("0", "false")
    oracles = entry_mod.oracle_sql() if paired else {}
    con = None
    if paired:
        try:
            con = _oracle_con(sf_dir)
        except Exception as exc:  # noqa: BLE001 — oracle side must not kill the bench
            print(f"oracle setup failed: {exc}", file=sys.stderr)
            oracles = {}
    timings: dict[str, float] = {}
    oracle_timings: dict[str, float] = {}
    paired_ratio: dict[str, float] = {}
    compute_timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in queries.items():
        best = float("inf")
        obest = float("inf")
        nrows = 0
        sql = oracles.get(name)
        # One failing query must NOT kill the whole bench (round 2 lost
        # all numbers to a single AnalysisException): record the error,
        # keep the JSON line coming.
        try:
            for _ in range(repeats):
                t0 = time.time()
                nrows = len(fn(spark, sf_dir).collect())
                best = min(best, time.time() - t0)
                # operators that persist() self-join intermediates would
                # otherwise accumulate cached partitions across the whole run
                release_caches()
                if sql and con is not None:
                    t0 = time.time()
                    try:
                        con.execute(sql).fetchall()
                        obest = min(obest, time.time() - t0)
                        # long oracle runs (a0054 is ~36 s at sf0.1) are
                        # not noise-sensitive — skip their re-runs so a
                        # full paired sitting fits inside a calm window
                        if obest > 5.0:
                            sql = None
                    except Exception as exc:  # noqa: BLE001
                        errors[f"oracle:{name}"] = f"{type(exc).__name__}: {exc}"[:200]
                        sql = None
            timings[name] = round(best, 3)
            if nrows > BIG_RESULT_ROWS:
                # second, compute-only wall (judge ask r8→r9 #3): the
                # collect wall above stays the contract number; this one
                # separates executor compute from driver row pickling.
                # Own try: a failure in this OPTIONAL measurement must
                # not void the already-measured contract walls above
                # (review r9)
                try:
                    cbest = float("inf")
                    for _ in range(repeats):
                        t0 = time.time()
                        fn(spark, sf_dir).write.format("noop").mode(
                            "overwrite"
                        ).save()
                        cbest = min(cbest, time.time() - t0)
                        release_caches()
                    compute_timings[name] = round(cbest, 3)
                except Exception as exc:  # noqa: BLE001
                    errors[f"compute:{name}"] = (
                        f"{type(exc).__name__}: {exc}"[:200]
                    )
                    release_caches()
            if obest < float("inf"):
                oracle_timings[name] = round(obest, 3)
                paired_ratio[name] = round(best / max(obest, 1e-4), 2)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            release_caches()

    total = round(sum(timings.values()), 3)
    oracle_total = round(sum(oracle_timings.values()), 3)
    # Contract-grade ratio: paired sums over the queries that have BOTH
    # sides, each side min-of-N from interleaved windows.
    paired_total_ratio = (
        round(sum(timings[n] for n in oracle_timings) / max(oracle_total, 1e-4), 3)
        if oracle_timings
        else None
    )
    out = {
        "metric": "declared_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "host_spread": spread,
    }
    if compute_timings:
        out["wall_compute_s"] = compute_timings
    if paired_ratio:
        out["oracle_queries"] = oracle_timings
        out["oracle_total"] = oracle_total
        out["paired_ratio"] = paired_ratio
        out["paired_total_ratio"] = paired_total_ratio
    if errors:
        out["errors"] = errors
    print(json.dumps(out))

    # The driver records only a ~4KB TAIL of stdout; the full 200-query
    # line above is ~7KB so its HEAD (metric/value) was cut off in r3/r4
    # ("parsed": null). Persist the full payload to a repo file, then
    # print a compact, contract-shaped line LAST so the tail always ends
    # with parseable JSON: total + per-family sums + the worst offenders.
    here = os.path.dirname(os.path.abspath(__file__))
    force = "--force" in sys.argv or os.environ.get(
        "SPARK_GRAFT_BENCH_FORCE", ""
    ).lower() in ("1", "true")
    payload_file = _payload_target(here, float(sf), force)
    try:
        with open(os.path.join(here, payload_file), "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass
    fams: dict[str, float] = {}
    for name, sec in timings.items():
        fam = name.split("_", 1)[0][:1]  # a/b/c/d/q prefix family
        fams[f"family_{fam}_sum"] = round(fams.get(f"family_{fam}_sum", 0.0) + sec, 3)
    worst = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:12])
    # engine failures and oracle-side failures are different contracts:
    # a DuckDB dialect error must not read as an engine query failure in
    # the compact line the driver tails (review r7).
    n_engine_errors = sum(
        1 for k in errors if not k.startswith(("oracle:", "compute:"))
    )
    compact = {
        "metric": "declared_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "queries": {**fams, **worst},
        "sf": float(sf),
        "host_spread": spread,
        "n_queries": len(timings),
        "n_errors": n_engine_errors,
        "n_oracle_errors": sum(1 for k in errors if k.startswith("oracle:")),
        "full_payload": payload_file,
    }
    if paired_total_ratio is not None:
        compact["paired_total_ratio"] = paired_total_ratio
        # weak-tail classification runs on the COMPUTE wall where one
        # exists (judge ask r8→r9 #3): a 150k-row result's collect wall
        # is mostly driver row pickling that DuckDB's native fetch never
        # pays, so it mislabeled plan-minimal queries as weak
        effective = {
            n: round(
                compute_timings.get(n, timings[n]) / max(o, 1e-4), 2
            )
            for n, o in oracle_timings.items()
        }
        # named `worst_effective_ratio` (ADVICE r10): the values are
        # compute-wall-substituted, unlike the collect-wall-based
        # `paired_ratio` map in the full payload — the old name
        # `worst_paired_ratio` silently changed metric basis vs rounds
        # ≤8. Emit the collect-based ranking alongside so cross-round
        # comparisons have an explicit, stable basis.
        compact["worst_effective_ratio"] = dict(
            sorted(effective.items(), key=lambda kv: -kv[1])[:8]
        )
        collect_ratios = {
            n: round(timings[n] / max(o, 1e-4), 2)
            for n, o in oracle_timings.items()
        }
        compact["worst_collect_ratio"] = dict(
            sorted(collect_ratios.items(), key=lambda kv: -kv[1])[:8]
        )
    sys.stdout.flush()
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
