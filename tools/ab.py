"""A/B two commits on the benchmark and print the verdict of the acceptance
rule.

Usage (from a checkout of this repository):

    python3 tools/ab.py --base REV [--change REV] [--workload NAME ...]
    python3 tools/ab.py --base REV [--change REV] --queries q18_rollup,c87_repetition_ratio

Each side is checked out with ``git worktree`` under /tmp; without
``--change`` the change side is this checkout's working tree, uncommitted
edits included. The command, workloads, ``run_seconds`` and end-to-end
metrics (name, ``better``, ``bound``) are read from this checkout's
BENCHMARK.json. Every workload gets exactly ten pairs of runs, seed 9001
(held out) first, then seeds 1-9; the side that runs first alternates, and
every run is a fresh process in its own side's checkout. Each run's result
line is printed as it finishes, then one summary line with the verdict per
workload and metric (see :func:`verdict`). When a run's report line (the
line before its result line) carries the per-micro-batch walls
``named.batch_cycle_s``, its printed line carries them too, and the summary
gives their per-batch-index medians for each side (see
:func:`batch_medians`), so an A/B shows which micro-batch moved.

``--queries`` runs this checkout's ``tools/probe.py`` on the named registry
queries in each side's checkout instead of the benchmark command
(``SPARK_GRAFT_SF_DIR`` sets the scale); every metric it reports is judged
lower-is-better against the smallest end-to-end bound of BENCHMARK.json.

Worktrees are removed and every process a run started is ended on every
exit, Ctrl-C included.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEEDS = [9001, *range(1, 10)]
RUN_TIMEOUT_S = 1200


def verdict(base: list[dict], change: list[dict], metrics: list[dict]) -> dict:
    """Judge paired result lines; ``base[i]`` and ``change[i]`` ran as pair i.

    Per metric (``{"name", "better", "bound"}``; a bound is relative to the
    base median) the change wins a pair when it reads strictly better; ties
    count for neither side. Verdicts:

    - ``regressed``: the change's median is worse by more than the bound;
    - ``gain met``: the change wins at least nine tenths of the pairs, its
      median is better by more than the base runs' interquartile range,
      and no larger share of operations failed than at the base;
    - ``unresolved``: the base runs' IQR is above the bound (relative to
      their median), unless every change run reads better than every base
      run;
    - ``within bound`` otherwise.
    """

    def failed_share(runs: list[dict]) -> float:
        return sum(r["failed"] for r in runs) / max(1, sum(r["attempted"] for r in runs))

    shares = {"base": failed_share(base), "change": failed_share(change)}
    out: dict = {"failed_share": shares, "metrics": {}}
    for spec in metrics:
        name, bound = spec["name"], spec["bound"]
        sign = 1 if spec["better"] == "lower" else -1  # sign * value: lower is better
        pairs = [(sign * b["metrics"][name]["value"], sign * c["metrics"][name]["value"])
                 for b, c in zip(base, change) if name in b["metrics"] and name in c["metrics"]]
        if not pairs:
            out["metrics"][name] = {"verdict": "missing", "pairs": 0}
            continue
        bs, cs = [b for b, _ in pairs], [c for _, c in pairs]
        wins = sum(c < b for b, c in pairs)
        med_b, med_c = statistics.median(bs), statistics.median(cs)
        q1, _, q3 = statistics.quantiles(bs, n=4, method="inclusive") if len(bs) > 1 else bs * 3
        iqr, gap, scale = q3 - q1, med_b - med_c, abs(med_b)
        if -gap > bound * scale:
            v = "regressed"
        elif 10 * wins >= 9 * len(pairs) and gap > iqr and shares["change"] <= shares["base"]:
            v = "gain met"
        elif iqr > bound * scale and not max(cs) < min(bs):
            v = "unresolved"
        else:
            v = "within bound"
        out["metrics"][name] = {"verdict": v, "median_base": sign * med_b,
                                "median_change": sign * med_c, "wins": wins,
                                "pairs": len(pairs), "iqr_base": iqr}
    return out


def batch_medians(reports: list[dict | None]) -> list[float] | None:
    """Per-batch-index medians of ``named.batch_cycle_s`` over the reports
    that carry it (a run may have fewer batches than another); None when
    none does."""
    cycles = [r["named"]["batch_cycle_s"]["value"] for r in reports
              if r and "batch_cycle_s" in r.get("named", {})]
    if not cycles:
        return None
    return [statistics.median(c[i] for c in cycles if i < len(c))
            for i in range(max(map(len, cycles)))]


def _session(sid: int) -> list[int]:
    """Live processes of session ``sid``."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(d))
    return pids


def _end(proc: subprocess.Popen) -> None:
    """End a run and every process of its session: SIGTERM first (the
    benchmark then stops Spark and waits for what it started), SIGKILL for
    whatever is left after a grace period."""
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=90)
        except subprocess.TimeoutExpired:
            pass
    for grace in (15, 10):
        deadline = time.monotonic() + grace
        while _session(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in _session(proc.pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    proc.wait()


def _run(cmd: list[str], cwd: str, log: str, live: list) -> tuple[dict, dict | None]:
    """One run in a session of its own: its result (the last stdout line,
    or a failed operation if it printed none) and its report (the
    ``report`` of the line before, if any)."""
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        live.append(proc)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            out = ""
        _end(proc)
        live.remove(proc)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        with open(log) as fh:
            sys.stderr.write(f"run failed (exit {proc.returncode}): {cmd}\n{fh.read()[-3000:]}")
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}, None
    try:
        report = json.loads(lines[-2])["report"]
    except (IndexError, ValueError, KeyError, TypeError):
        report = None
    return result, report


def _git(*args: str) -> str:
    return subprocess.run(["git", "-C", ROOT, *args], check=True, capture_output=True,
                          text=True).stdout.strip()


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="revision of the base side")
    ap.add_argument("--change", help="revision of the change side (default: working tree)")
    ap.add_argument("--workload", action="append", choices=names,
                    help="workload to run (repeatable; default: all)")
    ap.add_argument("--queries", help="comma-separated registry queries to probe instead")
    args = ap.parse_args(argv)
    revs = {"base": _git("rev-parse", "--verify", f"{args.base}^{{commit}}"),
            "change": args.change and _git("rev-parse", "--verify", f"{args.change}^{{commit}}")}
    if args.queries:
        probe = [sys.executable, os.path.join(ROOT, "tools", "probe.py"),
                 *args.queries.split(",")]
        jobs = {"probe": lambda seed: probe}
    else:
        jobs = {w: lambda seed, w=w: [*bench["command"], "--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"])]
                for w in args.workload or names}

    signal.signal(signal.SIGINT, signal.default_int_handler)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix="osci-ab-", dir="/tmp")
    checkouts, live = {}, []
    try:
        for side, rev in revs.items():
            checkouts[side] = ROOT if rev is None else os.path.join(tmp, side)
            if rev is not None:
                _git("worktree", "add", "--detach", checkouts[side], rev)
        summary = {"base": revs["base"], "change": revs["change"] or "working tree",
                   "workloads": {}}
        for w, command in jobs.items():
            results: dict[str, list[dict]] = {"base": [], "change": []}
            reports: dict[str, list[dict | None]] = {"base": [], "change": []}
            for i, seed in enumerate(SEEDS):
                for side in ("base", "change") if i % 2 == 0 else ("change", "base"):
                    log = os.path.join(tmp, f"{w}-{i}-{side}.log")
                    res, report = _run(command(seed), checkouts[side], log, live)
                    results[side].append(res)
                    reports[side].append(report)
                    line = {"workload": w, "pair": i, "seed": seed, "side": side,
                            "result": res}
                    cycle = batch_medians([report])
                    if cycle is not None:
                        line["batch_cycle_s"] = cycle
                    print(json.dumps(line), flush=True)
            if args.queries:
                seen = {m for r in results["base"] + results["change"] for m in r["metrics"]}
                bound = min(m["bound"] for m in bench["end_to_end"])
                specs = [{"name": m, "better": "lower", "bound": bound} for m in sorted(seen)]
            else:
                specs = bench["end_to_end"]
            summary["workloads"][w] = verdict(results["base"], results["change"], specs)
            medians = {side: batch_medians(reports[side]) for side in reports}
            if any(m is not None for m in medians.values()):
                summary["workloads"][w]["batch_cycle_s_median"] = medians
        print(json.dumps(summary), flush=True)
        return 0
    except KeyboardInterrupt:
        print("interrupted", file=sys.stderr)
        return 130
    finally:
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        for proc in list(live):
            _end(proc)
        for path in checkouts.values():
            if path != ROOT:
                subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", path],
                               capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "-C", ROOT, "worktree", "prune"], capture_output=True)


if __name__ == "__main__":
    sys.exit(main())
