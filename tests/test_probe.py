"""tools/probe.py end to end in its own process, at sf0.001."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ["q01_scan_count", "q18_rollup"]


def test_probe_reports_checked_queries():
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": SF_DIR, "SPARK_GRAFT_CPUS": "2"}
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "probe.py"), *QUERIES],
                          cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True, proc.stderr[-3000:]
    assert (last["attempted"], last["failed"]) == (2, 0)
    names = {f"{q}.{m}" for q in QUERIES
             for m in ("wall_s", "jobs", "plan_s", "shuffle_bytes", "python_s")}
    assert set(last["metrics"]) == names
    for m in last["metrics"].values():
        assert set(m) == {"value", "unit"} and m["value"] >= 0
    assert last["metrics"]["q18_rollup.jobs"]["value"] >= 1
