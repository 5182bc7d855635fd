"""The A/B tool's verdict on synthetic result lines (no Spark)."""

from __future__ import annotations

import sys

from tools.ab import _run, batch_medians, verdict

LOWER = [{"name": "latency_s", "better": "lower", "bound": 0.25}]


def runs(values, failed=0, attempted=10):
    return [{"correct": failed == 0, "attempted": attempted, "failed": failed,
             "metrics": {"latency_s": {"value": v, "unit": "s"}}} for v in values]


def judge(base, change, metrics=LOWER, **kw):
    return verdict(runs(base), runs(change, **kw), metrics)["metrics"]["latency_s"]


BASE = [3.0, 3.1, 3.2, 3.3, 3.4, 3.5, 3.6, 3.7, 3.8, 3.9]  # median 3.45, IQR 0.45


def test_ten_wins_and_gap_above_iqr_is_a_gain():
    out = judge(BASE, [v - 0.6 for v in BASE])
    assert out["verdict"] == "gain met"
    assert out["wins"] == 10 and out["pairs"] == 10
    assert abs(out["iqr_base"] - 0.45) < 1e-9
    assert abs(out["median_base"] - 3.45) < 1e-9
    assert abs(out["median_change"] - 2.85) < 1e-9


def test_eight_wins_is_not_a_gain():
    change = [v - 0.6 for v in BASE[:8]] + [v + 0.1 for v in BASE[8:]]
    out = judge(BASE, change)
    assert out["wins"] == 8
    assert out["verdict"] == "within bound"


def test_ties_count_for_neither_side():
    change = [v - 0.6 for v in BASE[:8]] + BASE[8:]
    out = judge(BASE, change)
    assert out["wins"] == 8
    assert out["verdict"] == "within bound"


def test_gap_not_above_iqr_is_not_a_gain():
    out = judge(BASE, [v - 0.4 for v in BASE])
    assert out["wins"] == 10
    assert out["verdict"] == "within bound"


def test_median_worse_beyond_bound_regresses():
    out = judge(BASE, [v * 1.3 for v in BASE])
    assert out["verdict"] == "regressed"
    assert out["wins"] == 0


def test_spread_above_bound_is_unresolved():
    base = [2.0, 2.2, 2.4, 2.6, 3.0, 3.2, 3.6, 3.8, 4.0, 4.2]  # IQR 1.3 > 0.25 * 3.1
    out = judge(base, [v + 0.05 if i % 2 else v - 0.05 for i, v in enumerate(base)])
    assert out["verdict"] == "unresolved"


def test_every_change_run_better_overrides_spread():
    base = [2.0, 2.2, 2.4, 2.6, 3.0, 3.2, 3.6, 3.8, 4.0, 4.2]
    change = [1.85, 1.9, 1.95, 1.99, 1.9, 1.85, 1.95, 1.99, 1.9, 1.85]
    out = judge(base, change)
    assert out["wins"] == 10
    # the gap (1.2) is below the base IQR (1.3): no gain, but resolved
    assert out["verdict"] == "within bound"


def test_higher_failure_share_voids_a_gain():
    result = verdict(runs(BASE), runs([v - 0.6 for v in BASE], failed=1), LOWER)
    assert result["failed_share"] == {"base": 0.0, "change": 0.1}
    assert result["metrics"]["latency_s"]["wins"] == 10
    assert result["metrics"]["latency_s"]["verdict"] != "gain met"


def test_higher_is_better_metric():
    spec = [{"name": "latency_s", "better": "higher", "bound": 0.25}]
    assert judge(BASE, [v + 0.6 for v in BASE], spec)["verdict"] == "gain met"
    assert judge(BASE, [v * 0.7 for v in BASE], spec)["verdict"] == "regressed"


def test_identical_runs_are_neither_gain_nor_regression():
    out = judge(BASE, list(BASE))
    assert out["wins"] == 0
    assert out["verdict"] == "within bound"


def report(cycle):
    return {"workload": "cdc_bulk", "named": {"batch_cycle_s": {"value": cycle, "unit": "s"}}}


def test_batch_medians_per_batch_index():
    reports = [report([12.0, 6.0, 6.5, 3.5]), None, report([14.0, 5.0, 7.5, 3.0]),
               report([13.0, 5.5, 6.0, 4.0, 9.0]), {"named": {}}]
    assert batch_medians(reports) == [13.0, 5.5, 6.5, 3.5, 9.0]
    assert batch_medians([None, {"named": {}}]) is None


def test_run_keeps_the_report_line(tmp_path):
    lines = [{"report": report([10.0, 5.0])}, {"correct": True, "attempted": 1, "failed": 0,
                                                "metrics": {}}]
    script = "import json\n" + "".join(f"print(json.dumps({line!r}))\n" for line in lines)
    result, rep = _run([sys.executable, "-c", script], str(tmp_path), str(tmp_path / "log"), [])
    assert result == lines[1]
    assert batch_medians([rep]) == [10.0, 5.0]
    result, rep = _run([sys.executable, "-c", "print('{}')"], str(tmp_path),
                       str(tmp_path / "log"), [])
    assert result == {} and rep is None
