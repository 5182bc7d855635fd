"""Regenerate BASELINE.md's measurement table from a bench.py JSON line.

Times each registered oracle SQL in DuckDB (best-of-2, same data dir the
bench ran on) and rewrites the `| query | engine (s) | oracle (s) | ...`
table in place. Keeps everything outside the table untouched.

Usage: python tools/make_baseline.py BENCH_JSON [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from one_stop_cdc_ingestion_toolkit_spark.catalog import TABLES  # noqa: E402

HEADER = "| query | engine (s) | oracle (s) | ratio | notes |"


def time_oracles(sf_dir: str) -> dict[str, float]:
    con = duckdb.connect()
    con.execute(f"SET threads TO 32")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    out: dict[str, float] = {}
    for name, sql in entry_mod.oracle_sql().items():
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            con.execute(sql).fetchall()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    return out


def main() -> None:
    bench = json.load(open(sys.argv[1]))
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    engine = bench["queries"]
    oracle = time_oracles(sf_dir)

    rows = [HEADER, "|---|---|---|---|---|"]
    etot = round(sum(engine.values()), 3)
    otot = round(sum(oracle.get(n, 0.0) for n in engine), 3)
    # the only queries measuring COMPUTE rather than per-query session
    # overhead are those where DuckDB itself needs >= 0.3s
    nt = [(n, engine[n], oracle[n]) for n in engine if oracle.get(n, 0.0) >= 0.3]
    nte = sum(e for _, e, _ in nt)
    nto = sum(o for _, _, o in nt) or float("nan")  # no non-trivial oracles
    rows.append(
        f"| total ({len(engine)} queries) | {etot} | {otot} | "
        f"{etot / otot:.1f}x | local[32] sf{bench['sf']}, AQE off at bench "
        "scale (see bench.py); ~0.5 s/query fixed Spark overhead dominates "
        f"at this tiny scale ({len(engine) - len(nt)} of {len(engine)} "
        "oracles finish under 0.3 s); on the "
        f"{len(nt)} queries where DuckDB itself needs ≥0.3 s — the only "
        "ones measuring compute rather than session overhead — the ratio "
        f"is {nte:.1f} s vs {nto:.1f} s = **{nte / nto:.2f}×**; "
        "run-to-run machine variance is ±25% on totals |"
    )
    for name in sorted(engine):
        e = engine[name]
        o = oracle.get(name)
        if o is None:
            rows.append(f"| {name} | {e} | — | — | rows-only (no oracle) |")
        else:
            ratio = f"{e / o:.1f}x" if o > 0 else "—"
            rows.append(f"| {name} | {e} | {o} | {ratio} |  |")

    text = open("BASELINE.md").read()
    lines = text.split("\n")
    start = next(i for i, l in enumerate(lines) if l.strip() == HEADER)
    end = start
    while end < len(lines) and lines[end].startswith("|"):
        end += 1
    lines[start:end] = rows
    open("BASELINE.md", "w").write("\n".join(lines))
    print(f"rewrote {len(rows) - 2} rows; engine {etot}s vs oracle {otot}s")


if __name__ == "__main__":
    main()
