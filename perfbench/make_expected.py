"""Recompute ``expected_sf01.json``: row count, sorted column names and
order-insensitive hash of every ``query_mix`` query, from the DuckDB
oracle SQL over the sf0.1 tables the workload generates.

Usage: python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import workloads  # noqa: E402


def main() -> int:
    from one_stop_cdc_ingestion_toolkit_spark.operators import load_all
    from one_stop_cdc_ingestion_toolkit_spark.oracle import duck_connect, table_hash

    registry = load_all()
    con = duck_connect(workloads.ensure_sf01(os.path.join(HERE, ".cache", "inputs")))
    out = {}
    for qs in workloads.QUERY_CLASSES.values():
        for q in qs:
            sql = registry[q].oracle
            if sql is None:
                print(f"{q} has no oracle SQL", file=sys.stderr)
                return 1
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[q] = {"rows": len(rows), "hash": table_hash(cols, rows, "duck"),
                      "columns": sorted(cols)}
    with open(os.path.join(HERE, "expected_sf01.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
