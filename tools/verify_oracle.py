"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet dir, then compares row count + column names +
order-insensitive value hash (columns sorted by name, cells normalized).

Usage: python tools/verify_oracle.py [sf_dir] [query_name ...]
       python tools/verify_oracle.py [sf_dir] --window
(--window replays exactly the driver's correctness slice: the first 50
names in sorted registry order. A name that is not an exact registry
name selects every query it prefixes, e.g. ``a11`` for a110-a119.)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from one_stop_cdc_ingestion_toolkit_spark.catalog import TABLES  # noqa: E402
from one_stop_cdc_ingestion_toolkit_spark.operators import release_caches  # noqa: E402
from one_stop_cdc_ingestion_toolkit_spark.oracle import compare  # noqa: E402
from one_stop_cdc_ingestion_toolkit_spark.session import get_session  # noqa: E402


def main() -> int:
    # Flags first, positionals after: "verify_oracle.py --window" (sf_dir
    # omitted) must not treat the flag as a directory, and explicit names
    # passed alongside --window are unioned with the window, not dropped.
    argv = [a for a in sys.argv[1:] if a != "--window"]
    window = "--window" in sys.argv[1:]
    # sf_dir is positional-optional: only consume argv[0] as a directory
    # when it IS one — a bare query name used to be misparsed as the
    # data dir and ALL queries ran against a nonexistent path (review r7)
    if argv and os.path.isdir(argv[0]):
        sf_dir, names = argv[0], argv[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.01", argv
    queries = entry_mod.queries()
    only: set[str] = set()
    unknown = []
    for n in names:
        hits = [n] if n in queries else [q for q in queries if q.startswith(n)]
        only.update(hits)
        if not hits:
            unknown.append(n)
    if unknown:
        # a typo'd name silently matching nothing made the gate report
        # '0 passed, 0 failed' and exit 0 — a false green (review r7)
        print(f"unknown query name(s): {unknown}", file=sys.stderr)
        return 2
    if window:
        only |= set(sorted(queries)[:50])
    spark = get_session("verify-oracle")
    from one_stop_cdc_ingestion_toolkit_spark.oracle import duck_connect

    con = duck_connect(sf_dir, TABLES)
    oracles = entry_mod.oracle_sql()
    failed, passed, skipped = [], 0, 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failed.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        finally:
            release_caches()
        if name not in oracles:
            skipped += 1
            print(f"SKIP {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failed.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = compare(scols, srows, dcols, drows)
        if problems:
            failed.append((name, "; ".join(problems[:1])))
            print(f"FAIL {name}: " + "\n".join(problems))
        else:
            passed += 1
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{passed} passed, {len(failed)} failed, {skipped} rows-only")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
