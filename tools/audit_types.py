"""Audit output types of every registered query vs its DuckDB oracle.

Flags any Spark DECIMAL output and any DuckDB DECIMAL/HUGEINT/INT128 output,
plus pandas-dtype mismatches between the two sides — the exact class of
divergence that breaks the driver's value hash (r1: q13/q45/q47).
"""
import os
import sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import __spark_entry__ as entry_mod
from one_stop_cdc_ingestion_toolkit_spark.catalog import TABLES
from one_stop_cdc_ingestion_toolkit_spark.session import get_session

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
spark = get_session("audit-types")
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

queries = entry_mod.queries()
oracles = entry_mod.oracle_sql()
bad = 0
for name, fn in sorted(queries.items()):
    try:
        sdf = fn(spark, sf_dir)
        stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    except Exception as e:
        print(f"{name}: SPARK ERROR {e}")
        bad += 1
        continue
    flags = []
    for c, t in stypes.items():
        if "decimal" in t:
            flags.append(f"spark {c}:{t}")
    if name in oracles:
        try:
            res = con.execute(f"DESCRIBE ({oracles[name].rstrip(';')})")
            dtypes = {r[0]: r[1] for r in res.fetchall()}
        except Exception as e:
            print(f"{name}: DUCK ERROR {e}")
            bad += 1
            continue
        for c, t in dtypes.items():
            if "DECIMAL" in t or "HUGEINT" in t or "INT128" in t:
                flags.append(f"duck {c}:{t}")
        # dtype-class mismatch check (int vs float vs other)
        def klass(t):
            t = t.lower()
            if any(k in t for k in ("tinyint","smallint","int","bigint","hugeint","long")) and "interval" not in t:
                return "int"
            if any(k in t for k in ("float","double","real","decimal")):
                return "float" if "decimal" not in t else "dec"
            if any(k in t for k in ("string","varchar","text","char")):
                return "str"
            if "bool" in t:
                return "bool"
            if "timestamp" in t:
                return "ts"
            return t
        for c in stypes:
            if c in dtypes and klass(stypes[c]) != klass(dtypes[c]):
                flags.append(f"MISMATCH {c}: spark={stypes[c]} duck={dtypes[c]}")
    if flags:
        bad += 1
        print(f"{name}: " + "; ".join(flags))
print(f"\n{bad} queries flagged of {len(queries)}")
