"""Driver-style comparison: Spark queries vs DuckDB oracle at a given sf."""
import sys, os, math, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import pandas as pd
import numpy as np

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

import __spark_entry__ as entrymod
from yams_spark.session import get_spark

CORES = len(os.sched_getaffinity(0))
spark = get_spark(app_name="check_entry", master=f"local[{CORES}]", shuffle_partitions=2 * CORES)

con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    p = f"{SF_DIR}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"create view {t} as select * from '{p}'")

qs = entrymod.queries()
oracles = entrymod.oracle_sql()

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.9g}"
        return str(v)
    return df.apply(lambda col: col.map(norm)).sort_values(list(df.columns)).reset_index(drop=True)

failures = []
for name, fn in qs.items():
    if ONLY and name not in ONLY:
        continue
    if name not in oracles:
        t0 = time.time()
        try:
            n = fn(spark, SF_DIR).count()
            print(f"{name:28s} rows-only rows={n} ({time.time()-t0:.1f}s)")
        except Exception as e:
            print(f"{name:28s} ERROR {type(e).__name__}: {e}")
            failures.append(name)
        continue
    t0 = time.time()
    try:
        sp = fn(spark, SF_DIR).toPandas()
        du = con.sql(oracles[name]).df()
    except Exception as e:
        print(f"{name:28s} ERROR {type(e).__name__}: {str(e)[:300]}")
        failures.append(name)
        continue
    ok_cols = sorted(sp.columns) == sorted(du.columns)
    ok_rows = len(sp) == len(du)
    ok_vals = False
    if ok_cols and ok_rows:
        a, b = canon(sp), canon(du)
        ok_vals = a.equals(b)
        if not ok_vals:
            diff = (a != b).any(axis=1)
            print(f"{name}: first diffs:")
            print(pd.concat([a[diff].head(3), b[diff].head(3)], keys=["spark","duck"]))
    status = "OK" if (ok_cols and ok_rows and ok_vals) else "MISMATCH"
    if status != "OK":
        failures.append(name)
    print(f"{name:28s} {status} cols={ok_cols} rows={ok_rows}({len(sp)}/{len(du)}) vals={ok_vals} ({time.time()-t0:.1f}s)")

print("\nFAILURES:", failures if failures else "none")
spark.stop()
sys.exit(1 if failures else 0)
