#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables, load the Spark-written parquet, sort columns by
name + rows by all values, and compare. Usage:
  python3 tools/check_correctness.py /root/testdata/sf0.01 /tmp/verify_out
"""
import json, sys, glob, os
import duckdb
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for f in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(f)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if isinstance(v, (list, tuple)) or str(type(v)).find('ndarray') >= 0 else v)
        if str(df[c].dtype).startswith('datetime'):
            df[c] = df[c].astype('datetime64[us]')
        if str(df[c].dtype) in ('float32',):
            df[c] = df[c].astype('float64')
        if str(df[c].dtype).startswith('int') or str(df[c].dtype).startswith('uint'):
            df[c] = df[c].astype('int64')
    return df.sort_values(by=list(df.columns), na_position='first').reset_index(drop=True)

fails = 0
for name in sorted(oracle):
    try:
        exp = con.execute(oracle[name]).df()
        got = pd.concat([pd.read_parquet(p) for p in glob.glob(f"{outdir}/{name}/*.parquet")])
        e, g = canon(exp), canon(got)
        if list(e.columns) != list(g.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs oracle {list(e.columns)}")
            fails += 1
            continue
        if len(e) != len(g):
            print(f"FAIL {name}: rows {len(g)} vs oracle {len(e)}")
            fails += 1
            continue
        try:
            pd.testing.assert_frame_equal(e, g, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-9)
            print(f"OK   {name}: {len(g)} rows")
        except AssertionError as ex:
            print(f"FAIL {name}: value mismatch: {str(ex)[:300]}")
            fails += 1
    except Exception as ex:
        print(f"ERR  {name}: {str(ex)[:300]}")
        fails += 1

# every gate carries its oracle, so an output dir without one is a stray or
# mis-named query: nothing checked it, and that fails the gate
unchecked = [q for q in os.listdir(outdir) if q not in oracle and not q.endswith('.json')]
for name in sorted(unchecked):
    print(f"FAIL {name}: output has no oracle")
    fails += 1
sys.exit(1 if fails else 0)
