#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables, load the Spark-written parquet, sort columns by
name + rows by all values, and compare. With a baseline output dir (an
earlier Verify run, e.g. of the parent commit), each query's output must
also equal the baseline's as a row multiset under the same canonical form.
Usage:
  python3 tools/check_correctness.py <sfDir> <outDir> [<baselineOutDir>]
  e.g. python3 tools/check_correctness.py testdata/sf0.01 /tmp/verify_out
"""
import json, sys, glob, os
import duckdb
import pandas as pd

if len(sys.argv) not in (3, 4):
    sys.exit(__doc__)
sfdir, outdir = sys.argv[1], sys.argv[2]
basedir = sys.argv[3] if len(sys.argv) == 4 else None
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

def output(d: str, name: str) -> pd.DataFrame:
    return pd.concat([pd.read_parquet(p) for p in glob.glob(f"{d}/{name}/*.parquet")])

def mismatch(e: pd.DataFrame, g: pd.DataFrame):
    """Why canonical frames e and g differ, or None when they are equal."""
    if list(e.columns) != list(g.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(e) != len(g):
        return f"rows {len(g)} vs {len(e)}"
    try:
        pd.testing.assert_frame_equal(e, g, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-9)
    except AssertionError as ex:
        return f"value mismatch: {str(ex)[:300]}"
    return None

fails = 0
for name in sorted(oracle):
    try:
        g = canon(output(outdir, name))
        why = mismatch(canon(con.execute(oracle[name]).df()), g)
        if why is None and basedir is not None:
            why = mismatch(canon(output(basedir, name)), g)
            why = why and f"vs baseline: {why}"
        if why is None:
            print(f"OK   {name}: {len(g)} rows")
        else:
            print(f"FAIL {name}: {why}")
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
