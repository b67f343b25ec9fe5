#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

For each query in oracle_sql.json: read Spark's parquet result from
<verifyOutDir>/<name>, run the query's oracle SQL in DuckDB over the sfDir
tables, sort columns by name, sort rows, and compare values cell-by-cell
(exact for ints/strings/dates, bit-exact for floats — the engine is
designed so aggregates are order-independent). Reports per-query
PASS/FAIL; a query with no Spark output is MISSING and fails.

With SPARK_GRAFT_ONLY=comma,separated,names (the filter graft.Verify
takes for a subset run) only those queries are checked, and the summary
line names the subset. A listed name with no Spark output, or no oracle
SQL, still fails.
"""
import json, os, sys, glob
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        # a table may be a single file (driver testdata) or a directory of
        # part files (tools/make_sf1.py layout) — glob the directory form
        p = f"{sf_dir}/{t}.parquet"
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    names = sorted(oracle) if only is None else sorted(only)
    fails = 0
    weak = 0
    for name in names:
        if name not in oracle:
            print(f"{name:40s} MISSING oracle sql"); fails += 1; continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"{name:40s} MISSING spark output"); fails += 1; continue
        got = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        exp = con.sql(oracle[name]).df()
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"{name:40s} FAIL cols spark={list(g.columns)} duck={list(e.columns)}")
            fails += 1; continue
        if len(g) != len(e):
            print(f"{name:40s} FAIL rows spark={len(g)} duck={len(e)}"); fails += 1; continue
        # normalize dtypes for compare (timestamps ns vs us, etc.)
        bad = None
        for c in g.columns:
            gv, ev = g[c], e[c]
            if str(gv.dtype).startswith("datetime") or str(ev.dtype).startswith("datetime"):
                gv = pd.to_datetime(gv); ev = pd.to_datetime(ev)
            try:
                same = (gv.values == ev.values) | (pd.isna(gv.values) & pd.isna(ev.values))
            except Exception as ex:
                bad = (c, f"compare error {ex}"); break
            if not same.all():
                i = int((~same).argmax())
                bad = (c, f"row {i}: spark={gv.iloc[i]!r} duck={ev.iloc[i]!r}"); break
        if bad:
            print(f"{name:40s} FAIL col {bad[0]}: {bad[1]}"); fails += 1
        elif len(g) == 0:
            # 0 == 0 proves nothing about the operator's arithmetic — the
            # r10 ADVICE caught doc_curate_v3 "passing" on an empty output
            # at every scale. Weak passes are counted and surfaced so a
            # gate that goes vacuous at some scale is visible in the
            # artifact instead of blending into the PASS column.
            print(f"{name:40s} PASS (0 rows — WEAK: vacuous match)")
            weak += 1
        else:
            print(f"{name:40s} PASS ({len(g)} rows)")
    tail = f" ({weak} weak 0-row)" if weak else ""
    if only is not None:
        tail += f" [subset {len(names)}/{len(oracle)}: {','.join(names)}]"
    print(f"\n{'ALL PASS' + tail if fails == 0 else f'{fails} FAILURES{tail}'}")
    return 1 if fails else 0

def only_from_env():
    """The SPARK_GRAFT_ONLY subset, or None when unset or empty."""
    names = [n for n in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if n]
    return set(names) or None

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], only_from_env()))
