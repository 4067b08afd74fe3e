#!/usr/bin/env python3
"""Local replica of the driver's DuckDB correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB over the sfDir tables,
sorts columns by name and rows by all columns, and compares values. Every
query Verify lists in failed_queries.json (it threw, so it wrote no output)
counts as a failure, with or without oracle SQL.
"""
import json, os, sys, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def cmp_cell(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return str(a) == str(b)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(
                f"SELECT * FROM parquet_scan('{out_dir}/{name}/*.parquet')").df()
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            failures += 1
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
            failures += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} vs {len(w)}")
            failures += 1
            continue
        bad = None
        for col in g.columns:
            for i, (a, b) in enumerate(zip(g[col], w[col])):
                if not cmp_cell(a, b):
                    bad = (col, i, a, b)
                    break
            if bad:
                break
        if bad:
            print(f"FAIL {name}: col={bad[0]} row={bad[1]} got={bad[2]} want={bad[3]}")
            failures += 1
        else:
            print(f"PASS {name} ({len(g)} rows)")
    failed_path = f"{out_dir}/failed_queries.json"
    crashed = json.load(open(failed_path)) if os.path.exists(failed_path) else []
    for name in sorted(set(crashed) - set(oracle)):
        print(f"FAIL {name}: threw in graft.Verify, no output written")
        failures += 1
    rows_only = [d for d in sorted(os.listdir(out_dir))
                 if d not in oracle and not d.endswith('.json')]
    for name in rows_only:
        n = con.execute(
            f"SELECT count(*) FROM parquet_scan('{out_dir}/{name}/*.parquet')").fetchone()[0]
        print(f"ROWS-ONLY {name}: {n} rows {'OK' if n > 0 else 'EMPTY!'}")
        if n == 0:
            failures += 1  # driver smoke-checks rows>0; empty is a fail
    print(f"\n{'ALL PASS' if failures == 0 else str(failures) + ' FAILURES'}")
    return failures

if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2]) else 0)
