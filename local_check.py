#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Usage:
  sbt -batch "runMain graft.Verify <sfDir> <outDir> <q1,q2,...>"
  python3 local_check.py <sfDir> <outDir> [q1 q2 ...]

A name ending in `*` selects every query with that prefix, in both
commands (e.g. `q_pipeline_*`; quote it from the shell).

For each dumped query result under outDir/<name>/, runs the oracle SQL
from outDir/oracle_sql.json in DuckDB against the sfDir parquet tables,
sorts columns by name, normalizes values, and compares row multisets.
"""
import json, sys, glob, math
import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    # Type-strict like the driver's hash: an int64 742 and a float64
    # 742.0 must NOT collapse (DuckDB types sum(int) as HUGEINT which
    # fetches as float64 — oracles must cast ::BIGINT; see VERDICT r11).
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "f:NaN"
        return f"f:{float(v):.9g}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = sys.argv[3:] or None
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if glob.glob(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    fails = []
    names = sorted(n for n in oracle if only is None or any(
        n.startswith(p[:-1]) if p.endswith("*") else n == p
        for p in only))
    for name in names:
        res_dir = f"{out_dir}/{name}"
        if not glob.glob(f"{res_dir}/*.parquet"):
            print(f"  {name}: MISSING result dump")
            fails.append(name)
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{res_dir}/*.parquet')").df()
        exp = con.execute(oracle[name]).df()
        gcols, ecols = sorted(got.columns), sorted(exp.columns)
        if gcols != ecols:
            print(f"  {name}: SCHEMA mismatch {gcols} vs {ecols}")
            fails.append(name)
            continue
        gs = sorted(tuple(norm(v) for v in r)
                    for r in got[gcols].itertuples(index=False))
        es = sorted(tuple(norm(v) for v in r)
                    for r in exp[ecols].itertuples(index=False))
        if len(gs) != len(es):
            print(f"  {name}: ROWS {len(gs)} vs {len(es)}")
            fails.append(name)
        elif gs != es:
            diff = next(i for i, (a, b) in enumerate(zip(gs, es)) if a != b)
            print(f"  {name}: VALUE mismatch at sorted row {diff}:")
            print(f"    got {gs[diff]}")
            print(f"    exp {es[diff]}")
            fails.append(name)
        else:
            print(f"  {name}: ok ({len(gs)} rows)")
    print(f"{len(names) - len(fails)}/{len(names)} green")
    sys.exit(1 if fails else 0)

if __name__ == "__main__":
    main()
