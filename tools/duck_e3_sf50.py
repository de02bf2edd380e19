#!/usr/bin/env python3
"""Time the e3 oracle SQL in DuckDB on an sf50 table dir (min-of-N).

Usage: python3 tools/duck_e3_sf50.py [--sf-dir DIR] [--oracle-sql JSON]

--sf-dir defaults to .scratch/sf50 under the repo root; --oracle-sql
defaults to /tmp/verify_out_001pct/oracle_sql.json, which graft.Verify
writes into its output dir (`sbt "runMain graft.Verify <sf dir> <out dir>"`).
"""
import argparse, duckdb, glob, json, os, time, sys

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
ap.add_argument("--sf-dir", default=os.path.join(repo, ".scratch", "sf50"))
ap.add_argument("--oracle-sql", default="/tmp/verify_out_001pct/oracle_sql.json")
args = ap.parse_args()
if not os.path.isfile(args.oracle_sql):
    sys.exit(f"{args.oracle_sql} not found: it is written by the verify step, "
             f"sbt \"runMain graft.Verify <sf dir> {os.path.dirname(args.oracle_sql)}\"; "
             "run that first or pass --oracle-sql")
sfdir = args.sf_dir
con = duckdb.connect()
for f in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(f).replace(".parquet", "")
    src = f"{f}/*.parquet" if os.path.isdir(f) else f
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
sql = json.load(open(args.oracle_sql))["e3_q5_multijoin"]
walls = []
for i in range(5):
    t0 = time.time()
    rows = con.execute(sql).fetchall()
    walls.append(round(time.time() - t0, 3))
print(json.dumps({"engine": "duckdb", "query": "e3_q5_multijoin",
                  "sf_dir": sfdir, "walls_s": walls, "min_s": min(walls),
                  "n_rows": len(rows)}))
