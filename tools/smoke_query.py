#!/usr/bin/env python3
"""Fast dev probe: compare ONE query's Spark output against its DuckDB
oracle SQL without running the full Verify suite.

    python3 tools/smoke_query.py <query> [sfdir]

Queries whose oracle reads the /tmp/graft_oracle_aux exports (simhash,
IVF/PQ, LSH, count-min families) need no setup: VerifyOne re-exports
exactly the oracleAux tables named in the query's oracle SQL before it
runs the query."""
import json, subprocess, sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

Q = sys.argv[1] if len(sys.argv) > 1 else "pca_top_component"
SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
OUT = Path("/tmp/graft_pca_smoke")

r = subprocess.run(
    ["sbt", "-batch", f"runMain graft.VerifyOne {Q} {SF} {OUT}"],
    capture_output=True, text=True, cwd="/root/repo")
if r.returncode != 0:
    print(r.stdout[-3000:], r.stderr[-2000:])
    sys.exit(1)

oracle = json.loads((OUT / "oracle_sql.json").read_text())[Q]
con = duckdb.connect()
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
for t in TABLES:
    # driver testdata ships single files; ScaleUp output (data/sf1) is
    # Spark-style directories of part files — glob those
    p = Path(SF) / f"{t}.parquet"
    src = f"{p}/*.parquet" if p.is_dir() else str(p)
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
want = con.execute(oracle).fetch_arrow_table()
got = pq.read_table(str(OUT / Q))

def rows(t):
    cols = sorted(t.column_names)
    return sorted(tuple(repr(r[c]) for c in cols) for r in t.select(cols).to_pylist()), cols

gr, gc = rows(got)
wr, wc = rows(want)
print("spark cols", gc, "oracle cols", wc)
print("rows", len(gr), len(wr))
mism = [i for i, (a, b) in enumerate(zip(gr, wr)) if a != b]
print("mismatched rows:", len(mism))
for i in mism[:8]:
    print(" spark:", gr[i], "\n duck :", wr[i])
sys.exit(0 if not mism and len(gr) == len(wr) and gc == wc else 1)
