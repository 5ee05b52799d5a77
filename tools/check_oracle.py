#!/usr/bin/env python3
"""Pre-validate SparkEntry.oracleSql vs Verify.scala parquet dumps, mimicking
the driver's DuckDB compare (sort columns by name, compare values)."""
# usage: check_oracle.py <verify_out> <sf_dir> [--same-as <other_verify_out>]
#
# --same-as also compares every query dir of <verify_out> row for row, in
# order and with exact values, against the same dir of another Verify dump
# (e.g. the parent commit's), for changes that must not move any output.
import duckdb, json, sys, glob, math, datetime
from decimal import Decimal

args = sys.argv[1:]
same_as = None
if "--same-as" in args:
    i = args.index("--same-as")
    same_as = args[i + 1]
    del args[i:i + 2]
outdir, sfdir = args
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
def norm(v):
    if isinstance(v, Decimal): return float(v)
    if isinstance(v, float): return round(v, 9)
    if isinstance(v, datetime.datetime): return v.isoformat()
    return v

fails = 0
for name, sql in sorted(oracle.items()):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"MISSING SPARK OUTPUT: {name}"); fails += 1; continue
    got = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'").fetchdf()
    want = con.sql(sql).fetchdf()
    gcols, wcols = sorted(got.columns), sorted(want.columns)
    if gcols != wcols:
        print(f"FAIL {name}: columns {gcols} != {wcols}"); fails += 1; continue
    g = [tuple(norm(v) for v in row) for row in got[gcols].itertuples(index=False)]
    w = [tuple(norm(v) for v in row) for row in want[wcols].itertuples(index=False)]
    if sorted(map(repr,g)) != sorted(map(repr,w)):
        print(f"FAIL {name}: rows differ (spark={len(g)}, oracle={len(w)})")
        sg, sw = set(map(repr,g)), set(map(repr,w))
        for x in list(sg - sw)[:3]: print("  spark-only:", x[:200])
        for x in list(sw - sg)[:3]: print("  oracle-only:", x[:200])
        fails += 1
    else:
        order_ok = "order-ok" if list(map(repr,g)) == list(map(repr,w)) else "ORDER-DIFFERS"
        print(f"OK   {name}: {len(g)} rows  [{order_ok}]")
# rows-only queries
for d in sorted(glob.glob(f"{outdir}/*/")):
    name = d.rstrip("/").split("/")[-1]
    if name.startswith("_"):
        continue
    if name not in oracle:
        n = con.sql(f"SELECT count(*) FROM '{d}*.parquet'").fetchone()[0]
        print(f"ROWS {name}: {n} rows {'OK' if n>0 else 'EMPTY!'}")

def query_dirs(root):
    return {d.rstrip("/").split("/")[-1] for d in glob.glob(f"{root}/*/")
            if not d.rstrip("/").split("/")[-1].startswith("_")}

def exact_rows(d):
    files = sorted(glob.glob(f"{d}/*.parquet"))
    rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    return [rel.columns[i] for i in order], [tuple(r[i] for i in order) for r in rel.fetchall()]

if same_as is not None:
    mine, theirs = query_dirs(outdir), query_dirs(same_as)
    same = 0
    for name in sorted(mine | theirs):
        if name not in mine or name not in theirs:
            print(f"SAME-AS MISSING {name}: only in {outdir if name in mine else same_as}")
            fails += 1; continue
        (gc, g), (wc, w) = exact_rows(f"{outdir}/{name}"), exact_rows(f"{same_as}/{name}")
        if gc != wc:
            print(f"SAME-AS DIFF {name}: columns {gc} != {wc}"); fails += 1
        elif list(map(repr, g)) != list(map(repr, w)):
            at = next((i for i, (a, b) in enumerate(zip(g, w)) if repr(a) != repr(b)), min(len(g), len(w)))
            print(f"SAME-AS DIFF {name}: {len(g)} vs {len(w)} rows, first difference at row {at}")
            fails += 1
        else:
            same += 1
    print(f"SAME-AS: {same} of {len(mine | theirs)} query outputs identical to {same_as}")
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
