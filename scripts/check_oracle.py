#!/usr/bin/env python3
"""Local pre-validation mimicking the driver's correctness gate:
reads each Verify output parquet, runs the corresponding oracle SQL in
DuckDB over the raw testdata parquet, and compares schemas + values
(columns sorted by name). NOT part of the engine; dev tooling only."""
import json, sys, glob, os
import duckdb
import pyarrow.parquet as pq

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails, okays, skips = [], [], []
for name in sorted(oracle):
    res_dir = f"{out_dir}/{name}"
    files = glob.glob(f"{res_dir}/*.parquet")
    if not files:
        fails.append((name, "no result parquet"))
        continue
    got = pq.read_table(files[0]).to_pandas()
    want = con.execute(oracle[name]).fetchdf()
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        fails.append((name, f"columns {list(got.columns)} != {list(want.columns)}"))
        continue
    if len(got) != len(want):
        fails.append((name, f"rows {len(got)} != {len(want)}"))
        continue
    # row-order-sensitive value compare (queries carry total ORDER BY)
    def eq(a, b):
        if a is None and b is None:
            return True
        try:
            if a != a and b != b:  # NaN == NaN for compare purposes
                return True
        except Exception:
            pass
        return a == b
    mismatch = None
    for c in got.columns:
        gv, wv = got[c].tolist(), want[c].tolist()
        bad = next((i for i in range(len(gv)) if not eq(gv[i], wv[i])), None)
        if bad is not None:
            mismatch = f"col {c} row {bad}: {gv[bad]!r} != {wv[bad]!r} (dtypes {got[c].dtype}/{want[c].dtype})"
            break
    if mismatch:
        fails.append((name, mismatch))
    else:
        okays.append(name)

# queries with no oracle: rows-only check
for res_dir in sorted(glob.glob(f"{out_dir}/*/")):
    name = os.path.basename(res_dir.rstrip("/"))
    if name in oracle:
        continue
    files = glob.glob(f"{res_dir}/*.parquet")
    n = pq.read_table(files[0]).num_rows if files else 0
    (okays if n > 0 else fails).append((name + " [rows-only]", "0 rows")[0:1][0] if n > 0 else (name, "rows-only: 0 rows"))

print(f"OK ({len(okays)}):", *okays, sep="\n  ")
if fails:
    print(f"FAIL ({len(fails)}):")
    for n, why in fails:
        print(f"  {n}: {why}")
    sys.exit(1)
print("ALL GREEN")
