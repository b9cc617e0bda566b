"""Batch correctness: compares the engine's results for the checked
queries with the DuckDB oracle SQL the engine ships for them
(`SparkEntry.oracleSql`), over the same generated parquet files.
Columns are compared by name; rows in order (oracle queries carry a
total ORDER BY)."""
import glob
import json
import math
import os

import duckdb
import pyarrow.parquet as pq


def _same(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def compare(data_dir, check_dir, names):
    """[(name, error)] for every checked query that does not match."""
    oracle_sql = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        table = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for name in names:
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            bad.append((name, "no result written"))
            continue
        got = pq.read_table(files[0]).to_pandas()
        if name not in oracle_sql:
            if len(got) == 0:
                bad.append((name, "no oracle and no rows"))
            continue
        want = con.execute(oracle_sql[name]).fetchdf()
        cols = sorted(got.columns)
        if cols != sorted(want.columns):
            bad.append((name, f"columns {cols} != {sorted(want.columns)}"))
            continue
        if len(got) != len(want):
            bad.append((name, f"rows {len(got)} != {len(want)}"))
            continue
        for c in cols:
            gv, wv = got[c].tolist(), want[c].tolist()
            i = next((i for i in range(len(gv)) if not _same(gv[i], wv[i])), None)
            if i is not None:
                bad.append((name, f"{c} row {i}: {gv[i]!r} != {wv[i]!r}"))
                break
    return bad
