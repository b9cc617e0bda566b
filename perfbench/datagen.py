"""Seeded corpus generator for the benchmark.

Writes the ten tables `graft.sources.Tables` registers (one parquet file
each, the same names, column types and value shapes as the engine's
test corpora) and the per-key answers the Service workloads are checked
against. The tables are the same for every run (so runs with different
seeds do the same work); the seed picks the Service keys.

Row counts follow the scale factor like the TPC-H-style corpora do:
scale 0.01 gives 60 000 lineitem rows, 500 documents and 500 vectors.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64


def sizes(scale):
    n = lambda base: max(10, int(round(base * scale)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "documents": n(50_000),
        "embeddings": n(50_000), "users": n(15_000),
    }


def _days(rng, n, start, end):
    """Midnight timestamps (ms) drawn uniformly between two dates."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[ms]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def tables(seed, scale):
    """{table name: pyarrow.Table} for one seed and scale factor."""
    rng = np.random.default_rng(seed)
    sz = sizes(scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = sz["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})

    ns = sz["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})

    npart = sz["part"]
    keys = np.arange(npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})

    no = sz["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01"),
                                pa.timestamp("ms")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})

    nl = sz["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04"),
                               pa.timestamp("ms"))})

    ne = sz["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    span_ns = 30 * 86400 * 10**9
    ts = np.sort(rng.integers(0, span_ns, ne)) + t0
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, sz["users"], ne),
                            pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)]})

    nd = sz["documents"]
    texts = [_text(rng, int(k)) for k in rng.integers(10, 100, nd)]
    # ~5 % near-duplicates: a copy of another document plus a marker word
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        src = int(rng.integers(0, nd))
        if src != i and not texts[src].endswith(" dup"):
            texts[i] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = sz["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.05, (10, DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (nv, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def service_keys(seed, n_customers, n_keys=64):
    """The customer keys the Service workloads ask about."""
    rng = np.random.default_rng(seed + 7919)
    return sorted(int(k) for k in
                  rng.choice(n_customers, size=min(n_keys, n_customers),
                             replace=False))


def service_oracle(data, keys):
    """Per-key answers computed from the generated tables, independent of
    the engine: customer name, order keys (ascending) and total price."""
    cust = data["customer"]
    orders = data["orders"]
    ok = orders.column("o_orderkey").to_numpy()
    ck = orders.column("o_custkey").to_numpy()
    price = orders.column("o_totalprice").to_numpy()
    names = cust.column("c_name").to_pylist()
    out = []
    for k in keys:
        sel = ck == k
        out.append({"key": k, "name": names[k],
                    "orderkeys": sorted(int(x) for x in ok[sel]),
                    "total_cents": int(round(float(price[sel].sum()) * 100))})
    return out


CORPUS_SEED = 0


def write(out_dir, seed, scale):
    """Generate every table under `out_dir` and the Service oracle file
    `out_dir/service_oracle.tsv` for the keys `seed` picks."""
    os.makedirs(out_dir, exist_ok=True)
    data = tables(CORPUS_SEED, scale)
    for name, t in data.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    keys = service_keys(seed, data["customer"].num_rows)
    with open(os.path.join(out_dir, "service_oracle.tsv"), "w") as f:
        for r in service_oracle(data, keys):
            f.write("\t".join([str(r["key"]), r["name"],
                               ",".join(map(str, r["orderkeys"])),
                               str(r["total_cents"])]) + "\n")

