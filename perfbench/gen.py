"""Seeded input generator for the benchmark workloads.

Writes the ten tables the program reads (same names, columns and types as
the TPC-H-ish fixture corpus: region nation customer supplier part orders
lineitem events documents embeddings) as one parquet file each. The same
(workload, seed) always yields byte-identical inputs.

    python3 perfbench/gen.py <workload> <seed> <out_dir> [drops]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Workload shapes. `sf` scales the relational tables like the fixture
# corpus (sf 0.01 = 1,500 customers, 15,000 orders, 60,000 lineitems,
# 10,000 events); `docs`/`vecs` size the text and vector tables.
SHAPES = {
    # one hourly drop = a seeded slice of the facts; dimensions intact
    "etl_hourly": {"sf": 0.01, "docs": 200, "vecs": 200, "slice": 0.25},
    # documents replicated x replicas, each replica with its own alphabet
    # permutation so replicas share no shingles
    "llm_corpus": {"sf": 0.002, "docs": 250, "vecs": 300, "replicas": 2},
}

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ALPHA = "abcdefghijklmnopqrstuvwxyz"

DAY_US = 86_400_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - ORDER_EPOCH).astype(np.int64))
EVENT_EPOCH_US = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)


def _ts_days(days):
    return pa.array((ORDER_EPOCH + days.astype("timedelta64[D]")).astype("datetime64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def dimensions(rng, sf):
    n_cust = max(50, int(150_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = rng.integers(0, len(P_ADJ), n_part)
    noun = rng.integers(0, len(P_NOUN), n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, len(P_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    return t, n_cust, n_part, n_supp


def facts(rng, sf, n_cust, n_part, n_supp):
    n_ord = max(200, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(500, int(1_000_000 * sf))
    n_users = max(20, n_cust // 10)
    t = {}
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts_days(rng.integers(0, ORDER_DAYS + 1, n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_line), 2),
        "l_discount": rng.integers(0, 9, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_days(rng.integers(1, ORDER_DAYS + 96, n_line))})
    span_us = 30 * DAY_US
    ts = np.sort(rng.integers(0, span_us, n_ev)) + EVENT_EPOCH_US
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.0, 100.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return t


def documents(rng, n_docs, replicas=1):
    """Random word texts with ~5% planted near-duplicates (a copy of an
    earlier document with one or two words replaced), like the fixture
    corpus. Replica r > 0 shifts ids by r * stride and translates the text
    through a seeded alphabet permutation."""
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    langs = [LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_P)]
    sources = [f"src{i}" for i in rng.integers(0, 20, n_docs)]
    stride = 10_000_000
    ids, out_texts = [], []
    for r in range(replicas):
        if r == 0:
            table = None
        else:
            perm = "".join(rng.permutation(list(ALPHA)))
            table = str.maketrans(ALPHA, perm)
        ids.extend(r * stride + i for i in range(n_docs))
        out_texts.extend(t if table is None else t.translate(table) for t in texts)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": out_texts,
        "lang": langs * replicas,
        "source": sources * replicas,
        "n_chars": pa.array([len(t) for t in out_texts], pa.int64())})


def embeddings(rng, n_vecs, dim=64):
    v = rng.standard_normal((n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})


def _write_dir(d, tables):
    os.makedirs(d, exist_ok=True)
    sizes = {}
    for name in TABLES:
        path = os.path.join(d, f"{name}.parquet")
        pq.write_table(tables[name], path)
        sizes[name] = {"rows": tables[name].num_rows, "bytes": os.path.getsize(path)}
    return sizes


def _slice(rng, fact, frac):
    """A seeded hourly drop: a random subset of the orders with their
    lineitems, and a contiguous hour-aligned window of the events."""
    orders = fact["orders"]
    keep = np.sort(rng.choice(orders.num_rows, max(1, int(orders.num_rows * frac)), replace=False))
    o = orders.take(pa.array(keep))
    okeys = set(o.column("o_orderkey").to_pylist())
    lk = fact["lineitem"].column("l_orderkey").to_numpy()
    li = fact["lineitem"].filter(pa.array(np.isin(lk, np.fromiter(okeys, np.int64))))
    ev = fact["events"]
    n = ev.num_rows
    width = max(1, int(n * frac))
    start = int(rng.integers(0, n - width + 1))
    return {"orders": o, "lineitem": li, "events": ev.slice(start, width)}


def generate(workload, seed, out, drops=1):
    """Write the workload's input directories under `out` and return the
    manifest: {dir name: {table: {rows, bytes}}}. etl_hourly writes `drops`
    hourly drops; the other workloads one `input` directory."""
    shape = SHAPES[workload]
    # one stream per (workload, seed): the same seed gives the same inputs
    rng = np.random.default_rng([seed, sorted(SHAPES).index(workload)])
    dims, n_cust, n_part, n_supp = dimensions(rng, shape["sf"])
    fact = facts(rng, shape["sf"], n_cust, n_part, n_supp)
    dims["documents"] = documents(rng, shape["docs"], shape.get("replicas", 1))
    dims["embeddings"] = embeddings(rng, shape["vecs"])
    manifest = {}
    if workload == "etl_hourly":
        for k in range(drops):
            name = f"drop_{k:03d}"
            manifest[name] = _write_dir(os.path.join(out, name),
                                        {**dims, **_slice(rng, fact, shape["slice"])})
    else:
        manifest["input"] = _write_dir(os.path.join(out, "input"), {**dims, **fact})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    wl, sd, od = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    n = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    print(json.dumps(generate(wl, sd, od, n), sort_keys=True))
