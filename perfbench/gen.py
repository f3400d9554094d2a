"""Seeded input generator for the benchmark workloads.

Every file is a pure function of (workload, seed): the same seed gives
byte-identical parquet and JSON files.  Inputs are generated once per
seed into `<root>/<workload>/seed-<n>-<generator hash>/` and reused by
later runs; a `manifest.json` written last marks a complete directory
and records each file's row count and byte size.

    python3 perfbench/gen.py <workload> <seed> <out_root>
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- etl_registry: the sf0.01 tables (schema and row counts of the
# repository's test data at scale factor 0.01, TESTDATA.md) -------------
ETL_ROWS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}
EVENT_USERS = 150
DOC_DUPS = 25
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# --- etl_registry's graph steps: K disjoint chains of L edges ---------
CLOSURE_CHAINS, CLOSURE_LEN = 3000, 4       # closure pairs = K*L(L+1)/2

# --- table_rw -----------------------------------------------------------
TABLE_KEYS, TABLE_SHARDS = 20000, 4
INITIAL_ROWS = 4000
SCRIPT_BLOCKS = 40        # one block per pass, far more than a run measures
UPSERT_ROWS, MERGE_ROWS = 150, 100
# one block: every write verb and every read kind, then background
# maintenance (compaction, bloom index, vacuum) once per four commits.
# The order is fixed so that the first pass of every seed pays JIT
# compilation on the same verbs; keys, rows and ranges are seeded. The
# change feed follows the merge, so its window is exactly that commit
# (an upsert or compaction rewrites files and has no row-level feed).
BLOCK = ["upsert", "point", "delete", "range", "merge", "cdc", "scan", "update", "connector"]

WORKLOADS = ("etl_registry", "table_rw")


def _write(path, table):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def _ts(base, offsets_us):
    return pa.array((np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def gen_etl(rng, out):
    n = ETL_ROWS
    _write(f"{out}/region.parquet", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(f"{out}/nation.parquet", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    nc = n["customer"]
    _write(f"{out}/customer.parquet", pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]}))
    ns = n["supplier"]
    _write(f"{out}/supplier.parquet", pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)}))
    npart = n["part"]
    _write(f"{out}/part.parquet", pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)}))
    no = n["orders"]
    _write(f"{out}/orders.parquet", pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, no) * 86400_000_000),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]}))
    nl = n["lineitem"]
    flags = rng.integers(0, 6, nl)
    _write(f"{out}/lineitem.parquet", pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i // 2] for i in flags],
        "l_linestatus": [("O", "F")[i % 2] for i in flags],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, nl) * 86400_000_000)}))
    ne = n["events"]
    span_us = 30 * 86400 * 1_000_000
    _write(f"{out}/events.parquet", pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, span_us, ne))),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)]}))
    nd = n["documents"]
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 101)))
             for _ in range(nd)]
    for d in sorted(rng.choice(np.arange(50, nd), DOC_DUPS, replace=False)):
        texts[d] = texts[int(rng.integers(0, d))] + " dup"
    _write(f"{out}/documents.parquet", pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.2, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))
    gen_chains(rng, out)


def gen_chains(rng, out):
    """Closure input: K disjoint chains of L edges under a seeded
    relabelling, so ids carry no order. Every chain contributes
    L(L+1)/2 (node, ancestor) pairs."""
    k, length = CLOSURE_CHAINS, CLOSURE_LEN
    ids = rng.permutation(k * (length + 1)).astype(np.int64)
    child, parent = [], []
    for c in range(k):
        base = c * (length + 1)
        child.extend(ids[base:base + length])
        parent.extend(ids[base + 1:base + length + 1])
    _write(f"{out}/chains.parquet", pa.table({
        "child": pa.array(child, pa.int64()), "parent": pa.array(parent, pa.int64())}))
    with open(f"{out}/chains.json", "w") as f:
        json.dump({"chains": k, "length": length}, f, sort_keys=True)


def gen_table(rng, out):
    """Initial rows and the op script.  A row is (key, version, val,
    name); the shard is key % TABLE_SHARDS, a pure function of the key."""
    keys = np.sort(rng.choice(TABLE_KEYS, INITIAL_ROWS, replace=False))
    _write(f"{out}/initial.parquet", pa.table({
        "key": pa.array(keys, pa.int64()),
        "version": pa.array(np.zeros(INITIAL_ROWS), pa.int64()),
        "val": np.round(rng.uniform(0, 1000, INITIAL_ROWS), 2),
        "name": [f"n{int(x)}" for x in rng.integers(0, 10**6, INITIAL_ROWS)]}))
    blocks, version = [], 0

    def rows(n):
        nonlocal version
        version += 1
        ks = np.sort(rng.choice(TABLE_KEYS, n, replace=False))
        return [[int(k), version, round(float(v), 2), f"n{int(m)}"] for k, v, m in
                zip(ks, rng.uniform(0, 1000, n), rng.integers(0, 10**6, n))]

    for _ in range(SCRIPT_BLOCKS):
        ops = []
        for kind in BLOCK:
            if kind == "upsert":
                ops.append({"op": "upsert", "rows": rows(UPSERT_ROWS)})
            elif kind == "merge":
                ops.append({"op": "merge", "rows": rows(MERGE_ROWS)})
            elif kind == "delete":
                lo = int(rng.integers(0, TABLE_KEYS - 200))
                ops.append({"op": "delete", "lo": lo, "hi": lo + int(rng.integers(20, 200))})
            elif kind == "update":
                lo = int(rng.integers(0, TABLE_KEYS - 400))
                ops.append({"op": "update", "lo": lo, "hi": lo + int(rng.integers(50, 400)),
                            "delta": round(float(rng.uniform(-5, 5)), 2)})
            elif kind == "point":
                ops.append({"op": "point", "key": int(rng.integers(0, TABLE_KEYS))})
            elif kind == "range":
                lo = int(rng.integers(0, TABLE_KEYS - 1000))
                ops.append({"op": "range", "lo": lo, "hi": lo + int(rng.integers(100, 1000))})
            else:
                ops.append({"op": kind})
        ops.append({"op": "background"})
        blocks.append(ops)
    with open(f"{out}/script.json", "w") as f:
        json.dump({"shards": TABLE_SHARDS, "blocks": blocks}, f,
                  sort_keys=True, separators=(",", ":"))


GENERATORS = {"etl_registry": gen_etl, "table_rw": gen_table}


def manifest(out):
    files = {}
    for name in sorted(os.listdir(out)):
        p = os.path.join(out, name)
        entry = {"bytes": os.path.getsize(p)}
        if name.endswith(".parquet"):
            entry["rows"] = pq.ParquetFile(p).metadata.num_rows
        files[name] = entry
    return files


def ensure(workload, seed, root):
    """Generate the inputs of (workload, seed) under root unless a
    complete copy is already there; returns the directory."""
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    out = os.path.join(root, workload, f"seed-{seed}-{version}")
    if os.path.exists(os.path.join(out, "manifest.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](np.random.default_rng([seed, WORKLOADS.index(workload)]), tmp)
    files = manifest(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "files": files}, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
