"""Seeded star-schema tables for the `analytics` workload.

The engine's registry queries read `<dir>/<table>.parquet`. This writes
the tables the benchmark's query mix reads, with the column names and
types of the engine's test data, as a pure function of the seed: the same
seed gives the same rows. Sizes and value distributions follow the
engine's sf0.01 data, so the query outputs are about as large: over seeds
1-5 the simhash pair graph that `degree_hist` and `triangle_count` read
has 1,205-2,262 edges and 8,082-30,778 triangles (sf0.01: 1,597 and
15,490; sf0.1: 166,267 and 4.9 million).
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table (those of the engine's sf0.01 test data).
SIZES = {"customer": 1500, "part": 2000, "supplier": 100, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500}

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def _ts(base, seconds):
    return pa.array((np.datetime64(base, "us")
                     + (seconds * 1e6).astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    n = SIZES
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n["customer"]),
        "c_mktsegment": seg[rng.integers(0, 5, n["customer"])]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n["supplier"])})
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "green", "cold"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, npart)],
                                             noun[rng.integers(0, 8, npart)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 2)})
    no = n["orders"]
    pri = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2400, no) * 86400.0),
        "o_orderpriority": pri[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, nl) * 86400.0)})
    ne = n["events"]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, ne))),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[
            rng.integers(0, 5, ne)],
        "value": _money(rng, 0.01, 490, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    out["documents"] = _documents(rng, n["documents"])
    return out


def _documents(rng, nd):
    # Like the engine's test documents: 10 to 99 words drawn from a
    # 30-word vocabulary, and about one document in 20 with one word
    # replaced by "dup". Simhash works on each text's distinct words, so
    # long texts share most of the vocabulary and pair up as near-duplicates.
    texts = []
    for _ in range(nd):
        words = [WORDS[k] for k in rng.integers(0, len(WORDS), rng.integers(10, 100))]
        if rng.random() < 0.05:
            words[rng.integers(0, len(words))] = "dup"
        texts.append(" ".join(words))
    langs = np.array(["en", "zh", "es", "de", "fr"])
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, nd, p=[0.44, 0.15, 0.15, 0.14, 0.12])],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _digest(t):
    digest = hashlib.sha256()
    for col in t.columns:
        digest.update(repr(col.to_pylist()).encode())
    return digest.hexdigest()


def write(seed, out_dir):
    """Writes every table; returns {table: (rows, sha256 of its rows)}."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        manifest[name] = (t.num_rows, _digest(t))
    return manifest
