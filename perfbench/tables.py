"""Input tables of the catalog layer, which `dedup_corpus` traced runs
measure: the ten TPC-H-like tables the query catalog reads, at the row counts of scale factor 0.01, drawn
from the seed. Columns are independent and uniform over the value
domains of the catalog's fixtures, and the files have the same physical
types (pyarrow writer: int64 keys, timestamp[us], list<float>)."""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"region": 5, "nation": 25, "customer": 1500, "supplier": 100,
        "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
        "documents": 500, "embeddings": 500}
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DAY_US = 86_400_000_000
Y1995_US = 788_918_400_000_000  # 1995-01-01T00:00Z
Y2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00Z


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def tables(seed):
    """{name: pyarrow.Table}, a pure function of the seed."""
    rng = np.random.default_rng([seed, 0x7AB1E5])
    n = ROWS
    pick = lambda vals, k: np.array(vals, dtype=object)[rng.integers(0, len(vals), k)]
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, k),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                              "MACHINERY"], k)})
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, k)})
    k = n["part"]
    names = [a + " " + b for a, b in zip(
        pick(["blue", "old", "small", "new", "red", "hot", "large", "cold"], k),
        pick(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"], k))]
    t["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], k),
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1)})
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k),
        "o_orderstatus": pick(["F", "O", "P"], k),
        "o_totalprice": money(1000.0, 500000.0, k),
        "o_orderdate": _ts(Y1995_US + rng.integers(0, 2400, k) * DAY_US),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"], k)})
    k = n["lineitem"]
    qty = rng.integers(1, 51, k).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k),
        "l_partkey": rng.integers(0, n["part"], k),
        "l_suppkey": rng.integers(0, n["supplier"], k),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, k), 2),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], k),
        "l_linestatus": pick(["F", "O"], k),
        "l_shipdate": _ts(Y1995_US + DAY_US + rng.integers(0, 2500, k) * DAY_US)})
    k = n["events"]
    step = 30 * DAY_US // k
    t["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": _ts(Y2024_US + np.arange(k, dtype=np.int64) * step + rng.integers(0, step, k)),
        "user_id": rng.integers(0, k * 3 // 200, k),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], k),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, k), 2)),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]})
    k = n["documents"]
    texts = [" ".join(pick(WORDS, int(m))) for m in rng.integers(8, 91, k)]
    u = rng.uniform(0, 1, k)
    langs = np.select([u < 0.44, u < 0.59, u < 0.73, u < 0.87], ["en", "zh", "es", "de"], "fr")
    t["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": langs.astype(object),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    k = n["embeddings"]
    v = rng.standard_normal((k, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, k).astype(np.int32)})
    return t


def write(seed, out_dir):
    """Writes `<out_dir>/<name>.parquet` for every table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables(seed).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def digest(out_dir):
    """Fingerprint of the written files, so a change to the generator shows
    as changed input."""
    h = hashlib.sha256()
    for name in ROWS:
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:32]
