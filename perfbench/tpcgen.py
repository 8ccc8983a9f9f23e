"""Fixed analytics fixture: the TPC-H-like star schema plus the events,
documents and embeddings tables the query registry reads.

Same table names, columns, key ranges and value distributions as the
repository's test fixtures, generated from a fixed seed so the reference
digests in ``reference.json`` stay valid. The benchmark owns this copy of the
generator so that its inputs cannot move when the repository's own tools do.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "P", "F"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUSES = ["O", "F"]
PTYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
ADJS = ["cold", "hot", "blue", "red", "small", "old", "new", "large"]
NOUNS = ["plate", "gear", "rod", "ring", "anvil", "bolt", "widget"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en"] * 8 + ["de"] * 3 + ["fr"] * 3 + ["es"] * 3 + ["zh"] * 3
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
DAY_US = 86_400_000_000


def _ts(base: str, day_offsets: np.ndarray) -> pa.Array:
    base_us = np.datetime64(base).astype("datetime64[us]").astype(np.int64)
    return pa.array(base_us + day_offsets * DAY_US, type=pa.timestamp("us"))


def _days(lo: str, hi: str) -> int:
    return int((np.datetime64(hi) - np.datetime64(lo)) / np.timedelta64(1, "D"))


def _write(out_dir: str, name: str, table: pa.Table) -> int:
    # ~64 row groups per table so scans split across cores as they would
    # on production-sized files.
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=max(1000, table.num_rows // 64))
    return table.num_rows


def generate(sf: float, out_dir: str) -> dict[str, int]:
    """Write every table at scale ``sf`` into ``out_dir``; return row counts."""
    rng = np.random.default_rng(FIXTURE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        rows[name] = _write(out_dir, name, pa.table(cols))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    names = np.array([f"{a} {n}" for a in ADJS for n in NOUNS])
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    odays = rng.integers(0, _days("1995-01-01", "2001-08-01") + 1, n_ord)
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", odays),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    lines_per = rng.integers(1, 8, n_ord)
    l_orderkey = np.repeat(np.arange(n_ord), lines_per)
    n_li = len(l_orderkey)
    put("lineitem", {
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines_per]), pa.int32()
        ),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(RETURNFLAGS)[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(LINESTATUSES)[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(
            "1995-01-02", rng.integers(0, _days("1995-01-02", "2001-11-04") + 1, n_li)
        ),
    })
    base_us = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    ts = np.sort(base_us + rng.integers(0, 30 * DAY_US, n_evt))
    put("events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_cust, 1), n_evt), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), k)])
        for k in rng.integers(8, 101, n_doc)
    ]
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    X = rng.standard_normal((n_emb, 64)).astype(np.float32)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array([r.tolist() for r in X], pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return rows
