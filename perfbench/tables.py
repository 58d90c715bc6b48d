"""Fixed tables for the ``batch_queries`` workload.

The registry lanes read ten parquet tables (TESTDATA.md schema: a
TPC-H-ish star plus ``events``, ``documents`` and ``embeddings``). This
module synthesizes them at the sf0.001 row counts from one fixed seed,
so every run reads the same bytes; the workload seed only permutes lane
order. Driver-dominated lanes at this size are the point: planning and
job scheduling are what this workload measures.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
ROWS = {
    "region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200,
    "orders": 1500, "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500,
}
WORDS = (
    "a the data stream batch window join filter group sort merge hash scan key value row "
    "column table query spark vector fast slow big small order line part customer agg"
).split()


def _ts(rng, n, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, days * 86_400_000_000, n)
    return pa.array(us, pa.timestamp("us"))


def _days(rng, n, start: str, days: int) -> pa.Array:
    """Whole-day timestamps, as in the TPC-H date columns."""
    d = np.datetime64(start, "D") + rng.integers(0, days, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"], c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    adj = ["cold", "small", "large", "hot", "blue", "red", "steel", "brass"]
    noun = ["widget", "bolt", "gear", "valve", "spring", "nut", "pipe", "screw"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(p)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(p) * 0.1, 2),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "P", "O"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, o, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o),
    })
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    partkey = rng.integers(0, p, li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + partkey * 0.1) * rng.uniform(1.0, 2.3, li), 2),
        "l_discount": np.round(rng.integers(0, 11, li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100.0, 2),
        "l_returnflag": rng.choice(["N", "A", "R"], li),
        "l_linestatus": rng.choice(["O", "F"], li),
        "l_shipdate": _days(rng, li, "1995-01-02", 2498),
    })
    e = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": _ts(rng, e, "2024-01-01", 30),
        "user_id": pa.array(rng.integers(0, 15, e), pa.int64()),
        "event_type": rng.choice(["error", "signup", "purchase", "view", "click"], e),
        "value": _money(rng, 0.0, 330.0, e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 90))) for _ in range(d)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], d),
        "source": [f"src{i}" for i in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    m = n["embeddings"]
    vec = rng.normal(size=(m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    })
    return t


def write_tables(directory: Path) -> dict[str, int]:
    """Write the tables into ``directory``; returns rows per table."""
    directory.mkdir(parents=True, exist_ok=True)
    for name, table in build(np.random.default_rng(TABLE_SEED)).items():
        pq.write_table(table, directory / f"{name}.parquet")
    return dict(ROWS)
