"""Seeded generator for the ten input tables the query registry reads.

The tables follow the schemas and value distributions of the project's
reference test data (a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``): the same column names, the same
categorical domains, and the same near-duplicate rate in
``documents``, at the row counts of its ``sf0.01`` tier. Column types
are those the program's ``sources`` layer reads; ``events.ts`` is
written as TIMESTAMP(NANOS), the type ``sources.tables.table``
documents for it, so the runs go through its nanos read-and-convert
path. The same seed always gives the same rows, so every run of one
seed reads identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table (the sf0.01 tier of the reference data)
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
DUP_SHARE = 0.05


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pd.Series:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pd.Series((base + offs).astype("datetime64[us]"))


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    lens = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(WORDS, size=k)) for k in lens]
    # near-duplicates: a copy of another document with one word changed
    # and a " dup" marker, so the dedup and similarity operators find
    # real candidate pairs
    for i in rng.choice(n, size=int(n * DUP_SHARE), replace=False):
        src = texts[int(rng.integers(0, n))].split()
        src[int(rng.integers(0, len(src)))] = str(rng.choice(WORDS))
        texts[i] = " ".join(src) + " dup"
    text = pd.Series(texts, dtype=object)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": text.str.len().astype(np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed``, as Arrow tables."""
    rng = np.random.default_rng(seed)
    i32, i64 = np.int32, np.int64
    out: dict[str, pd.DataFrame | pa.Table] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    k = ROWS["customer"]
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(k, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": rng.integers(0, 25, k).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": rng.choice(SEGMENTS, k),
        }
    )
    k = ROWS["supplier"]
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(k, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": rng.integers(0, 25, k).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        }
    )
    k = ROWS["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(k, dtype=i64),
            "p_name": rng.choice(names, k),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
            "p_type": rng.choice(PART_TYPES, k),
            "p_size": rng.integers(1, 51, k).astype(i32),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2),
        }
    )
    k = ROWS["orders"]
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(k, dtype=i64),
            "o_custkey": rng.integers(0, ROWS["customer"], k).astype(i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], k),
            "o_totalprice": _money(rng, 1000.0, 500000.0, k),
            "o_orderdate": _days(rng, "1995-01-01", 2404, k),
            "o_orderpriority": rng.choice(PRIORITIES, k),
        }
    )
    k = ROWS["lineitem"]
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, ROWS["orders"], k).astype(i64),
            "l_partkey": rng.integers(0, ROWS["part"], k).astype(i64),
            "l_suppkey": rng.integers(0, ROWS["supplier"], k).astype(i64),
            "l_linenumber": rng.integers(1, 8, k).astype(i32),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, k),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], k),
            "l_linestatus": rng.choice(["F", "O"], k),
            "l_shipdate": _days(rng, "1995-01-02", 2499, k),
        }
    )
    k = ROWS["events"]
    gaps = rng.exponential(259.0, k)
    ts = np.datetime64("2024-01-01", "ns") + np.cumsum(gaps * 1e6).astype(
        "timedelta64[us]"
    )
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(k, dtype=i64),
            "ts": pd.Series(ts.astype("datetime64[ns]")),
            "user_id": rng.integers(0, 150, k).astype(i64),
            "event_type": rng.choice(EVENT_TYPES, k),
            "value": np.maximum(np.round(rng.exponential(50.0, k), 2), 0.01),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        }
    )
    out["documents"] = _documents(rng, ROWS["documents"])
    out["embeddings"] = _embeddings(rng, ROWS["embeddings"])
    return {
        t: v if isinstance(v, pa.Table) else pa.Table.from_pandas(v, preserve_index=False)
        for t, v in out.items()
    }


def write_tables(out_dir: str, seed: int) -> int:
    """Write every table as ``<out_dir>/<table>.parquet``; returns the
    total bytes written (the input size ingest's space ratio divides by)."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in make_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total
