"""Seeded input generator for the benchmark.

Produces the ten tables the package reads (the TPC-H-style star schema,
``events``, ``documents`` and ``embeddings``) with the same column names,
types and value domains as the package's test data, so that every catalog
entry runs on them. The same seed and scale always give the same files.

``events.event_id`` is ``0..n-1``, unlike the package's test data, so the
tick generator can pick change keys that exist in the table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _days_after(base: np.datetime64, days: np.ndarray) -> pa.Array:
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def lineitem(rng: np.random.Generator, n_lines: int, n_orders: int,
             n_parts: int, n_suppliers: int) -> pa.Table:
    quantity = rng.integers(1, 51, n_lines).astype(np.float64)
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines),
        "l_partkey": rng.integers(0, n_parts, n_lines),
        "l_suppkey": rng.integers(0, n_suppliers, n_lines),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(18.0, 2100.0, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_lines),
        "l_linestatus": _pick(rng, ("F", "O"), n_lines),
        "l_shipdate": _days_after(_EPOCH_1995, rng.integers(1, 2500, n_lines)),
    })


def events(rng: np.random.Generator, n: int) -> pa.Table:
    n_users = max(1, int(n * 0.015))
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + offsets.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 8 and i > 0:  # 5% near-duplicates of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, EMBED_DIM).cast(
            pa.list_(pa.float32())),
        "label": labels,
    })


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (``lineitem`` = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_orders = int(200_000 * sf), int(1_500_000 * sf)
    nation_keys = np.arange(25, dtype=np.int32)
    return {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": nation_keys,
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": nation_keys % 5}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _days_after(_EPOCH_1995, rng.integers(0, 2400, n_orders)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        }),
        "lineitem": lineitem(rng, int(6_000_000 * sf), n_orders, n_part, n_supp),
        "events": events(rng, int(1_000_000 * sf)),
        "documents": documents(rng, max(500, int(50_000 * sf))),
        "embeddings": embeddings(rng, max(500, int(20_000 * sf))),
    }


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> dict[str, str]:
    """Write each table to ``out_dir/<name>.parquet``; returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
