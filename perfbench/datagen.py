"""Seeded synthetic tables for the benchmark.

The schema mirrors the engine's TPC-H-ish fixture (seven star-schema tables)
plus the ``documents`` and ``embeddings`` tables the LLM-tier operators read.
Row counts scale with ``sf`` like TPC-H: sf0.01 has 60,000 lineitem rows.
The same ``(seed, sf)`` always writes byte-identical Parquet files.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("small", "red", "blue", "green", "large", "steel", "brass")
PART_NOUNS = ("ring", "widget", "bolt", "gear", "valve", "spring")
WORDS = (
    "a the row scan table value part hash key fast slow merge batch spark "
    "line sort window agg join order data column query customer stream "
    "group filter small big vector"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EPOCH = datetime.datetime(1995, 1, 1, tzinfo=datetime.timezone.utc)
DAYS = 6 * 365 + 200  # order dates span 1995-01-01 .. mid-2001


def sizes(sf: float) -> dict[str, int]:
    k = sf / 0.01
    return {
        "region": 5,
        "nation": 25,
        "customer": int(1500 * k),
        "supplier": max(10, int(100 * k)),
        "part": int(2000 * k),
        "orders": int(15000 * k),
        "documents": int(500 * k),
        "embeddings": 500 if k <= 1 else 2000,
    }


def _ts(days: np.ndarray) -> pa.Array:
    micros = (days.astype("int64") * 86_400_000_000) + int(EPOCH.timestamp() * 1e6)
    return pa.array(micros, type=pa.int64()).cast(pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All tables for one ``(seed, sf)`` as Arrow tables, in memory."""
    rng = np.random.default_rng([seed, int(round(sf * 1000))])
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": [f"REGION_{i}" for i in range(5)],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    words = np.asarray(PART_WORDS, dtype=object)[rng.integers(0, len(PART_WORDS), npart)]
    nouns = np.asarray(PART_NOUNS, dtype=object)[rng.integers(0, len(PART_NOUNS), npart)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{w} {m}" for w, m in zip(words, nouns)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
    })
    no = n["orders"]
    odays = rng.integers(0, DAYS, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(odays),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    # 1..7 lines per order, 4 on average, like TPC-H.
    per_order = rng.integers(1, 8, no)
    lkeys = np.repeat(np.arange(no), per_order)
    starts = np.cumsum(per_order) - per_order
    lnum = np.arange(len(lkeys)) - np.repeat(starts, per_order) + 1
    nl = len(lkeys)
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _ts(np.repeat(odays, per_order) + rng.integers(1, 122, nl)),
    })
    nd = n["documents"]
    lens = rng.integers(20, 90, nd)
    toks = np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), int(lens.sum()))]
    bounds = np.cumsum(lens)
    texts = [" ".join(toks[b - k : b]) for b, k in zip(bounds, lens)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    ne = n["embeddings"]
    labels = rng.integers(0, 10, ne)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (ne, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_dataset(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


if __name__ == "__main__":
    import sys

    # python3 datagen.py OUT_DIR SEED SF
    write_dataset(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
