"""Seeded synthetic tables with the engine's ten-table schema.

The benchmark makes its own inputs: every table is drawn from one numpy
generator seeded by ``--seed``, so the same seed writes byte-identical
parquet and a different seed writes different values with the same
shapes.  Column names, Arrow types and value domains follow the
TPC-H-style star schema plus the ``events``/``documents``/``embeddings``
tables the contract queries read (one single-row-group parquet file per
table, naive microsecond timestamps, snappy).

``scale=1.0`` gives the sf0.1 row counts (lineitem 600 k, orders 150 k,
customer 15 k, events 100 k, documents 5 k, embeddings 2 k).
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Row counts at scale 1.0; region and nation are fixed-size.
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _rows(name: str, scale: float) -> int:
    return max(10, int(round(BASE_ROWS[name] * scale)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _days(rng: np.random.Generator, start, n_days: int, n: int) -> pa.Array:
    us = start + rng.integers(0, n_days + 1, n).astype("timedelta64[D]")
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def build(name: str, rng: np.random.Generator, scale: float) -> pa.Table:
    """Draw one table.  Foreign keys reference the same scale's key ranges."""
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        n = _rows(name, scale)
        return pa.table({
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": _names("Customer", n),
            "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        })
    if name == "supplier":
        n = _rows(name, scale)
        return pa.table({
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": _names("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        })
    if name == "part":
        n = _rows(name, scale)
        keys = np.arange(n, dtype=np.int64)
        adj = rng.integers(0, len(PART_ADJ), n)
        noun = rng.integers(0, len(PART_NOUN), n)
        return pa.table({
            "p_partkey": pa.array(keys),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
        })
    if name == "orders":
        n = _rows(name, scale)
        return pa.table({
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, _rows("customer", scale), n)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
            "o_orderdate": _days(rng, _EPOCH_1995, 2404, n),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        })
    if name == "lineitem":
        n = _rows(name, scale)
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, _rows("orders", scale), n)),
            "l_partkey": pa.array(rng.integers(0, _rows("part", scale), n)),
            "l_suppkey": pa.array(rng.integers(0, _rows("supplier", scale), n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n),
            "l_linestatus": _pick(rng, ("F", "O"), n),
            "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2498, n),
        })
    if name == "events":
        n = _rows(name, scale)
        offs = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
        return pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(_EPOCH_2024 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        })
    if name == "documents":
        n = _rows(name, scale)
        words = np.asarray(WORDS, dtype=object)
        texts: list[str] = []
        for i in range(n):
            r = rng.random()
            if i > 10 and r < 0.05:  # near-duplicate of an earlier doc
                texts.append(texts[rng.integers(0, i)] + " dup")
            elif i > 10 and r < 0.0516:  # exact duplicate
                texts.append(texts[rng.integers(0, i)])
            else:
                texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
        return pa.table({
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        })
    if name == "embeddings":
        n, dim = _rows(name, scale), 64
        v = rng.standard_normal((n, dim)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        })
    raise KeyError(name)


def generate(out_dir: str, seed: int, scale: float = 1.0, tables=TABLES) -> dict[str, int]:
    """Write ``tables`` under ``out_dir``; return parquet bytes per table.

    Each table has its own generator stream derived from (seed, name), so
    the tables a workload asks for do not change the values of the others.
    """
    os.makedirs(out_dir, exist_ok=True)
    sizes: dict[str, int] = {}
    for name in tables:
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        path = os.path.join(out_dir, f"{name}.parquet")
        tbl = build(name, rng, scale)
        pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
        sizes[name] = os.path.getsize(path)
    return sizes

