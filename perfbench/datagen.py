"""Seeded generator for the engine's input tables.

Writes the ten parquet tables the engine reads (``sources.tables.TABLE_NAMES``)
with the schema, row counts and value distributions of the sf0.1 testdata
the engine is developed against: a TPC-H-ish star schema, an ``events``
click stream, a small text corpus and labelled embeddings.  Every column is
drawn independently from the seed, so the same seed gives byte-identical
tables and a different seed gives different data of the same shape.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at sf0.1.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_SHARE = 0.05
EMBED_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000


def _days(start: str, end: str, rng: np.random.Generator, size: int) -> pa.Array:
    """Midnight timestamps drawn uniformly from the days ``start..end``."""
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, (hi - lo).astype(np.int64) + 1, size)
    us = lo.astype("datetime64[us]").astype(np.int64) + days * _US_PER_DAY
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, size) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], size: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=size, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx])


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = _keys(n)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": _keys(n),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed``; each table draws from its own stream so
    one table's size never shifts another's values."""
    streams = np.random.SeedSequence(seed).spawn(len(ROWS))
    rng = {name: np.random.default_rng(s) for name, s in zip(ROWS, streams)}
    n = ROWS
    r = rng["customer"]
    customer = pa.table({
        "c_custkey": _keys(n["customer"]),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]).astype(np.int32)),
        "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(r, SEGMENTS, n["customer"]),
    })
    r = rng["supplier"]
    supplier = pa.table({
        "s_suppkey": _keys(n["supplier"]),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]).astype(np.int32)),
        "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"]),
    })
    r = rng["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = _keys(n["part"])
    part = pa.table({
        "p_partkey": pk,
        "p_name": _pick(r, names, n["part"]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n["part"])]),
        "p_type": _pick(r, PART_TYPES, n["part"]),
        "p_size": pa.array(r.integers(1, 51, n["part"]).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    r = rng["orders"]
    orders = pa.table({
        "o_orderkey": _keys(n["orders"]),
        "o_custkey": r.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(r, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days("1995-01-01", "2001-08-01", r, n["orders"]),
        "o_orderpriority": _pick(r, PRIORITIES, n["orders"]),
    })
    r = rng["lineitem"]
    m = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": r.integers(0, n["orders"], m),
        "l_partkey": r.integers(0, n["part"], m),
        "l_suppkey": r.integers(0, n["supplier"], m),
        "l_linenumber": pa.array(r.integers(1, 8, m).astype(np.int32)),
        "l_quantity": r.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, m),
        "l_discount": r.integers(0, 11, m) / 100.0,
        "l_tax": r.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], m),
        "l_linestatus": _pick(r, ["F", "O"], m),
        "l_shipdate": _days("1995-01-02", "2001-11-04", r, m),
    })
    r = rng["events"]
    k = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + r.integers(0, 30 * _US_PER_DAY, k))
    events = pa.table({
        "event_id": _keys(k),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": r.integers(0, 1500, k),
        "event_type": _pick(r, EVENT_TYPES, k),
        "value": np.round(r.exponential(50.0, k), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)]),
    })
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng["documents"], n["documents"]),
        "embeddings": _embeddings(rng["embeddings"], n["embeddings"]),
    }


def write_tables(seed: int, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group,
    like the testdata) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
    return out_dir
