"""Seeded synthetic tables in the engine's star schema.

The benchmark must not read anything outside its checkout, so it makes its
own inputs: the ten tables ``sources.io.TABLES`` names, with the row
counts, columns, types and value domains of the TPC-H-like corpus the
query registry is written against (single row group, snappy, naive
microsecond timestamps). That includes its shapes that some queries
depend on: one user per ten customers, each with ~66 events over 30 days;
one document in twenty a near-duplicate (another document's text plus the
word "dup"); unit-length embeddings around ten weak centroids. The same
``(seed, sf)`` always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data spark query table row column key value hash join merge sort "
    "scan filter group agg window stream batch part line order customer "
    "vector fast slow big small"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("LARGE", "SMALL", "MEDIUM", "ECONOMY", "STANDARD", "PROMO")

_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_SHIP_EPOCH = np.datetime64("1995-01-02", "us")
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000
#: Share of documents that repeat another document's text plus "dup".
NEAR_DUP_SHARE = 0.05


def row_counts(sf: float) -> dict[str, int]:
    """Table sizes at scale factor ``sf`` (sf0.1: 600k lineitem rows)."""
    n = lambda base, floor=1: max(floor, int(round(base * sf)))  # noqa: E731
    return {
        "lineitem": n(6_000_000),
        "orders": n(1_500_000),
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "events": n(1_000_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _days(epoch: np.datetime64, rng: np.random.Generator, span: int, size: int) -> np.ndarray:
    return epoch + rng.integers(0, span, size).astype("timedelta64[D]").astype("timedelta64[us]")


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, sf)``."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    pick = lambda choices, size, p=None: np.asarray(choices, dtype=object)[  # noqa: E731
        rng.choice(len(choices), size, p=p)
    ]
    users = max(1, n["customer"] // 10)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": pick(SEGMENTS, n["customer"]),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": pick(part_names, n["part"]),
        "p_brand": pick([f"Brand#{i}" for i in range(25)], n["part"]),
        "p_type": pick(PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 2),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": pick(("O", "P", "F"), n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n["orders"]),
        "o_orderdate": _days(_ORDER_EPOCH, rng, 2404, n["orders"]),
        "o_orderpriority": pick(PRIORITIES, n["orders"]),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
        "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
        "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
        "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n["lineitem"]),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "l_returnflag": pick(("A", "N", "R"), n["lineitem"]),
        "l_linestatus": pick(("O", "F"), n["lineitem"]),
        "l_shipdate": _days(_SHIP_EPOCH, rng, 2498, n["lineitem"]),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n["events"]))
    events = pa.table({
        "event_id": np.arange(n["events"], dtype=np.int64),
        "ts": _EVENT_EPOCH + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, users, n["events"]),
        "event_type": pick(EVENT_TYPES, n["events"]),
        "value": np.round(rng.exponential(50.0, n["events"]), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
    })
    lengths = rng.integers(10, 100, n["documents"])
    words = pick(WORDS, int(lengths.sum()))
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n["documents"])]
    dups = rng.choice(n["documents"], int(round(NEAR_DUP_SHARE * n["documents"])), replace=False)
    for i in dups:
        texts[i] = texts[(i + int(rng.integers(1, n["documents"]))) % n["documents"]] + " dup"
    documents = pa.table({
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": texts,
        "lang": pick(LANGS, n["documents"], p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n["embeddings"]).astype(np.int32)
    centroids = rng.normal(0.0, 0.15, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (n["embeddings"], 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }


def write_tables(tables: dict[str, pa.Table], sf_dir: str, names=None) -> None:
    """Land ``tables`` (or the ``names`` subset) as ``<sf_dir>/<name>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name in names or tables:
        pq.write_table(tables[name], os.path.join(sf_dir, f"{name}.parquet"),
                       row_group_size=1 << 30, compression="snappy")


def land(seed: int, sf: float, sf_dir: str, names=None) -> dict[str, pa.Table]:
    """Generate and land the tables; returns them for the output checks."""
    tables = make_tables(seed, sf)
    write_tables(tables, sf_dir, names)
    return tables
