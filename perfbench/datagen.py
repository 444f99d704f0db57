"""Seeded fixture generator for the benchmark.

Writes the engine's fixture tables (``aws_iceberg_automation_spark.io``'s
``TABLES``, one parquet file each) with the schemas ``io.SCHEMAS``
declares.  Row counts scale with the scale factor the way the driver's
fixtures do (``lineitem`` ~ 6,000,000 x sf, ``events`` 1,000,000 x sf).

The same ``(sf, seed)`` always yields the same values, and each table
draws from its own random stream, so generating a subset of the tables
gives the same rows as generating all of them.  No Spark session is
needed: the generator runs before one exists.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from aws_iceberg_automation_spark.io import TABLES

# workload -> {fixture directory: (scale factor, tables; None = all)}
WORKLOAD_DATA: dict[str, dict[str, tuple[float, tuple[str, ...] | None]]] = {
    "headline": {"sf0.01": (0.01, None)},
    # sf0.01 events (10k rows): the lakehouse ops' cost is per-job latency
    # either way, and at sf0.1 the extra write volume made run-to-run
    # spread exceed the bound on a shared disk
    "lakehouse": {"sf0.01": (0.01, ("events",))},
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "users": max(150, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def generate_table(name: str, sf: float, seed: int) -> pa.Table:
    """Fixture table ``name`` at scale factor ``sf`` as an Arrow table."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    n = _sizes(sf)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        k = n["customer"]
        return pa.table({
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": _names("Customer", k),
            "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": rng.choice(_SEGMENTS, k),
        })
    if name == "supplier":
        k = n["supplier"]
        return pa.table({
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": _names("Supplier", k),
            "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        })
    if name == "part":
        k = n["part"]
        keys = np.arange(k, dtype=np.int64)
        return pa.table({
            "p_partkey": keys,
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, k), rng.choice(_NOUN, k))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
            "p_type": rng.choice(_PTYPES, k),
            "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
            "p_retailprice": _retail(keys),
        })
    if name == "orders":
        k = n["orders"]
        return pa.table({
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
            "o_orderstatus": rng.choice(_STATUS, k),
            "o_totalprice": _money(rng, 1000.0, 500000.0, k),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, k) * _DAY_US),
            "o_orderpriority": rng.choice(_PRIORITY, k),
        })
    if name == "lineitem":
        k = n["lineitem"]
        part = rng.integers(0, n["part"], k).astype(np.int64)
        qty = rng.integers(1, 51, k).astype(np.float64)
        return pa.table({
            "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
            "l_partkey": part,
            "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _retail(part) * rng.uniform(0.02, 2.2, k), 2),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], k),
            "l_linestatus": rng.choice(["F", "O"], k),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, k) * _DAY_US),
        })
    if name == "events":
        # ids increase with time across 30 days; microsecond timestamps
        k = n["events"]
        ts = np.sort(rng.integers(0, 30 * _DAY_US, k)) + _EPOCH_2024
        return pa.table({
            "event_id": np.arange(k, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, n["users"], k).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, k),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, k), 2)),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        })
    if name == "documents":
        return _documents(rng, n["documents"])
    if name == "embeddings":
        return _embeddings(rng, n["embeddings"])
    raise ValueError(f"unknown table {name!r}")


def _retail(partkey: np.ndarray) -> np.ndarray:
    return np.round(900.0 + (partkey % 1000) * 0.1, 1)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents; about one in ten is a light edit of an
    earlier one, so near-duplicate detection has real pairs to find."""
    vocab = np.array(_VOCAB)
    docs: list[list[str]] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            toks = list(docs[int(rng.integers(0, i))])
            for j in rng.choice(len(toks), max(1, len(toks) // 10), replace=False):
                toks[j] = str(rng.choice(vocab))
        else:
            toks = list(rng.choice(vocab, int(rng.integers(8, 96))))
        docs.append(toks)
    text = [" ".join(t) for t in docs]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors scattered around ten label centroids."""
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    vec = centers[label] + rng.normal(scale=0.8, size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_fixtures(root: str, workload: str, seed: int) -> None:
    """Write a workload's fixtures as ``<root>/<directory>/<table>.parquet``."""
    for sub, (sf, tables) in WORKLOAD_DATA[workload].items():
        os.makedirs(os.path.join(root, sub))
        for name in tables or TABLES:
            pq.write_table(generate_table(name, sf, seed), os.path.join(root, sub, f"{name}.parquet"))
