"""Seeded generator for the ten parquet tables the registry plans read.

The tables follow the column domains of the engine's TPC-H-ish test
data (TESTDATA.md): independent uniform columns over the same value
sets, date windows and price ranges, a 31-word document vocabulary,
unit-norm 64-d float32 embeddings. Every value comes from one
``numpy.random.Generator`` seeded by the caller, so the same seed
writes byte-identical files.

``scale`` multiplies the sf0.1 row counts (scale=1.0 is sf0.1, 17 MB).
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = np.array(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

# sf0.1 row counts of the engine's test data
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_DAY_US = 86_400 * 1_000_000
_ORDER_START = datetime(1995, 1, 1)
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_SHIP_START = datetime(1995, 1, 2)
_SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04
_EVENT_START = datetime(2024, 1, 1)
_EVENT_SPAN_US = 30 * _DAY_US


def _rows(scale: float, table: str) -> int:
    return max(10, int(round(SF01_ROWS[table] * scale)))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def _days(rng, start: datetime, n_days: int, n: int) -> pa.Array:
    base = int(start.timestamp()) * 1_000_000
    us = base + rng.integers(0, n_days, n).astype(np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    n = {t: _rows(scale, t) for t in SF01_ROWS}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    pnames = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": pnames[rng.integers(0, len(pnames), npart)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": PTYPES[rng.integers(0, len(PTYPES), npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, _ORDER_START, _ORDER_DAYS, no),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, _SHIP_START, _SHIP_DAYS, nl),
        }
    )
    ne = n["events"]
    ts = np.sort(rng.integers(0, _EVENT_SPAN_US, ne)).astype(np.int64)
    ts += int(_EVENT_START.timestamp()) * 1_000_000
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, ne).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(k))])
        for k in rng.integers(10, 101, nd)
    ]
    # ~0.16% exact duplicates, as in the engine's test data
    for i in rng.choice(np.arange(1, nd), max(1, nd // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vec.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return out


def write_tables(out_dir: Path, seed: int, scale: float) -> int:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns bytes written."""
    out_dir.mkdir(parents=True, exist_ok=True)
    total = 0
    for name, table in build_tables(seed, scale).items():
        path = out_dir / f"{name}.parquet"
        pq.write_table(table, path)
        total += path.stat().st_size
    return total
