"""Seeded generator for the fixture corpus the registry queries read.

Writes the ten tables of FIXTURES.md §B (TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) as one parquet file each,
with the same column names, types, value domains and row counts per
scale factor as that corpus, so every registry query sees the shapes it
was certified on. Columns are drawn independently and
uniformly, as in that corpus; about 5% of documents are copies of
another document with `` dup`` appended (the near-duplicates the dedup
queries look for).

The same ``(sf, seed)`` always gives byte-identical tables.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = (
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

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_ORDER_START = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # through 2001-08-01
_SHIP_START = np.datetime64("1995-01-02", "us")
_SHIP_DAYS = 2498  # through 2001-11-04
_EVENT_START = np.datetime64(datetime(2024, 1, 1), "us")
_EVENT_SPAN_US = 30 * 86_400_000_000


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (lineitem = 6M × sf)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: np.datetime64, span: int, n: int):
    return start + rng.integers(0, span + 1, n) * np.timedelta64(1, "D")


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        for _ in range(n)
    ]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    v = rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    }


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, drawn from ``seed``."""
    n = row_counts(sf)
    rng = np.random.default_rng([seed, round(sf * 1_000_000)])
    ids = {t: np.arange(n[t], dtype=np.int64) for t in n}
    cols: dict[str, dict[str, pa.Array]] = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": pa.array(ids["customer"]),
            "c_name": pa.array([f"Customer#{i:09d}" for i in ids["customer"]]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"], dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n["customer"])),
        },
        "supplier": {
            "s_suppkey": pa.array(ids["supplier"]),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in ids["supplier"]]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"], dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        },
        "part": {
            "p_partkey": pa.array(ids["part"]),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n["part"], 2))
                ]
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n["part"])),
            "p_size": pa.array(rng.integers(1, 51, n["part"], dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900 + (ids["part"] % 1000) / 10, 2)),
        },
        "orders": {
            "o_orderkey": pa.array(ids["orders"]),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
            "o_orderstatus": pa.array(rng.choice(ORDER_STATUS, n["orders"])),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n["orders"])),
            "o_orderdate": pa.array(_days(rng, _ORDER_START, _ORDER_DAYS, n["orders"])),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n["orders"])),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"])),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"])),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"])),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"], dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n["lineitem"]).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n["lineitem"])),
            "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100),
            "l_returnflag": pa.array(rng.choice(RETURN_FLAGS, n["lineitem"])),
            "l_linestatus": pa.array(rng.choice(LINE_STATUS, n["lineitem"])),
            "l_shipdate": pa.array(_days(rng, _SHIP_START, _SHIP_DAYS, n["lineitem"])),
        },
        "events": {
            "event_id": pa.array(ids["events"]),
            "ts": pa.array(
                _EVENT_START
                + np.sort(rng.integers(0, _EVENT_SPAN_US, n["events"]))
                * np.timedelta64(1, "us")
            ),
            "user_id": pa.array(
                rng.integers(0, max(1, round(15_000 * sf)), n["events"])
            ),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n["events"])),
            "value": pa.array(
                np.maximum(np.round(rng.exponential(50.0, n["events"]), 2), 0.01)
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]
            ),
        },
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return {name: pa.table(cols[name]) for name in TABLE_NAMES}


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group parquet file per table, as in the FIXTURES.md §B corpus."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
