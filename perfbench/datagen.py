"""Seeded input tables for the benchmark.

Writes the star schema plus the events, documents and embeddings tables that
the query registry reads, one parquet file per table, with the column types
of FIXTURES.md section B. The timestamp columns keep their stored units:
``events.ts`` is ``timestamp[ns]`` (so ``catalog.table`` takes its
nanos-as-long path) and ``o_orderdate`` / ``l_shipdate`` are
``timestamp[ms]``. Value domains follow the testdata corpus of FIXTURES.md
section B, which the queries and their DuckDB oracles were written against.
The same ``(sf, seed)`` always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("large", "hot", "blue", "small", "red", "cold", "new", "old")
PART_NOUN = ("ring", "bolt", "gear", "gizmo", "anvil", "widget", "plate", "rod")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DOC_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
EMBED_DIM = 64

_DAY_S = 86_400
_ORDER_DAY0 = np.datetime64("1995-01-01", "D")
_SHIP_DAY0 = np.datetime64("1995-01-02", "D")
_EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (lineitem is 6M x sf)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(int(50_000 * sf), 500),
        "embeddings": max(int(20_000 * sf), 500),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, day0: np.datetime64, span: int, n: int) -> pa.Array:
    days = day0 + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[ms]"), type=pa.timestamp("ms"))


def _pick(rng: np.random.Generator, values, n: int, p=None) -> list:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(DOC_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # 5% near-copies of an earlier document (one appended token) and a few
    # exact copies, so the dedup paths have true positives to find.
    for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    for i in rng.choice(np.arange(n // 2, n), max(n // 600, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table at scale ``sf`` from one seeded generator."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    keys = {t: np.arange(n[t]) for t in ("customer", "supplier", "part", "orders")}
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(keys["customer"], pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in keys["customer"]], pa.string()),
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
                "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n["customer"]), pa.string()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(keys["supplier"], pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in keys["supplier"]], pa.string()),
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(keys["part"], pa.int64()),
                "p_name": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            _pick(rng, PART_ADJ, n["part"]), _pick(rng, PART_NOUN, n["part"])
                        )
                    ],
                    pa.string(),
                ),
                "p_brand": pa.array(
                    [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])], pa.string()
                ),
                "p_type": pa.array(_pick(rng, PART_TYPES, n["part"]), pa.string()),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
                "p_retailprice": pa.array(np.round(900 + (keys["part"] % 1000) / 10, 1)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(keys["orders"], pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
                "o_orderstatus": pa.array(_pick(rng, ("F", "O", "P"), n["orders"]), pa.string()),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n["orders"])),
                "o_orderdate": _days(rng, _ORDER_DAY0, 2404, n["orders"]),
                "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n["orders"]), pa.string()),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, n["lineitem"]).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n["lineitem"])),
                "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
                "l_returnflag": pa.array(_pick(rng, ("A", "N", "R"), n["lineitem"]), pa.string()),
                "l_linestatus": pa.array(_pick(rng, ("F", "O"), n["lineitem"]), pa.string()),
                "l_shipdate": _days(rng, _SHIP_DAY0, 2498, n["lineitem"]),
            }
        ),
    }
    n_ev = n["events"]
    offsets_us = np.sort(rng.integers(0, 30 * _DAY_S * 1_000_000, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                (_EVENT_T0 + offsets_us.astype("timedelta64[us]")).astype("datetime64[ns]"),
                pa.timestamp("ns"),
            ),
            "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 15), n_ev), pa.int64()),
            "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return tables


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in build_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
