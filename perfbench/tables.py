"""Seeded synthetic catalog tables for the benchmark.

Writes the ten parquet tables the catalog reads (``catalog.TABLES``)
with the physical types and value distributions of the engine's test
data: a TPC-H-style star schema, a 30-day ``events`` stream, a
``documents`` corpus drawn from a 30-word vocabulary with ~5% near-copy
documents, and 64-d unit ``embeddings`` weakly clustered by label.

Row counts follow the test data's scale factor ``SF`` (0.01 gives 60k
lineitem rows); the seed changes only the values, so two seeds give
tables of the same shape and the same size.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
SF = 0.01


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:  # near copy of an earlier document
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        elif i > 0 and rng.random() < 0.002:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.14 * centers[labels] + rng.normal(scale=0.125, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels),
        }
    )


def generate(out: str, seed: int) -> dict[str, int]:
    """Write the ten tables under ``out``; return table -> row count."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line = int(1_500_000 * SF), int(6_000_000 * SF)
    n_ev, n_users = int(1_000_000 * SF), int(15_000 * SF)
    n_docs = int(50_000 * SF)
    n_vec = max(500, int(20_000 * SF))
    i32 = pa.int32()
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
                ),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": pa.array(
                    np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
                "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_ord, rng)),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
                "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
                "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
                "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n_line, rng)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
                "ts": pa.array(
                    (
                        np.datetime64("2024-01-01", "us")
                        + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
                    ).astype("datetime64[us]")
                ),
                "user_id": pa.array(rng.integers(0, n_users, n_ev)),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vec),
    }
    os.makedirs(out, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}

