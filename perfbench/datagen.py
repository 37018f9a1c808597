"""Seeded generator for the ten catalog tables.

The tables follow the schemas and value domains in FIXTURES.md (TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``), so every
catalog query runs on them unchanged. The same ``(seed, sf)`` always
writes the same parquet files.
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
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
DUP_SHARE = 0.05


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # near-duplicates: a copy of another document plus one marker token
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32()), flat
        ),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` for one seed."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string()),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(_pick(rng, names, n_part), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(_pick(rng, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1), pa.float64()
        ),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ORDER_STATUS, n_ord), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), pa.float64()),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string()),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
        "l_returnflag": pa.array(_pick(rng, RETURN_FLAGS, n_line), pa.string()),
        "l_linestatus": pa.array(_pick(rng, LINE_STATUS, n_line), pa.string()),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line), pa.timestamp("us")),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def write(seed: int, sf: float, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    import sys

    seed, out = int(sys.argv[1]), sys.argv[2]
    for sf in sys.argv[3:]:
        write(seed, float(sf), os.path.join(out, f"sf{sf}"))
