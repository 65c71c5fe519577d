"""Seeded input tables for the benchmark.

Writes the ten parquet tables the catalog reads (``tables.TABLES``)
with the schemas, key ranges and value distributions of the repo's
fixed testdata (TPC-H-ish star schema, an ``events`` stream table,
synthetic ``documents`` over a 30-word vocabulary with 5% near
duplicates, and random 64-d unit ``embeddings`` with 2% near
duplicates). The same
seed always gives byte-identical values, so every run of a workload
with one seed sees the same inputs, and different seeds exercise the
same plans on different data.

Row counts follow scale factor ``sf`` like the testdata (sf0.01:
60k lineitem, 15k orders, 10k events); documents and embeddings stay
at 500 rows, as in the testdata at sf <= 0.01.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_ADJ = ("small", "red", "blue", "hot", "old", "new", "cold", "large")
PART_NOUN = ("ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo")
PART_TYPES = ("SMALL", "MEDIUM", "PROMO", "ECONOMY", "STANDARD", "LARGE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EMBED_DIM = 64


def _days(rng, n, start: dt.date, span_days: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n) -> list:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _documents(rng, n: int) -> pa.Table:
    dups = set(rng.choice(np.arange(11, n), n // 20, replace=False).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in dups:
            # near duplicate: an earlier document plus a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        target = int(rng.integers(48, 551))
        words = _pick(rng, VOCAB, target // 3)
        texts.append(" ".join(words)[:target].rstrip())
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    # 2% near duplicates: an earlier vector plus a little noise
    for i in rng.choice(np.arange(1, n), n // 50, replace=False):
        vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0.0, 0.3, EMBED_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(40.0, n) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    pk = np.arange(n_part)
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(pk, pa.int64()),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
                "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), 2404),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _pick(rng, ("F", "O"), n_line),
                "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), 2499),
            }
        ),
        "events": _events(rng, n_ev),
        "documents": _documents(rng, 500),
        "embeddings": _embeddings(rng, 500),
    }
    return out


def write(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (one file, one
    row group each, like the testdata)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
