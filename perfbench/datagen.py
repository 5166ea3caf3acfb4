"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine reads (``columnar_aware_dedup_spark.io.TABLES``)
as one parquet file each, with the schemas listed in ``FIXTURES.md``: a
TPC-H-like star schema, an ``events`` stream, and the ``documents`` /
``embeddings`` corpora of the LLM-curation operators. Row counts scale with
``sf`` the same way the shipped fixtures do (60,000 lineitem rows at sf0.01).

The corpora carry planted exact and near duplicates, so the dedup, near-dup
and clustering operators have real work to do. The same ``seed`` and ``sf``
always give byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = (["en"] * 44) + (["zh"] * 14) + (["es"] * 14) + (["de"] * 14) + (["fr"] * 14)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "green", "steel", "brass", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "nut", "gear", "pipe", "valve", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, start: dt.date, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _texts(rng, n: int) -> list[str]:
    """Random word sequences with ~2 % exact copies and ~4 % near copies
    (a few words substituted) of earlier documents."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and roll < 0.06:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def _embeddings(rng, n: int, dim: int = 64) -> np.ndarray:
    """Unit vectors; ~5 % are small perturbations of an earlier vector."""
    v = rng.standard_normal((n, dim))
    for i in range(1, n):
        if rng.random() < 0.05:
            v[i] = v[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(dim)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    n_docs = int(50_000 * sf)
    n_vecs = int(50_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n_line),
    })
    gaps_us = rng.integers(1, 2 * 30 * 86_400_000_000 // max(1, n_events), n_events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype(
        "timedelta64[us]"
    )
    out["events"] = pa.table({
        "event_id": pa.array(range(n_events), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = _texts(rng, n_docs)
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = _embeddings(rng, n_vecs)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })
    return out


def write(out_dir: str, sf: float, seed: int) -> str:
    """Write every table under ``out_dir`` (created if missing)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
