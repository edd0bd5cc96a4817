"""Seeded relational fixtures in the layout the engine's catalog reads:
one ``<table>.parquet`` per table under a scale-factor directory.

The shapes follow the engine's fixture schema (FIXTURES.md): a
TPC-H-ish star plus ``events``, ``documents`` and ``embeddings``, with
row counts proportional to the scale factor (lineitem 6M x sf). Values
keep the fixture's conventions that make Spark and DuckDB agree
exactly: money and measures are two-decimal doubles, timestamps are
naive microseconds, and event times are strictly increasing.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_WORDS = ["large", "hot", "blue", "small", "red", "ring", "bolt", "nut"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]

_US_PER_DAY = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n):
    base = np.datetime64(start, "us").astype(np.int64)
    d = rng.integers(0, span_days, n) * _US_PER_DAY + base
    return pa.array(d, pa.timestamp("us"))


def _pick(rng, choices, n):
    return pa.array(np.asarray(choices, dtype=object)[
        rng.integers(0, len(choices), n)])


def events_table(seed: int, n: int) -> pa.Table:
    """``events``: strictly increasing timestamps over 30 days."""
    rng = np.random.default_rng([seed, 8])
    step = rng.integers(1, 2 * 30 * _US_PER_DAY // max(n, 1), n)
    ts = np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(step)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, n // 66), n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def tables(seed: int, sf: float) -> dict:
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(
        200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust,
                                                 dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp,
                                                 dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([
                f"{PART_WORDS[a]} {PART_WORDS[5 + b]}" for a, b in zip(
                    rng.integers(0, 5, n_part), rng.integers(0, 3, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(
                1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(
                900 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li,
                                                  dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["O", "F"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
        }),
        "events": events_table(seed, int(1_000_000 * sf)),
    }
    ntok = rng.integers(10, 101, n_doc)
    toks = np.asarray(WORDS, dtype=object)[rng.integers(
        0, len(WORDS), int(ntok.sum()))]
    ends = np.cumsum(ntok)
    text = [" ".join(toks[e - k:e]) for e, k in zip(ends, ntok)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(text),
        "lang": _pick(rng, LANGS, n_doc),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in text],
                                     dtype=np.int64)),
    })
    emb = rng.normal(0, 1 / 8, (n_emb, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    })
    return out


def write_tables(seed: int, sf: float, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
