"""Seeded generator for the benchmark's TPC-H-ish driver tables.

The catalog queries read ten parquet tables (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings). The
benchmark builds them itself from ``--seed`` with NumPy and writes them
with pyarrow, so a run needs nothing outside its checkout and two runs
with one seed get byte-identical inputs.

Value domains follow the fixture tables the catalog was written against
(FIXTURES.md §B): money at two decimals, dates as midnight timestamps,
30-word document vocabulary plus a seeded long tail of rarer terms so
BM25 queries can mix frequent and rare words, 64-dim unit embeddings
drawn around ten label centroids.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
TAIL_TERMS = 400  # rare terms t000..t399, Zipf-weighted
EMB_DIM = 64

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(round(lo * 100), round(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    d0 = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - d0).astype(int))
    days = d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    tail = [f"t{i:03d}" for i in range(TAIL_TERMS)]
    tail_p = 1.0 / np.arange(1, TAIL_TERMS + 1)
    tail_p /= tail_p.sum()
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.02:
            # near-duplicate of an earlier document, for the dedup entries
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = rng.choice(VOCAB, lengths[i]).astype(object)
        rare = rng.random(lengths[i]) < 0.1
        words[rare] = rng.choice(tail, int(rare.sum()), p=tail_p)
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around ten label centroids."""
    centers = rng.standard_normal((10, EMB_DIM))
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = centers[labels] + 1.5 * rng.standard_normal((n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten tables at scale ``sf`` under ``out_dir``; returns
    {table: rows}. Each table draws from its own stream of (seed, table)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    rows: dict[str, int] = {}

    def rng_for(name: str) -> np.random.Generator:
        return np.random.default_rng([seed, TABLES.index(name)])

    def emit(name: str, build) -> None:
        t = build(rng_for(name))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    emit("region", lambda r: pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }))
    emit("nation", lambda r: pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }))
    emit("customer", lambda r: pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, n_cust)),
    }))
    emit("supplier", lambda r: pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
    }))
    emit("part", lambda r: pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(r.choice(P_ADJ, n_part), " "),
                                       r.choice(P_NOUN, n_part))),
        "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(r.choice(P_TYPES, n_part)),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
    }))
    emit("orders", lambda r: pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, n_ord)),
    }))
    emit("lineitem", lambda r: pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(np.round(r.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(r.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(r.choice(["F", "O"], n_li)),
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_li),
    }))

    def events(r: np.random.Generator) -> pa.Table:
        t0 = np.datetime64("2024-01-01T00:00:00", "us")
        span_us = 30 * 86_400 * 1_000_000
        offs = np.sort(r.integers(0, span_us, n_ev))
        return pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(t0 + offs.astype("timedelta64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, 1500, n_ev).astype(np.int64)),
            "event_type": pa.array(r.choice(EVENT_TYPES, n_ev)),
            "value": pa.array(_money(r, 0.0, 560.0, n_ev)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
        })

    emit("events", events)
    emit("documents", lambda r: _documents(r, n_doc))
    emit("embeddings", lambda r: _embeddings(r, n_emb))
    return rows


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
