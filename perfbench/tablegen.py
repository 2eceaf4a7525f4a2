"""Seeded generator for the registry's tables (TESTDATA.md).

Writes one parquet file per table, ``<dir>/<table>.parquet``, with the
column names and types of the repository's test tables: a TPC-H-like
star schema (``region nation customer supplier part orders lineitem``),
an ``events`` stream, a ``documents`` text corpus and an ``embeddings``
table. Row counts scale with ``sf`` the way the test tables do
(``lineitem`` has 6,000,000 x ``sf`` rows); the small tables have
floors so that every registry query has rows to work on.

Value shapes follow the test tables: keys are dense from 0, foreign
keys are uniform draws, dates are midnight timestamps, ``events.ts``
grows with ``event_id`` over January 2024, documents are drawn from a
30-word vocabulary and about 5% of them are a copy of another document
plus the word ``dup`` (the near-duplicates the dedup queries find), and
embeddings are 64-dimensional unit vectors around ten labelled centres.

The seed drives every draw, so one seed always gives the same tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_EMB_DIM = 64
_EMB_LABELS = 10

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _day_us(y: int, m: int, d: int) -> int:
    return (dt.datetime(y, m, d) - _EPOCH).days * _DAY_US


def _dates(rng, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    a, b = _day_us(*lo) // _DAY_US, _day_us(*hi) // _DAY_US
    return pa.array(rng.integers(a, b + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def _i32(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int32))


def _i64(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int64))


def generate_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table, in memory."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1500, round(1_500_000 * sf))
    n_line = max(6000, round(6_000_000 * sf))
    n_ev = max(1000, round(1_000_000 * sf))
    n_users = max(15, n_cust // 10)
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": _i32(range(5)), "r_name": list(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": _i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": _i32([i % 5 for i in range(25)]),
    })
    t["customer"] = pa.table({
        "c_custkey": _i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": _i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": _i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": _i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": _i64(keys),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2)).tolist()],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()],
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": _i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": _i64(range(n_ord)),
        "o_custkey": _i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _dates(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": _i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": _i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": _i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": _i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _dates(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
    })
    # Event times grow with event_id over the 30 days of January 2024.
    span_us = 30 * _DAY_US
    gaps = rng.exponential(1.0, n_ev)
    offsets = (np.cumsum(gaps) / gaps.sum() * (span_us - 1)).astype(np.int64)
    t["events"] = pa.table({
        "event_id": _i64(range(n_ev)),
        "ts": pa.array(_day_us(2024, 1, 1) + offsets, pa.timestamp("us")),
        "user_id": _i64(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 100, n).tolist()]
    # About 5% of the documents copy an earlier one and append "dup".
    for i in np.nonzero(rng.random(n) < 0.05)[0].tolist():
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": _i64(range(n)),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": _i64([len(s) for s in texts]),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centres = rng.normal(size=(_EMB_LABELS, _EMB_DIM))
    labels = rng.integers(0, _EMB_LABELS, n)
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": _i64(range(n)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": _i32(labels),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in generate_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
