"""Seeded input tables for the benchmark.

Writes the ten tables ``__spark_entry__.queries()`` reads (region nation
customer supplier part orders lineitem events documents embeddings), with
the column names, types and value ranges of the TPC-H-ish test fixture,
at a chosen scale factor. The same (scale, seed) gives identical rows. Each table is one parquet file with one row group, like the
fixture, so the scan fan-out the queries see is the same.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DIM = 64

_US = np.int64(1_000_000)


def _epoch_us(ts: datetime) -> np.int64:
    return np.int64(int((ts - datetime(1970, 1, 1)).total_seconds())) * _US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: datetime, end: datetime, n: int):
    span = (end - start).days
    us = _epoch_us(start) + rng.integers(0, span + 1, n) * (86_400 * _US)
    return pa.array(us, pa.timestamp("us"))


def tables(scale: float, seed: int, only: tuple[str, ...] | None = None) -> dict[str, pa.Table]:
    """The ten tables (or those named in ``only``) at ``scale``; 0.01 gives
    the row counts of the sf0.01 fixture. Each table draws from its own
    stream of ``seed``, so a subset reads the same as the full set."""
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(50, int(1_500_000 * scale))
    n_line = max(200, int(6_000_000 * scale))
    n_ev = max(100, int(1_000_000 * scale))
    n_doc = max(50, int(50_000 * scale))
    n_emb = max(50, int(50_000 * scale))
    i32, i64 = pa.int32(), pa.int64()

    out: dict[str, pa.Table] = {}

    def want(name: str) -> bool:
        return only is None or name in only

    if want("region"):
        out["region"] = pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": REGIONS,
        })
    if want("nation"):
        out["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        })
    if want("customer"):
        rng = np.random.default_rng([seed, 2])
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        })
    if want("supplier"):
        rng = np.random.default_rng([seed, 3])
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        })
    if want("part"):
        rng = np.random.default_rng([seed, 4])
        pk = np.arange(n_part)
        out["part"] = pa.table({
            "p_partkey": pa.array(pk, i64),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        })
    if want("orders"):
        rng = np.random.default_rng([seed, 5])
        out["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": np.array(STATUS)[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), n_ord),
            "o_orderpriority": np.array(PRIORITY)[rng.integers(0, 5, n_ord)],
        })
    if want("lineitem"):
        rng = np.random.default_rng([seed, 6])
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), n_line),
        })
    if want("events"):
        rng = np.random.default_rng([seed, 7])
        ts = np.sort(rng.integers(0, 30 * 86_400 * _US, n_ev)) + _epoch_us(datetime(2024, 1, 1))
        out["events"] = pa.table({
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(2, n_cust // 10), n_ev), i64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        })
    if want("documents"):
        rng = np.random.default_rng([seed, 8])
        texts: list[str] = []
        for i in range(n_doc):
            if i >= 10 and rng.random() < 0.05:
                # near-duplicate of an earlier document (the dedup stages' input)
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            else:
                n_words = int(rng.integers(8, 90))
                texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n_words)]))
        out["documents"] = pa.table({
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        })
    if want("embeddings"):
        rng = np.random.default_rng([seed, 9])
        labels = rng.integers(0, 10, n_emb)
        centroids = rng.normal(0.0, 0.09, (10, DIM))
        vecs = (centroids[labels] + rng.normal(0.0, 0.087, (n_emb, DIM))).astype(np.float32)
        out["embeddings"] = pa.table({
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        })
    return out


def write(out_dir: str, scale: float, seed: int, only: tuple[str, ...] | None = None) -> None:
    """Write the tables to ``out_dir/<name>.parquet``, one row group each."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(scale, seed, only).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
