"""Seeded lakehouse tables for query_mix: the star schema (region,
nation, customer, supplier, part, orders, lineitem) plus the events,
documents and embeddings tables, with the column names, types and value
domains the engine's batch queries expect. ``events.ts`` is written as
the test data files under TESTDATA.md store it: TIMESTAMP(MICROS), not
adjusted to UTC, which Spark reads as TIMESTAMP_NTZ.

The scale is 0.02 of TPC-H scale factor 1, not 0.1, so that a run of
warm-up plus timed passes fits the benchmark's time budget; the
documents table has a fixed 200 rows (see ``DOCUMENTS``).

Tables are built in memory with numpy and pyarrow from the seed, then
land through the engine's own sink (``ParquetTable.append``) as
``<dir>/<name>.parquet`` directories, so the mix reads what the write
path produces.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.02  # rows relative to a TPC-H scale factor of 1
# The near-dup query's DuckDB oracle compares all document pairs, so the
# corpus stays small whatever the scale.
DOCUMENTS = 200
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "cold"]
P_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMBED_DIM = 64
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    while len(texts) < n:
        # ~5% planted near-duplicates: an earlier long document plus one
        # word, far above the near-dup threshold
        long_docs = [t for t in texts[-200:] if len(t.split()) >= 30]
        if long_docs and rng.random() < 0.05:
            texts.append(long_docs[int(rng.integers(len(long_docs)))] + " dup")
            continue
        n_words = int(rng.integers(8, 100))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words)))
    return pa.table(
        {
            "doc_id": _keys(n),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0, 0.8, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": _keys(n),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": labels,
        }
    )


def generate(seed: int, scale: float = SCALE) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_users = int(15_000 * scale)
    n_events = int(1_000_000 * scale)
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": _keys(n_cust),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": _keys(n_supp),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    t["part"] = pa.table(
        {
            "p_partkey": _keys(n_part),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": price,
        }
    )
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * np.timedelta64(DAY_US, "us")
    t["orders"] = pa.table(
        {
            "o_orderkey": _keys(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": odate,
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(_keys(n_ord), lines)
    l_num = (np.arange(len(l_order)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = len(l_order)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": l_part,
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": l_num.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price[l_part], 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": np.repeat(odate, lines)
            + rng.integers(1, 122, n_li) * np.timedelta64(DAY_US, "us"),
        }
    )
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_events)).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": _keys(n_events),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(20.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    t["documents"] = _documents(rng, DOCUMENTS)
    t["embeddings"] = _embeddings(rng, int(20_000 * scale))
    return t


def land(spark, tables: dict[str, pa.Table], lake_dir: str, staging_dir: str) -> None:
    """Write each table through ``ParquetTable.append`` as
    ``<lake_dir>/<name>.parquet``."""
    from databricks_end_to_end_streaming_spark.streaming.sinks import ParquetTable

    os.makedirs(staging_dir, exist_ok=True)
    for name, table in tables.items():
        staged = os.path.join(staging_dir, f"{name}.parquet")
        pq.write_table(table, staged)
        ParquetTable(os.path.join(lake_dir, f"{name}.parquet")).append(
            spark.read.parquet(staged)
        )
