"""Seeded input tables for the ``sketch_queries`` workload.

The headline queries read five parquet tables (documents, lineitem,
orders, events, embeddings). This module writes them as a pure function of
the seed, so the benchmark needs no data outside its checkout. Schemas,
vocabulary and value ranges follow the repository's fixed test tables
(sf0.01 and sf0.1, compared in perfbench/NOTES.md); row counts and key
ranges scale with ``SCALE`` the way they do between those two.

At ``SCALE`` 0.02 each return flag holds ~22,000 distinct order keys, above
the k = 16384 of the theta and tuple headline queries, so those sketches
run in estimation mode, as they do at sf0.1.

The documents table plants ``PLANTED_DUP_SHARE`` near-duplicates: a copy of
an earlier document with one extra token. Those (source, copy) pairs are
the truth the workload's ``dup_recall`` is scored against.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.02
N_DOCUMENTS = round(50_000 * SCALE)
N_ORDERS = round(1_500_000 * SCALE)
N_LINEITEM = 4 * N_ORDERS
N_EVENTS = round(1_000_000 * SCALE)
N_USERS = round(15_000 * SCALE)
N_CUSTOMERS = round(150_000 * SCALE)
N_PARTS = round(200_000 * SCALE)
N_SUPPLIERS = round(10_000 * SCALE)
N_EMBEDDINGS = max(500, round(20_000 * SCALE))
EMBED_DIM = 64
PLANTED_DUP_SHARE = 0.05

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _documents(rng: np.random.Generator) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    for i in range(N_DOCUMENTS):
        roll = rng.random()
        if i > 0 and roll < PLANTED_DUP_SHARE:
            src = int(rng.integers(0, i))
            texts.append(texts[src] + " dup")
            planted.append((src, i))
        elif i > 0 and roll < PLANTED_DUP_SHARE + 0.002:
            texts.append(texts[int(rng.integers(0, i))])  # exact copy
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), size=n)))
    doc_id = np.arange(N_DOCUMENTS, dtype=np.int64)
    df = pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": rng.choice(LANGS, size=N_DOCUMENTS, p=LANG_WEIGHTS),
            "source": [f"src{i % 20}" for i in doc_id],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return df, planted


def _days(rng: np.random.Generator, start: datetime, span_days: int, n: int) -> pd.Series:
    return pd.Series(
        pd.to_datetime(start) + pd.to_timedelta(rng.integers(0, span_days, size=n), unit="D")
    ).astype("datetime64[us]")


def _lineitem(rng: np.random.Generator) -> pd.DataFrame:
    n = N_LINEITEM
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, N_ORDERS, size=n),
            "l_partkey": rng.integers(0, N_PARTS, size=n),
            "l_suppkey": rng.integers(0, N_SUPPLIERS, size=n),
            "l_linenumber": rng.integers(1, 8, size=n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 5000, size=n), 2),
            "l_discount": rng.integers(0, 11, size=n) / 100.0,
            "l_tax": rng.integers(0, 9, size=n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], size=n),
            "l_linestatus": rng.choice(["F", "O"], size=n),
            "l_shipdate": _days(rng, datetime(1995, 1, 2), 2498, n),
        }
    )


def _orders(rng: np.random.Generator) -> pd.DataFrame:
    n = N_ORDERS
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMERS, size=n),
            "o_orderstatus": rng.choice(["F", "O", "P"], size=n),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, size=n), 2),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), 2404, n),
            "o_orderpriority": rng.choice(PRIORITIES, size=n),
        }
    )


def _events(rng: np.random.Generator) -> pd.DataFrame:
    n = N_EVENTS
    secs = np.sort(rng.uniform(0, 30 * 86400, size=n))
    ts = pd.Series(
        pd.to_datetime(datetime(2024, 1, 1)) + pd.to_timedelta(secs, unit="s")
    ).astype("datetime64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, N_USERS, size=n),
            "event_type": rng.choice(EVENT_TYPES, size=n),
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n)],
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(0, 10, size=N_EMBEDDINGS).astype(np.int32)
    centers = rng.normal(0.0, 0.07 / np.sqrt(EMBED_DIM), size=(10, EMBED_DIM))
    v = rng.normal(0.0, 1.0 / np.sqrt(EMBED_DIM), size=(N_EMBEDDINGS, EMBED_DIM)) + centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, v.size + 1, EMBED_DIM, dtype=np.int32)), pa.array(v.reshape(-1))
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMBEDDINGS, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(labels),
        }
    )


def write_tables(out_dir: str, seed: int) -> list[tuple[int, int]]:
    """Write the five tables as ``<out_dir>/<name>.parquet``; return the
    planted near-duplicate (source doc_id, copy doc_id) pairs."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x5EED])
    docs, planted = _documents(rng)
    frames = {
        "documents": docs,
        "lineitem": _lineitem(rng),
        "orders": _orders(rng),
        "events": _events(rng),
    }
    for name, df in frames.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False), f"{out_dir}/{name}.parquet"
        )
    pq.write_table(_embeddings(rng), f"{out_dir}/embeddings.parquet")
    return planted


TABLE_ROWS = {
    "documents": N_DOCUMENTS,
    "lineitem": N_LINEITEM,
    "orders": N_ORDERS,
    "events": N_EVENTS,
    "embeddings": N_EMBEDDINGS,
}
