"""Deterministic benchmark inputs, written as parquet with pyarrow.

The tables mimic the shapes of the engine's fixture tables (events,
lineitem, documents, embeddings) at a chosen row count, so registry
builders run on them unchanged. Every table is a function of ``data_seed``
and ``scale`` only: the same pair gives byte-identical parquet, which is
what lets ``expected.json`` hold one oracle hash per query.

Timestamps are written as microsecond ``timestamp`` columns (Spark reads
them natively; ``load_table`` only rewrites nanosecond columns).
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at scale 1.0 (the fixture sf0.01 sizes)
BASE_ROWS = {"events": 10_000, "lineitem": 60_000, "documents": 500, "embeddings": 500}

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "en", "en", "fr", "de", "es", "zh"]
EMBED_DIM = 64

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _rows(name: str, scale: float) -> int:
    return max(20, int(BASE_ROWS[name] * scale))


def events(rng: np.random.Generator, n: int) -> pa.Table:
    """Time-ordered keyed events; ts strictly increasing, so event order is
    total and stream replays are reproducible batch by batch."""
    gaps_us = rng.integers(1_000_000, 520_000_000, n)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = t0 + np.cumsum(gaps_us)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.int64()).cast(pa.timestamp("us")),
            "user_id": rng.integers(0, max(2, n // 66), n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        },
        schema=EVENTS_SCHEMA,
    )


def lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    lines = rng.integers(1, 8, n // 2 + 1)
    orderkey = np.repeat(np.arange(1, len(lines) + 1, dtype=np.int64), lines)[:n]
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])[:n]
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, n), 2)
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_linenumber": linenumber.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        }
    )


def _text(rng: np.random.Generator) -> list[str]:
    return list(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(8, 91)))])


def _edit(rng: np.random.Generator, words: list[str], share: float) -> list[str]:
    """A near copy: each word is replaced with probability ``share``."""
    out = list(words)
    for i in range(len(out)):
        if rng.random() < share:
            out[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return out


def documents(rng: np.random.Generator, n: int, first_id: int = 0,
              copy_from: list[str] | None = None) -> pa.Table:
    """Documents where about a third are light edits of an earlier document
    (of this table, or of ``copy_from`` when given), so the near-duplicate
    queries have true pairs to find."""
    texts: list[str] = []
    for i in range(n):
        pool = copy_from if copy_from is not None else texts
        if pool and rng.random() < 0.35:
            base = pool[int(rng.integers(0, len(pool)))].split()
            texts.append(" ".join(_edit(rng, base, 0.05)))
        else:
            texts.append(" ".join(_text(rng)))
    return pa.table(
        {
            "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        schema=DOCS_SCHEMA,
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around ten label centroids; 5% are near copies of an
    earlier vector (cosine ~1), the duplicates the LSH queries look for."""
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(0.0, 1.2, (n, EMBED_DIM))
    for i in range(1, n):
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0.0, 0.01, EMBED_DIM)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def write_tables(out_dir: str, scale: float, data_seed: int = 42) -> dict[str, int]:
    """Write the four tables under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {"events": events, "lineitem": lineitem,
              "documents": documents, "embeddings": embeddings}
    rows = {}
    for i, (name, make) in enumerate(makers.items()):
        table = make(np.random.default_rng([data_seed, i]), _rows(name, scale))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def write_slices(table: pa.Table, out_dir: str, rows_per_slice: int) -> int:
    """Fixed-size, in-order parquet slices: with maxFilesPerTrigger=1 one
    slice is one micro-batch. File names sort in replay order."""
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    for start in range(0, table.num_rows, rows_per_slice):
        pq.write_table(table.slice(start, rows_per_slice),
                       os.path.join(out_dir, f"slice-{n:05d}.parquet"))
        n += 1
    return n
