"""Output checks: an order-insensitive value hash, the DuckDB oracle run that
produced the stored batch hashes, and independent references for the three
stream drains.

The hash follows the comparison rules of the repository's oracle tests:
columns sorted by name, rows sorted, floats rounded to 6 decimals, ints and
floats kept distinct (1 and 1.0 hash differently), NULL and NaN equal.
"""
from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd


def _cell(value, kind: str) -> str:
    if value is None or (isinstance(value, float) and math.isnan(value)) or value is pd.NaT:
        return "∅"
    if kind == "f":
        return repr(round(float(value), 6) + 0.0)  # + 0.0 folds -0.0 into 0.0
    if kind in "iu":
        return str(int(value))
    return str(value)


def frame_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    kinds = []
    rendered = []
    for c in cols:
        s = pdf[c]
        kind = s.dtype.kind
        if kind == "O":  # nullable numbers can arrive as objects
            sample = s.dropna()
            if len(sample) and all(isinstance(v, (int, np.integer)) and not isinstance(v, bool) for v in sample):
                kind = "i"
            elif len(sample) and all(isinstance(v, (float, np.floating)) for v in sample):
                kind = "f"
        kinds.append("f" if kind == "f" else "i" if kind in "iu" else "o")
        rendered.append([_cell(v, kind) for v in s.tolist()])
    rows = sorted("\x1f".join(r) for r in zip(*rendered))
    h = hashlib.sha256()
    h.update(("|".join(f"{c}:{k}" for c, k in zip(cols, kinds)) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return h.hexdigest()[:32]


def duck_run(data_dir: str, sql: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).df()
    finally:
        con.close()


# ------------------------------------------------------ stream references --

def ewma_reference(events: pd.DataFrame, key: str, ts: str, value: str,
                   alpha: float, threshold: float) -> pd.DataFrame:
    """Per-key EWMA scores in event-time order, the recursion of
    ``streaming.jobs.stream_ewma_score`` written out as a plain loop."""
    out = []
    for _, g in events.sort_values(ts, kind="mergesort").groupby(key, sort=False):
        mean, var, n = 0.0, 0.0, 0
        scores = []
        for x in g[value].astype(float):
            s = 0.0
            if n > 0:
                sd = var**0.5
                s = abs(x - mean) / sd if sd > 0 else 0.0
            if n == 0:
                mean, var, n = x, 0.0, 1
            else:
                mean = (1 - alpha) * mean + alpha * x
                var = (1 - alpha) * var + alpha * (x - mean) ** 2
                n += 1
            scores.append(s)
        part = g[[key, ts, value]].copy()
        part["score"] = scores
        part["label"] = np.where(np.array(scores) > threshold, "O", "N")
        out.append(part)
    return pd.concat(out, ignore_index=True)


def dedup_reference(batches: list[pd.DataFrame], key: str, ts: str,
                    delay_us: int) -> pd.DataFrame:
    """First arrival per key within the watermark horizon, batch by batch:
    a key's state expires at first-arrival time + delay and is evicted at
    the end of the first batch whose watermark (max event time of the
    earlier batches minus the delay) has reached that expiry."""
    state: dict = {}
    watermark = 0
    kept = []
    for batch in batches:
        batch = batch.sort_values(ts, kind="mergesort")
        t_us = batch[ts].astype("datetime64[us]").astype(np.int64).to_numpy()
        for i, k in enumerate(batch[key].tolist()):
            if t_us[i] <= watermark or k in state:
                continue
            state[k] = t_us[i] + delay_us
            kept.append(batch.iloc[i])
        state = {k: exp for k, exp in state.items() if watermark < exp}
        if len(batch):  # Spark keeps the watermark in whole milliseconds
            watermark = max(watermark, int(t_us.max()) // 1000 * 1000 - delay_us)
    return pd.DataFrame(kept).reset_index(drop=True)
