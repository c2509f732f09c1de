"""Per-key ordered numpy sequence detectors (SURVEY.md §2.1 #5, #6, #7, #9)
— the applyInPandas family. Spark sorts/spills the group feed; each key group
is processed by a vectorized numpy kernel (no scipy dependency — the
two-sample statistics are implemented directly).

Determinism under timestamp ties: every kernel orders its group by
``(ts, *order_cols)`` with a STABLE sort. Real event data always carries
colliding timestamps at scale, and a bare ts sort makes any
order-sensitive output engine- and run-ambiguous — pass a unique
tie-break column (the event id) via ``order_cols`` for reproducible
results (found by the alternate-seed parity sweep, tests/altseed.py).

  spectral_residual ≙ SpectralResiduePredictor (/root/reference/spark/src/
      main/scala/org/beymani/spark/seq/SpectralResiduePredictor.scala:74-153;
      hoidla FastFourierTransformWindow): saliency map — FFT, log amplitude
      minus its moving average, inverse FFT, residue minus trailing-neighbor
      average (the SR step of the SR-CNN paper).
  one_step_ahead ≙ OneStepAheadPredictor (/root/reference/spark/.../seq/
      OneStepAheadPredictor.scala:91-196): predict next value from a trailing
      window (average / weighted / exponential smoothing), score =
      |pred-actual| normalized by the residual std; an outlier's value is
      replaced by its prediction inside the window (stateful feedback,
      :150-151) — inherently sequential per key.
  subsequence_distance ≙ SubSequenceDistanceDetector (/root/reference/spark/
      .../seq/SubSequenceDistanceDetector.scala:69-199): discord score of the
      window at offset i = min Euclidean distance to all non-overlapping
      windows of the reference series.
  change_point ≙ ChangePointDetector (/root/reference/spark/.../misc/
      ChangePointDetector.scala:47-175; hoidla two-sample stat windows):
      KS / Cramér-von Mises / Anderson-Darling statistic between the halves
      of a sliding window, emitted at the window center.
"""
from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _grouped(df: DataFrame, keys: Sequence[str], fn, extra_schema: str) -> DataFrame:
    schema = StructType(list(df.schema.fields))
    for part in extra_schema.split(","):
        name, typ = part.strip().rsplit(" ", 1)
        schema = schema.add(name, typ)
    return df.groupBy(*keys).applyInPandas(fn, schema=schema)


def spectral_residual(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    avg_window: int = 3,
    neighbor_window: int = 21,
    threshold: float = 3.0,
    relative: bool = True,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Adds sr_score and label. Score = saliency minus its trailing
    ``neighbor_window`` moving average (SpectralResiduePredictor.scala:
    149-151 — iAmp minus the non-centered iAmpNeighborAv), i.e. how far the
    point's saliency rises above its recent neighborhood; ``relative=True``
    (default) additionally divides by that trailing average (the SR-CNN
    paper's normalized form) so the threshold is scale-free."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts, *order_cols], kind="mergesort").reset_index(drop=True)
        x = pdf[value].to_numpy(dtype=float)
        n = len(x)
        if n < 4:
            sal = np.zeros(n)
        else:
            spec = np.fft.fft(x)
            amp = np.abs(spec)
            amp[amp == 0] = 1e-12
            log_amp = np.log(amp)
            kern = np.ones(avg_window) / avg_window
            avg_log = np.convolve(log_amp, kern, mode="same")
            residual = log_amp - avg_log
            sal = np.abs(np.fft.ifft(np.exp(residual + 1j * np.angle(spec))))
        # trailing (non-centered) moving average of the saliency, prefix-
        # truncated at the series start
        w = max(int(neighbor_window), 1)
        csum = np.concatenate([[0.0], np.cumsum(sal)])
        idx = np.arange(n)
        lo = np.maximum(0, idx - w + 1)
        trail = (csum[idx + 1] - csum[lo]) / np.maximum(idx + 1 - lo, 1)
        diff = sal - trail
        if relative:
            safe = np.where(trail > 0, trail, 1.0)
            score = diff / safe
        else:
            score = diff
        out = pdf.copy()
        out["sr_score"] = score
        out["label"] = np.where(score > threshold, "O", "N")
        return out

    return _grouped(df, keys, kernel, "sr_score double, label string")


def osa_weights(
    method: str, window: int, alpha: float, weights: Sequence[float] | None
) -> np.ndarray | None:
    """The prediction-window weights of a one-step-ahead ``method``, oldest
    first: None for 'average' (a plain mean), ``(1 - alpha)`` powers for
    'ewma', the caller's ``weights`` for 'weighted'. Raises ValueError for
    an unknown method or a weights list that does not match ``window`` —
    every entry point calls it before it builds a plan."""
    if method == "average":
        return None
    if method == "ewma":
        return (1 - alpha) ** np.arange(window - 1, -1, -1)
    if method == "weighted":
        if weights is None or len(weights) != window:
            raise ValueError("method='weighted' needs len(weights) == window")
        return np.asarray(weights, dtype=float)
    raise ValueError(f"unknown method: {method}")


def osa_scan(
    x: np.ndarray,
    window: int,
    ew: np.ndarray | None,
    threshold: float,
    state: tuple,
) -> tuple[np.ndarray, np.ndarray, tuple]:
    """The one-step-ahead feedback scan (OneStepAheadPredictor.scala:
    118-151), resumable: ``state`` is (work tail, r_n, r_s1, r_s2) — up to
    ``window`` trailing work values, outliers already replaced by their
    prediction, plus the running residual moments (population std,
    matching np.std ddof=0). The scan runs over the tail followed by
    ``x``, so scanning a series in pieces, each resumed from the previous
    piece's end state, gives the scores of one scan over the whole series.
    Returns (predicted, score) for the rows of ``x`` — NaN / 0 until the
    window first fills — and the end state. ``ew`` is the
    :func:`osa_weights` vector, None for the plain mean."""
    tail, r_n, r_s1, r_s2 = state
    # a query restarted with a smaller window resumes from a longer tail
    tail = np.asarray(tail, dtype=float)[-window:]
    work = np.concatenate([tail, np.asarray(x, dtype=float)])
    n = len(work)
    pred = np.full(n, np.nan)
    score = np.zeros(n)
    ew_sum = None if ew is None else ew.sum()
    # the window FEEDBACK (an outlier is replaced by its prediction before
    # it can pollute the next window) makes each step depend on the
    # previous OUTPUT — inherently sequential per key
    for i in range(window, n):
        w = work[i - window : i]
        p = w.mean() if ew is None else float((w * ew).sum() / ew_sum)
        pred[i] = p
        r = work[i] - p
        if r_n >= 3:
            var = r_s2 / r_n - (r_s1 / r_n) ** 2
            sd = var**0.5 if var > 0 else 0.0
        else:
            sd = 0.0
        s = abs(r) / sd if sd > 0 else 0.0
        score[i] = s
        if s > threshold:
            work[i] = p  # feedback: outlier replaced by prediction
        else:
            r_n += 1
            r_s1 += r
            r_s2 += r * r
    k = len(tail)
    return pred[k:], score[k:], (work[-window:], r_n, r_s1, r_s2)


def one_step_ahead(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    window: int = 8,
    method: str = "average",
    alpha: float = 0.3,
    weights: Sequence[float] | None = None,
    threshold: float = 3.0,
    init_stats: DataFrame | None = None,
    emit_stats: bool = False,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Adds predicted, osa_score, label; outliers are replaced by their
    prediction inside the rolling window (reference feedback semantics).
    ``method``: 'average' | 'weighted' (per-position ``weights``, oldest
    first, normalized by their sum — PRED_WEIGHTED_AVERAGE with the
    reference's averaging.weights config list) | 'ewma'
    (PRED_EXP_SMOOTHING with decay ``alpha``).

    Warm-start workflow (OneStepAheadPredictor.scala:121-128 brResStats seed,
    :165-169 stat records side output): ``init_stats`` (keys..., res_n,
    res_sum, res_sum_sq — e.g. from one_step_ahead_residual_stats of the
    previous run) seeds the residual moments per key via cogroup, and
    ``emit_stats=True`` emits the updated final moments on each key's last
    row — the reference's tagged-record pattern, extracted by a codegen
    filter instead of a string-prefix scan. For exact continuity, start the
    new run ``window`` rows before the first unscored row (the rolling
    window itself is rebuilt from those rows; scoring begins after them)."""
    ew = osa_weights(method, window, alpha, weights)

    def run(pdf: pd.DataFrame, init: tuple[int, float, float]) -> pd.DataFrame:
        pdf = pdf.sort_values([ts, *order_cols], kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        pred, score, (_, r_n, r_s1, r_s2) = osa_scan(
            pdf[value].to_numpy(dtype=float), window, ew, threshold, ((), *init)
        )
        out = pdf.copy()
        out["predicted"] = pred
        out["osa_score"] = score
        out["label"] = np.where(score > threshold, "O", "N")
        if emit_stats:
            out["res_n"] = pd.array([pd.NA] * max(n - 1, 0) + ([r_n] if n else []),
                                    dtype="Int64")
            out["res_sum"] = np.concatenate([np.full(max(n - 1, 0), np.nan),
                                             [r_s1]]) if n else np.array([])
            out["res_sum_sq"] = np.concatenate([np.full(max(n - 1, 0), np.nan),
                                                [r_s2]]) if n else np.array([])
        return out

    extra = "predicted double, osa_score double, label string"
    if emit_stats:
        extra += ", res_n long, res_sum double, res_sum_sq double"
    if init_stats is None:
        return _grouped(df, keys, lambda pdf: run(pdf, (0, 0.0, 0.0)), extra)

    schema = StructType(list(df.schema.fields))
    for part in extra.split(","):
        name, typ = part.strip().rsplit(" ", 1)
        schema = schema.add(name, typ)
    # distinct right-side column names: same cogroup self-join attr-dedup
    # caveat as subsequence_distance_ref
    stats_sel = init_stats.select(
        *keys,
        F.col("res_n").alias("_init_n"),
        F.col("res_sum").alias("_init_s1"),
        F.col("res_sum_sq").alias("_init_s2"),
    )

    def kernel(key, pdf: pd.DataFrame, stats_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=[f.name for f in schema.fields])
        init = (0, 0.0, 0.0)
        if len(stats_pdf):
            init = (
                int(stats_pdf["_init_n"].iloc[0]),
                float(stats_pdf["_init_s1"].iloc[0]),
                float(stats_pdf["_init_s2"].iloc[0]),
            )
        return run(pdf, init)

    return (
        df.groupBy(*keys)
        .cogroup(stats_sel.groupBy(*keys))
        .applyInPandas(kernel, schema=schema)
    )


def one_step_ahead_residual_stats(scored: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Extract the per-key residual-stat side output of
    one_step_ahead(emit_stats=True): (keys..., res_n, res_sum, res_sum_sq,
    res_mean, res_std) — the reference's SimpleStat record
    (OneStepAheadPredictor.scala:174-183), ready to feed the next run's
    ``init_stats``. A codegen not-null filter, no extra pass."""
    mean = F.col("res_sum") / F.col("res_n")
    var = F.col("res_sum_sq") / F.col("res_n") - mean * mean
    return scored.filter(F.col("res_n").isNotNull()).select(
        *keys,
        "res_n",
        "res_sum",
        "res_sum_sq",
        F.when(F.col("res_n") > 0, mean).otherwise(F.lit(0.0)).alias("res_mean"),
        F.when(F.col("res_n") > 0, F.sqrt(F.greatest(var, F.lit(0.0))))
        .otherwise(F.lit(0.0))
        .alias("res_std"),
    )


def subsequence_distance(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    window: int = 16,
    threshold: float | None = None,
    exclusion: int | None = None,
    parallelism: int | None = None,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Discord detection: one output row per window offset with the min
    distance to any non-overlapping window (self-join of subsequences).

    ``parallelism=C`` splits each key's O(n^2) profile across C tasks — the
    SCALE.md "chunk the giant key" off-ramp for low-key-cardinality inputs:
    rows are duplicated per chunk, each (key, chunk) task sweeps every C-th
    diagonal (round-robin, so the linearly-shrinking diagonals balance), and
    a codegen groupBy(offset).min combines the partial squared distances.
    Two extra narrow shuffles of n*C rows buy C-fold kernel parallelism."""
    excl = exclusion if exclusion is not None else window
    if parallelism and parallelism > 1:
        out = _subsequence_distance_chunked(
            df, keys, ts, value, window, excl, int(parallelism),
            order_cols=order_cols,
        )
        return _tag_discord(out, threshold)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts, *order_cols], kind="mergesort").reset_index(drop=True)
        x = pdf[value].to_numpy(dtype=float)
        n = len(x) - window + 1
        key_cols = {k: pdf[k].iloc[0] for k in keys}
        if n <= 1:
            return pd.DataFrame(columns=[*keys, "offset", "start_ts", "discord_score"])
        # diagonal sliding-dot sweep (STOMP-style): along diagonal k,
        # dot(i, i+k) is a window-length sliding sum of the elementwise
        # product x[m]*x[m+k], computed by cumsum difference — O(n^2) scalar
        # ops vs O(n^2 * window) for a windows-matrix matmul, symmetric pairs
        # visited once, O(n) memory, full float64 precision
        csq = np.concatenate([[0.0], np.cumsum(x * x)])
        sq = csq[window : window + n] - csq[:n]
        dmin = np.full(n, np.inf)
        for k in range(max(excl, 1), n):  # |i-j| < excl excluded (incl. self)
            m = n - k
            p = x[: len(x) - k] * x[k:]
            cp = np.concatenate([[0.0], np.cumsum(p)])
            dot = cp[window : window + m] - cp[:m]
            d2 = sq[:m] + sq[k : k + m] - 2.0 * dot
            np.minimum(dmin[:m], d2, out=dmin[:m])
            np.minimum(dmin[k : k + m], d2, out=dmin[k : k + m])
        dmin = np.sqrt(np.maximum(dmin, 0.0))
        out = pd.DataFrame(
            {
                **{k: [v] * n for k, v in key_cols.items()},
                "offset": np.arange(n),
                "start_ts": pdf[ts].iloc[:n].to_numpy(),
                "discord_score": dmin,
            }
        )
        return out

    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema if f.name in keys
    )
    ts_type = next(f.dataType.simpleString() for f in df.schema if f.name == ts)
    out = df.groupBy(*keys).applyInPandas(
        kernel,
        schema=f"{key_schema}, offset long, start_ts {ts_type}, discord_score double",
    )
    return _tag_discord(out, threshold)


def _tag_discord(out: DataFrame, threshold: float | None) -> DataFrame:
    """O/N tag on the discord score (same contract as the sibling detectors:
    high min-distance = anomalous subsequence). A cheap codegen projection so
    every builder path — plain, chunked, reference-series — shares it."""
    if threshold is None:
        return out
    return out.withColumn(
        "label",
        F.when(F.col("discord_score") > float(threshold), F.lit("O")).otherwise(F.lit("N")),
    )


def _subsequence_distance_chunked(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    window: int,
    excl: int,
    n_chunks: int,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Within-key parallel discord profile (see subsequence_distance)."""

    def pkernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        chunk = int(key[-1])
        pdf = pdf.sort_values([ts, *order_cols], kind="mergesort").reset_index(drop=True)
        x = pdf[value].to_numpy(dtype=float)
        n = len(x) - window + 1
        cols = [*keys, "offset", "start_ts", "_d2"]
        if n <= 1:
            return pd.DataFrame(columns=cols)
        csq = np.concatenate([[0.0], np.cumsum(x * x)])
        sq = csq[window : window + n] - csq[:n]
        dmin = np.full(n, np.inf)
        for k in range(max(excl, 1) + chunk, n, n_chunks):
            m = n - k
            p = x[: len(x) - k] * x[k:]
            cp = np.concatenate([[0.0], np.cumsum(p)])
            dot = cp[window : window + m] - cp[:m]
            d2 = sq[:m] + sq[k : k + m] - 2.0 * dot
            np.minimum(dmin[:m], d2, out=dmin[:m])
            np.minimum(dmin[k : k + m], d2, out=dmin[k : k + m])
        key_cols = {kc: pdf[kc].iloc[0] for kc in keys}
        return pd.DataFrame(
            {
                **{kc: [v] * n for kc, v in key_cols.items()},
                "offset": np.arange(n),
                "start_ts": pdf[ts].iloc[:n].to_numpy(),
                "_d2": dmin,
            }
        )

    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema if f.name in keys
    )
    ts_type = next(f.dataType.simpleString() for f in df.schema if f.name == ts)
    dup = df.withColumn(
        "_chunk", F.explode(F.array(*[F.lit(i) for i in range(n_chunks)]))
    )
    partial = dup.groupBy(*keys, "_chunk").applyInPandas(
        pkernel,
        schema=f"{key_schema}, offset long, start_ts {ts_type}, _d2 double",
    )
    return partial.groupBy(*keys, "offset", "start_ts").agg(
        F.sqrt(F.greatest(F.min("_d2"), F.lit(0.0))).alias("discord_score")
    )


def subsequence_distance_ref(
    df: DataFrame,
    ref_df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    window: int = 16,
    threshold: float | None = None,
    parallelism: int | None = None,
    order_cols: Sequence[str] = (),
    ref_order_cols: Sequence[str] = (),
) -> DataFrame:
    """Separate-reference-series discord mode (SubSequenceDistanceDetector
    union/tag path, :79-84): each window of the test series is scored by its
    min distance to any window of the reference series — cogroup joins the
    two series per key. ``parallelism=C`` chunks the cross profile exactly
    like subsequence_distance: both sides are duplicated per chunk, each
    (key, chunk) cogroup task sweeps every C-th diagonal, and
    groupBy(offset).min combines the partial squared distances."""
    n_chunks = int(parallelism) if parallelism and parallelism > 1 else 1

    def _sweep(x: np.ndarray, r: np.ndarray, chunk: int) -> np.ndarray:
        """Partial (squared) min-distance profile over this chunk's
        diagonals; cross-series diagonal sliding-dot sweep (see
        subsequence_distance): diagonal k = ref_offset - test_offset,
        O(n*nref/C) scalar ops."""
        n = len(x) - window + 1
        nref = len(r) - window + 1
        csx = np.concatenate([[0.0], np.cumsum(x * x)])
        csr = np.concatenate([[0.0], np.cumsum(r * r)])
        sqx = csx[window : window + n] - csx[:n]
        sqr = csr[window : window + nref] - csr[:nref]
        dmin = np.full(n, np.inf)
        for k in range(-(n - 1) + chunk, nref, n_chunks):
            i0, i1 = max(0, -k), min(n, nref - k)
            if i1 <= i0:
                continue
            m0, m1 = i0, i1 + window - 1
            p = x[m0:m1] * r[m0 + k : m1 + k]
            cp = np.concatenate([[0.0], np.cumsum(p)])
            cnt = i1 - i0
            dot = cp[window : window + cnt] - cp[:cnt]
            d2 = sqx[i0:i1] + sqr[i0 + k : i1 + k] - 2.0 * dot
            np.minimum(dmin[i0:i1], d2, out=dmin[i0:i1])
        return dmin

    out_col = "discord_score" if n_chunks == 1 else "_d2"

    def kernel(key, data: pd.DataFrame, ref: pd.DataFrame) -> pd.DataFrame:
        cols = [*keys, "offset", "start_ts", out_col]
        if len(data) == 0 or len(ref) < window:
            return pd.DataFrame(columns=cols)
        data = data.sort_values([ts, *order_cols], kind="mergesort").reset_index(drop=True)
        ref = ref.sort_values(["_rts", *_ref_oc], kind="mergesort").reset_index(drop=True)
        x = data[value].to_numpy(dtype=float)
        r = ref["_rval"].to_numpy(dtype=float)
        n = len(x) - window + 1
        if n <= 0:
            return pd.DataFrame(columns=cols)
        chunk = int(key[-1]) if n_chunks > 1 else 0
        dmin = _sweep(x, r, chunk)
        if n_chunks == 1:
            dmin = np.sqrt(np.maximum(dmin, 0.0))
        key_cols = {k: data[k].iloc[0] for k in keys}
        return pd.DataFrame(
            {
                **{k: [v] * n for k, v in key_cols.items()},
                "offset": np.arange(n),
                "start_ts": data[ts].iloc[:n].to_numpy(),
                out_col: dmin,
            }
        )

    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema if f.name in keys
    )
    ts_type = next(f.dataType.simpleString() for f in df.schema if f.name == ts)
    # distinct column names on the reference side: cogrouping two frames cut
    # from the same lineage (scoring a series against itself) trips Spark's
    # self-join attribute dedup, which prunes same-named data columns out of
    # the right Arrow batch (see knn.blocked_vec_pairs)
    _ref_oc = [f"_ro{i}" for i in range(len(ref_order_cols))]
    ref_sel = ref_df.select(
        *keys,
        F.col(ts).alias("_rts"),
        F.col(value).alias("_rval"),
        *[F.col(c).alias(a) for c, a in zip(ref_order_cols, _ref_oc)],
    )
    if n_chunks == 1:
        out = (
            df.groupBy(*keys)
            .cogroup(ref_sel.groupBy(*keys))
            .applyInPandas(
                kernel,
                schema=f"{key_schema}, offset long, start_ts {ts_type}, discord_score double",
            )
        )
        return _tag_discord(out, threshold)
    chunk_arr = F.array(*[F.lit(i) for i in range(n_chunks)])
    partial = (
        df.withColumn("_chunk", F.explode(chunk_arr))
        .groupBy(*keys, "_chunk")
        .cogroup(ref_sel.withColumn("_chunk", F.explode(chunk_arr)).groupBy(*keys, "_chunk"))
        .applyInPandas(
            kernel,
            schema=f"{key_schema}, offset long, start_ts {ts_type}, _d2 double",
        )
    )
    out = partial.groupBy(*keys, "offset", "start_ts").agg(
        F.sqrt(F.greatest(F.min("_d2"), F.lit(0.0))).alias("discord_score")
    )
    return _tag_discord(out, threshold)


def ngram_frequency(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    n_bins: int = 10,
    ngram: int = 2,
    window: int = 20,
    threshold: float = 0.5,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """#4 NgramFrequencyPredictor (/root/reference/spark/src/main/scala/org/
    beymani/spark/seq/NgramFrequencyPredictor.scala:87-195): values quantized
    to equal-probability percentile bins; a sliding window maintains n-gram
    counts; score = Σ (max-normalized window freq − reference freq)² where
    the reference map is the max-normalized n-gram frequency of the full
    per-key sequence. Rows before the window first fills receive the first
    full-window score (reference backfill, :137-147)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts, *order_cols], kind="mergesort").reset_index(drop=True)
        x = pdf[value].to_numpy(dtype=float)
        n = len(x)
        qs = np.quantile(x, np.linspace(0, 1, n_bins + 1)[1:-1])
        syms = np.searchsorted(qs, x, side="right")
        grams = [tuple(syms[i : i + ngram]) for i in range(n - ngram + 1)]
        ref: dict = {}
        for g in grams:
            ref[g] = ref.get(g, 0) + 1
        ref_max = max(ref.values()) if ref else 1

        # Score in EXACT integer arithmetic, one float division at the end:
        # Σ (c/mx − r/ref_max)² = Σ (c·ref_max − r·mx)² / (mx·ref_max)².
        # A float-accumulated sum's last-bit noise depends on term order, and
        # a score landing within an ulp of the round-6 boundary then flips
        # between engines (found by the sf0.01 altseed sweep — one row in
        # ~10k). Python ints are arbitrary-precision, the DuckDB oracle sums
        # the same numerators in HUGEINT, and float(S)/float(D) rounds once,
        # identically, on both sides.
        scores = np.zeros(n)
        if n >= window:
            counts: dict = {}
            first_score = None
            for i in range(n):
                if i >= ngram - 1:
                    g = tuple(syms[i - ngram + 1 : i + 1])
                    counts[g] = counts.get(g, 0) + 1
                if i >= window:
                    j = i - window
                    if j >= ngram - 1:
                        g_old = tuple(syms[j - ngram + 1 : j + 1])
                        counts[g_old] -= 1
                        if counts[g_old] == 0:
                            del counts[g_old]
                if i >= window - 1:
                    mx = max(counts.values()) if counts else 1
                    num = 0
                    for g, c in counts.items():
                        num += (c * ref_max - ref.get(g, 0) * mx) ** 2
                    s = float(num) / float((mx * ref_max) ** 2)
                    scores[i] = s
                    if first_score is None:
                        first_score = s
                        scores[: window - 1] = s
        out = pdf.copy()
        out["ng_score"] = scores
        out["label"] = np.where(scores > threshold, "O", "N")
        return out

    return _grouped(df, keys, kernel, "ng_score double, label string")


def _ks_stat(a: np.ndarray, b: np.ndarray) -> float:
    """Two-sample Kolmogorov-Smirnov statistic (no scipy)."""
    all_v = np.sort(np.concatenate([a, b]))
    ca = np.searchsorted(np.sort(a), all_v, side="right") / len(a)
    cb = np.searchsorted(np.sort(b), all_v, side="right") / len(b)
    return float(np.abs(ca - cb).max())


def _cvm_stat(a: np.ndarray, b: np.ndarray) -> float:
    """Two-sample Cramér-von Mises T statistic."""
    n, m = len(a), len(b)
    both = np.concatenate([a, b])
    ranks = both.argsort().argsort() + 1
    ra = np.sort(ranks[:n])  # ranks of the sorted sample (Anderson 1962 form)
    rb = np.sort(ranks[n:])
    u = n * ((ra - np.arange(1, n + 1)) ** 2).sum() + m * (
        (rb - np.arange(1, m + 1)) ** 2
    ).sum()
    t = u / (n * m * (n + m)) - (4 * n * m - 1) / (6 * (n + m))
    return float(t)


def _ad_stat(a: np.ndarray, b: np.ndarray) -> float:
    """Two-sample Anderson-Darling statistic (k-sample form, k=2)."""
    n, m = len(a), len(b)
    nt = n + m
    both = np.concatenate([a, b])
    order = both.argsort(kind="mergesort")
    z = both[order]
    from_a = (order < n).astype(float)
    mi = np.cumsum(from_a)[:-1]
    i = np.arange(1, nt)
    num = (mi * nt - i * n) ** 2
    den = i * (nt - i)
    a2 = (num / den).sum() / (n * m / nt) / nt
    return float(a2)


_STATS = {"ks": _ks_stat, "cvm": _cvm_stat, "ad": _ad_stat}


def change_point_checkpoint(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    window: int = 64,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-key resume checkpoint for change_point: the ts at the center of
    the last full window, seqValues(size - 1 - window/2)
    (ChangePointDetector.scala:152-155). A codegen row_number filter —
    row window//2 + 1 counting from the end. ``order_cols`` tie-breaks
    equal timestamps (descending, mirroring the ascending kernel order) so
    the checkpoint row is the same one change_point's kernel would index."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        F.col(ts).desc(), *[F.col(c).desc() for c in order_cols]
    )
    return (
        df.withColumn("_rdesc", F.row_number().over(w))
        .filter(F.col("_rdesc") == window // 2 + 1)
        .select(*keys, F.col(ts).alias("cp_ts"))
    )


def change_point(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    window: int = 64,
    step: int = 8,
    stat: str = "ks",
    critical_value: float | None = None,
    checkpoint: DataFrame | None = None,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Sliding two-sample test between window halves; emits (keys..., center
    ts, stat value[, is_change]) every ``step`` offsets.

    ``checkpoint`` (keys..., cp_ts from change_point_checkpoint) resumes an
    incremental run: each key is filtered to ts >= cp_ts BEFORE the group
    shuffle (ChangePointDetector.scala:75-90 `seq >= chPt`) — a broadcast
    join + codegen predicate, so at scale the exchange carries only the
    unprocessed suffix, not full history. Keys absent from the checkpoint
    keep all rows (new keys start fresh)."""
    if stat not in _STATS:
        raise ValueError(f"unknown stat: {stat}")
    stat_fn = _STATS[stat]
    half = window // 2
    if checkpoint is not None:
        df = (
            df.join(F.broadcast(checkpoint), list(keys), "left")
            .filter(F.col("cp_ts").isNull() | (F.col(ts) >= F.col("cp_ts")))
            .drop("cp_ts")
        )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts, *order_cols], kind="mergesort").reset_index(drop=True)
        x = pdf[value].to_numpy(dtype=float)
        cols = [*keys, "center_ts", "stat"] + (
            ["is_change"] if critical_value is not None else []
        )
        if len(x) < window:
            return pd.DataFrame(columns=cols)
        starts = np.arange(0, len(x) - window + 1, step)
        if stat == "ks":
            # vectorized over all windows via RANK cumsums: argsort the
            # window once, flag each pooled element's origin half, and the
            # ECDF difference at each pooled value is the origin-count
            # cumsum read at the END of its tie run. Identical integer
            # counts and divisions as the former O(window^2)-per-window
            # comparison tensor (bit-exact: within a tie run the old
            # count-<= was constant and equal to the run-end cumsum), at
            # O(window log window) per window — the tensor was the
            # measured kernel cost of the change_point family.
            wins = np.lib.stride_tricks.sliding_window_view(x, window)[::step]
            order = np.argsort(wins, axis=1, kind="stable")
            pooled = np.take_along_axis(wins, order, axis=1)
            from_a = order < half
            ca = np.cumsum(from_a, axis=1) / half
            cb = np.cumsum(~from_a, axis=1) / (window - half)
            diffs = np.abs(ca - cb)
            run_end = np.ones(pooled.shape, dtype=bool)
            run_end[:, :-1] = pooled[:, 1:] != pooled[:, :-1]
            # non-run-end positions mask to 0.0, never the max (the final
            # position is always a run end and reads |1-1| = 0)
            stats = np.where(run_end, diffs, 0.0).max(axis=1)
        else:
            stats = np.array(
                [
                    stat_fn(x[s0 : s0 + half], x[s0 + half : s0 + window])
                    for s0 in starts
                ]
            )
        out = pd.DataFrame({k: pdf[k].iloc[0] for k in keys}, index=range(len(starts)))
        out["center_ts"] = pdf[ts].iloc[starts + half].to_numpy()
        out["stat"] = stats
        if critical_value is not None:
            out["is_change"] = stats >= critical_value
        return out[cols]

    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema if f.name in keys
    )
    ts_type = next(f.dataType.simpleString() for f in df.schema if f.name == ts)
    extra = ", is_change boolean" if critical_value is not None else ""
    return df.groupBy(*keys).applyInPandas(
        kernel, schema=f"{key_schema}, center_ts {ts_type}, stat double{extra}"
    )


def one_step_ahead_multi(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    values: Sequence[str],
    attr_weights: Sequence[float] | None = None,
    window: int = 8,
    method: str = "average",
    alpha: float = 0.3,
    threshold: float = 3.0,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Multi-attribute one-step-ahead (OneStepAheadPredictor.scala:133-162):
    each attribute keeps its own prediction window, residual moments and
    outlier-feedback ring; the row score is the weighted average of the
    per-attr scores (MathUtils.weightedAverage with attr.weights, :160) and
    the O/N tag applies to the combined score. Adds pred_<attr>,
    score_<attr>, score, label. One applyInPandas pass for all attrs."""
    wts = (
        np.asarray(attr_weights, dtype=float)
        if attr_weights is not None
        else np.full(len(values), 1.0 / len(values))
    )
    if len(wts) != len(values):
        raise ValueError("attr_weights must match values length")
    ew = osa_weights(method, window, alpha, None)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts, *order_cols], kind="mergesort").reset_index(drop=True)
        out = pdf.copy()
        comb = np.zeros(len(pdf))
        for j, v in enumerate(values):
            pred, score, _ = osa_scan(
                pdf[v].to_numpy(dtype=float), window, ew, threshold, ((), 0, 0.0, 0.0)
            )
            out[f"pred_{v}"] = pred
            out[f"score_{v}"] = score
            comb = comb + wts[j] * score
        comb = comb / wts.sum()
        out["score"] = comb
        out["label"] = np.where(comb > threshold, "O", "N")
        return out

    extra = ", ".join(
        [f"pred_{v} double, score_{v} double" for v in values] + ["score double", "label string"]
    )
    return _grouped(df, keys, kernel, extra)


def change_point_multi(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    values: Sequence[str],
    window: int = 64,
    step: int = 8,
    stat: str = "ks",
    critical_value: float | None = None,
    checkpoint: DataFrame | None = None,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Multi-attribute change points (ChangePointDetector.scala:104-151
    flatMaps over attr.ordinals): melt the value columns to (attr, value)
    rows and run the sliding two-sample test per (keys..., attr) — one
    output row per attribute per window center, like the reference's
    keyStr+attr+seq+stat records. The melt is a codegen stack() projection;
    the group exchange carries |values| x the rows, each group independent."""
    melted = df.select(
        *keys,
        F.col(ts),
        *[F.col(c) for c in order_cols],
        F.expr(
            "stack({n}, {pairs}) as (attr, value)".format(
                n=len(values),
                pairs=", ".join(f"'{v}', `{v}`" for v in values),
            )
        ),
    )
    return change_point(
        melted, [*keys, "attr"], ts, "value",
        window=window, step=step, stat=stat,
        critical_value=critical_value, checkpoint=checkpoint,
        order_cols=order_cols,
    )
