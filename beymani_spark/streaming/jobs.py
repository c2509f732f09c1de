"""Structured Streaming counterparts of the batch scorers (SURVEY.md §3.2).

The reference's real-time path is a Storm topology: Redis spout ->
fieldsGrouping by entity -> stateful predictor bolt -> Redis alert queue
(/root/reference/src/main/java/org/beymani/predictor/OutlierPredictor.java:
40-61). The Structured Streaming translation:

  spout                 -> readStream (kafka/file/rate source)
  fieldsGrouping(entity)-> state-store hash partitioning of groupBy(entity),
                           one partition per core of the cluster the query
                           first starts on (sources/streams.py:_start_query);
                           the checkpoint freezes that count for restarts
  predictor bolt state  -> broadcast model join (stateless kernels) or
                           applyInPandasWithState (windowed kernels)
  alert queue           -> writeStream sink of filter(label == 'O')

Watermark + late-data policy is a new capability — the reference has none.
The scoring expressions are the *same* column expressions as the batch
operators (stats join + tag), so batch/stream parity is by construction.

Stateful kernels: all seven (ewma, markov, markov_global,
entropy_increase, drift, one_step_ahead, multigram) run in the one
``applyInPandasWithState`` frame of :func:`_stateful_stream`, which owns
eviction, state read/write, timer arming and the sort; each kernel
supplies only its scan over one key's sorted micro-batch slice.

Timestamp ties: every stateful kernel orders each key's micro-batch slice
with ONE stable sort on ``(ts, *tie-break columns)`` — the batch
operators' mergesort convention (sequence.py, drift.drift_detect), so
same-ts rows within a trigger keep their arrival order and a one-file
stream scans exactly what the batch scan does. A stream still cannot be
made tie-deterministic by sorting alone: rows with equal timestamps may
land in DIFFERENT micro-batches, so arrival order is the real order.
Exact replays of tie-heavy history should use the batch operators with
``order_cols``; the streaming path guarantees determinism per micro-batch
only.
"""
from __future__ import annotations

import math
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.markov import UNSEEN_NEG_LOG_PROB
from ..sources.streams import _start_query


_INT64_EDGE = float(2**63)  # 2^63 is exactly representable; 2^63-1 is not


def _safe_bucket_strings(fv, width: float):
    """(valid mask, string image of floor(fv/width)) — the numeric
    bucket renderer shared by the frozen-entropy and multigram
    vectorized paths. Beyond pandas' coerce-failure NaNs, it masks the
    edges a float->int64 conversion cannot represent: non-finite inputs
    (np.floor passes inf through; a blind astype('int64') yields an
    INT64_MIN-derived garbage bucket) and quotients whose floor falls
    outside int64 (astype silently wraps). Those render INVALID — a
    null bucket, scored as unseen / skipped from grams exactly like a
    failed numeric cast — and the sequential update paths apply the
    same rule with exact Python ints (_safe_bucket_str), so frozen and
    update modes render byte-identical buckets on any input."""
    import numpy as np

    q = np.floor(fv / float(width))
    valid = np.isfinite(q) & (q >= -_INT64_EDGE) & (q < _INT64_EDGE)
    out = np.full(len(q), "", dtype=object)
    out[valid] = q[valid].astype("int64").astype(str).astype(object)
    return valid, out


def _safe_bucket_str(v, width: float):
    """Sequential-path twin of :func:`_safe_bucket_strings`: exact
    Python-int rendering with the identical validity rule (None for
    coerce failures, non-finite values, and out-of-int64 floors)."""
    try:
        q = math.floor(float(v) / float(width))
    except (TypeError, ValueError, OverflowError, ZeroDivisionError):
        # non-numeric, NaN (ValueError), +/-inf (OverflowError), or a
        # zero width (ZeroDivisionError — the vectorized twin's 0-divide
        # yields inf and masks to NULL by the same validity rule)
        return None
    if not -(2**63) <= q < 2**63:
        return None
    return str(q)


def stream_zscore(
    stream_df: DataFrame,
    stats: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    threshold: float = 3.0,
) -> DataFrame:
    """Stateless streaming z-score: broadcast static stats model joined onto
    the stream; identical formula to operators.zscore.zscore."""
    from ..operators.zscore import zscore

    return zscore(stream_df, stats, keys, values, threshold=threshold)


def stream_temporal_aggregate(
    stream_df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregate (≙ TemporalAggregator, plus the
    late-data policy the reference lacks)."""
    # Watermarks require TIMESTAMP (with local timezone); parquet sources often
    # carry TIMESTAMP_NTZ, which Spark rejects for event time.
    if dict(stream_df.dtypes).get(ts) == "timestamp_ntz":
        stream_df = stream_df.withColumn(ts, F.col(ts).cast("timestamp"))
    return (
        stream_df.withWatermark(ts, watermark)
        .groupBy(*keys, F.window(F.col(ts), window).alias("w"))
        .agg(
            F.avg(value).alias(f"avg_{value}"),
            F.count("*").alias("cnt"),
        )
        .select(*keys, F.col("w.start").alias("window_start"), f"avg_{value}", "cnt")
    )


def stream_interval_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    tolerance_seconds: float,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join — the streaming form of
    asof.interval_join: every same-key (left, right) pair whose event
    times lie within ``tolerance_seconds``. Both sides carry a watermark
    and the join condition bounds the event-time range, so Spark's
    stream-stream join keeps only ``watermark + tolerance`` of state per
    side and evicts the rest — bounded state by construction, the one
    join class the stream-static jobs can't express (both sides live).

    Column names must be disjoint across the two inputs (Spark
    stream-stream joins resolve by name); ``keys`` lists pairs of
    (left_key, right_key) column names. Emits left cols + right cols +
    delta_seconds (right - left, signed). Watermark must be >= the
    tolerance or qualifying pairs get evicted before their partner
    arrives."""
    t = float(tolerance_seconds)
    lt, rt = F.col(left_ts), F.col(right_ts)
    # watermarks need TIMESTAMP, not NTZ (same cast rule as the windowed
    # aggregate above)
    l = left_stream
    if dict(l.dtypes).get(left_ts) == "timestamp_ntz":
        l = l.withColumn(left_ts, lt.cast("timestamp"))
    r = right_stream
    if dict(r.dtypes).get(right_ts) == "timestamp_ntz":
        r = r.withColumn(right_ts, rt.cast("timestamp"))
    l = l.withWatermark(left_ts, watermark)
    r = r.withWatermark(right_ts, watermark)
    cond = None
    for lk, rk in keys:
        c = F.col(lk) == F.col(rk)
        cond = c if cond is None else (cond & c)
    interval = F.expr(
        f"{right_ts} BETWEEN {left_ts} - INTERVAL {t} SECONDS"
        f" AND {left_ts} + INTERVAL {t} SECONDS"
    )
    cond = interval if cond is None else (cond & interval)
    delta = rt.cast("double") - lt.cast("double")
    return l.join(r, cond).withColumn("delta_seconds", delta)


def alerts(scored: DataFrame, label_col: str = "label") -> DataFrame:
    """Alert stream: outliers only (≙ the Redis out-queue filter,
    ZscorePredictor.java:152-157)."""
    return scored.filter(F.col(label_col) == "O")


def _stateful_stream(
    stream_df: DataFrame,
    group_cols: Sequence[str],
    ts: str,
    sort_cols: Sequence[str],
    carried: Sequence[str],
    extra_fields: Sequence[str],
    state_schema: str,
    init,
    scan,
    state_timeout_ms: int,
    state_timeout_clock: str,
) -> DataFrame:
    """The one ``applyInPandasWithState`` frame of the stateful kernel
    family. A detector supplies only its parts:

    - ``group_cols`` (the state key) and ``sort_cols`` (tie-breaks after
      ``ts``: each trigger's rows for a key are concatenated and stably
      sorted by ``(ts, *sort_cols)`` — one sort for every kernel);
    - ``carried`` input columns and ``extra_fields`` ("name type" strings)
      of the output, and ``state_schema``;
    - ``init(key)``, the state of a key the store has not seen;
    - ``scan(key, whole, state) -> (out, state)`` over the sorted slice.

    The frame owns everything else: a timed-out key's state is REMOVED
    (see :func:`_timeout_conf`) and it emits nothing; a trigger with no
    rows for the key writes the state back unchanged; the idle timer is
    re-armed after every state write. On the processing clock that is a
    wall-clock duration. On the event clock the deadline is the slice's
    max event time + horizon, clamped to watermark + 1 ms (Spark rejects
    a timestamp at or below the current watermark; rows behind the
    watermark are dropped upstream, so the clamp only guards the
    boundary), and a slice without event times leaves the armed deadline
    standing. Arrow hands TimestampType to pandas as tz-naive values in
    the SESSION timezone; the repo's sessions run UTC (sources.load_table
    sets it), so ``.value`` is epoch-UTC ns, matching the watermark's
    clock; a non-UTC session shifts every deadline by the same offset."""
    out_schema = ", ".join(
        [
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in stream_df.schema
            if f.name in carried
        ]
        + list(extra_fields)
    )
    out_cols = [*carried, *(f.split(" ", 1)[0] for f in extra_fields)]
    timeout_conf = _timeout_conf(state_timeout_ms, state_timeout_clock)
    event_clock = state_timeout_ms > 0 and state_timeout_clock == "event"

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()  # idle entity: evict (see _timeout_conf)
            yield pd.DataFrame(columns=out_cols)
            return
        st = state.get if state.exists else init(key)
        frames = [p for p in pdfs if len(p)]
        out, last_ts = None, pd.NaT
        if frames:
            whole = pd.concat(frames).sort_values(
                [ts, *sort_cols], kind="mergesort"
            )
            out, st = scan(key, whole, st)
            if event_clock:
                last_ts = pd.to_datetime(whole[ts]).max()
        state.update(st)
        if event_clock:
            if last_ts is not pd.NaT:
                state.setTimeoutTimestamp(
                    max(
                        int(last_ts.value // 1_000_000) + state_timeout_ms,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )
        elif state_timeout_ms > 0:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame(columns=out_cols) if out is None else out

    return stream_df.groupBy(*group_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def _timeout_conf(state_timeout_ms: int, clock: str = "processing"):
    """Shared state-eviction wiring for the stateful kernel family:
    ``state_timeout_ms > 0`` selects a timeout — an entity idle longer
    than the horizon has its state REMOVED (the kernel's hasTimedOut
    branch), so the state store is bounded by ACTIVE entities, not every
    entity ever seen. At 100 TB stream scale with entity churn (session
    ids, ephemeral devices) the default keep-forever state is the
    unbounded-memory hazard; the horizon is the same contract
    dropDuplicatesWithinWatermark gives the dedup jobs. An evicted
    entity that returns starts fresh (first events tag 'I' / re-warm),
    exactly as if it were new.

    ``clock`` picks the horizon's clock:

    - ``'processing'`` (default): wall-clock idleness
      (ProcessingTimeTimeout) — right for LIVE streams, where "idle for
      an hour" means the entity went away.
    - ``'event'``: watermark idleness (EventTimeTimeout) — right for
      CATCH-UP REPLAY of historical data, where a fast replay never
      idles on the wall clock (nothing would ever evict) but the
      watermark sweeps through event time at replay speed, evicting each
      entity once the watermark passes its last event + horizon. Requires
      the input stream to carry ``withWatermark`` on the kernel's ``ts``
      column (Spark enforces this at query start), and ``ts`` must be a
      real timestamp column. Buying into the watermark also buys its
      late-data contract: rows behind the watermark are dropped before
      the stateful operator ever sees them — the same trade
      dropDuplicatesWithinWatermark makes for the dedup jobs."""
    if clock not in ("processing", "event"):
        raise ValueError(f"unknown state timeout clock: {clock!r}")
    if state_timeout_ms > 0 and clock == "event":
        return GroupStateTimeout.EventTimeTimeout
    return (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )


def apply_stream_markov(
    stream_df: DataFrame,
    model_rows: list[dict],
    keys: Sequence[str],
    ts: str,
    state_col: str,
    window: int = 5,
    threshold: float = 2.0,
    state_timeout_ms: int = 0,
    state_timeout_clock: str = "processing",
) -> DataFrame:
    """Per-entity stateful Markov scoring — the reference's real-time fraud
    path (PredictorBolt keeps a per-entity record buffer,
    MarkovModelPredictor.java:286-346). State = (last state symbol, ring
    buffer of the last ``window`` transition scores). The transition model is
    captured as plain rows (collect the tiny model DataFrame first) and
    shipped in the closure — the streaming equivalent of the broadcast model.

    Emits one row per event with the windowed conditional-probability score.

    The within-batch computation is VECTORIZED (no per-row Python loop):
    the previous-state column is a shift of the state column seeded from
    the carried symbol, the transition lookup is a C-speed dict map over
    the (prev, cur) pairs, and the windowed mean is a rolling mean over
    the carried-scores + new-transitions sequence — only the cross-batch
    carry (last symbol, score-window tail) stays in Python state. ~10x
    less per-event overhead for hot entities than the row-at-a-time form
    (BASELINE.md §8.8 micro-bench)."""
    import numpy as np

    probs = {(r["prev_state"], r["cur_state"]): r["prob"] for r in model_rows}

    def scan(key, whole, st):
        last_state, carry = st[0], list(st[1])
        cur = whole[state_col].to_numpy(dtype=object)
        prev = np.empty(len(cur), dtype=object)
        prev[1:] = cur[:-1]
        prev[0] = last_state
        p = np.fromiter(
            # `or nan`: a missing, None, or zero prob all score UNSEEN
            (probs.get((a, b)) or np.nan for a, b in zip(prev, cur)),
            dtype=float,
            count=len(cur),
        )
        with np.errstate(invalid="ignore", divide="ignore"):
            t = np.where(p > 0, -np.log(p), UNSEEN_NEG_LOG_PROB)
        # no transition where the PREVIOUS symbol is null: the entity's
        # first-ever event, and any row following a null state — the rows
        # batch markov_score drops via its prev_state IS NOT NULL filter
        # (here they emit score null / label 'I'). A null CURRENT symbol
        # with a valid prev scores as an unseen transition, exactly the
        # batch left-join's null-prob arithmetic. Chunk-independent:
        # prev[0] is the carried symbol, so the mask is the same wherever
        # the micro-batch boundary falls.
        has_t = pd.notna(prev)
        seq = np.concatenate([np.asarray(carry, dtype=float), t[has_t]])
        roll = (
            pd.Series(seq).rolling(window, min_periods=1).mean().to_numpy()
        )
        score = np.full(len(cur), np.nan)
        score[has_t] = roll[len(carry):]
        label = np.where(
            np.isnan(score), "I", np.where(score > threshold, "O", "N")
        )
        out = whole[[*keys, ts, state_col]].copy()
        out["score"] = score
        out["label"] = label
        return out, (cur[-1], seq[-window:].tolist() if len(seq) else [])

    return _stateful_stream(
        stream_df, keys, ts, (), (*keys, ts, state_col),
        ["score double", "label string"],
        "last_state string, scores array<double>",
        lambda key: (None, []), scan, state_timeout_ms, state_timeout_clock,
    )


def apply_stream_markov_global(
    stream_df: DataFrame,
    model_rows: list[dict],
    keys: Sequence[str],
    ts: str,
    state_col: str,
    metric: str = "missProbability",
    threshold: float = 2.0,
    state_timeout_ms: int = 0,
    state_timeout_clock: str = "processing",
) -> DataFrame:
    """The reference real-time predictor's GLOBAL accumulation mode —
    the other branch of MarkovModelPredictor.java:286-346 (getGlobalMetric
    :379-395): instead of a trailing score window, each entity carries
    (num, den) accumulators forever, each transition adds the metric's
    (params[0], params[1]) pair, and the emitted score is the EXPANDING
    mean num/den since the entity's first transition. Batch equivalent:
    ``markov.markov_score(..., window=None)`` (parity-tested).

    The reference defines the global branch for missProbability /
    missRate / entropyReduction; conditionalProbability is accepted as
    the same natural extension the batch operator takes (expanding mean
    of -ln p, unseen capped at UNSEEN_NEG_LOG_PROB).

    Vectorized like apply_stream_markov: shifted-pair metric lookup at
    C speed, cumulative sums + the carried accumulators; only the
    cross-batch carry (last symbol, num, den) is Python state. First-ever
    events emit score null / label 'I' (no transition yet)."""
    import math

    import numpy as np

    from ..operators.markov import METRICS

    if metric not in METRICS:
        raise ValueError(f"unknown metric: {metric}")
    probs = {(r["prev_state"], r["cur_state"]): r["prob"] for r in model_rows}
    # per-prev argmax (prob desc, cur_state asc — the batch enrich_model
    # tiebreak) and row entropy, derived driver-side from the tiny model
    best: dict = {}
    ent: dict = {}
    for r in model_rows:
        pv, cv, p = r["prev_state"], r["cur_state"], float(r["prob"])
        cand = best.get(pv)
        if cand is None or p > cand[0] or (p == cand[0] and cv < cand[1]):
            best[pv] = (p, cv)
        if p > 0:
            ent[pv] = ent.get(pv, 0.0) - p * math.log(p)

    if metric == "conditionalProbability":
        def t_of(a, b):
            p = probs.get((a, b))
            return -math.log(p) if p and p > 0 else UNSEEN_NEG_LOG_PROB
    elif metric == "missProbability":
        def t_of(a, b):
            return 1.0 - (probs.get((a, b)) or 0.0)
    elif metric == "missRate":
        def t_of(a, b):
            c = best.get(a)
            return 0.0 if c is not None and c[1] == b else 1.0
    else:  # entropyReduction
        def t_of(a, b):
            p = probs.get((a, b))
            if p is None:
                return 1.0
            h = ent.get(a, 0.0)
            return (h + p * math.log(p)) / h if h > 0 and p > 0 else (
                1.0 if h > 0 else 0.0
            )

    def scan(key, whole, st):
        last_state, num, den = st
        cur = whole[state_col].to_numpy(dtype=object)
        prev = np.empty(len(cur), dtype=object)
        prev[1:] = cur[:-1]
        prev[0] = last_state
        t = np.fromiter(
            (t_of(a, b) for a, b in zip(prev, cur)),
            dtype=float,
            count=len(cur),
        )
        # null-prev rows (first-ever event, or any row following a null
        # state) contribute NOTHING to the permanent num/den accumulators
        # — the rows batch markov_score(window=None) drops via prev_state
        # IS NOT NULL; they emit score null / 'I'. Chunk-independent:
        # prev[0] is the carried symbol.
        has_t = pd.notna(prev)
        k = int(has_t.sum())
        score = np.full(len(cur), np.nan)
        if k:
            nums = num + np.cumsum(t[has_t])
            dens = den + np.arange(1, k + 1, dtype=float)
            score[has_t] = nums / dens
            num, den = float(nums[-1]), float(dens[-1])
        label = np.where(
            np.isnan(score), "I", np.where(score > threshold, "O", "N")
        )
        out = whole[[*keys, ts, state_col]].copy()
        out["score"] = score
        out["label"] = label
        return out, (cur[-1], num, den)

    return _stateful_stream(
        stream_df, keys, ts, (), (*keys, ts, state_col),
        ["score double", "label string"],
        "last_state string, num double, den double",
        lambda key: (None, 0.0, 0.0), scan, state_timeout_ms,
        state_timeout_clock,
    )


def apply_stream_entropy_increase(
    stream_df: DataFrame,
    model_rows: list[dict],
    keys: Sequence[str],
    ts: str,
    value: str,
    width: float | None = None,
    threshold: float = 0.01,
    update: bool = True,
    state_timeout_ms: int = 0,
    state_timeout_clock: str = "processing",
) -> DataFrame:
    """K11 EntropyIncreaseBasedPredictor, streaming form (reference
    EntropyIncreaseBasedPredictor.java:44-80 — the one Storm kernel whose
    stateful form had no analogue job): per-entity histogram state seeded
    from the batch-fit model (collected attr_histogram rows — the
    closure-shipped equivalent of the broadcast model), each event scored
    with the batch formula — H = ln N − S/N with S = Σ cnt·ln cnt, H'(b)
    adds one member to the event's bucket, score = (H'−H)/H — against the
    CURRENT histogram, then (``update=True``) the event's bucket count is
    folded into state so the distribution tracks the stream: the
    prequential form the reference's bolt state implements, and unseen
    keys grow their own histogram from nothing (first events tag 'I'
    until two buckets exist). ``update=False`` freezes the model, making
    the output row-for-row the batch ``entropy_increase_score`` — the
    stream==batch parity contract tests/test_drift_streaming.py pins.

    State per key: (buckets array<string>, counts array<long>); N and S
    are recomputed from the (bucket-cardinality-sized) arrays per event.
    Numeric bucketing is floor(value/width); ``width=None`` treats the
    value as categorical (batch bucket_col semantics). Like the rest of
    the stateful family, state is keyed — the state store partitions by
    entity exactly as the reference's fieldsGrouping does."""
    import math

    import numpy as np

    seed: dict = {}
    for r in model_rows:
        if "attr" in r and r["attr"] != value:
            continue
        k = tuple(r[kk] for kk in keys)
        seed.setdefault(k, {})[str(r["bucket"])] = int(r["cnt"])

    # categorical bucketing (width=None): cast the value column to string
    # SPARK-side so the pandas kernel sees exactly the rendering batch
    # bucket_col's cast('string') produced in the seed model's buckets —
    # Python str(True)='True' would never match Spark's 'true' (the same
    # rendering-parity rule apply_stream_multigram applies). The emitted
    # value column is therefore string in categorical mode.
    if width is None:
        stream_df = stream_df.withColumn(value, F.col(value).cast("string"))

    def init(key):
        hist = seed.get(tuple(key), {})
        return list(hist), list(hist.values())

    def scan(key, whole, st):
        hist = {b: int(c) for b, c in zip(list(st[0]), list(st[1]))}
        if not update:
            # FROZEN-model serve path (update=False): the histogram never
            # changes, so n/S/H are batch constants and the score is a
            # pure per-row function of the bucket count — fully
            # vectorized (the prequential update=True fold below is
            # inherently sequential: each event mutates the histogram
            # the next one scores against)
            vals = whole[value]
            bk = np.full(len(whole), None, dtype=object)
            if width is None:
                ok = vals.notna().to_numpy()
                bk[ok] = vals[ok].astype(str).to_numpy(dtype=object)
            else:
                fv = pd.to_numeric(vals, errors="coerce").to_numpy(
                    dtype=float
                )
                ok, img = _safe_bucket_strings(fv, float(width))
                bk[ok] = img[ok]
            n = sum(hist.values())
            score = np.full(len(whole), np.nan)
            if n > 0:
                s = sum(c * math.log(c) for c in hist.values())
                h = math.log(n) - s / n
                if h > 0:
                    cb = np.fromiter(
                        (hist.get(b, 0) for b in bk),
                        dtype=float,
                        count=len(bk),
                    )
                    with np.errstate(divide="ignore", invalid="ignore"):
                        s_new = (
                            s
                            - np.where(cb > 0, cb * np.log(cb), 0.0)
                            + (cb + 1) * np.log(cb + 1)
                        )
                    h_new = math.log(n + 1) - s_new / (n + 1)
                    score = (h_new - h) / h
            out = whole[[*keys, ts, value]].copy()
            out["bucket"] = bk
            out["score"] = score
            out["label"] = np.where(
                np.isnan(score), "I", np.where(score > threshold, "O", "N")
            )
            return out, st
        rows = []
        for _, row in whole.iterrows():
            v = row[value]
            # null/NaN value: no bucket — scored as an unseen bucket
            # (cnt_b = 0), exactly the batch scorer's null-bucket
            # left-join arithmetic; never folded into state
            missing = v is None or (isinstance(v, float) and v != v)
            if missing:
                b = None
            elif width is None:
                b = str(v)
            else:
                # coerce-failures, non-finite values, and out-of-int64
                # floors render null and are skipped like batch's
                # failed cast — the frozen path's and multigram's rule
                b = _safe_bucket_str(v, float(width))
            n = sum(hist.values())
            score = None
            if n > 0:
                s = sum(c * math.log(c) for c in hist.values())
                h = math.log(n) - s / n
                if h > 0:
                    cb = hist.get(b, 0)
                    s_new = (
                        s
                        - (cb * math.log(cb) if cb > 0 else 0.0)
                        + (cb + 1) * math.log(cb + 1)
                    )
                    h_new = math.log(n + 1) - s_new / (n + 1)
                    score = (h_new - h) / h
            rows.append(
                {
                    **{k_: row[k_] for k_ in keys},
                    ts: row[ts],
                    value: row[value],
                    "bucket": b,
                    "score": score,
                    "label": "I"
                    if score is None
                    else ("O" if score > threshold else "N"),
                }
            )
            if b is not None:
                hist[b] = hist.get(b, 0) + 1
        return pd.DataFrame(rows), (list(hist), list(hist.values()))

    # stable sort with the value as secondary key: same-key ts ties are
    # guaranteed at scale (second-granularity sources), and the fold order
    # changes update=True scores — (ts, value) makes the prequential order
    # deterministic under any arrow chunking (identical rows are
    # fold-order-invariant)
    return _stateful_stream(
        stream_df, keys, ts, (value,), (*keys, ts, value),
        ["bucket string", "score double", "label string"],
        "buckets array<string>, counts array<long>",
        init, scan, state_timeout_ms, state_timeout_clock,
    )


def apply_stream_drift(
    stream_df: DataFrame,
    keys: Sequence[str],
    ts: str,
    error_col: str,
    detector: str = "ddm",
    state_timeout_ms: int = 0,
    state_timeout_clock: str = "processing",
    **params,
) -> DataFrame:
    """Per-entity stateful concept-drift detection on a stream — the
    streaming form of ``streaming.drift.drift_detect`` (reference semantics
    sucodr.py:59-310, whose detectors expose save/restore state for exactly
    this resume-across-runs use).

    The batch scan kernels take and return an explicit state dict; here that
    dict is JSON-encoded into the state store, so stream scores are equal by
    construction to one batch scan over the concatenated micro-batches.
    FHDDM's sliding accuracy window is not a pure scalar recursion, so its
    state additionally carries the trailing ``win_size`` error values
    (``_tail``); prepending them re-seeds the window across the batch
    boundary and the overlap rows are trimmed from the output.

    Assumes micro-batches arrive in per-key ``ts`` order (same contract as
    ``apply_stream_markov``); rows are stably sorted by ``ts`` within each
    batch, the order batch ``drift_detect`` scans.
    """
    import json

    import numpy as np

    from . import drift as drift_mod

    if detector not in drift_mod._SCANS:
        raise ValueError(f"unknown detector: {detector}")
    detect = drift_mod._SCANS[detector]
    diag_cols = {"ddm": ["pr", "sd"], "eddm": ["cur"], "fhddm": ["acc"], "ecdd": ["z"]}[
        detector
    ]
    win_size = int(params.get("win_size", 100))

    def _py(v):
        return v.item() if hasattr(v, "item") else v

    def scan(key, batch, state_json):
        st = json.loads(state_json[0])
        tail = st.pop("_tail", [])
        vals = batch[error_col].to_numpy()
        if detector == "fhddm":
            run = np.concatenate([np.asarray(tail, dtype=vals.dtype), vals])
            skip = len(tail)
        else:
            run, skip = vals, 0
        out_cols, end = detect(run, **params, state=st or None)
        res = batch[[k for k in (*keys, ts, error_col)]].copy()
        for c in diag_cols:
            res[c] = out_cols[c][skip:]
        res["drift"] = out_cols["drift"][skip:]
        end = {k: _py(v) for k, v in dict(end).items()}
        if detector == "fhddm":
            end["_tail"] = [int(v) for v in run[-win_size:]]
        return res, (json.dumps(end),)

    return _stateful_stream(
        stream_df, keys, ts, (), (*keys, ts, error_col),
        [f"{c} double" for c in diag_cols] + ["drift int"], "state_json string",
        lambda key: ("{}",), scan, state_timeout_ms, state_timeout_clock,
    )


def apply_stream_ewma(
    stream_df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    alpha: float = 0.2,
    threshold: float = 3.0,
    state_timeout_ms: int = 0,
    state_timeout_clock: str = "processing",
) -> DataFrame:
    """Per-entity stateful EWMA scoring: keeps an EWMA mean/variance per key
    (the reference's per-entity record buffer, MarkovModelPredictor.java:
    286-310, generalized to a numeric stream) and scores each arriving
    value as |x - ewma| / sqrt(ewvar)."""
    import numpy as np

    def scan(key, whole, st):
        mean, var, n = st
        xs = whole[value].to_numpy(dtype=float)
        scores = np.zeros(len(xs))
        # the EWMA mean/variance recursion is sequential by definition
        # (each score reads the state the previous event wrote); the loop
        # runs over a bare float array with columnar output assembly —
        # the one_step_ahead convention
        for i in range(len(xs)):
            x = float(xs[i])
            if n > 0:
                sd = var**0.5
                scores[i] = abs(x - mean) / sd if sd > 0 else 0.0
            if n == 0:
                mean, var, n = x, 0.0, 1
            else:
                mean = (1 - alpha) * mean + alpha * x
                var = (1 - alpha) * var + alpha * (x - mean) ** 2
                n += 1
        out = whole[[*keys, ts]].copy()
        out[value] = xs
        out["score"] = scores
        out["label"] = np.where(scores > threshold, "O", "N")
        return out, (mean, var, n)

    return _stateful_stream(
        stream_df, keys, ts, (), (*keys, ts, value),
        ["score double", "label string"], "mean double, var double, n long",
        lambda key: (0.0, 0.0, 0), scan, state_timeout_ms, state_timeout_clock,
    )


def apply_stream_one_step_ahead(
    stream_df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    window: int = 8,
    method: str = "average",
    alpha: float = 0.3,
    weights: Sequence[float] | None = None,
    threshold: float = 3.0,
    state_timeout_ms: int = 0,
    state_timeout_clock: str = "processing",
) -> DataFrame:
    """Per-entity stateful one-step-ahead prediction — the streaming form of
    operators.sequence.one_step_ahead (OneStepAheadPredictor window feedback,
    :118-151). State = (ring of the last ``window`` *work* values — outliers
    already replaced by their prediction — plus the running residual
    moments), so a restart resumes mid-series exactly like the batch
    warm-start path. Both run the one resumable ``sequence.osa_scan``, so
    stream == batch on an ordered feed by construction."""
    import numpy as np

    from ..operators.sequence import osa_scan, osa_weights

    ew = osa_weights(method, window, alpha, weights)

    def scan(key, whole, st):
        xs = whole[value].to_numpy(dtype=float)
        preds, scores, (work, r_n, r_s1, r_s2) = osa_scan(
            xs, window, ew, threshold, st
        )
        out = whole[[*keys, ts]].copy()
        out[value] = xs
        out["predicted"] = preds
        out["osa_score"] = scores
        out["label"] = np.where(scores > threshold, "O", "N")
        return out, (work.tolist(), r_n, r_s1, r_s2)

    return _stateful_stream(
        stream_df, keys, ts, (), (*keys, ts, value),
        ["predicted double", "osa_score double", "label string"],
        "work array<double>, r_n long, r_s1 double, r_s2 double",
        lambda key: ([], 0, 0.0, 0.0), scan, state_timeout_ms,
        state_timeout_clock,
    )


def stream_dedup_exact(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact-dedup: emit only the first arrival of each key.

    With ``ts_col``, uses dropDuplicatesWithinWatermark so the per-key state
    is bounded — a duplicate arriving within the watermark horizon is
    dropped, state older than the horizon is evicted (the unbounded-corpus
    analogue of batch exact_duplicates: at 100 TB/day you cannot keep every
    key forever; the horizon IS the dedup contract). Without ``ts_col``,
    falls back to global dropDuplicates (state grows with distinct keys —
    only for bounded key domains)."""
    if ts_col is None:
        return stream_df.dropDuplicates(list(key_cols))
    if dict(stream_df.dtypes).get(ts_col) == "timestamp_ntz":
        stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def stream_near_dup_candidates(
    stream_df: DataFrame,
    corpus_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_id_col: str = "corpus_doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Streaming near-dup detection against a static reference corpus:
    incoming documents are minhash-banded with stateless per-row
    expressions (dedup.rowwise_minhash_bands) and stream-static
    equi-joined to the corpus band table — a new doc sharing ANY band with
    a corpus doc emits a candidate row (stream_id, corpus_id, band).

    The corpus side is precomputed once and is a normal static DataFrame,
    so Spark broadcasts or shuffles it per micro-batch without state; the
    stream side needs no watermark because the join is stateless. Build
    the corpus band table with the same rowwise_minhash_bands over the
    corpus (the sketch the batch near-dup operators band, so stream and
    corpus bands agree by construction). Downstream, verify candidates
    with an exact-Jaccard batch join or route them to quarantine."""
    from ..operators.dedup import rowwise_minhash_bands

    banded = rowwise_minhash_bands(stream_df, id_col, text_col, num_hashes, bands, n)
    corpus = corpus_bands.select(
        F.col(corpus_id_col), F.col("band"), F.col("sig")
    )
    return (
        banded.join(corpus, ["band", "sig"])
        .filter(F.col(id_col) != F.col(corpus_id_col))
        .select(id_col, corpus_id_col, "band")
    )


def stream_sessionize(
    stream_df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap-based sessionization: Spark's native session_window
    merges events within ``gap`` into one growing window per key; a session
    closes (and emits, in append mode) once the watermark passes its end.
    Emits (keys..., session_start, session_end, n_events, sum_<value>) —
    the streaming counterpart of rollup.sessionize/session_stats.

    Boundary semantics at EXACTLY-gap spacing differ from the batch
    operator: session_window treats the gap as exclusive (an event landing
    exactly ``gap`` after the previous one starts a NEW session), while
    batch sessionize keeps exactly-at-gap rows in-session. Off-boundary
    timestamps produce identical spans; do not rely on batch/stream
    equality for gap-aligned data. State per key is the open session only;
    the watermark bounds it."""
    if dict(stream_df.dtypes).get(ts_col) == "timestamp_ntz":
        stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(F.count("*").alias("n_events"), F.sum(value_col).alias(f"sum_{value_col}"))
        .select(
            *keys,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            f"sum_{value_col}",
        )
    )


def stream_corpus_filter(
    stream_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str | None = None,
    quality_min: float = 0.6,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming front half of pipeline.build_corpus: language-ID, round-6
    quality gate, and PII redaction are stateless column expressions, so
    they run unchanged on a stream; the dedup stage becomes
    first-arrival-wins on md5(clean_text) with watermark-bounded state
    (stream_dedup_exact semantics: the horizon is the dedup contract —
    batch corpus_build's global min-id ownership needs the whole corpus
    and stays a batch job).

    Output matches build_corpus's columns minus split assignment (a kept
    doc's split is still a pure function of id — apply
    sampling.deterministic_split downstream or at write time)."""
    from ..operators import pii as pii_ops
    from ..operators import text as text_ops

    scored = text_ops.quality_score(text_ops.lang_id(stream_df, text_col), text_col)
    gated = scored.filter(
        F.round(F.col("quality"), 6) >= F.lit(float(quality_min))
    )
    red = pii_ops.pii_redact(gated, text_col, "clean_text")
    hashed = red.withColumn("content_hash", F.md5(F.col("clean_text")))
    deduped = stream_dedup_exact(
        hashed, ["content_hash"], ts_col=ts_col, watermark=watermark
    )
    cols = [id_col, "pred_lang", "n_tokens"]
    if ts_col is not None:
        cols.append(ts_col)
    return deduped.select(
        *cols,
        F.round("quality", 6).alias("quality"),
        "content_hash",
        "clean_text",
    )


def stream_topic_assign(
    stream_df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming topic assignment against a batch-fitted topic model: the
    centroid matrix (similarity.fit_spherical_centroids over the standing
    corpus) broadcasts into the same stateless numpy argmax the batch
    operator uses — mapInPandas is stream-compatible, needs no watermark,
    and holds no state, so stream output per row is IDENTICAL to a batch
    run over the same rows (parity-tested). This is the routing primitive
    of a streaming ingest pipeline: tag each arriving embedding with its
    corpus topic and fan out per-topic sinks or mix gates downstream.

    Refit cadence is the caller's policy — restart the query with fresh
    centroids (the model is one small broadcast, not stream state)."""
    from ..operators.similarity import topic_assign

    return topic_assign(stream_df, id_col, vec_col, centroids=centroids)


def stream_keyword_tag(
    stream_df: DataFrame,
    vocab: dict,
    n_docs: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Streaming TF-IDF keyword tagging — model-serve for text.tfidf_topk:
    a batch-fitted vocabulary (text.tfidf_vocab: token -> document
    frequency, corpus doc count) broadcasts into a stateless mapInPandas
    that computes each incoming doc's term frequencies, smoothed-idf
    scores, and top-k keywords ENTIRELY row-locally — a doc's tokens live
    in its own row, so no aggregation state, no watermark, and per-batch
    output identical to the batch operator on the same vocabulary
    (equality proven in tests). Tokens outside the vocabulary score with
    df=0 (maximally rare — the right tagging semantics for novel terms);
    fit with max_vocab to bound the broadcast for open vocabularies.

    Ranking runs on the RAW scores (ties -> token asc); with integer tf
    and per-df idf values, raw ties are exact ties, so the order matches
    the batch operator's round-6 ranking. The half-up output round
    happens JVM-side (F.round) for oracle-convention parity.

    Emits (id, token, tf, score, tfidf_rank) — up to k rows per doc."""
    import math

    sess = stream_df.sparkSession
    bc = sess.sparkContext.broadcast(dict(vocab))
    n = int(n_docs)

    def gen(batches):
        from collections import Counter

        import pandas as pd

        v = bc.value
        for pdf in batches:
            ids, toks_out, tfs, scores, ranks = [], [], [], [], []
            for rid, txt in zip(pdf[id_col], pdf[text_col]):
                words = (txt or "").lower().split()
                if not words:
                    continue
                cnt = Counter(words)
                scored = sorted(
                    (
                        (
                            -tf * (math.log((1.0 + n) / (1.0 + v.get(t, 0))) + 1.0),
                            t,
                            tf,
                        )
                        for t, tf in cnt.items()
                    ),
                )[: int(k)]
                for r, (neg, t, tf) in enumerate(scored, start=1):
                    ids.append(rid)
                    toks_out.append(t)
                    tfs.append(tf)
                    scores.append(-neg)
                    ranks.append(r)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "token": pd.Series(toks_out, dtype="object"),
                    "tf": pd.Series(tfs, dtype="int64"),
                    "score": pd.Series(scores, dtype="float64"),
                    "tfidf_rank": pd.Series(ranks, dtype="int32"),
                }
            )

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            stream_df.schema[id_col],
            StructField("token", StringType()),
            StructField("tf", LongType()),
            StructField("score", DoubleType()),
            StructField("tfidf_rank", IntegerType()),
        ]
    )
    return (
        stream_df.select(id_col, text_col)
        .mapInPandas(gen, schema)
        .withColumn("score", F.round(F.col("score"), 6))
    )


def stream_near_dup_verified(
    stream_df: DataFrame,
    corpus_manifest: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_id_col: str = "corpus_doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Streaming near-dup detection with exact-Jaccard VERIFICATION, still
    fully stateless: incoming docs are banded row-wise WITH their shingle
    array carried along (a later join back to the stream would be a
    stream-stream join), stream-static equi-joined to the corpus band
    manifest (dedup.corpus_band_manifest: band, sig, corpus shingle
    array), and each candidate row is verified in-place with the exact
    |A∩B| / |A∪B| computed from the two arrays — pure codegen array
    expressions, no watermark, no state.

    Emits (id, corpus_id, jaccard) with jaccard >= min_jaccard. A pair
    colliding in several bands emits once per colliding band (stateless
    dedup across bands is impossible without a watermarked aggregate;
    route downstream through stream_dedup_exact on the pair key, or
    accept idempotent duplicates at the sink). Join volume is
    candidate-proportional: non-colliding (band, sig) pairs never meet.

    Upgrade over stream_near_dup_candidates: that job routes band
    COLLISIONS (LSH false positives included) to a batch verify step;
    this one ships the verified answer in the stream itself, at the cost
    of the manifest carrying shingle arrays (~doc tokens per band row)."""
    from ..operators.dedup import rowwise_minhash_bands

    banded = rowwise_minhash_bands(
        stream_df, id_col, text_col, num_hashes, bands, n, keep_shingles=True
    )
    corpus = corpus_manifest.select(
        F.col(corpus_id_col), F.col("band"), F.col("sig"), F.col("sh").alias("_csh")
    )
    joined = banded.join(corpus, ["band", "sig"]).filter(
        F.col(id_col) != F.col(corpus_id_col)
    )
    inter = F.size(F.array_intersect(F.col("sh"), F.col("_csh")))
    union = F.size(F.col("sh")) + F.size(F.col("_csh")) - inter
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= F.lit(float(min_jaccard)))
        .select(id_col, corpus_id_col, "jaccard")
    )


def stream_constraint_gate(
    stream_df: DataFrame,
    constraints: Sequence,
    audit_path: str,
    out_path: str,
    checkpoint: str,
    mode: str = "reject_batch",
):
    """Per-micro-batch data-quality gate (the streaming form of
    constraints.constraint_audit): each micro-batch is audited against the
    declarative suite in one aggregation pass; the audit rows (stamped
    with batch_id) append to ``audit_path``, and the batch's DATA appends
    to ``out_path`` only if every constraint passed (``mode=
    'reject_batch'`` — a bad ingest batch is quarantined whole, the
    standard write-audit-publish pattern) or unconditionally
    (``mode='tag_only'``, audit trail without gating).

    foreachBatch gives exactly-once via the checkpoint's batch-id ledger
    as long as the writes are idempotent per batch_id; plain parquet
    append can duplicate the LAST batch after a crash between the two
    writes — at scale, point both paths at a transactional table format
    or partition by batch_id and overwrite. State held: none (the audit
    is a 1-row aggregate per batch; nothing carries across batches).

    Returns the StreamingQuery."""
    if mode not in ("reject_batch", "tag_only"):
        raise ValueError("mode must be 'reject_batch' or 'tag_only'")
    from ..operators.constraints import constraint_audit

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        audit = constraint_audit(batch_df, constraints).withColumn(
            "batch_id", F.lit(batch_id)
        )
        rows = audit.collect()  # |constraints| rows — bounded by the suite
        audit.sparkSession.createDataFrame(rows, audit.schema).write.mode(
            "append"
        ).parquet(audit_path)
        if mode == "tag_only" or all(r.passed for r in rows):
            batch_df.write.mode("append").parquet(out_path)

    writer = stream_df.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    return _start_query(stream_df.sparkSession, writer)


def stream_quality_fuse(
    stream_df: DataFrame,
    stats: DataFrame,
    signal_cols: Sequence[str],
    weights: Sequence[float] | None = None,
    by: Sequence[str] | None = None,
    out_col: str = "fused_score",
) -> DataFrame:
    """Score a live signal stream against a BATCH-fitted fusion model
    (text.fuse_stats output): the same batch-learn -> stream-serve loop
    as zscore.tag_with_keyed_threshold, for the multi-signal quality
    ensemble. The model is a tiny broadcast frame (1 row, or |strata|
    rows with ``by``), the scoring is stateless codegen, so stream output
    per row is IDENTICAL to a batch fuse_apply over the same rows
    (parity-tested); rows from a stratum the model never saw score NULL
    (an unlearned stratum must never silently read as 'exactly
    average'). Refit cadence is the caller's policy — restart the query
    with fresh stats; there is no stream state to migrate."""
    from ..operators.text import fuse_apply

    return fuse_apply(stream_df, stats, signal_cols, weights, by, out_col)


def stream_media_phash_dedup(
    stream_df: DataFrame,
    corpus_hashes: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    corpus_id_col: str = "corpus_media_id",
    decode: str = "fake",
    max_hamming: int = 2,
    composite_bands: bool | str = "auto",
) -> DataFrame:
    """Streaming media near-dup against a standing corpus: each arriving
    item is pHashed in-stream (multimodal.phash64 — mapInPandas is
    stream-compatible and stateless), banded by the batch engine's radius
    rule (multimodal.resolve_composite_bands), and stream-static
    equi-joined to the corpus band table; matches
    verify with the exact band-wise bit_count(xor) hamming IN the
    stream, so the emitted rows are verified duplicates, not candidates.
    Output (media_id, corpus_media_id, hamming <= max_hamming).

    The corpus side is a batch phash64 output (media_id, phash) — tiny
    relative to the media bytes, usually broadcastable; no watermark and
    no state (the stateless-join class). Batch==stream parity holds
    per-row because both sides run the identical kernel and band math
    (parity-tested)."""
    from ..operators.multimodal import (
        phash64,
        phash_band_sigs,
        phash_hamming,
        resolve_composite_bands,
    )

    composite = resolve_composite_bands(composite_bands, max_hamming)
    hashed = phash64(stream_df, id_col, payload_col, decode)
    sigs = phash_band_sigs("phash", composite)
    s_bands = hashed.select(
        F.col(id_col),
        F.col("phash").alias("_hs"),
        F.posexplode(F.array(*sigs)).alias("band", "sig"),
    )
    # the batch pair engine's 16-hex length contract, mirrored on the
    # caller-provided corpus side (stream hashes come from phash64 and
    # are 16 hex by construction): a malformed corpus hash must not
    # bucket under shared '' keys or silently drop as a NULL hamming
    c_bands = corpus_hashes.filter(F.length(F.col("phash")) == 16).select(
        F.col(corpus_id_col),
        F.col("phash").alias("_hc"),
        F.posexplode(F.array(*sigs)).alias("band", "sig"),
    )
    # STATELESS pair dedup: a pair colliding in several bands emits several
    # join rows, but all duplicates live inside the SAME micro-batch (they
    # derive from one arriving row), so global dropDuplicates state —
    # unbounded, one entry per pair ever seen, and wrongly suppressing a
    # legitimately re-sent item — is pure liability. Keep only the row
    # whose band is the FIRST matching band, a row-local predicate on the
    # two hashes both sides already carry (both are 16 hex, so equal band
    # signatures mean equal bands).
    band_eqs = [
        a == b
        for a, b in zip(
            phash_band_sigs("_hs", composite), phash_band_sigs("_hc", composite)
        )
    ]
    first_match = None
    for b in range(len(band_eqs) - 1, -1, -1):
        first_match = (
            F.when(band_eqs[b], F.lit(b))
            if first_match is None
            else F.when(band_eqs[b], F.lit(b)).otherwise(first_match)
        )
    # reversed build order makes band 0 the outermost WHEN: lowest index wins
    cand = (
        s_bands.join(c_bands, ["band", "sig"])
        .filter(F.col(id_col) != F.col(corpus_id_col))
        .filter(F.col("band") == first_match)
        .select(id_col, corpus_id_col, "_hs", "_hc")
    )
    return (
        cand.withColumn("hamming", phash_hamming("_hs", "_hc"))
        .filter(F.col("hamming") <= max_hamming)
        .select(id_col, corpus_id_col, "hamming")
    )


def stream_kmeans_score(
    stream_df: DataFrame,
    model,
    keys,
    values,
    min_cluster_fraction: float = 0.05,
    threshold: float = 3.0,
) -> DataFrame:
    """Streaming cluster-distance scoring against a batch-fitted k-means
    ``Model`` (multivariate.kmeans_model over the standing corpus): the
    tiny centroid model attaches to the SAME stateless codegen scoring
    expression the batch operator uses — the per-key centroid fold and
    the large-cluster gate work on the MODEL (static side), never the
    stream, so the plan is column expressions over the stream (inline
    centroid literals, or a stream-static join): no watermark, no state,
    per-row output identical to a batch run (parity-tested). Refit cadence
    is the caller's policy — restart the query with a fresh model (the
    stream_topic_assign convention). The unroll width and the empty-model
    check read the model's driver rows, so planning runs no Spark job; an
    over-cap model reads its width off the model frame with one job."""
    from ..operators.multivariate import kmeans_score

    return kmeans_score(
        stream_df,
        model,
        keys,
        values,
        min_cluster_fraction=min_cluster_fraction,
        threshold=threshold,
    )


def stream_isolation_forest_score(
    stream_df: DataFrame,
    model,
    keys,
    values,
    threshold: float = 0.6,
) -> DataFrame:
    """Streaming isolation-forest scoring against a batch-fitted forest
    ``Model`` (multivariate.isolation_forest_fit): the driver-held forest
    broadcasts exactly as in batch, and each micro-batch scores via the
    same stateless vectorized mapInPandas traversal — stream-compatible,
    no watermark, no state; keys absent from the model tag 'I' (the
    serving jobs' unlearned convention). A model over its fit's
    ``max_model_rows`` raises at plan time (stream-static cogroup is
    unsupported). The batch operator's few-split repartition probe is
    skipped on streams; micro-batch parallelism belongs to the source.
    Per-row output equals a batch run over the same rows (parity-tested)."""
    from ..operators.multivariate import isolation_forest_score

    return isolation_forest_score(stream_df, model, keys, values, threshold=threshold)


def apply_stream_multigram(
    stream_df: DataFrame,
    id_col: str,
    ts: str,
    spec,
    seq_len: int = 3,
    keys: Sequence[str] = (),
    order_cols: Sequence[str] = (),
    state_timeout_ms: int = 0,
    state_timeout_clock: str = "processing",
) -> DataFrame:
    """Streaming form of histogram.multigram_multivariate: per-id state
    carries the last ``seq_len - 1`` composite bucket symbols, so every
    arriving row extends its id's sequence and emits one gram row once
    the window is full — ACROSS micro-batch boundaries (the state is the
    window tail, exactly what the batch lag chain reads from the
    shuffled sequence). Emits (keys..., id, gram) per occurrence; the
    caller aggregates downstream (a running distribution is
    ``groupBy(gram).count`` in update mode, or a batch count over the
    sink — emitted gram multiset == the batch operator's gram multiset
    when per-id arrival order matches ts order, the parity contract).

    Bucketing replays the batch spec pandas-side: categorical (width
    None) columns are cast to string SPARK-side before the stateful
    stage, so the pandas kernel sees exactly the rendering Spark's
    cast-to-string produces (booleans, doubles, decimals included);
    numeric = str(floor(value / width)) — the same rendering Spark's
    cast(long as string) produces, so gram strings are byte-identical
    to batch. NaN in a numeric bucketed column is OUT of the parity
    contract (batch renders floor(NaN/width) through a long cast, the
    stream skips it like a null) — filter or impute NaNs upstream, as
    the batch operator's callers do. Rows inside a trigger sort by (ts,
    order_cols) per id (the stateful family's mergesort convention);
    same-ts rows split across micro-batches keep arrival order — the
    documented streaming tie caveat. State per id: the tail symbol array
    (bounded at seq_len - 1 strings). The within-batch work is fully
    vectorized — symbol rendering, the rolling gram join, and the state
    tail are numpy/pandas column ops; no per-row Python loop."""
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    spec = list(spec)
    for c, w in spec:
        if w is None:
            stream_df = stream_df.withColumn(c, F.col(c).cast("string"))
    def _syms(whole: pd.DataFrame) -> "np.ndarray":
        """Vectorized bucket-symbol column: per spec column a valid mask +
        string image (categoricals arrive pre-cast to string Spark-side;
        numerics render str(floor(v/width)) on the valid subset), folded
        with concat_ws semantics — null columns are skipped, ':' joins
        only between present parts."""
        import numpy as np

        n = len(whole)
        sym = np.full(n, "", dtype=object)
        started = np.zeros(n, dtype=bool)
        for c, w in spec:
            col = whole[c]
            if w is None:
                valid = col.notna().to_numpy()
                sv = np.where(valid, col.to_numpy(dtype=object), "")
            else:
                # coerce-failures, non-finite values, and out-of-int64
                # floors render as null and are skipped like batch's
                # failed cast — NOT floored through astype('int64'),
                # whose image is garbage (INT64_MIN / silent wrap)
                fv = pd.to_numeric(col, errors="coerce").to_numpy(
                    dtype=float
                )
                valid, sv = _safe_bucket_strings(fv, float(w))
            sep = np.where(started & valid, ":", "")
            sym = np.where(valid, sym + sep + sv, sym)
            started |= valid
        return sym

    def scan(key, whole, st):
        import numpy as np

        key_vals = dict(zip((*keys, id_col), key))
        all_syms = np.concatenate(
            [np.asarray(list(st[0]), dtype=object), _syms(whole)]
        )
        m = len(all_syms) - seq_len + 1
        if m > 0:
            grams = all_syms[0:m].copy()
            for off in range(1, seq_len):
                grams = grams + "|" + all_syms[off : off + m]
        else:
            grams = np.empty(0, dtype=object)
        new_tail = (
            all_syms[-(seq_len - 1):].tolist() if seq_len > 1 else []
        )
        out = pd.DataFrame(
            {**{c: [v] * len(grams) for c, v in key_vals.items()},
             "gram": grams},
            columns=[*keys, id_col, "gram"],
        )
        return out, (new_tail,)

    return _stateful_stream(
        stream_df, (*keys, id_col), ts, order_cols, (*keys, id_col),
        ["gram string"], "syms array<string>", lambda key: ([],), scan,
        state_timeout_ms, state_timeout_clock,
    )
