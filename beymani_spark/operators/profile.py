"""Model/profile builders: the chombo model-builder jobs every reference
pipeline depends on (SURVEY.md §2.4), rebuilt as single groupBy aggregations.

- numerical_stats  ≙ org.chombo.spark.explore.NumericalAttrStats
  (invoked by resource/and_spark.sh:45; consumers read mean/stddev from the
  stats file, /root/reference/src/main/java/org/beymani/predictor/
  ZscorePredictor.java:95-98)
- median_mad       ≙ NumericalAttrMedian op med/mad (resource/ecomm.sh:28-37)
- temporal_aggregate ≙ TemporalAggregator (resource/and.conf:61-74)
- auto_correlation ≙ AutoCorrelation (resource/and.conf:76-88)

All builders emit LONG format: one row per (keys..., [cycle_index], attr) so a
single model DataFrame covers many attributes and broadcast-joins back onto
scoring input — replacing the reference's driver-side model files. This module
owns that format: :func:`long_form` is the one explode-and-group that every
builder aggregates, here and in ``zscore.quartiles`` and
``ranges.range_model_from_quantiles``, and :func:`join_attrs` is the one keyed
per-attribute join through which every scorer reads a model.

Scale notes: one shuffle each (groupBy with map-side partial aggregation).
Every exact keyed quantile goes through :func:`percentiles`, one
``percentile`` aggregate (one value map per (group, value)) however many
quantiles it reads; median/MAD is two such passes (the median, then the
median of |x - median|). The numeric cards read theirs off a prefix CDF.
"""
from __future__ import annotations

import math

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import caching
from ..functions.seasonal import cycle_index
from . import prefix


def with_cycle(
    df: DataFrame, cycle: str | None, ts: str | None
) -> tuple[DataFrame, list[str]]:
    """``df`` plus its ``cycle_index`` column when ``cycle`` is set, and the
    extra model keys that adds (``["cycle_index"]`` or ``[]``)."""
    if cycle is None:
        return df, []
    if ts is None:
        raise ValueError("cycle requires ts column")
    return df.withColumn("cycle_index", cycle_index(ts, cycle)), ["cycle_index"]


def long_form(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    cycle: str | None,
    ts: str | None,
) -> tuple[DataFrame, list[str]]:
    """The (keys..., [cycle_index], attr, value) long form every per-attribute
    model builder aggregates, and its model grouping (keys...,
    [cycle_index], attr)."""
    df, extra = with_cycle(df, cycle, ts)
    group = [*keys, *extra]
    pairs = F.array(
        *[
            F.struct(F.lit(v).alias("attr"), F.col(v).cast("double").alias("value"))
            for v in values
        ]
    )
    long = df.select(*group, F.explode(pairs).alias("p"))
    return long.select(*group, "p.attr", "p.value"), [*group, "attr"]


def join_attrs(
    df: DataFrame,
    model: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    model_cols: Sequence[str],
    cycle: str | None,
    ts: str | None,
) -> tuple[DataFrame, list[str]]:
    """Left broadcast-join each scored attribute's rows of a long model onto
    ``df`` as ``_<col>_<attr>`` columns; returns the joined frame and the
    added column names (for the scorer to drop).

    The model is tiny (|keys|×|attrs| rows), so each join is a broadcast hash
    join — the fact table never shuffles (matches the reference's broadcast
    model design, StatsBasedOutlierPredictor.scala:183)."""
    out, extra = with_cycle(df, cycle, ts)
    join_keys = [*keys, *extra]
    for v in values:
        sub = model.filter(F.col("attr") == v).select(
            *join_keys, *[F.col(c).alias(f"_{c}_{v}") for c in model_cols]
        )
        out = out.join(F.broadcast(sub), join_keys, "left")
    return out, [f"_{c}_{v}" for v in values for c in model_cols]


def stats_aggs() -> list[Column]:
    """count/sum/sumSq/mean/stddev(sample)/min/max of the long form's value."""
    v = F.col("value")
    return [
        F.count(v).alias("cnt"),
        F.sum(v).alias("sum"),
        F.sum(v * v).alias("sum_sq"),
        F.avg(v).alias("mean"),
        F.stddev_samp(v).alias("std"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
    ]


def percentiles(value: str | Column, qs: dict[str, float]) -> dict[str, Column]:
    """Exact interpolated quantiles of ``value`` (``quantile_cont``
    semantics) as ``{name: Column}``, one column aliased ``name`` per
    ``{name: q}`` of ``qs``: the elements of ONE ``percentile(value,
    array(q...))`` aggregate, so a group keeps one value->count map however many
    quantiles it reads. Spark dedupes the repeated aggregate, so callers
    may combine the columns (``q3 - q1``). The values are bit-identical to
    one scalar ``percentile`` per quantile, NULL/NaN and empty groups
    included.

    This is the exact order-statistic engine of every keyed model. The
    other one, the prefix CDF of :func:`_exact_quantiles`, is kept for the
    numeric cards only. Measured split (4 cores, median of 3 runs): keyed
    ``median_mad`` at sf0.01 takes 0.64 s and 3 jobs here, against 4.56 s
    and 44 jobs through the prefix engine (same hash), a cost
    ``robust_zscore`` would carry; on ONE group of 4M distinct values the
    prefix card takes 14.5 s against 19.5 s here (32.9 s for one scalar
    ``percentile`` per quantile), and holds no per-group value map.
    Forcing tests:
    ``test_plan_shapes.py::test_one_percentile_per_value_column`` and
    ``test_giant_key.py::test_quantile_engines_agree_on_giant_key``."""
    arr = F.percentile(value, [float(q) for q in qs.values()])
    return {name: arr[i].alias(name) for i, name in enumerate(qs)}


def quartile_aggs() -> list[Column]:
    """Exact Q1/Q3/IQR of the long form's value."""
    q1, q3 = percentiles("value", {"q1": 0.25, "q3": 0.75}).values()
    return [q1, q3, (q3 - q1).alias("iqr")]


def numerical_stats(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    cycle: str | None = None,
    ts: str | None = None,
) -> DataFrame:
    """Per (keys,[cycle],attr): count/sum/sumSq/mean/stddev(sample)/min/max."""
    long, group = long_form(df, keys, values, cycle, ts)
    return long.groupBy(*group).agg(*stats_aggs())


def stats_and_quartiles(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    cycle: str | None = None,
    ts: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """:func:`numerical_stats` + ``zscore.quartiles`` from ONE groupBy pass.

    A consumer needing both models over the same (keys, values) grouping
    (anomaly_score_fuse: the z-score and IQR kernels standardize against
    per-key stats AND quartiles) otherwise scans and shuffles the fact
    table twice to build two model frames over the identical grouping.
    The aggregate expressions are exactly those of the two separate
    builders, so the derived frames are value-identical.

    Returns ``(stats, quartiles)``. The combined aggregate under both is
    persisted — the two model selects are separate plan branches and
    would each re-run the aggregation otherwise; it is |keys|x|values|
    rows (model-sized at any scale)."""
    long, group = long_form(df, keys, values, cycle, ts)
    combined = caching.persist(
        long.groupBy(*group).agg(*stats_aggs(), *quartile_aggs())
    )
    return combined.drop("q1", "q3", "iqr"), combined.select(*group, "q1", "q3", "iqr")


def median_mad(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    cycle: str | None = None,
    ts: str | None = None,
    approx_accuracy: int | None = None,
) -> DataFrame:
    """Per (keys,[cycle],attr): median and MAD (median of |x - median|).

    Exact by default (the oracle/correctness path — :func:`percentiles`,
    one value->count map per group and pass). ``approx_accuracy`` switches
    both quantiles to `percentile_approx` (Greenwald-Khanna, relative rank
    error 1/accuracy): the 100 TB path — a mergeable sketch of bounded size
    per group instead of a value map, at a documented approximation
    (accuracy=10000 -> rank error <= 0.01%)."""
    long, group = long_form(df, keys, values, cycle, ts)
    if approx_accuracy:
        p50 = lambda c: F.percentile_approx(c, 0.5, int(approx_accuracy))  # noqa: E731
    else:
        p50 = lambda c: percentiles(c, {c: 0.5})[c]  # noqa: E731
    med = long.groupBy(*group).agg(p50("value").alias("median"))
    return (
        long.join(med, group)
        .withColumn("absdev", F.abs(F.col("value") - F.col("median")))
        .groupBy(*group, "median")
        .agg(p50("absdev").alias("mad"))
    )


def discretize(
    df: DataFrame,
    value: str,
    out_col: str = "state",
    width: float | None = None,
    quantiles: int | None = None,
    keys: Sequence[str] = (),
    labels: Sequence[str] | None = None,
) -> DataFrame:
    """≙ chombo DataTransformer discretizer (pipeline usage resource/bsm.sh,
    resource/bsm.json:20-22 — Markov state extraction). Equal-width
    (floor(v/width)) or per-key equal-probability (exact quantile bounds)
    bins; ``labels`` maps bin index -> state symbol."""
    if (width is None) == (quantiles is None):
        raise ValueError("exactly one of width/quantiles required")
    if width is not None:
        idx = F.floor(F.col(value) / F.lit(float(width))).cast("int")
        out = df.withColumn("_bin", idx)
    else:
        qs = percentiles(value, {f"_q{i}": i / quantiles for i in range(1, quantiles)})
        bounds = df.groupBy(*keys).agg(*qs.values())
        out = df.join(F.broadcast(bounds), list(keys)) if keys else df.crossJoin(
            F.broadcast(bounds)
        )
        idx = F.lit(0)
        for n in qs:
            idx = idx + F.when(F.col(value) > F.col(n), 1).otherwise(0)
        out = out.withColumn("_bin", idx.cast("int")).drop(*qs)
    if labels is not None:
        mapping = F.array(*[F.lit(str(lab)) for lab in labels])
        out = out.withColumn(out_col, F.get(mapping, F.col("_bin")))
    else:
        out = out.withColumn(out_col, F.col("_bin").cast("string"))
    return out.drop("_bin")


def temporal_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    window: str = "1 hour",
    agg: str = "avg",
) -> DataFrame:
    """Tumbling-window aggregate of a metric per key (≙ TemporalAggregator)."""
    agg_fn = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max, "count": F.count}[agg]
    w = F.window(F.col(ts), window)
    return (
        df.groupBy(*keys, w.alias("w"))
        .agg(agg_fn(F.col(value)).alias(f"{agg}_{value}"))
        .select(*keys, F.col("w.start").alias("window_start"), f"{agg}_{value}")
    )


def resample(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    step_sec: int = 3600,
    fill: str = "ffill",
) -> DataFrame:
    """Regularize a keyed series to a fixed cadence: bucket to step_sec
    epochs, average within buckets, generate the full per-key grid between
    each key's min/max bucket, and fill gaps (ffill = previous value,
    'zero' = 0, 'null' = leave null). Gives the sequence detectors the
    regular cadence the reference's generators assume. One aggregation + one
    per-key grid explode + one window."""
    bucket = (F.floor(F.unix_timestamp(F.col(ts)) / step_sec) * step_sec).cast("long")
    agg = (
        df.withColumn("_b", bucket)
        .groupBy(*keys, "_b")
        .agg(F.avg(value).alias("_v"))
    )
    span = agg.groupBy(*keys).agg(F.min("_b").alias("_lo"), F.max("_b").alias("_hi"))
    grid = span.select(
        *keys,
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"), F.lit(step_sec))).alias("_b"),
    )
    joined = grid.join(agg, [*keys, "_b"], "left")
    if fill == "ffill":
        w = (
            Window.partitionBy(*keys)
            .orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        filled = F.last("_v", ignorenulls=True).over(w)
    elif fill == "zero":
        filled = F.coalesce(F.col("_v"), F.lit(0.0))
    elif fill == "null":
        filled = F.col("_v")
    else:
        raise ValueError(f"unknown fill: {fill}")
    return joined.select(
        *keys,
        F.col("_b").alias("bucket_epoch"),
        filled.alias(f"{value}_resampled"),
        F.col("_v").isNull().alias("gap_filled"),
    )


def auto_correlation(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    lags: Sequence[int] = (1,),
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-key autocorrelation at configured lags (≙ chombo AutoCorrelation).

    corr(x_t, x_{t-L}) over the seq-ordered series; one window pass builds all
    lag columns, one aggregation computes all correlations.
    """
    w = Window.partitionBy(*keys).orderBy(ts, *order_cols)
    cols = [F.lag(value, lag).over(w).alias(f"_lag{lag}") for lag in lags]
    lagged = df.select(*keys, F.col(value), *cols)
    aggs = [F.corr(F.col(value), F.col(f"_lag{lag}")).alias(f"acf_{lag}") for lag in lags]
    return lagged.groupBy(*keys).agg(*aggs)


def ks_two_sample(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    round_decimals: int = 6,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the ``col``
    distributions of two frames, fully distributed: one row
    (ks_stat, n_a, n_b) — or one row per ``keys`` group, ``(*keys,
    ks_stat, n_a, n_b)``, for the per-domain form ("did today's crawl
    quality shift, PER LANGUAGE?"). The day-over-day governance check —
    the batch companion of streaming/drift.py's detectors.

    Values are quantized to ``round_decimals`` first (the repo-wide
    round-6 parity convention; KS on the quantized values equals KS of
    the raw ones up to the quantization step, and the statistic is
    engine-exact — integer cumulative counts, one fixed division order).
    Nulls are excluded (they carry no position in an empirical CDF); a
    key present in only one frame reports ks_stat NULL (try_divide of
    the zero count — DuckDB's divide-by-zero NULL, and ANSI-safe) with
    the other side's count 0.

    Scale shape: one partial-agg groupBy per distinct (keys, quantized
    value) with one count column per frame, then the keyed distributed
    prefix sum (``prefix.keyed_cumsum``) over that grouped frame. There is
    NO single-partition stage over a data-sized or key-sized frame, so
    wide domains (raw token counts, epoch timestamps, high-cardinality
    doubles) are as safe as [0,1]-like ones — per key too: a key's
    distinct values span partitions and each slice cumsums
    independently."""
    r = int(round_decimals)

    def side(df: DataFrame) -> DataFrame:
        return df.filter(F.col(col).isNotNull()).select(
            *keys, F.round(F.col(col), r).alias("_v")
        )

    g = _value_counts([side(df_a), side(df_b)], [*keys, "_v"])
    cum, _ = prefix.keyed_cumsum(g, keys, "_v", ["_c0", "_c1"])
    # try_divide: a key present in only ONE frame has a zero count on the
    # other side — ANSI long/long division would fail the whole job on
    # that key; NULL matches DuckDB's divide-by-zero result, so the
    # one-sided key surfaces as (ks_stat NULL, n=0) in both engines
    aggs = [
        F.round(
            F.max(
                F.abs(
                    F.try_divide(F.col("_c0_cum"), F.col("_c0_n"))
                    - F.try_divide(F.col("_c1_cum"), F.col("_c1_n"))
                )
            ),
            6,
        ).alias("ks_stat"),
        F.max("_c0_n").alias("n_a"),
        F.max("_c1_n").alias("n_b"),
    ]
    out = cum.groupBy(*keys).agg(*aggs) if keys else cum.agg(*aggs)
    return out


def key_skew_audit(
    df: DataFrame,
    key_cols: Sequence[str],
    k: int = 20,
) -> DataFrame:
    """Heavy-hitter profile of a prospective shuffle/join key: the top-k
    keys by row count with each key's share of the table and its skew
    factor (count / mean-count-per-key) — the audit a 100 TB job runs
    BEFORE picking partition keys, salting factors, or AQE skew-join
    thresholds. skew >> 1 on the head key is the "one giant entity"
    signature that motivates functions/skew.py.

    Arithmetic is engine-exact: share = cnt/total is one long/long
    division; skew = (cnt * n_keys) / total multiplies in DOUBLE first
    (same order both engines, and immune to the long-overflow a
    cnt*n_keys integer product would risk at scale).

    Scale shape: one partial-aggregated groupBy on the key (the same
    shuffle the audited job would pay), a 1-row totals aggregate
    broadcast-crossed back (bounded frame, the knn.py bounds pattern),
    and a TakeOrdered top-k — the per-key frame never sorts globally and
    never collects."""
    counts = df.groupBy(*key_cols).agg(F.count("*").alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("_total"), F.count("*").alias("_n_keys")
    )
    keyed = counts.crossJoin(F.broadcast(totals))
    return (
        keyed.select(
            *key_cols,
            "cnt",
            (F.col("cnt") / F.col("_total")).alias("share"),
            (F.col("cnt").cast("double") * F.col("_n_keys") / F.col("_total")).alias(
                "skew"
            ),
        )
        .orderBy(F.col("cnt").desc(), *[F.col(c).asc() for c in key_cols])
        .limit(k)
    )


def rolling_features(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value_col: str,
    window: int = 5,
    lags: Sequence[int] = (1,),
) -> DataFrame:
    """Per-key rolling/lag feature engineering — the standard ML feature
    prep pass over an event series: trailing-``window`` mean/std/min/max
    (current row included, partial windows allowed at the head) plus
    ``lag_<k>`` columns. One exchange on the keys, one sort — the same
    shape as every windowed scorer here; at 100 TB the bound is the
    per-key sort spill, not memory.

    Deterministic ordering: rows order by (ts, value) within a key so
    same-timestamp rows cannot flip lag values between runs (the
    repetition a raw ts orderBy would allow)."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts).asc(), F.col(value_col).asc())
        .rowsBetween(-(int(window) - 1), 0)
    )
    lw = Window.partitionBy(*keys).orderBy(F.col(ts).asc(), F.col(value_col).asc())
    out = (
        df.withColumn(f"roll_mean_{window}", F.avg(value_col).over(w))
        .withColumn(f"roll_std_{window}", F.stddev_samp(value_col).over(w))
        .withColumn(f"roll_min_{window}", F.min(value_col).over(w))
        .withColumn(f"roll_max_{window}", F.max(value_col).over(w))
    )
    for k in lags:
        out = out.withColumn(f"lag_{int(k)}", F.lag(value_col, int(k)).over(lw))
    return out


#: Benford first-digit expected shares, log10(1 + 1/d) — module-level so the
#: Spark expression and the SQL oracle bake the IDENTICAL float literals
BENFORD_SHARES = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_audit(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    scale: int = 100,
) -> DataFrame:
    """First-significant-digit (Benford's-law) audit per key — the classic
    fabricated/synthetic-data and unit-mismatch screen: per digit 1-9, the
    observed share vs the Benford expectation log10(1+1/d) and the excess.
    A key whose excesses are large and systematic (spikes at 1 and 5,
    say) warrants a provenance look before the data trains anything.

    Digit extraction is ENGINE-EXACT by construction: the value scales to
    an integer first (floor(|v| * scale)) and the digit is the first
    character of that integer's decimal rendering — integers render
    identically everywhere, where a log10-based digit could flip at
    power-of-10 ulp boundaries and double->string formatting differs
    between engines. Zero/null values are excluded (no leading digit).

    Scale shape: one partial-aggregated groupBy(keys, digit); the share
    window runs over the <= 9-rows-per-key aggregated frame."""
    iv = F.floor(F.abs(F.col(value_col)) * F.lit(int(scale))).cast("long")
    base = df.select(*keys, iv.alias("_iv")).filter(F.col("_iv") > 0)
    digit = F.substring(F.col("_iv").cast("string"), 1, 1).cast("int")
    counts = base.withColumn("digit", digit).groupBy(*keys, "digit").agg(
        F.count("*").alias("n")
    )
    total = F.sum("n").over(Window.partitionBy(*keys))
    expected = F.lit(None).cast("double")
    for d, s in sorted(BENFORD_SHARES.items()):
        expected = F.when(F.col("digit") == d, F.lit(s)).otherwise(expected)
    share = F.col("n") / total
    return counts.select(
        *keys,
        "digit",
        "n",
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("benford_share"),
        F.round(share - expected, 6).alias("excess"),
    )


def column_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column completeness/cardinality data card: one row per column
    with (n_rows, n_nulls, null_frac, n_distinct) — the first table every
    ingest review reads, and the input to null-rate drift alerts. One
    aggregation pass computes every column's counts (Catalyst expands the
    multi-distinct into one shuffle over the requested columns); the melt
    to rows is a stack() projection of the single aggregate row, so the
    scan reads only ``cols`` and the shuffle carries counting state, not
    data. NULL n_distinct counts exclude NULLs (SQL COUNT DISTINCT
    semantics, identical in DuckDB)."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"_nn_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"_nd_{c}"))
    row = df.agg(*aggs)
    pairs = ", ".join(
        f"'{c}', `_nn_{c}`, `_nd_{c}`" for c in cols
    )
    melted = row.select(
        F.col("_n"),
        F.expr(
            f"stack({len(cols)}, {pairs}) as (column, _nonnull, n_distinct)"
        ),
    )
    return melted.select(
        "column",
        F.col("_n").alias("n_rows"),
        (F.col("_n") - F.col("_nonnull")).alias("n_nulls"),
        F.round((F.col("_n") - F.col("_nonnull")) / F.col("_n"), 6).alias(
            "null_frac"
        ),
        "n_distinct",
    )


def column_profile_drift(
    df_a: DataFrame, df_b: DataFrame, cols: Sequence[str]
) -> DataFrame:
    """Data-quality drift between two snapshots: column_profile of each
    side joined on the column name, with null-fraction and distinct-count
    deltas — the alert feed behind 'a upstream schema change silently
    nulled a field'. Two single-pass aggregates + a |cols|-row join; the
    fact tables never co-shuffle."""
    a = column_profile(df_a, cols).select(
        "column",
        F.col("n_rows").alias("n_rows_a"),
        F.col("null_frac").alias("null_frac_a"),
        F.col("n_distinct").alias("n_distinct_a"),
    )
    b = column_profile(df_b, cols).select(
        "column",
        F.col("n_rows").alias("n_rows_b"),
        F.col("null_frac").alias("null_frac_b"),
        F.col("n_distinct").alias("n_distinct_b"),
    )
    return a.join(b, "column").select(
        "column",
        "n_rows_a",
        "n_rows_b",
        "null_frac_a",
        "null_frac_b",
        F.round(F.col("null_frac_b") - F.col("null_frac_a"), 6).alias(
            "null_frac_delta"
        ),
        "n_distinct_a",
        "n_distinct_b",
    )


def _check_card_args(cols: Sequence[str], quantiles: Sequence[float]) -> None:
    """Reject bad numeric-card arguments before any frame is built (and
    so before anything is persisted)."""
    if not cols:
        raise ValueError("cols must name at least one column")
    if len(set(cols)) != len(cols):
        raise ValueError(f"cols must be distinct, got {list(cols)}")
    if not (0 < len(quantiles) and all(0.0 <= float(q) <= 1.0 for q in quantiles)):
        raise ValueError("quantiles must be in [0, 1] and non-empty")


def _moments(
    df: DataFrame, cols: Sequence[str], approx: dict[str, float] | None = None
) -> DataFrame:
    """(column, n, n_nulls, mean, std, min, max) per column from ONE
    aggregate over a pruned scan; the melt to one row per column is a
    stack() projection of the single aggregate row. ``approx`` maps extra
    output names to quantiles computed in the same pass with
    ``approx_percentile``."""
    names = list(approx or {})
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        col = F.col(c).cast("double")
        aggs += [
            F.count(col).alias(f"_nn_{c}"),
            F.avg(col).alias(f"_mean_{c}"),
            F.stddev_samp(col).alias(f"_std_{c}"),
            F.min(col).alias(f"_min_{c}"),
            F.max(col).alias(f"_max_{c}"),
        ]
        if names:
            qarr = F.array(*[F.lit(float(q)) for q in approx.values()])
            aggs.append(F.approx_percentile(col, qarr).alias(f"_q_{c}"))
    pairs = ", ".join(
        f"'{c}', `_nn_{c}`, `_mean_{c}`, `_std_{c}`, `_min_{c}`, `_max_{c}`"
        + "".join(f", `_q_{c}`[{i}]" for i in range(len(names)))
        for c in cols
    )
    fields = ", ".join(["column", "_nonnull", "mean", "std", "min", "max", *names])
    return (
        df.agg(*aggs)
        .select(F.col("_n"), F.expr(f"stack({len(cols)}, {pairs}) as ({fields})"))
        .select(
            "column",
            F.col("_nonnull").alias("n"),
            (F.col("_n") - F.col("_nonnull")).alias("n_nulls"),
            "mean",
            "std",
            "min",
            "max",
            *names,
        )
    )


def _melt(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """(column, _v): every non-NULL cell of ``cols`` as a double."""
    cells = F.array(
        *[
            F.struct(F.lit(c).alias("column"), F.col(c).cast("double").alias("_v"))
            for c in cols
        ]
    )
    return (
        df.select(F.explode(cells).alias("_s"))
        .select(F.col("_s.column").alias("column"), F.col("_s._v").alias("_v"))
        .filter(F.col("_v").isNotNull())
    )


def _value_counts(sides: Sequence[DataFrame], group: Sequence[str]) -> DataFrame:
    """(*group, _c0, ..., _c<k-1>): how many rows of side i carry each
    distinct ``group`` value — one partial-aggregated groupBy over the
    union of the sides."""
    k = len(sides)
    tagged = [
        s.select(*group, *[F.lit(int(i == j)).alias(f"_c{j}") for j in range(k)])
        for i, s in enumerate(sides)
    ]
    return reduce(DataFrame.unionByName, tagged).groupBy(*group).agg(
        *[F.sum(f"_c{j}").alias(f"_c{j}") for j in range(k)]
    )


def _exact_quantiles(
    cum: DataFrame, base: DataFrame, wanted: dict[str, dict[str, float]]
) -> DataFrame:
    """(column, <name>...): exact interpolated quantiles read off a keyed
    CDF (``prefix.keyed_cumsum`` keyed on ``column``). ``wanted`` maps each
    count column to {output name: quantile}.

    The arithmetic replays Spark's ``percentile`` (``quantile_cont``
    semantics): pos = q*(n-1) in one double multiply, and the result is
    lo*(ceil(pos)-pos) + hi*(pos-floor(pos)), where lo/hi are the 0-based
    order statistics floor(pos)/ceil(pos) — each the smallest value whose
    cumulative count exceeds its index. Every order statistic is a
    conditional min in ONE groupBy(column) over the CDF joined with a
    |cols|-row broadcast rank spec. A count column with no values for a
    column reports NULL, never the other side's minimum.

    Kept for the numeric cards only (:func:`numeric_profile`,
    :func:`numeric_profile_drift`), whose groups are data-sized (one per
    column); every keyed model reads :func:`percentiles`. Bound, measured
    on 4 cores (median of 3 runs): on ONE group of 4M distinct values the
    card takes 14.5 s against 19.5 s for the array ``percentile`` and
    holds no per-group value map, while keyed ``median_mad`` through this
    engine takes 4.56 s and 44 jobs at sf0.01 against 0.64 s and 3 jobs
    (same hash). Forcing tests:
    ``test_plan_shapes.py::test_numeric_profile_plan_shapes`` and
    ``test_giant_key.py::test_quantile_engines_agree_on_giant_key``."""
    spec = base.groupBy("column").agg(
        *[F.max(f"{c}_n").alias(f"{c}_n") for c in wanted]
    )
    mins = []
    for c, names in wanted.items():
        for name, q in names.items():
            pos = F.lit(float(q)) * (F.col(f"{c}_n") - 1).cast("double")
            spec = (
                spec.withColumn(f"{name}_pos", pos)
                .withColumn(f"{name}_lo", F.floor(F.col(f"{name}_pos")))
                .withColumn(f"{name}_hi", F.ceil(F.col(f"{name}_pos")))
            )
            for e in ("lo", "hi"):
                hit = F.col(f"{c}_cum") >= F.col(f"{name}_{e}") + 1
                mins.append(F.min(F.when(hit, F.col("_v"))).alias(f"{name}_v{e}"))
    straddle = (
        cum.select("column", "_v", *[f"{c}_cum" for c in wanted])
        .join(F.broadcast(spec), "column")
        .groupBy(*spec.columns)
        .agg(*mins)
    )

    def value(c: str, name: str) -> Column:
        pos, lo, hi = (F.col(f"{name}_{x}") for x in ("pos", "lo", "hi"))
        interp = F.when(lo == hi, F.col(f"{name}_vlo")).otherwise(
            F.col(f"{name}_vlo") * (hi.cast("double") - pos)
            + F.col(f"{name}_vhi") * (pos - lo.cast("double"))
        )
        return F.when(F.col(f"{c}_n") > 0, interp).alias(name)

    return straddle.select(
        "column", *[value(c, name) for c, names in wanted.items() for name in names]
    )


def numeric_profile(
    df: DataFrame,
    cols: Sequence[str],
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
    exact: bool = True,
) -> DataFrame:
    """Per-column numeric distribution card: one row per column with
    (n, n_nulls, mean, std, min, q25, q50, q75, max) — the numeric
    companion to ``column_profile``'s completeness card, and the summary
    table a feature/label review reads before training (the reference's
    olss.py score-statistics report generalized to any numeric column,
    `python/app/olss.py:35-115`). Quantiles are EXACT linear-interpolated
    order statistics (``quantile_cont`` semantics), so the card is
    oracle-verifiable.

    Scale shape: one moments pass (a single partial+final aggregate over
    a pruned scan) plus one melt -> partial-aggregated groupBy(column,
    value) -> the keyed distributed prefix sum (``prefix.keyed_cumsum``)
    -> :func:`_exact_quantiles`. No single-partition stage and no
    per-column value map, so a column with billions of distinct values
    profiles as safely as an enum.

    ``exact=False`` is the one-pass approximate card instead: the moments
    pass also carries ``approx_percentile`` (bounded GK sketch state) —
    oracle-exempt, for unbounded-cardinality columns where the second
    pass is unwanted.
    """
    _check_card_args(cols, quantiles)
    qnames = [f"q{int(round(float(q) * 100))}" for q in quantiles]
    if len(set(qnames)) != len(qnames):
        raise ValueError(
            f"quantiles {list(quantiles)} give duplicate column names {qnames}"
        )
    if not exact:
        return _moments(df, cols, dict(zip(qnames, quantiles))).select(
            "column", "n", "n_nulls", "mean", "std", "min", *qnames, "max"
        )
    g = _value_counts([_melt(df, cols)], ["column", "_v"])
    cum, base = prefix.keyed_cumsum(g, ["column"], "_v", ["_c0"])
    quants = _exact_quantiles(cum, base, {"_c0": dict(zip(qnames, quantiles))})
    return _moments(df, cols).join(quants, "column", "left").select(
        "column", "n", "n_nulls", "mean", "std", "min", *qnames, "max"
    )


def numeric_profile_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    cols: Sequence[str],
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Numeric distribution drift between two snapshots: per-column
    mean / std / median deltas — the feature-drift alert feed ("did
    yesterday's deploy shift a model input's distribution?"), the numeric
    companion to ``column_profile_drift``'s completeness deltas and the
    summary-statistic complement of ``ks_two_sample``'s shape test (KS
    says THAT a distribution moved; this card says WHERE — location,
    scale, or tail).

    The location quantile is 0.5 when ``quantiles`` contains it (the
    default), else the middle of the requested list. ONE joint keyed
    prefix sum runs over both sides (one count column per side, as in
    ``ks_two_sample``), plus one moments aggregate per side — half the
    quantile machinery of two independent cards. The fact tables never
    co-shuffle; an empty side reports NULL medians, never a garbage order
    statistic."""
    _check_card_args(cols, quantiles)
    loc_q = (
        0.5
        if any(float(q) == 0.5 for q in quantiles)
        else float(sorted(float(q) for q in quantiles)[len(quantiles) // 2])
    )
    g = _value_counts([_melt(df_a, cols), _melt(df_b, cols)], ["column", "_v"])
    cum, base = prefix.keyed_cumsum(g, ["column"], "_v", ["_c0", "_c1"])
    med = _exact_quantiles(
        cum, base, {"_c0": {"_da": loc_q}, "_c1": {"_db": loc_q}}
    )

    def side(df: DataFrame, s: str) -> DataFrame:
        return _moments(df, cols).select(
            "column",
            F.col("n").alias(f"n_{s}"),
            F.col("mean").alias(f"_m{s}"),
            F.col("std").alias(f"_s{s}"),
        )

    joined = side(df_a, "a").join(side(df_b, "b"), "column").join(
        med, "column", "left"
    )
    out = joined.select(
        "column",
        "n_a",
        "n_b",
        F.col("_ma").alias("mean_a"),
        F.col("_mb").alias("mean_b"),
        F.round(F.col("_mb") - F.col("_ma"), 6).alias("mean_delta"),
        F.col("_sa").alias("std_a"),
        F.col("_sb").alias("std_b"),
        F.round(F.col("_sb") - F.col("_sa"), 6).alias("std_delta"),
        F.col("_da").alias("median_a"),
        F.col("_db").alias("median_b"),
        F.round(F.col("_db") - F.col("_da"), 6).alias("median_delta"),
    )
    return out


def finite_audit(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column non-finite-value audit: one row per numeric column with
    (n_rows, n_null, n_nan, n_pos_inf, n_neg_inf, n_finite) — the gate
    report every stats operator needs BEFORE it runs. IEEE non-finite
    doubles are data-quality violations first (SCALE.md round-7 note:
    cross-engine stats semantics diverge on NaN/Inf — DuckDB's
    STDDEV_SAMP errors on Inf, NaN quantile rank differs), so the audit
    makes the violation visible and :func:`finite_gate` removes it before
    any mean/std/quantile touches the column.

    One aggregation pass over all columns (map-side partial counts, the
    shuffle carries counter state, not data); the melt to rows is a
    stack() projection of the single aggregate row, same shape as
    :func:`column_profile`. NaN is detected with isnan (NaN == anything
    is false in both engines); ±Inf by equality, which NaN can never
    satisfy. Counts are pure longs, so the result hashes identically on
    any engine regardless of the non-finite payloads that produced it.
    """
    if not cols:
        raise ValueError("finite_audit needs at least one column")
    # sums coalesce to 0 so an EMPTY frame audits as all-zero counts like
    # the count() columns do (SUM over zero rows is NULL; a gated-empty
    # frame otherwise reported NULL n_nan/n_±inf — caught by a hypothesis
    # draw in test_finite_gate_partitions_and_audit_agrees). Non-empty
    # inputs are value-identical, so the declared query is unchanged.
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        col = F.col(c).cast("double")
        aggs.append(F.count(col).alias(f"_nn_{c}"))
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.isnan(col), 1).otherwise(0)), F.lit(0)
            ).alias(f"_nan_{c}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(col == F.lit(float("inf")), 1).otherwise(0)),
                F.lit(0),
            ).alias(f"_pi_{c}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(col == F.lit(float("-inf")), 1).otherwise(0)),
                F.lit(0),
            ).alias(f"_ni_{c}")
        )
    row = df.agg(*aggs)
    pairs = ", ".join(
        f"'{c}', `_nn_{c}`, `_nan_{c}`, `_pi_{c}`, `_ni_{c}`" for c in cols
    )
    melted = row.select(
        F.col("_n"),
        F.expr(
            f"stack({len(cols)}, {pairs}) as "
            "(column, _nonnull, n_nan, n_pos_inf, n_neg_inf)"
        ),
    )
    return melted.select(
        "column",
        F.col("_n").alias("n_rows"),
        (F.col("_n") - F.col("_nonnull")).alias("n_null"),
        "n_nan",
        "n_pos_inf",
        "n_neg_inf",
        (
            F.col("_nonnull")
            - F.col("n_nan")
            - F.col("n_pos_inf")
            - F.col("n_neg_inf")
        ).alias("n_finite"),
    )


def finite_gate(
    df: DataFrame, cols: Sequence[str], mode: str = "drop"
) -> DataFrame:
    """Enforce the finite-input contract of the stats family: remove (or
    NULL out) rows carrying NaN/±Inf in any of ``cols`` so every
    downstream mean/std/quantile/KS operator sees only finite doubles —
    the pre-filter SCALE.md's non-finite boundary note prescribes.

    ``mode='drop'`` removes offending rows (NULLs pass — they are the
    *missing* signal, handled by every aggregate already);
    ``mode='null'`` keeps the row and NULLs only the offending cells, for
    pipelines that must preserve row counts. Pure codegen predicates
    (isnan + ±Inf equality per column), no shuffle — the filter pushes
    into the scan like any other predicate.
    """
    if mode not in ("drop", "null"):
        raise ValueError(f"finite_gate mode must be 'drop' or 'null', got {mode!r}")
    if not cols:
        raise ValueError("finite_gate needs at least one column")

    def bad(c: str) -> F.Column:
        col = F.col(c).cast("double")
        return F.isnan(col) | (col == F.lit(float("inf"))) | (
            col == F.lit(float("-inf"))
        )

    if mode == "drop":
        pred = None
        for c in cols:
            pred = bad(c) if pred is None else (pred | bad(c))
        return df.filter(~F.coalesce(pred, F.lit(False)))
    out = df
    for c in cols:
        out = out.withColumn(
            c, F.when(bad(c), F.lit(None)).otherwise(F.col(c))
        )
    return out
