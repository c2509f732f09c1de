"""Post-processing operators over tagged (score,label) outputs.

Rebuilds of (SURVEY.md §2.1 #19, #22, #23, #24, #25):
  outlier_counts        ≙ OutlierCounter (/root/reference/spark/src/main/scala/
                          org/beymani/spark/common/OutlierCounter.scala:38-125)
  remove_outliers /
  only_outliers         ≙ OutlierUtility post-filters (/root/reference/spark/
                          src/main/scala/org/beymani/spark/common/
                          OutlierUtility.scala:45-82) — anti-join instead of
                          RDD subtract
  threshold_learner     ≙ ThresholdLearner (/root/reference/spark/.../common/
                          ThresholdLearner.scala:38-159): decision-stump
                          weighted-entropy search over candidate score splits
  pseudo_relevance_threshold ≙ PseudoRelevanceThresholdFinder (/root/reference/
                          spark/.../common/PseudoRelevanceThresholdFinder.scala:38-106)
  score_level_shift     ≙ OutlierScoreLevelShift (/root/reference/spark/.../
                          common/OutlierScoreLevelShift.scala:40-120): z of
                          short-window mean vs long-window mean/std of score

All are shuffle-minimal: one groupBy or one window pass; the threshold learner
fans out candidate splits with ``explode`` so the whole search is a single
aggregation (the reference does the same fan-out via flatMap, :69-96).
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import caching
from .profile import percentiles


def outlier_counts(df: DataFrame, keys: Sequence[str], label_col: str = "label") -> DataFrame:
    """Per-key counts and percentages of O/N/I labels + total."""
    lbl = F.col(label_col)
    total = F.count("*").alias("total")
    aggs = [total]
    for tag, name in (("O", "outlier"), ("N", "normal"), ("I", "invalid")):
        aggs.append(F.sum(F.when(lbl == tag, 1).otherwise(0)).alias(f"{name}_count"))
    out = df.groupBy(*keys).agg(*aggs)
    for name in ("outlier", "normal", "invalid"):
        out = out.withColumn(
            f"{name}_pct", F.col(f"{name}_count") * 100.0 / F.col("total")
        )
    return out


def score_stats(
    scored: DataFrame,
    keys: Sequence[str],
    score_col: str = "score",
    hist_width: float = 0.5,
) -> DataFrame:
    """≙ olss.py score statistics (/root/reference/python/app/olss.py:35-115):
    per-key score distribution profile — count/mean/std/min/max/median/p95 +
    per-bucket histogram counts folded into a map column."""
    base = scored.groupBy(*keys).agg(
        F.count(score_col).alias("cnt"),
        F.avg(score_col).alias("mean"),
        F.stddev_samp(score_col).alias("std"),
        F.min(score_col).alias("min"),
        F.max(score_col).alias("max"),
        *percentiles(score_col, {"median": 0.5, "p95": 0.95}).values(),
    )
    hist = (
        scored.withColumn(
            "bucket", F.floor(F.col(score_col) / F.lit(float(hist_width))).cast("long")
        )
        .groupBy(*keys, "bucket")
        .agg(F.count("*").alias("bucket_cnt"))
    )
    return base, hist


def only_outliers(df: DataFrame, label_col: str = "label") -> DataFrame:
    return df.filter(F.col(label_col) == "O")


def winsorize(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    round_bounds: int | None = None,
) -> DataFrame:
    """Per-key percentile capping — the "cap, don't drop" companion to the
    reference's outlier REMOVAL (OutlierUtility.scala:45-82 filters tagged
    rows out; winsorizing clamps extreme values to the [lower, upper]
    quantiles instead, the standard robust-statistics cleaning step when
    downstream aggregates must keep every row). Adds ``<value>_w`` (the
    clamped value) plus a ``capped`` flag; the raw column is preserved.

    Scale shape: one partial-aggregated per-key quantile pass (exact
    interpolated percentile — the quartiles kernel), broadcast back onto
    the fact table; the fact table itself never shuffles.

    ``round_bounds`` clamps against ROUNDED quantile bounds: quantile
    interpolation agrees across engines to well under 1e-6 but not
    bitwise, so an oracle-replayed run pins round_bounds=6 to keep the
    capped flag deterministic for the sample sitting exactly at a
    bound."""
    lo, hi = percentiles(value_col, {"_lo": lower, "_hi": upper}).values()
    if round_bounds is not None:
        lo, hi = F.round(lo, round_bounds), F.round(hi, round_bounds)
    bounds = df.groupBy(*keys).agg(lo.alias("_lo"), hi.alias("_hi"))
    j = df.join(F.broadcast(bounds), list(keys), "left")
    v = F.col(value_col)
    # greatest/least IGNORE nulls (a null value would silently become the
    # bound); nulls must pass through as nulls, unflagged
    clamped = F.when(
        v.isNotNull(), F.least(F.greatest(v, F.col("_lo")), F.col("_hi"))
    )
    return (
        j.withColumn(f"{value_col}_w", clamped)
        .withColumn("capped", v.isNotNull() & (clamped != v))
        .drop("_lo", "_hi")
    )


def remove_outliers(df: DataFrame, label_col: str = "label") -> DataFrame:
    """Clean dataset: original columns of non-outlier rows (replaces the
    reference's cached-input ``subtract`` shuffle with a plain filter)."""
    return df.filter(F.col(label_col) != "O").drop("score", label_col)


def remove_outliers_anti(
    original: DataFrame, outliers: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Clean output via anti-join on record identity — the faithful
    translation of the reference's data.subtract(taggedData) shuffle
    (OutlierUtility.scala:64) for when the outlier set comes from a separate
    pipeline rather than a label column on the same frame."""
    return original.join(outliers.select(*keys).distinct(), list(keys), "left_anti")


def threshold_learner(
    scored: DataFrame,
    keys: Sequence[str],
    class_col: str,
    splits: Sequence[float],
    score_col: str = "score",
    criterion: str = "entropy",
) -> DataFrame:
    """Per-key weighted impurity of the binary partition at each candidate
    split of the score column; lowest impurity = learned threshold.

    Output: (keys..., split, weighted_impurity). One explode + one groupBy.

    The per-(key, split, side, class) count frame is persisted: it feeds
    BOTH the join side and the side-total aggregate below, and unpersisted
    each branch re-runs the explode + groupBy over the scored fact input
    (measured: the fact table scanned 4x per call, 2x per branch). The
    frame is |keys|x|splits|x2x|classes| rows — model-sized at any scale.
    """

    split_arr = F.array(*[F.lit(float(s)) for s in splits])
    fan = scored.select(
        *keys,
        F.col(score_col).alias("_score"),
        F.col(class_col).alias("_cls"),
        F.explode(split_arr).alias("split"),
    ).withColumn("side", F.when(F.col("_score") <= F.col("split"), "le").otherwise("gt"))
    cnt = caching.persist(
        fan.groupBy(*keys, "split", "side", "_cls")
        .agg(F.count("*").alias("n"))
    )
    side_tot = cnt.groupBy(*keys, "split", "side").agg(F.sum("n").alias("n_side"))
    joined = cnt.join(side_tot, [*keys, "split", "side"])
    p = F.col("n") / F.col("n_side")
    if criterion == "entropy":
        impurity_term = -p * F.log(p)
    elif criterion == "gini":
        impurity_term = p * (1 - p)
    else:
        raise ValueError(f"unknown criterion: {criterion}")
    per_side = joined.groupBy(*keys, "split", "side").agg(
        F.sum(impurity_term).alias("impurity"), F.first("n_side").alias("n_side")
    )
    return per_side.groupBy(*keys, "split").agg(
        (F.sum(F.col("impurity") * F.col("n_side")) / F.sum("n_side")).alias(
            "weighted_impurity"
        )
    )


def pseudo_relevance_threshold(
    scored: DataFrame,
    keys: Sequence[str],
    top_fraction: float = 0.05,
    min_count: int = 20,
    default_threshold: float | None = None,
    score_col: str = "score",
) -> DataFrame:
    """Per-key threshold = score at the top-``top_fraction`` quantile (exact
    percentile of the score distribution); keys with fewer than ``min_count``
    rows fall back to ``default_threshold`` (reference behavior :62-86)."""
    out = scored.groupBy(*keys).agg(
        F.count("*").alias("n"),
        *percentiles(score_col, {"_thr": 1.0 - top_fraction}).values(),
    )
    thr = F.when(F.col("n") >= min_count, F.col("_thr"))
    if default_threshold is not None:
        thr = F.coalesce(thr, F.lit(float(default_threshold)))
    return out.select(*keys, F.col("n"), thr.alias("threshold"))


def score_level_shift(
    scored: DataFrame,
    keys: Sequence[str],
    ts: str,
    short_window: int = 5,
    long_window: int = 50,
    z_threshold: float = 2.0,
    score_col: str = "score",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """z = (mean(score) over short trailing window − mean over long trailing
    window) / stddev over long trailing window; rows with z > threshold are
    re-tagged ``O`` and the tag is spread back across the short window
    (reference :78-105) via a forward-looking window max."""
    ws = (
        Window.partitionBy(*keys)
        .orderBy(ts, *order_cols)
        .rowsBetween(-(short_window - 1), 0)
    )
    wl = (
        Window.partitionBy(*keys)
        .orderBy(ts, *order_cols)
        .rowsBetween(-(long_window - 1), 0)
    )
    wfwd = (
        Window.partitionBy(*keys)
        .orderBy(ts, *order_cols)
        .rowsBetween(0, short_window - 1)
    )
    z = (F.avg(score_col).over(ws) - F.avg(score_col).over(wl)) / F.stddev_samp(
        score_col
    ).over(wl)
    out = scored.withColumn("shift_z", z).withColumn(
        "_shift_here", F.when(F.col("shift_z") > z_threshold, 1).otherwise(0)
    )
    out = out.withColumn(
        "shift_label",
        F.when(F.max("_shift_here").over(wfwd) == 1, F.lit("O")).otherwise(F.lit("N")),
    )
    return out.drop("_shift_here")
