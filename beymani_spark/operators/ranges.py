"""In-range / out-of-range predictors (SURVEY.md §2.1 #10/#11).

Reference semantics (/root/reference/spark/src/main/scala/org/beymani/spark/
misc/OutRangeBasedPredictor.scala:100-117, InRangeBasedPredictor.scala:80-116):
  delta = value > mid ? value - hi : lo - value   (positive when outside)
  out_range score = logistic(k * delta)            — anomaly outside [lo,hi]
  in_range  score = 1 - logistic(k * delta)        — anomaly *inside* the band
                                                     (e.g. quarantine violation)
Ranges come per (key, attr) as a model DataFrame (lo, hi, mid), broadcast-joined
— replaces the reference's driver-side range files. Pure column expressions.
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scaling import logistic_scale
from ..functions.scores import finish_scores
from . import profile


def range_model_from_quantiles(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """Build a (keys..., attr, lo, hi, mid) range model from exact quantiles."""
    long, group = profile.long_form(df, keys, values, None, None)
    lo, hi = profile.percentiles("value", {"lo": lo_q, "hi": hi_q}).values()
    return long.groupBy(*group).agg(lo, hi, ((lo + hi) / 2.0).alias("mid"))


def _range_scored(
    df: DataFrame,
    ranges: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    exp_const: float,
    inside: bool,
    weights: Sequence[float] | None,
    strategy: str,
    threshold: float,
) -> DataFrame:
    out, drop = profile.join_attrs(df, ranges, keys, values, ["lo", "hi", "mid"], None, None)
    per_attr = []
    for v in values:
        lo, hi, mid = (F.col(f"_{c}_{v}") for c in ("lo", "hi", "mid"))
        delta = F.when(F.col(v) > mid, F.col(v) - hi).otherwise(lo - F.col(v))
        s = logistic_scale(exp_const, delta)
        if inside:
            s = F.lit(1.0) - s
        per_attr.append(F.when(lo.isNotNull(), s))
    return finish_scores(out, per_attr, weights, strategy, threshold, 0.0, drop)


def out_range_score(
    df: DataFrame,
    ranges: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    exp_const: float = 1.0,
    weights: Sequence[float] | None = None,
    strategy: str = "average",
    threshold: float = 0.7,
) -> DataFrame:
    return _range_scored(df, ranges, keys, values, exp_const, False, weights, strategy, threshold)


def in_range_score(
    df: DataFrame,
    ranges: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    exp_const: float = 1.0,
    weights: Sequence[float] | None = None,
    strategy: str = "average",
    threshold: float = 0.7,
) -> DataFrame:
    return _range_scored(df, ranges, keys, values, exp_const, True, weights, strategy, threshold)
