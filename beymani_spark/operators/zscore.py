"""Stats-based scoring kernels K1/K2/K3/K8 (SURVEY.md §2.2), as pure column
expressions over a broadcast-joined stats model DataFrame.

The reference's StatsBasedOutlierPredictor job (/root/reference/spark/src/main/
scala/org/beymani/spark/dist/StatsBasedOutlierPredictor.scala:63-328) loads a
stats text file driver-side and broadcasts a predictor object; here the model
is itself a DataFrame (from operators.profile) and scoring is a broadcast hash
join + whole-stage-codegen expressions — no Python in the hot path, O(N) scan,
no shuffle of the fact table.

Kernels (file:line = reference semantics source):
  zscore         |x-μ|/σ                 ZscorePredictor.java:165-201
  robust_zscore  |x-median|/MAD          RobustZscorePredictor.java:160-195
  extreme_value  exp(-exp(-|x-μ|/σ))     ExtremeValuePredictor.java:58-94
  iqr            (Q1-x)/IQR | (x-Q3)/IQR InterPercentileDifferenceBasedPredictor.java:86-122
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scores import finish_scores
from . import profile


def zscore(
    df: DataFrame,
    stats: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    weights: Sequence[float] | None = None,
    strategy: str = "average",
    threshold: float = 3.0,
    exp_const: float = 0.0,
    cycle: str | None = None,
    ts: str | None = None,
) -> DataFrame:
    """K1: weighted avg over attrs of |x-μ|/σ; σ<=0 -> attr unavailable."""
    joined, drop = profile.join_attrs(df, stats, keys, values, ["mean", "std"], cycle, ts)
    per_attr = [
        F.when(
            F.col(f"_std_{v}") > 0,
            F.abs(F.col(v) - F.col(f"_mean_{v}")) / F.col(f"_std_{v}"),
        )
        for v in values
    ]
    return finish_scores(joined, per_attr, weights, strategy, threshold, exp_const, drop)


def apply_polarity(
    scored: DataFrame,
    stats: DataFrame,
    keys: Sequence[str],
    value: str,
    polarity: str = "both",
    std_mult: float = 2.0,
    cycle: str | None = None,
    ts: str | None = None,
) -> DataFrame:
    """Polarity guard (StatsBasedOutlierPredictor.scala:436-470): an 'O' row
    is demoted to 'N' unless the value lies on the configured side of
    mean ± std_mult*σ (high / low / both). Missing stats keep the label."""
    if polarity not in ("high", "low", "both"):
        raise ValueError(f"unknown polarity: {polarity}")
    if cycle is not None and "cycle_index" in scored.columns:
        # a seasonal scorer's output already carries its cycle_index
        keys, cycle = [*keys, "cycle_index"], None
    out, drop = profile.join_attrs(scored, stats, keys, [value], ["mean", "std"], cycle, ts)
    mean, std = F.col(f"_mean_{value}"), F.col(f"_std_{value}")
    hi = mean + F.lit(float(std_mult)) * std
    lo = mean - F.lit(float(std_mult)) * std
    v = F.col(value)
    if polarity == "high":
        demote = v < hi
    elif polarity == "low":
        demote = v > lo
    else:
        demote = (v > lo) & (v < hi)
    new_label = F.when(
        (F.col("label") == "O") & mean.isNotNull() & demote, F.lit("N")
    ).otherwise(F.col("label"))
    return out.withColumn("label", new_label).drop(*drop)


def tag_with_keyed_threshold(
    scored: DataFrame,
    thresholds: DataFrame,
    keys: Sequence[str],
    default_threshold: float | None = None,
) -> DataFrame:
    """Per-key threshold tagging (OutlierUtility.scala:101-124): each key's
    own threshold (e.g. from post.pseudo_relevance_threshold) replaces the
    global one; keys without a threshold fall back to the default (label 'I'
    when neither exists, or when the score is NULL — an unknown key never
    passes as normal).

    A stateless broadcast left join, so it tags a streaming ``scored``
    frame against a batch-learned threshold frame as well — the serve half
    of the anomaly_pipeline chain, the reference's Storm-predictor pattern
    (model built offline, records tagged in real time; cf.
    predictor/ZscorePredictor.java's Redis model cache)."""
    sub = thresholds.select(*keys, F.col("threshold").alias("_thr"))
    out = scored.join(F.broadcast(sub), list(keys), "left")
    thr = F.col("_thr")
    if default_threshold is not None:
        thr = F.coalesce(thr, F.lit(float(default_threshold)))
    label = (
        F.when(F.col("score").isNull() | thr.isNull(), F.lit("I"))
        .when(F.col("score") > thr, F.lit("O"))
        .otherwise(F.lit("N"))
    )
    return out.withColumn("label", label).drop("_thr")


def robust_zscore(
    df: DataFrame,
    med_model: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    weights: Sequence[float] | None = None,
    strategy: str = "average",
    threshold: float = 3.0,
    exp_const: float = 0.0,
    cycle: str | None = None,
    ts: str | None = None,
) -> DataFrame:
    """K2: |x-median|/MAD from operators.profile.median_mad model."""
    joined, drop = profile.join_attrs(
        df, med_model, keys, values, ["median", "mad"], cycle, ts
    )
    per_attr = [
        F.when(
            F.col(f"_mad_{v}") > 0,
            F.abs(F.col(v) - F.col(f"_median_{v}")) / F.col(f"_mad_{v}"),
        )
        for v in values
    ]
    return finish_scores(joined, per_attr, weights, strategy, threshold, exp_const, drop)


def extreme_value(
    df: DataFrame,
    stats: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    weights: Sequence[float] | None = None,
    strategy: str = "average",
    threshold: float = 0.9,
    exp_const: float = 0.0,
    cycle: str | None = None,
    ts: str | None = None,
) -> DataFrame:
    """K3 Gumbel-style: score = exp(-exp(-|x-μ|/σ)) per attr."""
    joined, drop = profile.join_attrs(df, stats, keys, values, ["mean", "std"], cycle, ts)
    per_attr = [
        F.when(
            F.col(f"_std_{v}") > 0,
            F.exp(-F.exp(-F.abs(F.col(v) - F.col(f"_mean_{v}")) / F.col(f"_std_{v}"))),
        )
        for v in values
    ]
    return finish_scores(joined, per_attr, weights, strategy, threshold, exp_const, drop)


def quartiles(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    cycle: str | None = None,
    ts: str | None = None,
) -> DataFrame:
    """Exact Q1/Q3/IQR per (keys,[cycle],attr) — model for the IQR kernel."""
    long, group = profile.long_form(df, keys, values, cycle, ts)
    return long.groupBy(*group).agg(*profile.quartile_aggs())


def iqr_score(
    df: DataFrame,
    quartile_model: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    weights: Sequence[float] | None = None,
    strategy: str = "average",
    threshold: float = 1.5,
    exp_const: float = 0.0,
    cycle: str | None = None,
    ts: str | None = None,
) -> DataFrame:
    """K8: 0 inside [Q1,Q3], else distance beyond the quartile over IQR."""
    joined, drop = profile.join_attrs(
        df, quartile_model, keys, values, ["q1", "q3", "iqr"], cycle, ts
    )
    per_attr = [
        F.when(F.col(f"_iqr_{v}").isNull() | (F.col(f"_iqr_{v}") <= 0), F.lit(None))
        .when(F.col(v) < F.col(f"_q1_{v}"), (F.col(f"_q1_{v}") - F.col(v)) / F.col(f"_iqr_{v}"))
        .when(F.col(v) > F.col(f"_q3_{v}"), (F.col(v) - F.col(f"_q3_{v}")) / F.col(f"_iqr_{v}"))
        .otherwise(F.lit(0.0))
        for v in values
    ]
    return finish_scores(joined, per_attr, weights, strategy, threshold, exp_const, drop)


def zscore_attribution(
    df: DataFrame,
    stats: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    threshold: float = 3.0,
    cycle: str | None = None,
    ts: str | None = None,
) -> DataFrame:
    """Outlier EXPLANATION for the multi-attribute z-score family: for each
    row whose largest per-attribute |z| exceeds ``threshold``, emit which
    attribute drove it — ``top_attr`` (argmax over the round-6 per-attr
    z's, ties resolved by ``values`` order via a deterministic CASE chain)
    and ``max_z``. The triage view an operator actually reads ("this order
    is anomalous BECAUSE of its discount"), one step past the reference's
    score-only output (StatsBasedOutlierPredictor emits the aggregate
    score; per-attr contributions are internal).

    All z's are rounded to 6 BEFORE the argmax and the threshold cut, so
    the kept set and the attribution are summation-order-stable across
    engines. A zero/NULL std contributes z=0 (can't drive an outlier).

    Scale shape: same broadcast-model codegen scan as zscore() — the fact
    table never shuffles; the filter drops non-outliers at the scan."""
    joined, _ = profile.join_attrs(df, stats, keys, values, ["mean", "std"], cycle, ts)
    zcols = {}
    for v in values:
        z = F.when(
            F.col(f"_std_{v}") > 0,
            F.abs(F.col(v) - F.col(f"_mean_{v}")) / F.col(f"_std_{v}"),
        ).otherwise(F.lit(0.0))
        zcols[v] = F.round(F.coalesce(z, F.lit(0.0)), 6)
    # project the rounded z's as real columns, then argmax over them
    out = joined.select(
        *df.columns, *[zcols[v].alias(f"z_{v}") for v in values]
    )
    max_z = F.greatest(*[F.col(f"z_{v}") for v in values]) if len(values) > 1 else F.col(f"z_{values[0]}")
    top = F.lit(values[-1])
    for v in reversed(values[:-1]):
        later = [F.col(f"z_{v}") >= F.col(f"z_{w}") for w in values[values.index(v) + 1:]]
        cond = later[0]
        for c in later[1:]:
            cond = cond & c
        top = F.when(cond, F.lit(v)).otherwise(top)
    return (
        out.withColumn("max_z", max_z)
        .withColumn("top_attr", top)
        .filter(F.col("max_z") > F.lit(float(threshold)))
    )
