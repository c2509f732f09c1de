"""Multi-attribute score aggregation + O/N/I tagging.

Reference semantics: per-attribute scores are combined by average /
weightedAverage / median / max / min over the *available* scores (missing
model entries contribute nothing to numerator or denominator) —
/root/reference/src/main/java/org/beymani/util/OutlierScoreAggregator.java:17-96,
strategy dispatch /root/reference/src/main/java/org/beymani/predictor/
ModelBasedPredictor.java:112-128.

Tag semantics: ``O`` outlier / ``N`` normal / ``I`` invalid (missing model)
per /root/reference/spark/src/main/scala/org/beymani/spark/dist/
StatsBasedOutlierPredictor.scala:261-278.

Everything is a column expression: a null per-attribute score marks
"unavailable", and the weighted average is Σ w_i·s_i / Σ_{available} w_i.
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .scaling import exp_scale


def aggregate_scores(
    scores: Sequence[Column],
    weights: Sequence[float] | None = None,
    strategy: str = "average",
) -> Column:
    """Combine per-attribute score columns; nulls are 'unavailable'."""
    scores = list(scores)
    if weights is None:
        weights = [1.0] * len(scores)
    if len(weights) != len(scores):
        raise ValueError("weights/scores length mismatch")
    if strategy in ("average", "weightedAverage"):
        num = sum(
            (F.coalesce(s * F.lit(float(w)), F.lit(0.0)) for s, w in zip(scores, weights)),
            F.lit(0.0),
        )
        den = sum(
            (F.when(s.isNotNull(), F.lit(float(w))).otherwise(F.lit(0.0)) for s, w in zip(scores, weights)),
            F.lit(0.0),
        )
        return num / F.nullif(den, F.lit(0.0))
    if strategy == "max":
        return F.greatest(*scores) if len(scores) > 1 else scores[0]
    if strategy == "min":
        return F.least(*scores) if len(scores) > 1 else scores[0]
    if strategy == "median":
        arr = F.array_sort(
            F.filter(F.array(*scores), lambda x: x.isNotNull())
        )
        n = F.size(arr)
        mid = (n - F.lit(1)) / F.lit(2)
        lo = F.floor(mid).cast("int")
        hi = F.ceil(mid).cast("int")
        med = (F.get(arr, lo) + F.get(arr, hi)) / F.lit(2.0)
        return F.when(n > 0, med)
    raise ValueError(f"unknown aggregation strategy: {strategy}")


def tag_label(score: Column, threshold: float) -> Column:
    """O/N/I tag: null score (no model for the key) -> I."""
    return (
        F.when(score.isNull(), F.lit("I"))
        .when(score > F.lit(float(threshold)), F.lit("O"))
        .otherwise(F.lit("N"))
    )


def finish_scores(
    scored: DataFrame,
    per_attr: Sequence[Column],
    weights: Sequence[float] | None,
    strategy: str,
    threshold: float,
    exp_const: float,
    drop: Sequence[str],
) -> DataFrame:
    """The per-attribute scorers' last step: aggregate ``per_attr`` into
    ``score`` (exp-scaled when ``exp_const`` > 0), tag ``label``, and drop
    the scorer's model columns."""
    score = aggregate_scores(per_attr, weights, strategy)
    if exp_const > 0:
        score = exp_scale(exp_const, score)
    out = scored.withColumn("score", score).withColumn(
        "label", tag_label(F.col("score"), threshold)
    )
    return out.drop(*drop)
