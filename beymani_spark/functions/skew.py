"""Skew mitigation helpers (100 TB posture).

AQE's skew-join handling covers joins; for *aggregations* over skewed keys
(one giant entity) the standard remedy is salting: a two-stage aggregate
where stage 1 groups on (key, salt) — spreading the hot key over N partial
groups — and stage 2 merges partials per key. Results are identical to the
direct aggregate (the combine functions here are all reassociable), so
salted variants stay oracle-compatible.
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_numerical_stats(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage count/sum/sumSq/mean/std/min/max per key; equivalent to
    operators.profile.numerical_stats for a single attribute (std NULL for
    a one-row key) but resilient to a dominant key. Salt = xxhash64 of the
    row's own columns, so the grouping is a function of the data, not of
    the partition layout."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*df.columns), F.lit(salt_buckets))
    )
    partial = salted.groupBy(*keys, "_salt").agg(
        F.count(value).alias("_c"),
        F.sum(value).alias("_s"),
        F.sum(F.col(value) * F.col(value)).alias("_s2"),
        F.min(value).alias("_mn"),
        F.max(value).alias("_mx"),
    )
    merged = partial.groupBy(*keys).agg(
        F.sum("_c").alias("cnt"),
        F.sum("_s").alias("sum"),
        F.sum("_s2").alias("sum_sq"),
        F.min("_mn").alias("min"),
        F.max("_mx").alias("max"),
    )
    n = F.col("cnt")
    mean = F.col("sum") / n
    # try_divide: a one-row key has n - 1 = 0; ANSI division would fail the
    # whole query where stddev_samp gives NULL
    var = F.try_divide(F.col("sum_sq") - F.col("sum") * F.col("sum") / n, n - 1)
    return merged.select(
        *keys,
        F.lit(None).cast("string").alias("attr"),
        "cnt",
        "sum",
        "sum_sq",
        mean.alias("mean"),
        F.when(var > 0, F.sqrt(var)).when(var.isNotNull(), F.lit(0.0)).alias("std"),
        "min",
        "max",
    ).withColumn("attr", F.lit("value"))


def observed_label_counts(df: DataFrame, label_col: str = "label", name: str = "labels"):
    """Reference accumulators (StatsBasedOutlierPredictor.scala:186-193) ->
    Spark ``observe()``: O/N/I counts become query metrics collected on the
    driver after the action, with no extra pass. Returns (df, observation)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    lbl = F.col(label_col)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(lbl == "O", 1).otherwise(0)).alias("outliers"),
        F.sum(F.when(lbl == "N", 1).otherwise(0)).alias("normals"),
        F.sum(F.when(lbl == "I", 1).otherwise(0)).alias("invalid"),
    )
    return out, obs


def salted_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resilient equi-join for the case AQE cannot fix: a hot key on
    the LEFT whose matching right rows must reach every left partition.
    The left side salts each row into one of ``salt_buckets`` pseudo-keys;
    the right side REPLICATES each row across all buckets (explode of a
    bucket array), so the join keys become (keys..., _salt) and the hot
    key's rows spread over ``salt_buckets`` tasks instead of one straggler.

    Results are row-identical to ``left.join(right, keys, how)`` for
    'inner' and 'left' joins (each left row still meets every matching
    right row exactly once — it carries ONE salt, and the right copy with
    that salt is unique). Cost: right side shuffles ``salt_buckets``×
    — use when the right side is too big to broadcast but far smaller
    than the hot key's row count, the regime between broadcast joins and
    AQE skew splitting (AQE only splits SORT-merge partitions that
    exceed the skew threshold AFTER a shuffle both sides already paid).

    Each left row's salt is xxhash64 of its own columns, so the result
    (and the spread) is a function of the data, not of the partition
    layout; identical left rows share a bucket. xxhash64 rejects map
    columns, so a left side carrying one must drop or serialize it first.

    Only 'inner' and 'left' are supported: a right/full join would count
    unmatched right rows once per replica."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salted_l = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*left.columns), F.lit(salt_buckets)).cast("int")
    )
    replicated_r = right.withColumn(
        "_salt",
        F.explode(
            F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<int>")
        ),
    )
    out = salted_l.join(replicated_r, [*keys, "_salt"], how)
    return out.drop("_salt")
