"""Sequence post-processing expressible in pure SQL windows (SURVEY.md §2.1
#8, #18, #20, #21).

  local_neighborhood ≙ LocalNeighborhoodDetector (/root/reference/spark/src/
      main/scala/org/beymani/spark/seq/LocalNeighborhoodDetector.scala:74-119):
      score of the center of an odd seq-window = avg distance to neighbors, or
      count of neighbors within a distance. The reference materializes each
      key group; here it's collect_list over a bounded row frame + an array
      expression (spillable sort, no key-group OOM).
  outlier_cluster ≙ OutlierCluster (/root/reference/spark/.../common/
      OutlierCluster.scala:41-120): interval-gap temporal clustering of
      outlier rows; only cluster prototypes stay tagged 'O'. Gap clustering is
      the classic sessionization trick: cumulative sum of gap>maxInterval.
  level_shift_segments ≙ OutlierLevelShift (/root/reference/spark/.../level/
      OutlierLevelShift.scala:39-176): sustained runs of outlier-labeled rows
      as (start,end) segments — gaps-and-islands via row_number difference.
  hierarchical_aggregate ≙ OutlierAggregator (/root/reference/spark/.../
      common/OutlierAggregator.scala:42-106): roll child streams up to their
      parent stream per time bucket; aggregate value/score over outliers if
      the group has any, else over all rows; parent label 'O' iff any child O.
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import caching


def local_neighborhood(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    window: int = 5,
    mode: str = "avgDist",
    max_dist: float | None = None,
    threshold: float = 3.0,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-row neighborhood score over a centered row window (odd size)."""
    if window % 2 != 1:
        raise ValueError("window must be odd")
    half = window // 2
    w = Window.partitionBy(*keys).orderBy(ts, *order_cols).rowsBetween(-half, half)
    arr = F.collect_list(F.col(value).cast("double")).over(w)
    c = F.col(value).cast("double")
    out = df.withColumn("_arr", arr)
    if mode == "avgDist":
        total = F.aggregate(
            F.col("_arr"), F.lit(0.0), lambda acc, x: acc + F.abs(x - c)
        )
        score = total / (F.size("_arr") - F.lit(1))
    elif mode == "countWithin":
        if max_dist is None:
            raise ValueError("countWithin requires max_dist")
        score = (
            F.size(F.filter(F.col("_arr"), lambda x: F.abs(x - c) <= max_dist))
            - F.lit(1)
        ).cast("double")
    else:
        raise ValueError(f"unknown mode: {mode}")
    out = out.withColumn("nbr_score", score).drop("_arr")
    # tag = score > threshold (LocalNeighborhoodDetector.scala:106 — same
    # rule for both modes)
    return out.withColumn(
        "label", F.when(F.col("nbr_score") > threshold, "O").otherwise("N")
    )


def outlier_cluster(
    scored: DataFrame,
    keys: Sequence[str],
    ts: str,
    max_interval_sec: float,
    proto: str = "score",
    label_col: str = "label",
    score_col: str = "score",
    id_cols: Sequence[str] = (),
) -> DataFrame:
    """Cluster outlier rows whose gaps are <= max_interval_sec; emit one row
    per cluster with its prototype (highest-score member).

    The clustered outlier frame is persisted: the per-cluster stats and the
    prototype pick are two plan branches over it, and unpersisted each
    branch re-runs the whole upstream lineage (scoring included — measured:
    the fact table scanned 4x per call). The cache holds OUTLIER rows only
    (the label filter runs below it), a small fraction of the input at any
    scale."""

    o = scored.filter(F.col(label_col) == "O")
    wseq = Window.partitionBy(*keys).orderBy(ts, *id_cols)
    gap = F.unix_timestamp(F.col(ts)) - F.unix_timestamp(F.lag(ts).over(wseq))
    o = o.withColumn(
        "_new",
        F.when(gap.isNull() | (gap > max_interval_sec), 1).otherwise(0),
    )
    o = caching.persist(o.withColumn(
        "cluster_id",
        F.sum("_new").over(
            Window.partitionBy(*keys).orderBy(ts, *id_cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    ))
    wproto = Window.partitionBy(*keys, "cluster_id").orderBy(
        F.col(score_col).desc(), *[F.col(c).asc() for c in id_cols]
    )
    stats = o.groupBy(*keys, "cluster_id").agg(
        F.count("*").alias("cluster_size"),
        F.min(ts).alias("cluster_start"),
        F.max(ts).alias("cluster_end"),
    )
    protos = (
        o.withColumn("_rn", F.row_number().over(wproto))
        .filter(F.col("_rn") == 1)
        .select(*keys, "cluster_id", *id_cols, F.col(score_col).alias("proto_score"))
    )
    return stats.join(protos, [*keys, "cluster_id"])


def level_shift_segments(
    scored: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    min_length: int = 3,
    label_col: str = "label",
    id_cols: Sequence[str] = (),
) -> DataFrame:
    """Sustained-outlier segments: maximal runs of consecutive 'O' rows per
    key, emitted as (start, end, length, mean value) for runs >= min_length."""
    wseq = Window.partitionBy(*keys).orderBy(ts, *id_cols)
    rn_all = F.row_number().over(wseq)
    base = scored.withColumn("_rn", rn_all)
    o = base.filter(F.col(label_col) == "O")
    wo = Window.partitionBy(*keys).orderBy(ts, *id_cols)
    o = o.withColumn("_island", F.col("_rn") - F.row_number().over(wo))
    return (
        o.groupBy(*keys, "_island")
        .agg(
            F.min(ts).alias("segment_start"),
            F.max(ts).alias("segment_end"),
            F.count("*").alias("segment_length"),
            F.avg(F.col(value)).alias("segment_mean"),
        )
        .filter(F.col("segment_length") >= min_length)
        .drop("_island")
    )


def hierarchical_aggregate(
    scored: DataFrame,
    hierarchy: DataFrame,
    child_keys: Sequence[str],
    ts: str,
    value: str,
    window: str = "1 hour",
    value_agg: str = "avg",
    score_agg: str = "max",
    label_col: str = "label",
    score_col: str = "score",
) -> DataFrame:
    """Roll child-stream rows to their parent per time bucket.

    hierarchy: (child columns..., parent_type, parent_id) mapping DataFrame
    (wildcards pre-flattened, cf. DataStreamSchema.findParent usage at
    OutlierAggregator.scala:66-72). If the bucket has any outlier rows the
    aggregates cover only those rows, else all rows; label 'O' iff any 'O'.
    """
    vfn = {"avg": F.avg, "max": F.max, "min": F.min, "sum": F.sum}[value_agg]
    sfn = {"avg": F.avg, "max": F.max, "min": F.min, "sum": F.sum}[score_agg]
    joined = scored.join(F.broadcast(hierarchy), list(child_keys))
    is_o = (F.col(label_col) == "O").cast("int")
    w = F.window(F.col(ts), window)
    grouped = joined.groupBy("parent_type", "parent_id", w.alias("w")).agg(
        F.max(is_o).alias("_any_o"),
        vfn(F.when(F.col(label_col) == "O", F.col(value))).alias("_v_o"),
        sfn(F.when(F.col(label_col) == "O", F.col(score_col))).alias("_s_o"),
        vfn(F.col(value)).alias("_v_all"),
        sfn(F.col(score_col)).alias("_s_all"),
    )
    return grouped.select(
        "parent_type",
        "parent_id",
        F.col("w.start").alias("window_start"),
        F.when(F.col("_any_o") == 1, F.col("_v_o")).otherwise(F.col("_v_all")).alias("agg_value"),
        F.when(F.col("_any_o") == 1, F.col("_s_o")).otherwise(F.col("_s_all")).alias("agg_score"),
        F.when(F.col("_any_o") == 1, F.lit("O")).otherwise(F.lit("N")).alias("label"),
    )


def sessionize(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    gap_seconds: int = 1800,
    session_col: str = "session_id",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Gap-based sessionization: rows of a key belong to one session until
    the inter-event gap exceeds ``gap_seconds``; session_id numbers sessions per key
    in time order (1-based). Cumulative sum of gap-breaks over one sort-
    spilling window — no key group is materialized, giant users spill.

    Ties on ``ts`` are ordered by the remaining projected columns via the
    window's ORDER BY ts only — callers needing total determinism on tied
    timestamps should pass unique ``order_cols``."""
    w = Window.partitionBy(*keys).orderBy(ts, *order_cols)
    # TIMESTAMP_NTZ has no direct long cast; go through TIMESTAMP (session
    # tz is pinned UTC, so epoch seconds match DuckDB's epoch())
    epoch = F.col(ts).cast("timestamp").cast("long")
    prev = F.lag(epoch).over(w)
    new_sess = (
        prev.isNull() | (epoch - prev > F.lit(int(gap_seconds)))
    ).cast("int")
    return df.withColumn(
        session_col,
        F.sum(new_sess).over(
            Window.partitionBy(*keys)
            .orderBy(ts, *order_cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


def session_stats(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Session-level aggregates (events, span seconds, value sum) over
    sessionize() output — one extra partial-aggregated groupBy."""
    s = sessionize(df, keys, ts, gap_seconds)
    return s.groupBy(*keys, "session_id").agg(
        F.count("*").alias("n_events"),
        (
            F.max(F.col(ts).cast("timestamp").cast("long"))
            - F.min(F.col(ts).cast("timestamp").cast("long"))
        ).alias("span_sec"),
        F.sum(value).alias(f"sum_{value}"),
    )
