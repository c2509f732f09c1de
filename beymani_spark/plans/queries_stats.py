"""Registry entries: stats/profile family (SURVEY.md §2.2 K1-K3/K8, §2.4
builders, §2.1 #19 #22 #23 #24) on the ``events`` table.

Key/value convention for events: key = event_type, ts = ts, value = value.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import caching
from ..operators import post, profile, zscore
from ..sources import load_table
from .registry import register

R = 6  # rounding digits for float parity with the oracle


def _round(df: DataFrame, cols: list[str]) -> DataFrame:
    out = df
    for c in cols:
        out = out.withColumn(c, F.round(F.col(c).cast("double"), R))
    return out


# ---------------------------------------------------------------- builders

_STATS_ORACLE = """
SELECT event_type, 'value' AS attr, count(value) AS cnt,
       round(sum(value), 6) AS sum, round(sum(value*value), 6) AS sum_sq,
       round(avg(value), 6) AS mean, round(stddev_samp(value), 6) AS std,
       round(min(value), 6) AS min, round(max(value), 6) AS max
FROM events GROUP BY event_type
"""


@register("numerical_stats", _STATS_ORACLE)
def q_numerical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = profile.numerical_stats(ev, ["event_type"], ["value"])
    return _round(out, ["sum", "sum_sq", "mean", "std", "min", "max"])


_MEDIAN_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS median
  FROM events GROUP BY event_type
)
SELECT e.event_type, 'value' AS attr,
       round(any_value(m.median), 6) AS median,
       round(quantile_cont(abs(e.value - m.median), 0.5), 6) AS mad
FROM events e JOIN med m USING (event_type)
GROUP BY e.event_type
"""


@register("median_mad", _MEDIAN_MAD_ORACLE)
def q_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = profile.median_mad(ev, ["event_type"], ["value"])
    return _round(out, ["median", "mad"])


_QUARTILES_ORACLE = """
SELECT event_type, 'value' AS attr,
       round(quantile_cont(value, 0.25), 6) AS q1,
       round(quantile_cont(value, 0.75), 6) AS q3,
       round(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6) AS iqr
FROM events GROUP BY event_type
"""


@register("quartiles", _QUARTILES_ORACLE)
def q_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = zscore.quartiles(ev, ["event_type"], ["value"])
    return _round(out, ["q1", "q3", "iqr"])


# ---------------------------------------------------------------- scoring K1-K3/K8

_ZSCORE_CTE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mean, stddev_samp(value) AS std
  FROM events GROUP BY event_type
), scored AS (
  SELECT e.event_id, e.event_type, e.value,
         CASE WHEN s.std > 0 THEN abs(e.value - s.mean) / s.std END AS raw
  FROM events e LEFT JOIN stats s USING (event_type)
)
"""

_ZSCORE_ORACLE = _ZSCORE_CTE + """
SELECT event_id, event_type, value, round(raw, 6) AS score,
       CASE WHEN raw IS NULL THEN 'I' WHEN raw > 3.0 THEN 'O' ELSE 'N' END AS label
FROM scored
"""


@register("zscore", _ZSCORE_ORACLE)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    out = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
    return _round(out.select("event_id", "event_type", "value", "score", "label"), ["score"])


_ZSCORE_SEASONAL_ORACLE = """
WITH keyed AS (
  SELECT *, (CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END) AS cycle_index
  FROM events
), stats AS (
  SELECT event_type, cycle_index, avg(value) AS mean, stddev_samp(value) AS std
  FROM keyed GROUP BY event_type, cycle_index
)
SELECT e.event_id, e.event_type, e.cycle_index, e.value,
       round(CASE WHEN s.std > 0 THEN abs(e.value - s.mean) / s.std END, 6) AS score,
       CASE WHEN s.std IS NULL OR s.std <= 0 THEN 'I'
            WHEN abs(e.value - s.mean) / s.std > 3.0 THEN 'O' ELSE 'N' END AS label
FROM keyed e LEFT JOIN stats s USING (event_type, cycle_index)
"""


@register("zscore_seasonal", _ZSCORE_SEASONAL_ORACLE)
def q_zscore_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(
        ev, ["event_type"], ["value"], cycle="weekDayOrWeekendOfWeek", ts="ts"
    )
    out = zscore.zscore(
        ev, stats, ["event_type"], ["value"], threshold=3.0,
        cycle="weekDayOrWeekendOfWeek", ts="ts",
    )
    return _round(
        out.select("event_id", "event_type", "cycle_index", "value", "score", "label"),
        ["score"],
    )


_ZSCORE_SEASONAL_NIGHTDAY_ORACLE = """
WITH keyed AS (
  SELECT *, (CASE WHEN hour(ts) >= 6 AND hour(ts) < 22 THEN 1 ELSE 0 END) AS cycle_index
  FROM events
), stats AS (
  SELECT event_type, cycle_index, avg(value) AS mean, stddev_samp(value) AS std
  FROM keyed GROUP BY event_type, cycle_index
)
SELECT e.event_id, e.event_type, e.cycle_index, e.value,
       round(CASE WHEN s.std > 0 THEN abs(e.value - s.mean) / s.std END, 6) AS score,
       CASE WHEN s.std IS NULL OR s.std <= 0 THEN 'I'
            WHEN abs(e.value - s.mean) / s.std > 3.0 THEN 'O' ELSE 'N' END AS label
FROM keyed e LEFT JOIN stats s USING (event_type, cycle_index)
"""


@register("zscore_seasonal_nightday", _ZSCORE_SEASONAL_NIGHTDAY_ORACLE)
def q_zscore_seasonal_nightday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal z-score keyed by the nightDayHourOfDay cycle — the cycle
    type the reference's salean.conf pipelines name (functions/seasonal
    documents the band convention: 0=night [22,6), 1=day [6,22)). Same
    plan as zscore_seasonal: the cycle index is one more codegen grouping
    column; stats broadcast back."""
    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(
        ev, ["event_type"], ["value"], cycle="nightDayHourOfDay", ts="ts"
    )
    out = zscore.zscore(
        ev, stats, ["event_type"], ["value"], threshold=3.0,
        cycle="nightDayHourOfDay", ts="ts",
    )
    return _round(
        out.select("event_id", "event_type", "cycle_index", "value", "score", "label"),
        ["score"],
    )


_ROBUST_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS median
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, any_value(m.median) AS median,
         quantile_cont(abs(e.value - m.median), 0.5) AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type
), scored AS (
  SELECT e.event_id, e.event_type, e.value,
         CASE WHEN d.mad > 0 THEN abs(e.value - d.median) / d.mad END AS raw
  FROM events e LEFT JOIN mad d USING (event_type)
)
SELECT event_id, event_type, value, round(raw, 6) AS score,
       CASE WHEN raw IS NULL THEN 'I' WHEN raw > 3.5 THEN 'O' ELSE 'N' END AS label
FROM scored
"""


@register("robust_zscore", _ROBUST_ORACLE)
def q_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    model = profile.median_mad(ev, ["event_type"], ["value"])
    out = zscore.robust_zscore(ev, model, ["event_type"], ["value"], threshold=3.5)
    return _round(out.select("event_id", "event_type", "value", "score", "label"), ["score"])


_EXTREME_ORACLE = _ZSCORE_CTE.replace(
    "abs(e.value - s.mean) / s.std",
    "exp(-exp(-abs(e.value - s.mean) / s.std))",
) + """
SELECT event_id, event_type, value, round(raw, 6) AS score,
       CASE WHEN raw IS NULL THEN 'I' WHEN raw > 0.9 THEN 'O' ELSE 'N' END AS label
FROM scored
"""


@register("extreme_value", _EXTREME_ORACLE)
def q_extreme_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    out = zscore.extreme_value(ev, stats, ["event_type"], ["value"], threshold=0.9)
    return _round(out.select("event_id", "event_type", "value", "score", "label"), ["score"])


_IQR_ORACLE = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3,
         quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
  FROM events GROUP BY event_type
), scored AS (
  SELECT e.event_id, e.event_type, e.value,
         CASE WHEN q.iqr IS NULL OR q.iqr <= 0 THEN NULL
              WHEN e.value < q.q1 THEN (q.q1 - e.value) / q.iqr
              WHEN e.value > q.q3 THEN (e.value - q.q3) / q.iqr
              ELSE 0.0 END AS raw
  FROM events e LEFT JOIN q USING (event_type)
)
SELECT event_id, event_type, value, round(raw, 6) AS score,
       CASE WHEN raw IS NULL THEN 'I' WHEN raw > 1.5 THEN 'O' ELSE 'N' END AS label
FROM scored
"""


@register("iqr_score", _IQR_ORACLE)
def q_iqr_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    model = zscore.quartiles(ev, ["event_type"], ["value"])
    out = zscore.iqr_score(ev, model, ["event_type"], ["value"], threshold=1.5)
    return _round(out.select("event_id", "event_type", "value", "score", "label"), ["score"])


# ---------------------------------------------------------------- post ops

_COUNTER_ORACLE = _ZSCORE_CTE + """
, tagged AS (
  SELECT event_type,
         CASE WHEN raw IS NULL THEN 'I' WHEN raw > 3.0 THEN 'O' ELSE 'N' END AS label
  FROM scored
)
SELECT event_type, count(*) AS total,
       sum(CASE WHEN label = 'O' THEN 1 ELSE 0 END)::BIGINT AS outlier_count,
       sum(CASE WHEN label = 'N' THEN 1 ELSE 0 END)::BIGINT AS normal_count,
       sum(CASE WHEN label = 'I' THEN 1 ELSE 0 END)::BIGINT AS invalid_count,
       round(sum(CASE WHEN label = 'O' THEN 1 ELSE 0 END) * 100.0 / count(*), 6) AS outlier_pct,
       round(sum(CASE WHEN label = 'N' THEN 1 ELSE 0 END) * 100.0 / count(*), 6) AS normal_pct,
       round(sum(CASE WHEN label = 'I' THEN 1 ELSE 0 END) * 100.0 / count(*), 6) AS invalid_pct
FROM tagged GROUP BY event_type
"""


@register("outlier_counts", _COUNTER_ORACLE)
def q_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
    out = post.outlier_counts(scored, ["event_type"])
    return _round(out, ["outlier_pct", "normal_pct", "invalid_pct"])


_PSEUDO_REL_ORACLE = _ZSCORE_CTE + """
SELECT event_type, count(*) AS n,
       round(quantile_cont(raw, 0.95), 6) AS threshold
FROM scored GROUP BY event_type
"""


@register("pseudo_relevance_threshold", _PSEUDO_REL_ORACLE)
def q_pseudo_relevance_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
    out = post.pseudo_relevance_threshold(scored, ["event_type"], top_fraction=0.05, min_count=20)
    return _round(out, ["threshold"])


# The reference's full chained workflow as ONE query: score (zscore) ->
# learn a per-key threshold from the score distribution (pseudo-relevance
# top-5%) -> tag against the LEARNED threshold -> per-key outlier summary.
# The outlier compare runs on ROUND-6 score vs ROUND-6 threshold on both
# sides: quantile interpolation agrees across engines to well under 1e-6
# but not bitwise, so a raw compare could flip for the one sample sitting
# exactly at the quantile.
_ANOMALY_PIPELINE_ORACLE = _ZSCORE_CTE + """
, thr AS (
  SELECT event_type, count(*) AS n_all, quantile_cont(raw, 0.95) AS t
  FROM scored GROUP BY event_type
)
SELECT s.event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN round(s.raw, 6) > round(t.t, 6) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       round(sum(CASE WHEN round(s.raw, 6) > round(t.t, 6) THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) AS outlier_rate,
       round(any_value(t.t), 6) AS threshold
FROM scored s JOIN thr t USING (event_type)
WHERE s.raw IS NOT NULL AND t.n_all >= 20
GROUP BY s.event_type
"""


@register("anomaly_pipeline", _ANOMALY_PIPELINE_ORACLE)
def q_anomaly_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's chained anomaly workflow end-to-end (cf. the and.conf
    pipeline of StatsBasedOutlierPredictor -> PseudoRelevanceThresholdFinder
    -> OutlierCounter): z-score every event against per-key stats, learn
    each key's threshold as the top-5% score quantile, tag against the
    learned (not fixed) threshold, and report the per-key outlier summary.
    Every stage is the already-verified operator; this pins the chain."""
    ev = load_table(spark, sf_dir, "events")
    # persist the two |keys|-row model frames (stats, thr): each is
    # consumed by more than one plan branch and would otherwise re-run its
    # fit lineage — including the fact scan — per branch (events 4x -> 3x)
    stats = caching.persist(profile.numerical_stats(ev, ["event_type"], ["value"]))
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
    thr = caching.persist(
        post.pseudo_relevance_threshold(
            scored, ["event_type"], top_fraction=0.05, min_count=20
        )
        .filter(F.col("threshold").isNotNull())
    )
    tagged = (
        scored.filter(F.col("score").isNotNull())
        .join(thr.select("event_type", "threshold"), "event_type")
        .withColumn(
            "_o",
            (F.round("score", R) > F.round("threshold", R)).cast("long"),
        )
    )
    out = tagged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("_o").alias("n_outliers"),
        F.round(F.sum("_o") / F.count("*"), R).alias("outlier_rate"),
        F.round(F.first("threshold"), R).alias("threshold"),
    )
    return out


# Winsorize: the clamp runs against ROUND-6 bounds on both sides —
# quantile interpolation agrees across engines to well under 1e-6 but not
# bitwise, and a sample sitting exactly at a bound would flip the capped
# flag on a raw compare (the anomaly_pipeline remedy).
_WINSORIZE_ORACLE = """
WITH b AS (
  SELECT event_type,
         round(quantile_cont(value, 0.05), 6) AS lo,
         round(quantile_cont(value, 0.95), 6) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       round(least(greatest(e.value, b.lo), b.hi), 6) AS value_w,
       (e.value < b.lo OR e.value > b.hi) AS capped
FROM events e JOIN b USING (event_type)
"""


@register("winsorize", _WINSORIZE_ORACLE)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key percentile capping (post.winsorize): clamp event values to
    their key's [p5, p95] band — the cap-don't-drop companion to the
    reference's outlier removal; bounds broadcast back, the fact table
    never shuffles."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = post.winsorize(
        ev, ["event_type"], "value", lower=0.05, upper=0.95, round_bounds=R
    )
    return out.select(
        "event_id",
        "event_type",
        "value",
        F.round("value_w", R).alias("value_w"),
        "capped",
    )


_THRESHOLD_LEARNER_SPLITS = [0.5, 1.0, 1.5, 2.0, 2.5, 3.0]

_THRESHOLD_LEARNER_ORACLE = _ZSCORE_CTE + """
, cls AS (
  SELECT event_type, raw AS score,
         CASE WHEN value > 50 THEN 1 ELSE 0 END AS cls
  FROM scored WHERE raw IS NOT NULL
), fan AS (
  SELECT event_type, score, cls, split,
         CASE WHEN score <= split THEN 'le' ELSE 'gt' END AS side
  FROM cls CROSS JOIN (SELECT unnest([0.5, 1.0, 1.5, 2.0, 2.5, 3.0]) AS split) sp
), cnt AS (
  SELECT event_type, split, side, cls, count(*) AS n
  FROM fan GROUP BY event_type, split, side, cls
), side_tot AS (
  SELECT event_type, split, side, sum(n) AS n_side
  FROM cnt GROUP BY event_type, split, side
), imp AS (
  SELECT c.event_type, c.split, c.side,
         sum(-(c.n * 1.0 / s.n_side) * ln(c.n * 1.0 / s.n_side)) AS impurity,
         any_value(s.n_side) AS n_side
  FROM cnt c JOIN side_tot s USING (event_type, split, side)
  GROUP BY c.event_type, c.split, c.side
)
SELECT event_type, split,
       round(sum(impurity * n_side) / sum(n_side), 6) AS weighted_impurity
FROM imp GROUP BY event_type, split
"""


@register("threshold_learner", _THRESHOLD_LEARNER_ORACLE)
def q_threshold_learner(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = (
        zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
        .filter(F.col("score").isNotNull())
        .withColumn("cls", F.when(F.col("value") > 50, 1).otherwise(0))
    )
    out = post.threshold_learner(
        scored, ["event_type"], "cls", _THRESHOLD_LEARNER_SPLITS
    )
    return _round(out, ["split", "weighted_impurity"])


# ---------------------------------------------------------------- temporal

_TEMPORAL_ORACLE = """
SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS window_start_epoch,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY event_type, date_trunc('hour', ts)
"""


@register("temporal_aggregate", _TEMPORAL_ORACLE)
def q_temporal_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = profile.temporal_aggregate(ev, ["event_type"], "ts", "value", "1 hour", "avg")
    out = out.select(
        "event_type",
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        F.col("avg_value"),
    )
    return _round(out, ["avg_value"])


_AUTOCORR_ORACLE = """
WITH lagged AS (
  SELECT event_type, value,
         lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS lag1,
         lag(value, 2) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS lag2
  FROM events
)
SELECT event_type, round(corr(value, lag1), 6) AS acf_1, round(corr(value, lag2), 6) AS acf_2
FROM lagged GROUP BY event_type
"""


@register("auto_correlation", _AUTOCORR_ORACLE)
def q_auto_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = profile.auto_correlation(
        ev, ["event_type"], "ts", "value", lags=(1, 2), order_cols=["event_id"]
    )
    return _round(out, ["acf_1", "acf_2"])


_LEVEL_SHIFT_ORACLE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mean, stddev_samp(value) AS std
  FROM events GROUP BY event_type
), scored AS (
  SELECT e.event_id, e.event_type, e.ts,
         CASE WHEN s.std > 0 THEN abs(e.value - s.mean) / s.std END AS score
  FROM events e LEFT JOIN stats s USING (event_type)
), z AS (
  SELECT event_id, event_type, ts,
         (avg(score) OVER ws - avg(score) OVER wl) / stddev_samp(score) OVER wl AS shift_z
  FROM scored
  WINDOW ws AS (PARTITION BY event_type ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         wl AS (PARTITION BY event_type ORDER BY ts, event_id ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
)
SELECT event_id, event_type, round(shift_z, 6) AS shift_z,
       CASE WHEN max(CASE WHEN shift_z > 2.0 THEN 1 ELSE 0 END)
              OVER (PARTITION BY event_type ORDER BY ts, event_id
                    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) = 1
            THEN 'O' ELSE 'N' END AS shift_label
FROM z
"""


@register("score_level_shift", _LEVEL_SHIFT_ORACLE)
def q_score_level_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
    out = post.score_level_shift(
        scored, ["event_type"], "ts", short_window=5, long_window=50, z_threshold=2.0,
        order_cols=["event_id"],
    )
    return _round(out.select("event_id", "event_type", "shift_z", "shift_label"), ["shift_z"])


_ZSCORE_ATTRIBUTION_ORACLE = """
WITH f AS (
  SELECT event_id, event_type, value,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_val
  FROM events
), s AS (
  SELECT event_type, avg(value) mv, stddev_samp(value) sv,
         avg(k_val) mk, stddev_samp(k_val) sk
  FROM f GROUP BY 1
), z AS (
  SELECT f.event_id, f.event_type,
         round(coalesce(CASE WHEN sv > 0 THEN abs(value - mv) / sv END, 0), 6)
           AS z_value,
         round(coalesce(CASE WHEN sk > 0 THEN abs(k_val - mk) / sk END, 0), 6)
           AS z_k_val
  FROM f JOIN s USING (event_type)
)
SELECT event_id, event_type, z_value, z_k_val,
       greatest(z_value, z_k_val) AS max_z,
       CASE WHEN z_value >= z_k_val THEN 'value' ELSE 'k_val' END AS top_attr
FROM z WHERE greatest(z_value, z_k_val) > 3.0
"""


@register("zscore_attribution", _ZSCORE_ATTRIBUTION_ORACLE)
def q_zscore_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier explanation (zscore.zscore_attribution): which attribute —
    the event value or the typed JSON props field — drove each >3-sigma
    row. Round-6 z's on both engines before the argmax and the cut; the
    stats model broadcasts, the fact table never shuffles."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("double").alias("k_val"),
    )
    # persist the |keys x 2 attrs| stats model: _join_model broadcast-joins
    # it once PER ATTRIBUTE, so the two-attr call re-ran the stats groupBy
    # (and its fact scan) twice
    stats = caching.persist(
        profile.numerical_stats(ev, ["event_type"], ["value", "k_val"])
    )
    out = zscore.zscore_attribution(
        ev, stats, ["event_type"], ["value", "k_val"], threshold=3.0
    )
    return out.select(
        "event_id", "event_type", "z_value", "z_k_val", "max_z", "top_attr"
    )


_COLUMN_PROFILE_ORACLE = """
SELECT 'c_custkey' AS column, count(*) AS n_rows,
       count(*) - count(c_custkey) AS n_nulls,
       round((count(*) - count(c_custkey)) * 1.0 / count(*), 6) AS null_frac,
       count(DISTINCT c_custkey) AS n_distinct
FROM customer
UNION ALL
SELECT 'c_nationkey', count(*), count(*) - count(c_nationkey),
       round((count(*) - count(c_nationkey)) * 1.0 / count(*), 6),
       count(DISTINCT c_nationkey)
FROM customer
UNION ALL
SELECT 'c_acctbal', count(*), count(*) - count(c_acctbal),
       round((count(*) - count(c_acctbal)) * 1.0 / count(*), 6),
       count(DISTINCT c_acctbal)
FROM customer
UNION ALL
SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment),
       round((count(*) - count(c_mktsegment)) * 1.0 / count(*), 6),
       count(DISTINCT c_mktsegment)
FROM customer
"""


@register("column_profile", _COLUMN_PROFILE_ORACLE)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column completeness/cardinality data card
    (profile.column_profile): n_rows / n_nulls / null_frac / n_distinct
    per column in ONE aggregation pass — the ingest-review table and the
    input to null-rate drift alerts. The altseed draw injects NULL
    c_acctbal rows, so both the zero- and nonzero-null paths are
    hash-verified."""
    cust = load_table(spark, sf_dir, "customer")
    return profile.column_profile(
        cust, ["c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"]
    )


# snapshot split for the drift card: even vs odd custkey — both engines
# compute the identical halves; the altseed NULL injection gives the two
# sides different null rates so the delta is nonzero there
_COLUMN_PROFILE_DRIFT_ORACLE = """
WITH a AS (SELECT * FROM customer WHERE c_custkey % 2 = 0),
     b AS (SELECT * FROM customer WHERE c_custkey % 2 = 1),
pa AS (
  SELECT 'c_acctbal' AS "column", count(*) AS n_rows_a,
         round((count(*) - count(c_acctbal)) * 1.0 / count(*), 6) AS null_frac_a,
         count(DISTINCT c_acctbal) AS n_distinct_a
  FROM a
  UNION ALL
  SELECT 'c_mktsegment', count(*),
         round((count(*) - count(c_mktsegment)) * 1.0 / count(*), 6),
         count(DISTINCT c_mktsegment)
  FROM a
), pb AS (
  SELECT 'c_acctbal' AS "column", count(*) AS n_rows_b,
         round((count(*) - count(c_acctbal)) * 1.0 / count(*), 6) AS null_frac_b,
         count(DISTINCT c_acctbal) AS n_distinct_b
  FROM b
  UNION ALL
  SELECT 'c_mktsegment', count(*),
         round((count(*) - count(c_mktsegment)) * 1.0 / count(*), 6),
         count(DISTINCT c_mktsegment)
  FROM b
)
SELECT "column", n_rows_a, n_rows_b, null_frac_a, null_frac_b,
       round(null_frac_b - null_frac_a, 6) AS null_frac_delta,
       n_distinct_a, n_distinct_b
FROM pa JOIN pb USING ("column")
"""


@register("column_profile_drift", _COLUMN_PROFILE_DRIFT_ORACLE)
def q_column_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality drift card (profile.column_profile_drift) between two
    deterministic customer snapshots (even vs odd custkey): per-column
    null-fraction and distinct-count deltas — the 'upstream silently
    nulled a field' alert feed."""
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_custkey") % 2 == 0)
    b = cust.filter(F.col("c_custkey") % 2 != 0)
    return profile.column_profile_drift(a, b, ["c_acctbal", "c_mktsegment"])


def _np_col_sql(c: str) -> str:
    return f"""
SELECT '{c}' AS "column", count({c}) AS n, count(*) - count({c}) AS n_nulls,
       round(avg({c}), 6) AS mean, round(stddev_samp({c}), 6) AS std,
       round(min({c}), 6) AS min,
       round(quantile_cont({c}, 0.25), 6) AS q25,
       round(quantile_cont({c}, 0.50), 6) AS q50,
       round(quantile_cont({c}, 0.75), 6) AS q75,
       round(max({c}), 6) AS max
FROM lineitem"""


_NUMERIC_PROFILE_ORACLE = "\nUNION ALL\n".join(
    _np_col_sql(c) for c in ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
)


@register("numeric_profile", _NUMERIC_PROFILE_ORACLE)
def q_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column numeric distribution card (profile.numeric_profile):
    count/nulls/mean/std/min/quartiles/max for every numeric lineitem
    measure — the numeric companion to column_profile and the generalized
    form of the reference's olss.py score-statistics report
    (`python/app/olss.py:35-115`). Quantiles are EXACT interpolated order
    statistics (quantile_cont semantics): one moments pass + a melt into
    the distributed prefix-sum CDF — no per-column value map at any
    distinct-value cardinality."""
    li = load_table(spark, sf_dir, "lineitem")
    out = profile.numeric_profile(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
    return _round(out, ["mean", "std", "min", "q25", "q50", "q75", "max"])


def _npd_side_sql(c: str, side: str, suffix: str) -> str:
    return f"""
  SELECT '{c}' AS "column", count({c}) AS n_{suffix},
         avg({c}) AS _m{suffix}, stddev_samp({c}) AS _s{suffix},
         quantile_cont({c}, 0.5) AS _d{suffix}
  FROM {side}"""


_NUMERIC_PROFILE_DRIFT_ORACLE = (
    """
WITH a AS (SELECT * FROM lineitem WHERE l_orderkey % 2 = 0),
     b AS (SELECT * FROM lineitem WHERE l_orderkey % 2 = 1),
sa AS ("""
    + "\n  UNION ALL".join(
        _npd_side_sql(c, "a", "a") for c in ["l_extendedprice", "l_discount"]
    )
    + """
), sb AS ("""
    + "\n  UNION ALL".join(
        _npd_side_sql(c, "b", "b") for c in ["l_extendedprice", "l_discount"]
    )
    + """
)
SELECT "column", n_a, n_b,
       round(_ma, 6) AS mean_a, round(_mb, 6) AS mean_b,
       round(_mb - _ma, 6) AS mean_delta,
       round(_sa, 6) AS std_a, round(_sb, 6) AS std_b,
       round(_sb - _sa, 6) AS std_delta,
       round(_da, 6) AS median_a, round(_db, 6) AS median_b,
       round(_db - _da, 6) AS median_delta
FROM sa JOIN sb USING ("column")
"""
)


@register("numeric_profile_drift", _NUMERIC_PROFILE_DRIFT_ORACLE)
def q_numeric_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric distribution drift card (profile.numeric_profile_drift)
    between two deterministic lineitem snapshots (even vs odd orderkey):
    per-column mean / std / median deltas — the feature-drift alert feed,
    and the summary-statistic companion to the KS shape gates (KS says
    THAT a distribution moved; this says WHERE). Each side's quantiles run
    on the distributed prefix-sum CDF; the fact tables never co-shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_orderkey") % 2 == 0)
    b = li.filter(F.col("l_orderkey") % 2 != 0)
    out = profile.numeric_profile_drift(a, b, ["l_extendedprice", "l_discount"])
    return _round(
        out, ["mean_a", "mean_b", "std_a", "std_b", "median_a", "median_b"]
    )


# Non-finite injection shared by the finite_audit / finite_gate queries:
# the driver fixtures are finite by construction (SCALE.md round-7 note),
# so the queries MANUFACTURE IEEE NaN/±Inf deterministically — the same
# CASE on event_id in Spark and DuckDB (both cast 'NaN'/'Infinity'/
# '-Infinity' strings to the IEEE doubles) — making the non-finite path
# itself cross-engine-verified, not just the all-finite shape.
_NONFINITE_VALUE_SQL = """CASE
  WHEN event_id % 97 = 0 THEN CAST('NaN' AS DOUBLE)
  WHEN event_id % 97 = 1 THEN CAST('Infinity' AS DOUBLE)
  WHEN event_id % 97 = 2 THEN CAST('-Infinity' AS DOUBLE)
  WHEN event_id % 97 = 3 THEN NULL
  ELSE value END"""


def _nonfinite_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.expr(_NONFINITE_VALUE_SQL).alias("value_adj"),
        F.get_json_object("props", "$.k").cast("double").alias("k_val"),
    )


_FINITE_AUDIT_ORACLE = f"""
WITH adj AS (
  SELECT event_id, {_NONFINITE_VALUE_SQL} AS value_adj,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_val
  FROM events
)
SELECT 'value_adj' AS "column", count(*) AS n_rows,
       count(*) - count(value_adj) AS n_null,
       CAST(sum(CASE WHEN isnan(value_adj) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
       CAST(sum(CASE WHEN value_adj = 'Infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_inf,
       CAST(sum(CASE WHEN value_adj = '-Infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_inf,
       count(value_adj)
         - CAST(sum(CASE WHEN isnan(value_adj) THEN 1 ELSE 0 END) AS BIGINT)
         - CAST(sum(CASE WHEN value_adj = 'Infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT)
         - CAST(sum(CASE WHEN value_adj = '-Infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT)
         AS n_finite
FROM adj
UNION ALL
SELECT 'k_val', count(*), count(*) - count(k_val),
       CAST(sum(CASE WHEN isnan(k_val) THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN k_val = 'Infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN k_val = '-Infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT),
       count(k_val)
         - CAST(sum(CASE WHEN isnan(k_val) THEN 1 ELSE 0 END) AS BIGINT)
         - CAST(sum(CASE WHEN k_val = 'Infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT)
         - CAST(sum(CASE WHEN k_val = '-Infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT)
FROM adj
"""


@register("finite_audit", _FINITE_AUDIT_ORACLE)
def q_finite_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-finite-value audit (profile.finite_audit) over an events frame
    with deterministically injected NaN/±Inf/NULL — the report every
    stats operator needs before it runs (SCALE.md: stats semantics
    diverge cross-engine on non-finite input, so the contract is
    audit + gate FIRST). One aggregation pass; counts are pure longs, so
    the result hashes identically however the engines represent the
    non-finite payloads that produced it."""
    return profile.finite_audit(
        _nonfinite_events(spark, sf_dir), ["value_adj", "k_val"]
    )


_FINITE_GATE_ORACLE = f"""
WITH adj AS (
  SELECT event_id, event_type, {_NONFINITE_VALUE_SQL} AS value_adj
  FROM events
)
SELECT event_id, event_type, round(value_adj, 6) AS value_adj
FROM adj
WHERE NOT coalesce(
  isnan(value_adj)
  OR value_adj = 'Infinity'::DOUBLE
  OR value_adj = '-Infinity'::DOUBLE, false)
"""


@register("finite_gate", _FINITE_GATE_ORACLE)
def q_finite_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-input contract enforcement (profile.finite_gate,
    mode='drop') on the injected-non-finite events frame: NaN/±Inf rows
    are removed, NULLs pass (they are the *missing* signal every
    aggregate already handles). Pure codegen predicate, pushes into the
    scan; the surviving values are finite so the value hash is stable."""
    adj = _nonfinite_events(spark, sf_dir).select(
        "event_id", "event_type", "value_adj"
    )
    return _round(profile.finite_gate(adj, ["value_adj"]), ["value_adj"])


# Detector-score ensemble: both kernels' round-6 scores are standardized
# per event_type (round-6 fitted stats) and averaged — fuse machinery
# from the curation surface applied to the reference's outlier scores.
_ANOMALY_FUSE_ORACLE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mean, stddev_samp(value) AS std
  FROM events GROUP BY event_type
), q AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3,
         quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
  FROM events GROUP BY event_type
), scored AS (
  SELECT e.event_id, e.event_type,
         round(CASE WHEN s.std > 0 THEN abs(e.value - s.mean) / s.std END, 6) AS z_score,
         round(CASE WHEN q.iqr IS NULL OR q.iqr <= 0 THEN NULL
                    WHEN e.value < q.q1 THEN (q.q1 - e.value) / q.iqr
                    WHEN e.value > q.q3 THEN (e.value - q.q3) / q.iqr
                    ELSE 0.0 END, 6) AS iqr_s
  FROM events e LEFT JOIN stats s USING (event_type) LEFT JOIN q USING (event_type)
), fm AS (
  SELECT event_type,
         round(avg(z_score), 6) AS mu_z, round(stddev_samp(z_score), 6) AS sd_z,
         round(avg(iqr_s), 6) AS mu_i, round(stddev_samp(iqr_s), 6) AS sd_i,
         true AS fitted
  FROM scored GROUP BY event_type
), z AS (
  SELECT sc.event_id, sc.event_type, sc.z_score, sc.iqr_s, fm.fitted,
         CASE WHEN sc.z_score IS NOT NULL AND fm.sd_z > 0
              THEN (sc.z_score - fm.mu_z) / fm.sd_z END AS zz,
         CASE WHEN sc.iqr_s IS NOT NULL AND fm.sd_i > 0
              THEN (sc.iqr_s - fm.mu_i) / fm.sd_i END AS zi
  FROM scored sc LEFT JOIN fm ON sc.event_type = fm.event_type
)
SELECT event_id, event_type, z_score, iqr_s,
       CASE WHEN fitted IS NULL THEN NULL
            WHEN (CASE WHEN zz IS NOT NULL THEN 1.0 ELSE 0.0 END
                + CASE WHEN zi IS NOT NULL THEN 1.0 ELSE 0.0 END) > 0
            THEN round((coalesce(zz, 0.0) + coalesce(zi, 0.0))
                       / (CASE WHEN zz IS NOT NULL THEN 1.0 ELSE 0.0 END
                        + CASE WHEN zi IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
            ELSE 0.0 END AS fused_score
FROM z
"""


@register("anomaly_score_fuse", _ANOMALY_FUSE_ORACLE)
def q_anomaly_score_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector ensemble (text.quality_fuse applied to outlier scores):
    K1 z-score and K8 IQR score, each round-6, standardized against their
    per-event_type round-6 stats and averaged — rank-free score fusion
    (global rank aggregation would sort the fact table once per
    detector). One fact scan with two broadcast model joins feeds BOTH
    kernels (never a fact-fact self-join to pair the scores), then the
    |keys|-row fuse model broadcasts back. Both detector models come from
    ONE fused groupBy pass (profile.stats_and_quartiles, persisted
    |keys|-row frame) instead of two separate fact scans + shuffles —
    and because quality_fuse re-derives the scored frame for its fit and
    its apply branch, the saving applies per branch."""
    from ..operators import text as text_ops

    ev = load_table(spark, sf_dir, "events")
    stats, model = profile.stats_and_quartiles(
        ev, ["event_type"], ["value"]
    )
    z = (
        zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
        .withColumnRenamed("score", "z_raw")
        .drop("label")
    )
    both = (
        zscore.iqr_score(z, model, ["event_type"], ["value"], threshold=1.5)
        .withColumnRenamed("score", "iqr_raw")
        .drop("label")
    )
    scored = both.select(
        "event_id",
        "event_type",
        F.round("z_raw", 6).alias("z_score"),
        F.round("iqr_raw", 6).alias("iqr_s"),
    )
    out = text_ops.quality_fuse(
        scored, ["z_score", "iqr_s"], by=["event_type"]
    )
    return out.select("event_id", "event_type", "z_score", "iqr_s", "fused_score")
