"""Registry entries: general relational capability sanity (joins, grouped
aggregation, top-k) + the olss score-statistics op — demonstrates that the
engine's substrate handles the standard OLAP shapes the operators compose."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import post, profile, zscore
from ..sources import load_table
from .queries_stats import _round
from .registry import register

_PRICING_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       round(sum(l_extendedprice), 6) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", _PRICING_ORACLE)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )
    return _round(out, ["sum_qty", "sum_base_price", "sum_disc_price", "avg_qty", "avg_price"])


_TOP_CUSTOMERS_ORACLE = """
WITH rev AS (
  SELECT o.o_custkey, sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_custkey
), ranked AS (
  SELECT c.c_custkey, c.c_name, n.n_name, r.revenue,
         row_number() OVER (PARTITION BY n.n_name ORDER BY r.revenue DESC, c.c_custkey ASC) AS rnk
  FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT c_custkey, c_name, n_name, round(revenue, 6) AS revenue, rnk
FROM ranked WHERE rnk <= 5
"""


@register("top_customers_by_nation", _TOP_CUSTOMERS_ORACLE)
def q_top_customers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    ranked = (
        rev.join(cust, rev.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("n_name").orderBy(
                    F.col("revenue").desc(), F.col("c_custkey").asc()
                )
            ),
        )
        .filter(F.col("rnk") <= 5)
        .select("c_custkey", "c_name", "n_name", "revenue", "rnk")
    )
    return _round(ranked, ["revenue"])


_RESAMPLE_ORACLE = """
WITH agg AS (
  SELECT event_type, (floor(floor(epoch(ts)) / 3600) * 3600)::BIGINT AS b,
         avg(value) AS v
  FROM events GROUP BY event_type, (floor(floor(epoch(ts)) / 3600) * 3600)::BIGINT
), span AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM agg GROUP BY event_type
), grid AS (
  SELECT s.event_type, unnest(generate_series(s.lo, s.hi, 3600)) AS b FROM span s
), j AS (
  SELECT g.event_type, g.b, a.v FROM grid g LEFT JOIN agg a USING (event_type, b)
)
SELECT event_type, b AS bucket_epoch,
       round(last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value_resampled,
       (v IS NULL) AS gap_filled
FROM j
"""


@register("resample_ffill", _RESAMPLE_ORACLE)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = profile.resample(ev, ["event_type"], "ts", "value", step_sec=3600, fill="ffill")
    return _round(out, ["value_resampled"])


_CLEAN_OUTPUT_ORACLE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mean, stddev_samp(value) AS std
  FROM events GROUP BY event_type
), outliers AS (
  SELECT e.event_id
  FROM events e JOIN stats s USING (event_type)
  WHERE s.std > 0 AND abs(e.value - s.mean) / s.std > 2.5
)
SELECT e.event_id, e.event_type, e.user_id, e.value
FROM events e ANTI JOIN outliers o ON e.event_id = o.event_id
"""


@register("clean_output_anti_join", _CLEAN_OUTPUT_ORACLE)
def q_clean_output_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=2.5)
    outliers = scored.filter("label = 'O'")
    clean = post.remove_outliers_anti(ev, outliers, ["event_id"])
    return clean.select("event_id", "event_type", "user_id", "value")


_SCORE_STATS_ORACLE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mean, stddev_samp(value) AS std
  FROM events GROUP BY event_type
), scored AS (
  SELECT e.event_type,
         CASE WHEN s.std > 0 THEN abs(e.value - s.mean) / s.std END AS score
  FROM events e LEFT JOIN stats s USING (event_type)
)
SELECT event_type, count(score) AS cnt,
       round(avg(score), 6) AS mean, round(stddev_samp(score), 6) AS std,
       round(min(score), 6) AS min, round(max(score), 6) AS max,
       round(quantile_cont(score, 0.5), 6) AS median,
       round(quantile_cont(score, 0.95), 6) AS p95
FROM scored GROUP BY event_type
"""


@register("score_stats", _SCORE_STATS_ORACLE)
def q_score_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
    base, _hist = post.score_stats(scored, ["event_type"])
    return _round(base, ["mean", "std", "min", "max", "median", "p95"])


_ASOF_ORACLE = """
WITH snaps AS (
  SELECT event_type, date_trunc('hour', ts) AS snap_ts,
         quantile_cont(value, 0.9) AS p90
  FROM events GROUP BY event_type, date_trunc('hour', ts)
)
SELECT e.event_id, e.event_type, s.snap_ts AS matched_ts,
       round(s.p90, 6) AS p90
FROM events e ASOF LEFT JOIN snaps s
  ON e.event_type = s.event_type AND e.ts >= s.snap_ts
"""


@register("asof_join_snapshots", _ASOF_ORACLE)
def q_asof_join_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join events to the latest hourly p90 snapshot at event time —
    the time-versioned-model scoring pattern. The oracle is DuckDB's native
    ASOF JOIN; the Spark side is the union + windowed last-value operator
    (operators/asof.py)."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    snaps = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("snap_ts")
    ).agg(*profile.percentiles("value", {"p90": 0.9}).values())
    out = asof_join(
        ev.select("event_id", "event_type", "ts"),
        snaps,
        ["event_type"],
        "ts",
        "snap_ts",
        ["p90"],
    )
    return _round(
        out.select("event_id", "event_type", "matched_ts", "p90"), ["p90"]
    )


_ROLLUP_ORACLE = """
SELECT event_type, date_trunc('day', ts) AS d, date_trunc('hour', ts) AS h,
       count(*) AS cnt, round(avg(value), 6) AS avg_value
FROM events
GROUP BY ROLLUP (event_type, date_trunc('day', ts), date_trunc('hour', ts))
"""


@register("rollup_timebuckets", _ROLLUP_ORACLE)
def q_rollup_timebuckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time-bucket rollup (hypertable-style): hour, day,
    per-type, and grand-total aggregates in one pass via the ROLLUP
    grouping-set lattice (partial-aggregated, single shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
            F.date_trunc("hour", "ts").alias("h"),
            "value",
        )
        .rollup("event_type", "d", "h")
        .agg(F.count("*").alias("cnt"), F.round(F.avg("value"), 6).alias("avg_value"))
    )


_SESSION_ORACLE = """
WITH s AS (
  SELECT user_id, ts, value,
         sum(CASE WHEN prev IS NULL OR floor(epoch(ts)) - floor(epoch(prev)) > 43200
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (SELECT user_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events)
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events,
       CAST(max(floor(epoch(ts))) - min(floor(epoch(ts))) AS BIGINT) AS span_sec,
       round(sum(value), 6) AS sum_value
FROM s GROUP BY user_id, session_id
"""


@register("sessionize_events", _SESSION_ORACLE)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream per user (12 h gap) with
    session-level aggregates — the clickstream/session primitive."""
    from ..operators.rollup import session_stats

    ev = load_table(spark, sf_dir, "events")
    out = session_stats(
        ev.select("user_id", "ts", "value"), ["user_id"], "ts", "value",
        gap_seconds=43200,
    )
    return _round(out, ["sum_value"])


_SKEW_AUDIT_ORACLE = """
WITH c AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
), t AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys FROM c
)
SELECT user_id, cnt,
       round(cnt * 1.0 / t.total, 6) AS share,
       round((CAST(cnt AS DOUBLE) * t.n_keys) / t.total, 6) AS skew
FROM c, t
ORDER BY cnt DESC, user_id ASC
LIMIT 20
"""


@register("skew_audit", _SKEW_AUDIT_ORACLE)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter shuffle-key audit (profile.key_skew_audit): the top-20
    event users by row count with share-of-table and skew factor — the
    pre-flight check before picking partition keys or salting factors."""
    ev = load_table(spark, sf_dir, "events")
    out = profile.key_skew_audit(ev, ["user_id"], k=20)
    return _round(out, ["share", "skew"])


# CUBE rollup over the corpus accounting dims — the grouping-sets surface
# the reference lacks entirely (SURVEY §2.6: "No grouping sets/cube").
# Rolled-up dimension values surface as 'ALL' (coalesce on both sides —
# NULL group keys would ride on engine NULL-ordering differences);
# grouping_id is spelled explicitly as 2*grouping(source)+grouping(lang)
# so the bitmask convention is pinned rather than engine-default.
_CORPUS_CUBE_ORACLE = """
SELECT coalesce(source, 'ALL') AS source,
       coalesce(lang, 'ALL') AS lang,
       2 * GROUPING(source) + GROUPING(lang) AS gid,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\f\\r\\x0B]+'),
                                x -> x <> ''))) AS BIGINT) AS n_tokens
FROM documents
GROUP BY CUBE (source, lang)
"""


@register("corpus_cube", _CORPUS_CUBE_ORACLE)
def q_corpus_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE accounting over (source, lang): every rollup combination in one
    pass — the grouping-sets form of corpus_stats (Catalyst expands the
    cube into partial-aggregated grouping sets; one shuffle). Rolled-up
    dims read 'ALL'; gid is the explicit 2*g(source)+g(lang) bitmask."""
    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    # grouping() is only legal inside the cube's own agg select
    out = docs.cube("source", "lang").agg(
        (F.lit(2) * F.grouping("source") + F.grouping("lang"))
        .cast("long")
        .alias("gid"),
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("n_tokens"),
    )
    return out.select(
        F.coalesce("source", F.lit("ALL")).alias("source"),
        F.coalesce("lang", F.lit("ALL")).alias("lang"),
        "gid",
        "n_docs",
        "n_tokens",
    )


# Interval (time-proximity) self-join: event pairs on the same user within
# 5 minutes of each other. The Spark side is the bucketized equi-join
# (operators/asof.py:interval_join — 3|L|+|R| shuffle rows, never a per-key
# nested loop); the oracle is DuckDB's native inequality join.
_EVENT_PAIRS_ORACLE = """
SELECT a.user_id,
       a.event_id AS left_id, b.event_id AS right_id,
       round(epoch(b.ts) - epoch(a.ts), 6) AS delta_seconds
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id <> b.event_id
 AND abs(epoch(b.ts) - epoch(a.ts)) <= 300
"""


@register("event_pairs", _EVENT_PAIRS_ORACLE)
def q_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-proximity pairs (asof.interval_join): every pair of events by
    the same user within 300 s — the correlation/CEP primitive, joined as
    a time-bucketized equi-join instead of a per-key nested loop."""
    from ..operators.asof import interval_join

    ev = load_table(spark, sf_dir, "events")
    l = ev.select("user_id", F.col("event_id").alias("left_id"), "ts")
    r = ev.select("user_id", F.col("event_id").alias("right_id"), "ts")
    out = interval_join(
        l.withColumnRenamed("ts", "lts"),
        r.withColumnRenamed("ts", "rts"),
        ["user_id"],
        "lts",
        "rts",
        tolerance_seconds=300,
        left_id="left_id",
        right_id="right_id",
    ).filter(F.col("left_id") != F.col("right_id"))
    return out.select(
        "user_id", "left_id", "right_id",
        F.round("delta_seconds", 6).alias("delta_seconds"),
    )


# Rolling/lag feature prep: trailing-5 window + lag-1, ordered (ts, value)
# within each key so same-timestamp rows cannot flip lags between engines.
_ROLLING_ORACLE = """
SELECT event_id, event_type, value,
       round(avg(value) OVER w5, 6) AS roll_mean_5,
       round(stddev_samp(value) OVER w5, 6) AS roll_std_5,
       round(min(value) OVER w5, 6) AS roll_min_5,
       round(max(value) OVER w5, 6) AS roll_max_5,
       round(lag(value, 1) OVER wl, 6) AS lag_1
FROM events
WINDOW w5 AS (PARTITION BY event_type ORDER BY ts, value
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       wl AS (PARTITION BY event_type ORDER BY ts, value)
"""


@register("rolling_features", _ROLLING_ORACLE)
def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key rolling/lag ML feature prep (profile.rolling_features):
    trailing-5 mean/std/min/max + lag-1 per event_type, deterministic
    (ts, value) ordering; one exchange, one sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    out = profile.rolling_features(
        ev, ["event_type"], "ts", "value", window=5, lags=(1,)
    )
    out = out.select(
        "event_id", "event_type", "value",
        "roll_mean_5", "roll_std_5", "roll_min_5", "roll_max_5", "lag_1",
    )
    return _round(
        out, ["roll_mean_5", "roll_std_5", "roll_min_5", "roll_max_5", "lag_1"]
    )


def _benford_oracle() -> str:
    """First-digit audit oracle: the digit comes from the decimal rendering
    of floor(|value|*100) (integers render identically in every engine —
    a log10 digit could flip at power-of-10 ulp boundaries); the Benford
    expectations are the SAME Python float literals the Spark expression
    bakes (profile.BENFORD_SHARES)."""
    from ..operators.profile import BENFORD_SHARES

    case = " ".join(
        f"WHEN digit = {d} THEN {s!r}" for d, s in sorted(BENFORD_SHARES.items())
    )
    return f"""
WITH base AS (
  SELECT event_type, CAST(floor(abs(value) * 100) AS BIGINT) AS iv
  FROM events
), dig AS (
  SELECT event_type, CAST(substr(CAST(iv AS VARCHAR), 1, 1) AS INT) AS digit
  FROM base WHERE iv > 0
), c AS (
  SELECT event_type, digit, count(*) AS n FROM dig GROUP BY event_type, digit
), t AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY event_type
)
SELECT c.event_type, c.digit, CAST(c.n AS BIGINT) AS n,
       round(c.n * 1.0 / t.total, 6) AS share,
       round(CASE {case} END, 6) AS benford_share,
       round(c.n * 1.0 / t.total - CASE {case} END, 6) AS excess
FROM c JOIN t USING (event_type)
"""


@register("benford_audit", lambda sf_dir: _benford_oracle())
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit (Benford) audit (profile.benford_audit): per
    event_type, observed digit shares vs log10(1+1/d) expectation — the
    fabricated-data / unit-mismatch screen. Digit extracted via exact
    integer rendering; one partial-agg groupBy, tiny share window."""
    ev = load_table(spark, sf_dir, "events")
    return profile.benford_audit(ev, ["event_type"], "value", scale=100)


# Explicit pivot: per-user event-type count matrix. Pivot values are
# PINNED (not inferred) so the plan is a single partial-aggregated
# groupBy — value inference would cost an extra distinct scan — and the
# output schema is deterministic for the hash compare.
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_USER_PIVOT_ORACLE = f"""
SELECT user_id,
       {", ".join(
           f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}"
           for t in _EVENT_TYPES
       )},
       CAST(count(*) AS BIGINT) AS n_total
FROM events GROUP BY user_id
"""


@register("user_event_pivot", _USER_PIVOT_ORACLE)
def q_user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type pivot (groupBy().pivot() with pinned values):
    the wide activity-matrix shape feature stores consume; one
    partial-aggregated shuffle, no inference scan."""
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    cols = [
        F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
        for t in _EVENT_TYPES
    ]
    total = None
    for t in _EVENT_TYPES:
        c = F.coalesce(F.col(t), F.lit(0)).cast("long")
        total = c if total is None else total + c
    return wide.select("user_id", *cols, total.alias("n_total"))


# JSON scalar-function surface over the semi-structured props column (the
# reference has no JSON-on-data functions at all — SURVEY §2.6): extract a
# typed field path and profile it per key, counting rows where the path is
# missing/unparseable instead of silently dropping them.
_JSON_STATS_ORACLE = """
WITH x AS (
  SELECT event_type,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(k) AS BIGINT) AS n_parsed,
       CAST(sum(k) AS BIGINT) AS sum_k,
       round(avg(k), 6) AS avg_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM x GROUP BY event_type
"""


@register("json_field_stats", _JSON_STATS_ORACLE)
def q_json_field_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON-path extraction + per-key profile over the props column
    (get_json_object stays codegen — no UDF, no schema inference pass);
    unparseable/missing paths count as n - n_parsed rather than
    vanishing."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("_k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("_k").alias("n_parsed"),
            F.sum("_k").alias("sum_k"),
            F.round(F.avg("_k"), 6).alias("avg_k"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# User-behavior analytics (operators/behavior.py): ordered funnel, cohort
# retention, exact rolling active users — the event-analytics workloads a
# training-data pipeline runs next to the anomaly operators (reference stops
# at sessionization, SURVEY §2.6). All conversions/retention shares are
# int/int divisions rounded to 6 on both sides (engine-exact).

_FUNNEL_ORACLE = """
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id),
c AS (
  SELECT 1 AS step_idx, 'view' AS step, (SELECT count(*) FROM s1) AS n_users
  UNION ALL
  SELECT 2, 'click', (SELECT count(*) FROM s2)
  UNION ALL
  SELECT 3, 'purchase', (SELECT count(*) FROM s3)
)
SELECT step_idx, step, CAST(n_users AS BIGINT) AS n_users,
       round(n_users * 1.0 / first_value(n_users)
             OVER (ORDER BY step_idx), 6) AS conversion
FROM c
"""


@register("funnel_steps", _FUNNEL_ORACLE)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ordered view->click->purchase funnel (behavior.funnel_steps):
    each step keeps only users whose first qualifying event is strictly
    after their first event of the previous step; per-step frames shrink
    monotonically, so the plan is |steps| keyed aggregations."""
    from ..operators.behavior import funnel_steps

    ev = load_table(spark, sf_dir, "events")
    return funnel_steps(ev, ["view", "click", "purchase"])


_COHORT_ORACLE = """
WITH f AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
           FROM events GROUP BY user_id),
a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
cells AS (
  SELECT f.cohort_day, date_diff('day', f.cohort_day, a.d) AS day_offset,
         count(*) AS n_active
  FROM a JOIN f ON a.user_id = f.user_id
  GROUP BY 1, 2
)
SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,
       CAST(n_active AS BIGINT) AS n_active,
       round(n_active * 1.0 /
             max(CASE WHEN day_offset = 0 THEN n_active END)
             OVER (PARTITION BY cohort_day), 6) AS retention
FROM cells
"""


@register("cohort_retention", _COHORT_ORACLE)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-cohort retention matrix (behavior.cohort_retention): first-touch
    cohort per user, distinct activity days joined back on the user key,
    retention as the round-6 share of the offset-0 cohort size."""
    from ..operators.behavior import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev)


_ROLLING_ACTIVE_ORACLE = """
WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
cov AS (SELECT user_id, d AS od,
               unnest(generate_series(d, d + INTERVAL '6' DAY,
                                      INTERVAL '1' DAY)) AS d2
        FROM ud)
SELECT d2 AS d,
       count(DISTINCT CASE WHEN d2 = od THEN user_id END) AS n_active_1d,
       count(DISTINCT user_id) AS n_active_wd
FROM cov WHERE d2 <= (SELECT max(d) FROM ud)
GROUP BY d2
"""


@register("rolling_active_users", _ROLLING_ACTIVE_ORACLE)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day active users per day, DAU + WAU in one pass
    (behavior.rolling_active_users): the deduplicated user-day frame
    explodes by the window length (bounded 7x) and one distinct-count per
    cover day replaces a per-day range self-join."""
    from ..operators.behavior import rolling_active_users

    ev = load_table(spark, sf_dir, "events")
    return rolling_active_users(ev, window_days=7)


_FUNNEL_GAP_ORACLE = """
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'click' AND e.ts > s1.t
         AND e.ts <= s1.t + INTERVAL '48' HOUR GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s2.t
         AND e.ts <= s2.t + INTERVAL '48' HOUR GROUP BY e.user_id),
c AS (
  SELECT 1 AS step_idx, 'view' AS step, (SELECT count(*) FROM s1) AS n_users
  UNION ALL
  SELECT 2, 'click', (SELECT count(*) FROM s2)
  UNION ALL
  SELECT 3, 'purchase', (SELECT count(*) FROM s3)
)
SELECT step_idx, step, CAST(n_users AS BIGINT) AS n_users,
       round(n_users * 1.0 / first_value(n_users)
             OVER (ORDER BY step_idx), 6) AS conversion
FROM c
"""


@register("funnel_time_bounded", _FUNNEL_GAP_ORACLE)
def q_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel (behavior.funnel_steps max_gap_hours=48):
    each step must land strictly after AND within 48h of the previous
    step's first qualifying time — the time-bounded variant product
    analytics reports; the plan is the same shrinking keyed aggregations."""
    from ..operators.behavior import funnel_steps

    ev = load_table(spark, sf_dir, "events")
    return funnel_steps(ev, ["view", "click", "purchase"], max_gap_hours=48)


_ATTRIBUTION_ORACLE = """
WITH t AS (
  SELECT event_type, value,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events
), conv AS (
  SELECT coalesce(touch, 'none') AS touch_type,
         count(*) AS n_conversions,
         round(sum(value), 6) AS total_value
  FROM t WHERE event_type = 'purchase' GROUP BY 1
)
SELECT touch_type, n_conversions, total_value,
       round(total_value / sum(total_value) OVER (), 6) AS value_share
FROM conv
"""


@register("last_touch_attribution", _ATTRIBUTION_ORACLE)
def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution (behavior.last_touch_attribution):
    purchase value credited to the user's most recent preceding
    non-purchase event type via one user-keyed IGNORE-NULLS window
    (deterministic (ts, event_id) ordering on both engines), aggregated
    to |event types| rows."""
    from ..operators.behavior import last_touch_attribution

    ev = load_table(spark, sf_dir, "events")
    return last_touch_attribution(ev)


# ---------------------------------------------------------------------------
# TPC-H-shaped join-strategy queries: a 3-table selective join with top-k
# pushdown (Q3 shape) and a conditional semi-join (Q4 shape). These exercise
# the planner paths a warehouse workload leans on at 100 TB — selective
# dimension filters feeding shuffled fact joins (AQE picks broadcast when the
# filtered side fits), TakeOrderedAndProject instead of a global sort, and a
# left-semi join that never materializes the many-rows side.

_SHIPPING_PRIORITY_ORACLE = """
SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
"""


@register("shipping_priority", _SHIPPING_PRIORITY_ORACLE)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 unshipped-revenue orders for one market segment (TPC-H Q3
    shape): segment-filtered customers join date-filtered orders and
    lineitems, aggregate revenue, then a limit-10 ordered by the ROUND-6
    revenue with an o_orderkey tie-break so the top-k set is deterministic
    on both engines. The plan ends in TakeOrderedAndProject — per-partition
    heaps, never a global sort."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


_LATE_SHIPMENT_ORACLE = """
SELECT o.o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL '90' DAY)
GROUP BY o.o_orderpriority
"""


@register("late_shipment_priority", _LATE_SHIPMENT_ORACLE)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per priority with at least one lineitem shipped >90 days after
    the order date, over one order-date half-year (TPC-H Q4 shape): a LEFT
    SEMI join on the order key with the late-shipment residual predicate —
    existence semantics without materializing or deduplicating the
    many-lineitems side."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAY")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


_EVENT_GAPS_ORACLE = """
WITH g AS (
  SELECT user_id,
         lag(ts) OVER w AS gap_start,
         ts AS gap_end,
         floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, gap_start, gap_end, round(gap_s / 3600.0, 6) AS gap_hours
FROM g WHERE gap_s >= 3600 * 24
"""


@register("event_gaps", _EVENT_GAPS_ORACLE)
def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity-gap report (behavior.event_gaps): consecutive
    events >= 24h apart — the which-keys-went-dark inverse of
    sessionize(). Integer epoch-second arithmetic (rollup.py parity
    convention); one user-keyed exchange, bounded partitions."""
    from ..operators.behavior import event_gaps

    ev = load_table(spark, sf_dir, "events")
    return event_gaps(ev, min_gap_hours=24.0)


_CONSTRAINT_AUDIT_ORACLE = """
SELECT 'completeness(o_custkey)' AS constraint, 'o_custkey' AS col_name,
       round(count(o_custkey) * 1.0 / count(*), 6) AS metric,
       1.0 AS threshold
FROM orders
UNION ALL
SELECT 'uniqueness(o_orderkey)', 'o_orderkey',
       round(count(DISTINCT o_orderkey) * 1.0 / count(*), 6), 1.0
FROM orders
UNION ALL
SELECT 'accepted_values(o_orderstatus)', 'o_orderstatus',
       round(sum(CASE WHEN o_orderstatus IN ('O', 'F') THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6), 0.99
FROM orders
UNION ALL
SELECT 'bounds(o_totalprice)', 'o_totalprice',
       round(sum(CASE WHEN o_totalprice >= 0.0 AND o_totalprice <= 400000.0
                      THEN 1 ELSE 0 END) * 1.0 / count(*), 6), 0.95
FROM orders
"""

_CONSTRAINT_AUDIT_ORACLE = (
    "SELECT *, metric >= threshold AS passed FROM (" + _CONSTRAINT_AUDIT_ORACLE + ")"
)


@register("constraint_audit", _CONSTRAINT_AUDIT_ORACLE)
def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality gate over orders
    (constraints.constraint_audit): completeness, key uniqueness,
    accepted status values, price bounds — the whole suite evaluated in
    ONE aggregation pass (conditional partial aggs + one Expand for the
    distinct), then unpivoted to one row per constraint."""
    from ..operators.constraints import constraint_audit

    orders = load_table(spark, sf_dir, "orders")
    return constraint_audit(
        orders,
        [
            {"kind": "completeness", "column": "o_custkey", "threshold": 1.0},
            {"kind": "uniqueness", "column": "o_orderkey", "threshold": 1.0},
            {
                "kind": "accepted_values",
                "column": "o_orderstatus",
                "values": ["O", "F"],
                "threshold": 0.99,
            },
            {
                "kind": "bounds",
                "column": "o_totalprice",
                "lo": 0.0,
                "hi": 400000.0,
                "threshold": 0.95,
            },
        ],
    )


_REFERENTIAL_AUDIT_ORACLE = """
WITH k AS (
  SELECT l_orderkey AS _k, count(*) AS _n FROM lineitem GROUP BY 1
), o AS (
  SELECT coalesce(sum(_n), 0) AS n_orphans FROM k
  WHERE _k NOT IN (SELECT o_orderkey FROM orders)
)
SELECT CAST((SELECT sum(_n) FROM k) AS BIGINT) AS n_child,
       CAST(o.n_orphans AS BIGINT) AS n_orphans,
       round(((SELECT sum(_n) FROM k) - o.n_orphans)
             / (SELECT sum(_n) FROM k), 6) AS metric,
       o.n_orphans = 0 AS passed
FROM o
"""


@register("referential_audit", _REFERENTIAL_AUDIT_ORACLE)
def q_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity gate (constraints.referential_audit):
    lineitem.l_orderkey containment in orders.o_orderkey. The fact table
    collapses to distinct keys BEFORE the anti-join probe, so the 100 TB
    side is scanned once and the probe runs on key cardinality."""
    from ..operators.constraints import referential_audit

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return referential_audit(li, "l_orderkey", orders, "o_orderkey")


_FUZZY_NAME_ORACLE = """
WITH n AS (
  SELECT p_name AS name, count(*) AS n FROM part
  WHERE p_name IS NOT NULL AND length(p_name) > 0 GROUP BY 1
)
SELECT a.name AS name_a, b.name AS name_b,
       levenshtein(a.name, b.name) AS dist, a.n AS n_a, b.n AS n_b
FROM n a JOIN n b ON a.name < b.name
WHERE levenshtein(a.name, b.name) <= 1
"""


@register("fuzzy_name_match", _FUZZY_NAME_ORACLE)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-level fuzzy entity match (linkage.fuzzy_name_match):
    pairs of distinct part names within Levenshtein distance 1 with
    occurrence mass, via the lossless deletion-neighborhood blocker
    (SymSpell) — rows collapse to the name dictionary first, candidates
    come from one equi-join on the variant hash, and exact levenshtein
    verifies candidates only. No cross join at any stage; the oracle's
    quadratic scan is over the 64-name dictionary."""
    from ..operators.linkage import fuzzy_name_match

    part = load_table(spark, sf_dir, "part")
    return fuzzy_name_match(part, "p_name", max_dist=1)


_SMALL_QTY_ORACLE = """
WITH lim AS (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS qlim
  FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand, round(sum(l.l_extendedprice) / 7.0, 6) AS avg_yearly
FROM lineitem l
JOIN lim ON l.l_partkey = lim.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < lim.qlim
GROUP BY p.p_brand
"""


@register("small_quantity_revenue", _SMALL_QTY_ORACLE)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand revenue of below-one-fifth-of-average-quantity lineitems
    (TPC-H Q17 shape, de-correlated): the scalar subquery becomes one
    partial-aggregated per-part average joined back to the fact on the
    part key, then the brand dim joins in — the decorrelation Catalyst
    itself applies to Q17. l_quantity is integer-valued so the 0.2*avg
    limit is bit-exact on both engines regardless of summation order;
    revenue is round-6 by convention."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    lim = li.groupBy("l_partkey").agg((0.2 * F.avg("l_quantity")).alias("_qlim"))
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(lim, "l_partkey")
        .filter(F.col("l_quantity") < F.col("_qlim"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 6).alias("avg_yearly"))
    )


_PROMO_SHARE_ORACLE = """
SELECT date_trunc('month', l.l_shipdate) AS ship_month,
       round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_pct,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1
"""


@register("promo_revenue_share", _PROMO_SHARE_ORACLE)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly promo revenue share (TPC-H Q14 shape, grouped by month
    instead of filtered to one): the conditional-aggregate ratio over a
    fact-dim join — the dim side is small and broadcast, the fact table
    aggregates with map-side partials, and the ratio is computed on the
    aggregated frame (never per row)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_pct"),
            F.round(F.sum(rev), 6).alias("revenue"),
        )
    )


_LINEAR_ATTRIBUTION_ORACLE = """
WITH m AS (
  SELECT user_id, ts, event_id, event_type, value,
         event_type = 'purchase' AS is_conv,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), m2 AS (
  SELECT *,
         min(CASE WHEN is_conv THEN rn END) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_conv
  FROM m
), t AS (
  SELECT user_id, next_conv AS ck, event_type AS touch_type,
         count(*) AS n_type
  FROM m2 WHERE NOT is_conv AND next_conv IS NOT NULL
  GROUP BY 1, 2, 3
), tt AS (
  SELECT *, sum(n_type) OVER (PARTITION BY user_id, ck) AS n_tot FROM t
), conv AS (
  SELECT user_id, rn AS ck, value AS cv FROM m2 WHERE is_conv
), credited AS (
  SELECT touch_type, cv * n_type / n_tot AS credit, n_type AS n_touches
  FROM tt JOIN conv USING (user_id, ck)
  UNION ALL
  SELECT 'none', cv, 0
  FROM conv ANTI JOIN (SELECT DISTINCT user_id, ck FROM t) k USING (user_id, ck)
), per AS (
  SELECT touch_type, CAST(sum(n_touches) AS BIGINT) AS n_touches,
         round(sum(credit), 6) AS total_credit
  FROM credited GROUP BY 1
)
SELECT touch_type, n_touches, total_credit,
       round(total_credit / sum(total_credit) OVER (), 6) AS credit_share
FROM per
"""


@register("linear_attribution", _LINEAR_ATTRIBUTION_ORACLE)
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution (behavior.linear_attribution): each
    purchase's value split equally across the touches since the user's
    previous purchase; untouched purchases stay under 'none' so total
    credit equals total conversion value. Two user-keyed windows + one
    equi-join on (user, conversion row_number) — no pair join."""
    from ..operators.behavior import linear_attribution

    ev = load_table(spark, sf_dir, "events")
    return linear_attribution(ev)


_U_SHAPED_ORACLE = """
WITH m AS (
  SELECT user_id, ts, event_id, event_type, value,
         event_type = 'purchase' AS is_conv,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), m2 AS (
  SELECT *,
         min(CASE WHEN is_conv THEN rn END) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_conv
  FROM m
), t AS (
  SELECT user_id, next_conv AS ck, event_type AS touch_type, rn,
         count(*) OVER (PARTITION BY user_id, next_conv) AS n_tot,
         min(rn) OVER (PARTITION BY user_id, next_conv) AS first_rn,
         max(rn) OVER (PARTITION BY user_id, next_conv) AS last_rn
  FROM m2 WHERE NOT is_conv AND next_conv IS NOT NULL
), w AS (
  SELECT user_id, ck, touch_type,
         CASE WHEN n_tot = 1 THEN 1.0
              WHEN n_tot = 2 THEN 0.5
              WHEN rn = first_rn THEN 0.4
              WHEN rn = last_rn THEN 0.4
              ELSE (1.0 - 2 * 0.4) / (n_tot - 2) END AS wgt
  FROM t
), conv AS (
  SELECT user_id, rn AS ck, value AS cv FROM m2 WHERE is_conv
), credited AS (
  SELECT touch_type, cv * wgt AS credit, 1 AS n_touches
  FROM w JOIN conv USING (user_id, ck)
  UNION ALL
  SELECT 'none', cv, 0
  FROM conv ANTI JOIN (SELECT DISTINCT user_id, ck FROM w) k USING (user_id, ck)
), per AS (
  SELECT touch_type, CAST(sum(n_touches) AS BIGINT) AS n_touches,
         round(sum(credit), 6) AS total_credit
  FROM credited GROUP BY 1
)
SELECT touch_type, n_touches, total_credit,
       round(total_credit / sum(total_credit) OVER (), 6) AS credit_share
FROM per
"""


@register("u_shaped_attribution", _U_SHAPED_ORACLE)
def q_u_shaped_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) attribution (behavior.u_shaped_attribution):
    first and last touch each earn 40% of the conversion value, middles
    share the rest; single touch 100%, pair 50/50; untouched conversions
    stay under 'none'. Credit conservation and the share table
    hash-verify; the middle weight is written as (1.0 - 2*0.4) on BOTH
    engines so the float literal matches bit-for-bit."""
    from ..operators.behavior import u_shaped_attribution

    ev = load_table(spark, sf_dir, "events")
    return u_shaped_attribution(ev)


_LOCAL_SUPPLIER_ORACLE = """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
              AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
"""


@register("local_supplier_volume", _LOCAL_SUPPLIER_ORACLE)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier revenue per nation (TPC-H Q5 shape): the six-way
    join where customer and supplier must share a nation inside one
    region for one order year. The 100 TB plan: region/nation (and the
    region-pruned supplier side) BROADCAST, the date filter pushes into
    the orders scan, and the only shuffles are fact-fact equi-joins on
    their natural keys + one tiny aggregation — never a shuffle of a
    dimension, never a cartesian (plan-asserted)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    dims = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    # supplier is dimension-sized: broadcast it (pre-pruned to the region
    # via the nation broadcast) so the lineitem fact never shuffles on
    # l_suppkey
    supp_in_region = F.broadcast(
        supp.join(dims, supp.s_nationkey == F.col("n_nationkey")).select(
            "s_suppkey", "s_nationkey", "n_name"
        )
    )
    out = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(supp_in_region, li.l_suppkey == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )
    return _round(out, ["revenue"])


_RETURNED_ITEM_ORACLE = """
WITH rev AS (
  SELECT c.c_custkey, c.c_name, n.n_name,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
         round(any_value(c.c_acctbal), 6) AS c_acctbal
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1996-04-01'
  GROUP BY c.c_custkey, c.c_name, n.n_name
)
SELECT * FROM rev
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


@register("returned_item_revenue", _RETURNED_ITEM_ORACLE)
def q_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue report (TPC-H Q10 shape): top-20 customers
    by lost revenue from 'R'-flagged lineitems in one quarter. The
    returnflag + date filters push into the two fact scans, nation
    broadcasts, and the final top-20 is TakeOrderedAndProject
    (per-partition heaps) on the ROUND-6 revenue with a c_custkey
    tie-break (the shipping_priority convention: ordering on the unrounded
    float sum lets a summation-order ulp swap the rank-20 boundary
    between engines) — never a global sort."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    out = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue"),
            F.round(F.any_value(F.col("c_acctbal")), 6).alias("c_acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )
    return out


_VOLUME_SHIPPING_ORACLE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""


@register("volume_shipping", _VOLUME_SHIPPING_ORACLE)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral shipping volume (TPC-H Q7 shape): revenue shipped
    between two named nations per direction per ship year. The 100 TB
    plan: BOTH nation dimensions and the nation-pruned supplier side
    broadcast; the ship-date filter pushes into the lineitem scan; the
    only shuffles are the two fact-fact equi-joins and one tiny
    aggregation. The customer-side nation filter applies AFTER the
    (broadcast) nation join, so the orders↔customer join carries only
    region-relevant rows."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    nations = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    ).select("n_nationkey", "n_name")
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(nations.withColumnRenamed("n_name", "supp_nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(nations.withColumnRenamed("n_name", "cust_nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "cust_nation")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    out = (
        li.join(supp, li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
    )
    return out


_MARKET_SHARE_ORACLE = """
WITH vol AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n1.n_name AS supp_nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  JOIN region r ON n2.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT o_year,
       round(round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                            ELSE 0 END), 6)
             / round(sum(volume), 6), 6) AS mkt_share
FROM vol GROUP BY o_year
"""


@register("market_share", _MARKET_SHARE_ORACLE)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): the named supplier
    nation's share of promo-part revenue sold into one region, per order
    year. Every dimension (part pruned to the type, supplier+nation,
    customer pruned to the region via nation+region) broadcasts; the
    date filter pushes into the orders scan; numerator and denominator
    aggregate in ONE pass (conditional sum, no second join). Both sums
    round-6 BEFORE the division so the share is engine-exact."""
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    nation = load_table(spark, sf_dir, "nation")
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust_in_region = F.broadcast(
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(
                nation.join(region, nation.n_regionkey == region.r_regionkey)
                .select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    vol = (
        li.join(part, li.l_partkey == F.col("p_partkey"))
        .join(supp, li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_in_region, orders.o_custkey == F.col("c_custkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    out = vol.groupBy("o_year").agg(
        F.round(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
                    .otherwise(F.lit(0.0))
                ),
                6,
            )
            / F.round(F.sum("volume"), 6),
            6,
        ).alias("mkt_share")
    )
    return out


_CUST_ORDER_DIST_ORACLE = """
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
"""


@register("customer_order_distribution", _CUST_ORDER_DIST_ORACLE)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): LEFT join so
    order-less customers land in the c_count=0 bucket, with the order
    filter INSIDE the join condition (a WHERE would silently drop them —
    the Q13 trap). Two partial-aggregating groupBys; the second is over
    |distinct counts| rows, effectively free."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    ).select(F.col("c_count").cast("long").alias("c_count"), "custdist")


_LARGE_VOLUME_CUST_ORACLE = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 250
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       round(o.o_totalprice, 6) AS o_totalprice,
       round(b.total_qty, 6) AS total_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o_totalprice DESC, o.o_orderkey ASC
LIMIT 100
"""


@register("large_volume_customers", _LARGE_VOLUME_CUST_ORACLE)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (TPC-H Q18 shape): orders whose total
    lineitem quantity exceeds the threshold, joined back to order and
    customer detail, top-100 by price. The quantity HAVING aggregates
    lineitem ONCE with map-side partials (never the IN-subquery rescan a
    literal translation would run); the surviving order set is tiny, so
    it broadcasts into orders; the top-100 is TakeOrderedAndProject on
    the ROUND-6 price with the o_orderkey tie-break."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = F.broadcast(
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    out = (
        orders.join(big, orders.o_orderkey == F.col("l_orderkey"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 6).alias("o_totalprice"),
            F.round("total_qty", 6).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )
    return out


_TOP_SUPPLIER_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 6) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
"""


@register("top_supplier_revenue", _TOP_SUPPLIER_ORACLE)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier by quarterly revenue (TPC-H Q15 shape: aggregate
    view + scalar-max subquery). The 100 TB plan: ONE partial-aggregated
    groupBy(l_suppkey) over the shipdate-pruned lineitem scan builds the
    revenue view (|suppliers| rows); the scalar max is a 1-row aggregate
    of THAT view cross-joined back broadcast (never a second fact scan,
    never a global sort); the supplier name attaches by broadcast join.
    The max-equality compares round-6 revenues on both engines — the
    family's float convention — so the winner set is stable across
    summation orders."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
        ).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("_mx"))
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(
            F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey")
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


_IDLE_CUSTOMER_ORACLE = """
WITH avg_bal AS (
  SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c.c_acctbal), 6) AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.ab
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_nationkey
"""


@register("idle_customer_balance", _IDLE_CUSTOMER_ORACLE)
def q_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idle high-balance customers per nation (TPC-H Q22 shape: scalar
    average subquery + NOT EXISTS anti-join; the fixture has no phone
    column, so the reference query's prefix grouping becomes the nation
    key). The 100 TB plan: the positive-balance average is a 1-row
    broadcast; the NOT EXISTS is a left_anti equi-join against the
    o_custkey projection (no distinct needed — anti-join semantics
    ignore duplicates); one partial-aggregated groupBy(c_nationkey)
    ends it. Customer never shuffles except for the anti-join's own
    key exchange."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    out = (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.sum("c_acctbal").alias("totacctbal"),
        )
    )
    return _round(out, ["totacctbal"])


_FORECAST_REVENUE_ORACLE = """
SELECT round(sum(l_extendedprice * l_discount), 6) AS revenue_delta
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


@register("forecast_revenue_change", _FORECAST_REVENUE_ORACLE)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast revenue change (TPC-H Q6 shape): the pure
    filter-scan-aggregate. Plan value: EVERY predicate (shipdate range,
    discount band, quantity cap) pushes into the parquet scan and the
    whole query is one codegen pass + a 1-row partial/final aggregate —
    zero joins, zero wide shuffles. The canary for pushdown regressions
    (plan-asserted)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
            "revenue_delta"
        )
    )
    return _round(out, ["revenue_delta"])


_DISCOUNTED_REVENUE_ORACLE = """
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity >= 20 AND l.l_quantity <= 30)
"""


@register("discounted_revenue", _DISCOUNTED_REVENUE_ORACLE)
def q_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive-band revenue (TPC-H Q19 shape, adapted to the
    fixture's part columns — the reference query's container/shipmode
    attributes don't exist here, brand+size+quantity bands do). Plan
    value: an OR-of-ANDs predicate spanning BOTH join sides — Catalyst
    can push only the per-side disjunction residues (brand IN (...) to
    the part scan, quantity range union to lineitem); the join is a
    broadcast of the brand-pruned part side and the disjunction
    evaluates post-join in codegen. No cartesian, one 1-row agg."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    out = j.filter(band).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )
    return _round(out, ["revenue"])
