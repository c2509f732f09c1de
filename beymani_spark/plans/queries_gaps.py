"""Registry entries: coverage gap-fill — polarity guard, per-key threshold
tagging, entropy-increase kernel, discretizer, ngram-frequency, lp drift,
unsupervised local drift, reference-series discord."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import caching
from ..operators import histogram, profile, post, sequence, zscore
from ..sources import load_table
from ..streaming import drift as drift_mod
from .registry import register
from .queries_stats import _round

_POLARITY_ORACLE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mean, stddev_samp(value) AS std
  FROM events GROUP BY event_type
), scored AS (
  SELECT e.event_id, e.event_type, e.value, s.mean, s.std,
         CASE WHEN s.std > 0 THEN abs(e.value - s.mean) / s.std END AS raw
  FROM events e LEFT JOIN stats s USING (event_type)
), tagged AS (
  SELECT event_id, event_type, value, mean, std, round(raw, 6) AS score,
         CASE WHEN raw IS NULL THEN 'I' WHEN raw > 2.0 THEN 'O' ELSE 'N' END AS label
  FROM scored
)
SELECT event_id, event_type, value, score,
       CASE WHEN label = 'O' AND mean IS NOT NULL AND value < mean + 2.0 * std
            THEN 'N' ELSE label END AS label
FROM tagged
"""


@register("zscore_polarity_high", _POLARITY_ORACLE)
def q_zscore_polarity_high(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=2.0)
    out = zscore.apply_polarity(
        scored, stats, ["event_type"], "value", polarity="high", std_mult=2.0
    )
    return _round(out.select("event_id", "event_type", "value", "score", "label"), ["score"])


_KEYED_THRESHOLD_ORACLE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mean, stddev_samp(value) AS std
  FROM events GROUP BY event_type
), scored AS (
  SELECT e.event_id, e.event_type,
         CASE WHEN s.std > 0 THEN abs(e.value - s.mean) / s.std END AS raw
  FROM events e LEFT JOIN stats s USING (event_type)
), thr AS (
  SELECT event_type, quantile_cont(raw, 0.95) AS threshold FROM scored GROUP BY event_type
)
SELECT s.event_id, s.event_type, round(s.raw, 6) AS score,
       round(t.threshold, 6) AS threshold,
       CASE WHEN s.raw IS NULL OR t.threshold IS NULL THEN 'I'
            WHEN s.raw > t.threshold THEN 'O' ELSE 'N' END AS label
FROM scored s LEFT JOIN thr t USING (event_type)
"""


@register("keyed_threshold_tagging", _KEYED_THRESHOLD_ORACLE)
def q_keyed_threshold_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # persist the two |keys|-row model frames: stats feeds every scored
    # branch (its groupBy lineage otherwise re-runs per branch) and thr is
    # broadcast twice (tag + the threshold column join-back) — unpersisted,
    # events scanned 6x; persisted, once per ROW-level branch (3x)
    stats = caching.persist(profile.numerical_stats(ev, ["event_type"], ["value"]))
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
    thr = caching.persist(
        post.pseudo_relevance_threshold(
            scored, ["event_type"], top_fraction=0.05, min_count=20
        )
        .drop("n")
    )
    out = zscore.tag_with_keyed_threshold(scored, thr, ["event_type"]).join(
        F.broadcast(thr.withColumnRenamed("threshold", "_t2")), ["event_type"], "left"
    )
    res = out.select(
        "event_id", "event_type", "score", F.col("_t2").alias("threshold"), "label"
    )
    return _round(res, ["score", "threshold"])


_ENTROPY_INC_ORACLE = """
WITH b AS (
  SELECT event_type, 'value' AS attr, CAST(floor(value / 10.0) AS BIGINT) AS bucket
  FROM events
), hcnt AS (
  SELECT event_type, attr, bucket, count(*) AS cnt FROM b GROUP BY event_type, attr, bucket
), agg AS (
  SELECT event_type, sum(cnt) AS N, sum(cnt * ln(cnt)) AS S
  FROM hcnt GROUP BY event_type
), j AS (
  SELECT e.event_id, e.event_type, e.value,
         coalesce(h.cnt, 0) AS cnt_b, a.N, a.S
  FROM events e
  LEFT JOIN hcnt h ON e.event_type = h.event_type
    AND CAST(floor(e.value / 10.0) AS BIGINT) = h.bucket
  LEFT JOIN agg a ON e.event_type = a.event_type
), c AS (
  SELECT event_id, event_type, value,
         (ln(N) - S / N) AS h,
         (ln(N + 1) - (S - CASE WHEN cnt_b > 0 THEN cnt_b * ln(cnt_b) ELSE 0.0 END
                        + (cnt_b + 1) * ln(cnt_b + 1)) / (N + 1)) AS h_new
  FROM j
)
SELECT event_id, event_type, value,
       round(CASE WHEN h > 0 THEN (h_new - h) / h END, 6) AS score,
       CASE WHEN h IS NULL OR h <= 0 THEN 'I'
            WHEN (h_new - h) / h > 0.001 THEN 'O' ELSE 'N' END AS label
FROM c
"""


@register("entropy_increase", _ENTROPY_INC_ORACLE)
def q_entropy_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # persist the |keys x buckets| histogram model: entropy_increase_score
    # broadcast-builds it TWICE (per-key N/S aggregate + the bucket join),
    # re-running the bucket groupBy over the fact table per build
    hist = caching.persist(
        histogram.attr_histogram(ev, ["event_type"], ["value"], [10.0])
    )
    out = histogram.entropy_increase_score(
        ev, hist, ["event_type"], "value", 10.0, threshold=0.001
    )
    return _round(out.select("event_id", "event_type", "value", "score", "label"), ["score"])


_DISCRETIZE_ORACLE = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q0, quantile_cont(value, 0.50) AS q1,
         quantile_cont(value, 0.75) AS q2
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       CAST((CASE WHEN e.value > q.q0 THEN 1 ELSE 0 END)
          + (CASE WHEN e.value > q.q1 THEN 1 ELSE 0 END)
          + (CASE WHEN e.value > q.q2 THEN 1 ELSE 0 END) AS VARCHAR) AS state
FROM events e JOIN q USING (event_type)
"""


@register("discretize_quantile", _DISCRETIZE_ORACLE)
def q_discretize_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = profile.discretize(ev, "value", quantiles=4, keys=["event_type"])
    return out.select("event_id", "event_type", "value", "state")


_NGRAM_FREQ_ORACLE = """
WITH ordered AS (
  SELECT event_type, event_id, value AS v,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS rn
  FROM events
), edges AS (
  SELECT event_type, quantile_cont(v, [0.125,0.25,0.375,0.5,0.625,0.75,0.875]) AS qs FROM ordered GROUP BY event_type
), sym AS (
  SELECT o.event_type, o.event_id, o.rn,
         len(list_filter(e.qs, q -> q <= o.v)) AS s
  FROM ordered o JOIN edges e USING (event_type)
), grams AS (
  SELECT a.event_type, b.rn AS e, a.s AS s1, b.s AS s2
  FROM sym a JOIN sym b ON a.event_type = b.event_type AND b.rn = a.rn + 1
), ref AS (
  SELECT event_type, s1, s2, count(*) AS c FROM grams GROUP BY 1, 2, 3
), refmax AS (
  SELECT event_type, max(c) AS mx FROM ref GROUP BY 1
), nk AS (
  SELECT event_type, count(*) AS n FROM ordered GROUP BY 1
), pos AS (
  SELECT event_type, rn AS i FROM ordered WHERE rn >= 29
), wg AS (
  SELECT p.event_type, p.i, g.s1, g.s2, count(*) AS c
  FROM pos p JOIN grams g ON g.event_type = p.event_type
       AND g.e BETWEEN greatest(1, p.i - 29) AND p.i
  GROUP BY 1, 2, 3, 4
), wmx AS (
  SELECT event_type, i, max(c) AS mx FROM wg GROUP BY 1, 2
), sc AS (
  -- exact integer numerator (HUGEINT sum — order-free), ONE double
  -- division: Σ(c/mx − r/refmax)² = Σ(c·refmax − r·mx)² / (mx·refmax)².
  -- Mirrors the kernel's Python-int accumulation so a score within an ulp
  -- of the round-6 boundary cannot flip between engines.
  SELECT w.event_type, w.i,
         CAST(sum((w.c * rm.mx - coalesce(r.c, 0) * wm.mx)
                  * (w.c * rm.mx - coalesce(r.c, 0) * wm.mx)) AS DOUBLE)
           / CAST((wm.mx * rm.mx) * (wm.mx * rm.mx) AS DOUBLE) AS s
  FROM wg w
  JOIN wmx wm ON wm.event_type = w.event_type AND wm.i = w.i
  LEFT JOIN ref r ON r.event_type = w.event_type AND r.s1 = w.s1 AND r.s2 = w.s2
  JOIN refmax rm ON rm.event_type = w.event_type
  GROUP BY 1, 2, wm.mx, rm.mx
), first AS (
  SELECT event_type, s AS s0 FROM sc WHERE i = 29
)
SELECT o.event_id, o.event_type,
       round(CASE WHEN n.n < 30 THEN 0.0
                  WHEN o.rn < 29 THEN f.s0
                  ELSE sc.s END, 6) AS ng_score,
       CASE WHEN (CASE WHEN n.n < 30 THEN 0.0
                       WHEN o.rn < 29 THEN f.s0 ELSE sc.s END) > 1.0
            THEN 'O' ELSE 'N' END AS label
FROM ordered o
JOIN nk n USING (event_type)
LEFT JOIN sc ON sc.event_type = o.event_type AND sc.i = o.rn
LEFT JOIN first f USING (event_type)
"""


@register("ngram_frequency", _NGRAM_FREQ_ORACLE)
def q_ngram_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NgramFrequencyPredictor, hash-exact: per-key quantile symbolization,
    sliding bigram counts vs max-normalized reference map — the oracle
    reproduces the window-count state machine with a position-range join
    (grams ending in [max(1, i-29), i])."""
    ev = load_table(spark, sf_dir, "events")
    out = sequence.ngram_frequency(
        ev, ["event_type"], "ts", "value", n_bins=8, ngram=2, window=30, threshold=1.0,
        order_cols=["event_id"],
    )
    return _round(out.select("event_id", "event_type", "ng_score", "label"), ["ng_score"])


_LP_DRIFT_ORACLE = """
WITH lab AS (
  SELECT event_type, event_id, ts,
         CASE WHEN value > 100 THEN 1 ELSE 0 END AS actual,
         CASE WHEN value > 120 THEN 1 ELSE 0 END AS predicted
  FROM events
), d AS (
  SELECT *,
         CASE WHEN predicted = 1 AND actual = 0 THEN 1
              WHEN predicted = 0 AND actual = 1 THEN -1 ELSE 0 END AS delta
  FROM lab
), c AS (
  SELECT event_type, event_id,
         CAST(sum(delta) OVER w AS BIGINT) AS ecount,
         count(*) OVER w AS count
  FROM d
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, event_id, ecount, count,
       round(ecount * 1.0 / count, 6) AS ediff,
       CASE WHEN ecount * 1.0 / count > 0.05 THEN 1 ELSE 0 END AS drift
FROM c
"""


@register("lp_drift", _LP_DRIFT_ORACLE)
def q_lp_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    lab = ev.select(
        "event_type", "event_id", "ts",
        (F.col("value") > 100).cast("int").alias("actual"),
        (F.col("value") > 120).cast("int").alias("predicted"),
    )
    out = drift_mod.lp_drift(
        lab, ["event_type"], "ts", "predicted", "actual", threshold=0.05,
        order_cols=["event_id"],
    )
    # deterministic ordering: ts ties broken by event_id on BOTH sides
    return _round(
        out.select("event_type", "event_id", "ecount", "count", "ediff", "drift"),
        ["ediff"],
    )


# Mirrors the kernel exactly: recent-4000 window, i = ts-ordered index,
# ncount = max(1, trunc(n * 0.02)) with the SAME IEEE double product (the
# 0.02 literal must be cast to DOUBLE or DuckDB uses exact DECIMAL
# arithmetic), neighbor rank by (squared distance, index), drift =
# other-half/own-half - 1, top-20 by (|drift| desc, index asc).
_LOCAL_DRIFT_ORACLE = """
WITH recent AS (
  SELECT event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS _rn
  FROM events QUALIFY _rn <= 4000
), idx AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM recent
), p AS (
  SELECT event_type, n, greatest(1, trunc(n * CAST(0.02 AS DOUBLE))::INT) AS ncount,
         (n // 2) AS lh
  FROM idx QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY i) = 1
), ranked AS (
  SELECT a.event_type, a.i, b.i AS j, p.ncount, p.lh,
         row_number() OVER (
           PARTITION BY a.event_type, a.i
           ORDER BY (a.value - b.value) * (a.value - b.value), b.i
         ) AS rnk
  FROM idx a
  JOIN idx b ON a.event_type = b.event_type AND a.i <> b.i
  JOIN p ON p.event_type = a.event_type
  WHERE p.n >= 4
), nn AS (
  SELECT event_type, i, ncount,
         sum(CASE WHEN (i < lh) <> (j < lh) THEN 1 ELSE 0 END) AS other
  FROM ranked WHERE rnk <= ncount
  GROUP BY event_type, i, ncount
), scored AS (
  SELECT event_type, i::BIGINT AS row_idx,
         other * 1.0 / greatest(ncount - other, 1) - 1.0 AS drift_score
  FROM nn
)
SELECT event_type, row_idx, round(drift_score, 6) AS drift_score
FROM scored
QUALIFY row_number() OVER (
  PARTITION BY event_type ORDER BY abs(drift_score) DESC, row_idx
) <= 20
"""


@register("local_drift", _LOCAL_DRIFT_ORACLE)
def q_local_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # localDrift compares a bounded old-vs-new window (reference feeds it two
    # windows, not full history); keep the most recent 4000 rows per key so
    # the O(n²) neighborhood scan stays bounded regardless of table size
    w = Window.partitionBy("event_type").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    recent = (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 4000)
        .drop("_rn")
    )
    out = drift_mod.local_drift(
        recent, ["event_type"], "ts", ["value"], neighborhood_size=0.02, top_k=20,
        order_cols=["event_id"],
    )
    return _round(out, ["drift_score"])


_SUBSEQ_REF_ORACLE = """
WITH m AS (
  SELECT event_type, quantile_cont(event_id, 0.6) AS m FROM events GROUP BY event_type
), ref0 AS (
  SELECT e.event_type, CAST(round(e.value * 100, 0) AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY e.event_type ORDER BY e.ts, e.event_id) - 1 AS rn,
         count(*) OVER (PARTITION BY e.event_type) AS n
  FROM events e JOIN m USING (event_type) WHERE e.event_id <= m.m
), test0 AS (
  SELECT e.event_type, CAST(round(e.value * 100, 0) AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY e.event_type ORDER BY e.ts, e.event_id) - 1 AS rn,
         count(*) OVER (PARTITION BY e.event_type) AS n
  FROM events e JOIN m USING (event_type) WHERE e.event_id > m.m
), rw AS (
  SELECT event_type, rn AS o, n,
         list(v) OVER (PARTITION BY event_type ORDER BY rn
                       ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS w
  FROM ref0
), tw AS (
  SELECT event_type, rn AS o, n,
         list(v) OVER (PARTITION BY event_type ORDER BY rn
                       ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS w
  FROM test0
), fr AS (SELECT event_type, o, w FROM rw WHERE o <= n - 16),
   ft AS (SELECT event_type, o, w FROM tw WHERE o <= n - 16)
SELECT t.event_type, t.o AS offset,
       round(min(list_distance(t.w, r.w)), 6) AS discord_score
FROM ft t JOIN fr r USING (event_type)
GROUP BY t.event_type, t.o
"""


@register("subsequence_distance_ref", _SUBSEQ_REF_ORACLE)
def q_subsequence_distance_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series discord vs a reference series, hash-exact against the
    list-window cross-join oracle (cents quantization, same exactness
    argument as subsequence_distance)."""

    def load_q(sf):
        return load_table(spark, sf, "events").withColumn(
            "value", F.round(F.col("value") * 100, 0)
        )

    ev = load_q(sf_dir)
    # persist the |keys|-row split-point model: it is broadcast-built on
    # BOTH sides below, re-running its percentile aggregate per side
    mid = caching.persist(
        ev.groupBy("event_type")
        .agg(*profile.percentiles("event_id", {"_m": 0.6}).values())
    )
    # fresh scans per side: cogroup over two filters of one plan is ambiguous
    ref = (
        load_q(sf_dir)
        .join(F.broadcast(mid), "event_type")
        .filter(F.col("event_id") <= F.col("_m"))
        .drop("_m")
    )
    test = (
        load_q(sf_dir)
        .join(F.broadcast(mid), "event_type")
        .filter(F.col("event_id") > F.col("_m"))
        .drop("_m")
    )
    out = sequence.subsequence_distance_ref(
        test, ref, ["event_type"], "ts", "value", window=16, parallelism=8,
        order_cols=["event_id"], ref_order_cols=["event_id"],
    )
    return _round(out.select("event_type", "offset", "discord_score"), ["discord_score"])
