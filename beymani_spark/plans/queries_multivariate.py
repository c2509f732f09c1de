"""Registry entries: multivariate + numpy sequence families. Mahalanobis,
change_point (KS), one_step_ahead and subsequence_distance are fully
oracle-verified; the SVD/k-means/forest/FFT operators are deterministic
(seeded) but not SQL-expressible -> rows-only.

Oracle exactness for the sequence family: event values are quantized to
cents (round(value*100)) in the *query definition*, so every sum/dot in
both engines is exact integer float64 arithmetic; divisions/sqrt of
identical exact inputs are identical IEEE ops; and round(x, 6) agrees
because both Spark (BigDecimal on the shortest repr, HALF_UP) and DuckDB
round the same shortest decimal representation half-up."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multivariate, sequence
from ..sources import load_table
from .model_oracles import (
    autoencoder_oracle,
    autoencoder_tanh_oracle,
    iforest_merge_oracle,
    iforest_oracle,
    kmeans_mixed_oracle,
    kmeans_oracle,
    pca_oracle,
)
from .queries_stats import _round
from .registry import register

_MAHAL_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         avg(l_quantity) AS mq, avg(l_extendedprice) AS mp,
         covar_samp(l_quantity, l_quantity) AS a,
         covar_samp(l_extendedprice, l_extendedprice) AS b,
         covar_samp(l_quantity, l_extendedprice) AS c
  FROM lineitem GROUP BY l_returnflag
), s AS (
  SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
         (l.l_quantity - m.mq) AS dx, (l.l_extendedprice - m.mp) AS dy,
         m.a, m.b, m.c, (m.a * m.b - m.c * m.c) AS det
  FROM lineitem l LEFT JOIN m USING (l_returnflag)
)
SELECT l_orderkey, l_linenumber, l_returnflag,
       round(CASE WHEN abs(det) > 0
                  THEN (b * dx * dx - 2 * c * dx * dy + a * dy * dy) / det END, 6) AS score,
       CASE WHEN det IS NULL OR abs(det) <= 0 THEN 'I'
            WHEN (b * dx * dx - 2 * c * dx * dy + a * dy * dy) / det > 9.0 THEN 'O'
            ELSE 'N' END AS label
FROM s
"""


@register("mahalanobis", _MAHAL_ORACLE)
def q_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    model = multivariate.mahalanobis_model(
        li, ["l_returnflag"], ["l_quantity", "l_extendedprice"]
    )
    out = multivariate.mahalanobis_score(
        li, model, ["l_returnflag"], ["l_quantity", "l_extendedprice"], threshold=9.0
    )
    return _round(
        out.select("l_orderkey", "l_linenumber", "l_returnflag", "score", "label"),
        ["score"],
    )


@register("pca_reconstruction", pca_oracle)
def q_pca_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    model = multivariate.pca_model(
        li, ["l_returnflag"], ["l_quantity", "l_extendedprice", "l_discount"],
        n_components=1,
    )
    out = multivariate.pca_score(
        li, model, ["l_returnflag"], ["l_quantity", "l_extendedprice", "l_discount"],
        threshold=3.0,
    )
    return _round(
        out.select("l_orderkey", "l_linenumber", "l_returnflag", "score", "label"),
        ["score"],
    )


@register("kmeans_cluster_score", kmeans_oracle)
def q_kmeans_cluster_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    model = multivariate.kmeans_model(
        li, ["l_returnflag"], ["l_quantity", "l_extendedprice"], n_clusters=4, seed=42
    )
    out = multivariate.kmeans_score(
        li, model, ["l_returnflag"], ["l_quantity", "l_extendedprice"],
        threshold=10000.0,
    )
    return _round(
        out.select("l_orderkey", "l_linenumber", "l_returnflag", "score", "label"),
        ["score"],
    )


@register("kmeans_mixed", kmeans_mixed_oracle)
def q_kmeans_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-type ClusterBasedPredictor (reference InterRecordDistance
    semantics, ClusterBasedPredictor.scala:45-130): range-normalized
    numeric attrs + 0/1 categorical attr in one k-prototypes model."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        "l_quantity", "l_extendedprice", "l_linestatus",
    )
    num, cat = ["l_quantity", "l_extendedprice"], ["l_linestatus"]
    model = multivariate.kmeans_mixed_model(
        li, ["l_returnflag"], num, cat, n_clusters=4, gamma=1.0, seed=42
    )
    out = multivariate.kmeans_mixed_score(
        li, model, ["l_returnflag"], num, cat,
        gamma=1.0, threshold=0.6,
    )
    return _round(
        out.select("l_orderkey", "l_linenumber", "l_returnflag", "score", "label"),
        ["score"],
    )


@register("isolation_forest", iforest_oracle)
def q_isolation_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    values = ["l_quantity", "l_extendedprice", "l_discount"]
    model = multivariate.isolation_forest_fit(
        li, ["l_returnflag"], values, num_trees=50, subsample=128, seed=42
    )
    out = multivariate.isolation_forest_score(
        li, model, ["l_returnflag"], values, threshold=0.6
    )
    return _round(
        out.select("l_orderkey", "l_linenumber", "l_returnflag", "score", "label"),
        ["score"],
    )


@register("isolation_forest_merge", iforest_merge_oracle)
def q_isolation_forest_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#14 IsolationForestMerge (multi/IsolationForestMerge.scala:35-203):
    incremental retraining — a base batch (l_orderkey % 3 != 0) merged
    with an OVERLAPPING incremental batch (% 3 != 2; the % 3 == 1 rows
    enter the pool twice, exactly the append-to-pool duplication the
    reference's re-sample-and-merge produces), refit as one forest
    (multivariate.isolation_forest_merge: unionByName + presampled
    bounded refit), then the FULL table scored against the merged model
    over the broadcast tree set. The oracle bakes the merged forest fit
    off-Spark with the same shared cores."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    values = ["l_quantity", "l_extendedprice", "l_discount"]
    old = li.filter(F.col("l_orderkey") % 3 != 0)
    new = li.filter(F.col("l_orderkey") % 3 != 2)
    model = multivariate.isolation_forest_merge(
        old, new, ["l_returnflag"], values, num_trees=40, subsample=128, seed=7
    )
    out = multivariate.isolation_forest_score(
        li, model, ["l_returnflag"], values, threshold=0.6
    )
    return _round(
        out.select("l_orderkey", "l_linenumber", "l_returnflag", "score", "label"),
        ["score"],
    )


@register("autoencoder_tanh", autoencoder_tanh_oracle)
def q_autoencoder_tanh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonlinear `auen` detector (pyod-semantics path, mvand.py:25-26):
    tanh encoder, reconstruction-error score. Hash-verifiable because the
    scoring path quantizes z to 1e-6, pinning the cross-engine tanh ulp
    gap (see autoencoder_tanh_oracle)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    values = ["l_quantity", "l_extendedprice", "l_discount"]
    model = multivariate.autoencoder_fit(
        li, ["l_returnflag"], values, hidden=2, seed=42, activation="tanh"
    )
    out = multivariate.autoencoder_score(
        li, model, ["l_returnflag"], values, threshold=3.0, activation="tanh"
    )
    return _round(
        out.select("l_orderkey", "l_linenumber", "l_returnflag", "score", "label"),
        ["score"],
    )


@register("autoencoder", autoencoder_oracle)
def q_autoencoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`auen` detector contract (mvand.py): fit on the data, score every row
    by standardized reconstruction error. The seeded numpy fit is rebuilt
    off-Spark by the model-baked oracle, which hash-verifies the scoring."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    values = ["l_quantity", "l_extendedprice", "l_discount"]
    model = multivariate.autoencoder_fit(
        li, ["l_returnflag"], values, hidden=2, seed=42
    )
    out = multivariate.autoencoder_score(
        li, model, ["l_returnflag"], values, threshold=3.0
    )
    return _round(
        out.select("l_orderkey", "l_linenumber", "l_returnflag", "score", "label"),
        ["score"],
    )


_SPECTRAL_ORACLE = """
WITH ordered AS (
  SELECT event_type, event_id, value AS v,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
), freq AS (
  -- forward DFT X_k = sum_j v_j e^{-2 pi i jk/n}; the sum is an ORDERED list
  -- fold so DuckDB's result is run-deterministic (parallel SUM is not), and
  -- the naive-DFT-vs-np.fft float skew (measured <1e-12 on this fixture) is
  -- absorbed by the round-to-6 convention
  SELECT o.event_type, k.rn AS k, o.n,
         list_sum(list(o.v * cos(-2*pi()*o.rn*k.rn/o.n) ORDER BY o.rn)) AS xre,
         list_sum(list(o.v * sin(-2*pi()*o.rn*k.rn/o.n) ORDER BY o.rn)) AS xim
  FROM ordered o JOIN ordered k USING (event_type)
  GROUP BY o.event_type, k.rn, o.n
), spec AS (
  SELECT event_type, k, n, xre, xim,
         greatest(sqrt(xre*xre + xim*xim), 1e-12) AS amp,
         ln(greatest(sqrt(xre*xre + xim*xim), 1e-12)) AS la
  FROM freq
), resid AS (
  -- np.convolve(..., 'same') zero-pads edges: always divide by 3
  SELECT event_type, k, n, xre, xim,
         exp(la - (coalesce(lag(la)  OVER w, 0.0) + la
                 + coalesce(lead(la) OVER w, 0.0)) / 3.0) / amp AS f
  FROM spec
  WINDOW w AS (PARTITION BY event_type ORDER BY k)
), sal AS (
  -- inverse DFT of f_k * X_k; saliency = |m_j|
  SELECT r.event_type, j.rn AS rn,
         sqrt(
           pow(list_sum(list((r.f*r.xre) * cos(2*pi()*j.rn*r.k/r.n)
                           - (r.f*r.xim) * sin(2*pi()*j.rn*r.k/r.n) ORDER BY r.k)) / r.n, 2)
         + pow(list_sum(list((r.f*r.xre) * sin(2*pi()*j.rn*r.k/r.n)
                           + (r.f*r.xim) * cos(2*pi()*j.rn*r.k/r.n) ORDER BY r.k)) / r.n, 2)
         ) AS s
  FROM resid r JOIN ordered j USING (event_type)
  GROUP BY r.event_type, j.rn, r.n
), scored AS (
  SELECT s.event_type, s.rn, s.s,
         avg(s.s) OVER (PARTITION BY s.event_type ORDER BY s.rn
                        ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) AS trail
  FROM sal s
)
SELECT o.event_id, o.event_type,
       round((c.s - c.trail) / (CASE WHEN c.trail > 0 THEN c.trail ELSE 1.0 END), 6)
         AS sr_score,
       CASE WHEN (c.s - c.trail) / (CASE WHEN c.trail > 0 THEN c.trail ELSE 1.0 END)
                 > 1.0 THEN 'O' ELSE 'N' END AS label
FROM scored c JOIN ordered o USING (event_type, rn)
"""


@register("spectral_residual", _SPECTRAL_ORACLE)
def q_spectral_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # relative trailing-average scoring: ~p99 of the fixture's score
    # distribution, so the label column tags the true saliency tail
    out = sequence.spectral_residual(
        ev, ["event_type"], "ts", "value", threshold=1.0,
        order_cols=["event_id"],
    )
    return _round(out.select("event_id", "event_type", "sr_score", "label"), ["sr_score"])


_OSA_ORACLE = """
WITH RECURSIVE ordered AS (
  SELECT event_type, event_id, CAST(round(value * 100, 0) AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS rn
  FROM events
), state AS (
  -- sequential replay of the reference's window-feedback loop: one recursion
  -- level per row index; state = last-8 work window + running residual moments
  SELECT event_type, 8 AS i, list(v ORDER BY rn) AS w,
         0::BIGINT AS r_n, CAST(0.0 AS DOUBLE) AS r_s1, CAST(0.0 AS DOUBLE) AS r_s2,
         CAST(NULL AS DOUBLE) AS predicted, CAST(NULL AS DOUBLE) AS score
  FROM ordered WHERE rn < 8 GROUP BY event_type
  UNION ALL
  SELECT event_type, i + 1,
         w[2:] || [CASE WHEN sc > 3.0 THEN p ELSE x END],
         CASE WHEN sc > 3.0 THEN r_n ELSE r_n + 1 END,
         CASE WHEN sc > 3.0 THEN r_s1 ELSE r_s1 + (x - p) END,
         CASE WHEN sc > 3.0 THEN r_s2 ELSE r_s2 + (x - p) * (x - p) END,
         p, sc
  FROM (
    SELECT t.*, CASE WHEN sd > 0 THEN abs(x - p) / sd ELSE CAST(0.0 AS DOUBLE) END AS sc
    FROM (
      SELECT s.event_type, s.i, s.w, s.r_n, s.r_s1, s.r_s2,
             o.v AS x, list_sum(s.w) / 8.0 AS p,
             CASE WHEN s.r_n >= 3
                       AND (s.r_s2 / s.r_n - (s.r_s1 / s.r_n) * (s.r_s1 / s.r_n)) > 0
                  THEN sqrt(s.r_s2 / s.r_n - (s.r_s1 / s.r_n) * (s.r_s1 / s.r_n))
                  ELSE CAST(0.0 AS DOUBLE) END AS sd
      FROM state s JOIN ordered o ON o.event_type = s.event_type AND o.rn = s.i
    ) t
  )
), scored AS (
  SELECT event_type, i - 1 AS rn, predicted, score FROM state WHERE i > 8
)
SELECT o.event_id, o.event_type,
       round(sc.predicted, 6) AS predicted,
       round(coalesce(sc.score, 0.0), 6) AS osa_score,
       CASE WHEN coalesce(sc.score, 0.0) > 3.0 THEN 'O' ELSE 'N' END AS label
FROM ordered o LEFT JOIN scored sc ON o.event_type = sc.event_type AND o.rn = sc.rn
"""


@register("one_step_ahead", _OSA_ORACLE)
def q_one_step_ahead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value", F.round(F.col("value") * 100, 0)
    )
    out = sequence.one_step_ahead(
        ev, ["event_type"], "ts", "value", window=8, method="average", threshold=3.0,
        order_cols=["event_id"],
    )
    # rows before the first full window have no prediction: normalize the
    # kernel's NaN to SQL NULL so the driver hash agrees with the oracle
    out = out.withColumn(
        "predicted",
        F.when(F.isnan("predicted"), F.lit(None).cast("double")).otherwise(
            F.col("predicted")
        ),
    )
    return _round(
        out.select("event_id", "event_type", "predicted", "osa_score", "label"),
        ["predicted", "osa_score"],
    )


_SUBSEQ_ORACLE = """
WITH ordered AS (
  SELECT event_type, CAST(round(value * 100, 0) AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
), wins AS (
  SELECT event_type, rn AS o, n,
         list(v) OVER (PARTITION BY event_type ORDER BY rn
                       ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS w
  FROM ordered
), fw AS (
  SELECT event_type, o, w FROM wins WHERE o <= n - 16 AND n - 15 > 1
)
SELECT a.event_type, a.o AS offset,
       round(min(list_distance(a.w, b.w)), 6) AS discord_score
FROM fw a JOIN fw b ON a.event_type = b.event_type AND abs(a.o - b.o) >= 16
GROUP BY a.event_type, a.o
"""


@register("subsequence_distance", _SUBSEQ_ORACLE)
def q_subsequence_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value", F.round(F.col("value") * 100, 0)
    )
    out = sequence.subsequence_distance(
        ev, ["event_type"], "ts", "value", window=16, parallelism=8,
        order_cols=["event_id"],
    )
    return _round(
        out.select("event_type", "offset", "discord_score"), ["discord_score"]
    )


_CHANGE_POINT_ORACLE = """
WITH ordered AS (
  SELECT event_type, value, ts,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS rn
  FROM events
), nk AS (
  SELECT event_type, count(*) AS n FROM ordered GROUP BY event_type
), starts AS (
  SELECT event_type, unnest(range(0, n - 63, 8)) AS start FROM nk WHERE n >= 64
), members AS (
  SELECT s.event_type, s.start, o.value,
         CASE WHEN o.rn < s.start + 32 THEN 1 ELSE 0 END AS a_side
  FROM starts s JOIN ordered o
    ON o.event_type = s.event_type AND o.rn >= s.start AND o.rn < s.start + 64
), cum AS (
  -- two-sample KS: RANGE frame makes the cumulative counts include value
  -- ties on both sides, matching searchsorted(..., side='right')
  SELECT event_type, start,
         sum(a_side) OVER w AS ca, sum(1 - a_side) OVER w AS cb
  FROM members
  WINDOW w AS (PARTITION BY event_type, start ORDER BY value
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), st AS (
  SELECT event_type, start, max(abs(ca / 32.0 - cb / 32.0)) AS stat
  FROM cum GROUP BY event_type, start
)
SELECT st.event_type, floor(epoch(o.ts))::BIGINT AS center_epoch,
       round(st.stat, 6) AS stat
FROM st JOIN ordered o ON o.event_type = st.event_type AND o.rn = st.start + 32
"""


_CHANGE_POINT_RESUME_ORACLE = """
WITH prefix AS (
  SELECT event_type, ts,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE ts < TIMESTAMP '2024-01-19 00:00:00'
), cp AS (
  SELECT event_type, ts AS cp_ts FROM prefix WHERE rn = n - 1 - 32
), ordered AS (
  SELECT e.event_type, e.value, e.ts,
         row_number() OVER (PARTITION BY e.event_type ORDER BY e.ts, e.event_id) - 1 AS rn
  FROM events e JOIN cp USING (event_type) WHERE e.ts >= cp.cp_ts
), nk AS (
  SELECT event_type, count(*) AS n FROM ordered GROUP BY event_type
), starts AS (
  SELECT event_type, unnest(range(0, n - 63, 8)) AS start FROM nk WHERE n >= 64
), members AS (
  SELECT s.event_type, s.start, o.value,
         CASE WHEN o.rn < s.start + 32 THEN 1 ELSE 0 END AS a_side
  FROM starts s JOIN ordered o
    ON o.event_type = s.event_type AND o.rn >= s.start AND o.rn < s.start + 64
), cum AS (
  SELECT event_type, start,
         sum(a_side) OVER w AS ca, sum(1 - a_side) OVER w AS cb
  FROM members
  WINDOW w AS (PARTITION BY event_type, start ORDER BY value
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), st AS (
  SELECT event_type, start, max(abs(ca / 32.0 - cb / 32.0)) AS stat
  FROM cum GROUP BY event_type, start
)
SELECT st.event_type, floor(epoch(o.ts))::BIGINT AS center_epoch,
       round(st.stat, 6) AS stat
FROM st JOIN ordered o ON o.event_type = st.event_type AND o.rn = st.start + 32
"""


@register("change_point_resume", _CHANGE_POINT_RESUME_ORACLE)
def q_change_point_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume path, driver-checked: the checkpoint comes from the
    pre-cutoff prefix (last full window's center), and the incremental run
    covers only the retained suffix — same KS oracle over the filtered
    rows."""
    ev = load_table(spark, sf_dir, "events")
    prefix = ev.filter(F.col("ts") < F.lit("2024-01-19 00:00:00").cast("timestamp"))
    cp = sequence.change_point_checkpoint(
        prefix, ["event_type"], "ts", window=64, order_cols=["event_id"]
    )
    out = sequence.change_point(
        ev, ["event_type"], "ts", "value", window=64, step=8, stat="ks", checkpoint=cp,
        order_cols=["event_id"],
    )
    return _round(
        out.select("event_type", F.unix_timestamp("center_ts").alias("center_epoch"), "stat"),
        ["stat"],
    )


_CHANGE_POINT_MULTI_ORACLE = """
WITH src AS (
  SELECT l_returnflag,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS seq,
         l_quantity, l_extendedprice
  FROM lineitem
), melted AS (
  SELECT l_returnflag, 'l_quantity' AS attr, seq, l_quantity AS value FROM src
  UNION ALL
  SELECT l_returnflag, 'l_extendedprice', seq, l_extendedprice FROM src
), ordered AS (
  SELECT l_returnflag, attr, value, seq, seq - 1 AS rn FROM melted
), nk AS (
  SELECT l_returnflag, attr, count(*) AS n FROM ordered GROUP BY 1, 2
), starts AS (
  SELECT l_returnflag, attr, unnest(range(0, n - 63, 8)) AS start
  FROM nk WHERE n >= 64
), members AS (
  SELECT s.l_returnflag, s.attr, s.start, o.value,
         CASE WHEN o.rn < s.start + 32 THEN 1 ELSE 0 END AS a_side
  FROM starts s JOIN ordered o
    ON o.l_returnflag = s.l_returnflag AND o.attr = s.attr
       AND o.rn >= s.start AND o.rn < s.start + 64
), cum AS (
  SELECT l_returnflag, attr, start,
         sum(a_side) OVER w AS ca, sum(1 - a_side) OVER w AS cb
  FROM members
  WINDOW w AS (PARTITION BY l_returnflag, attr, start ORDER BY value
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), st AS (
  SELECT l_returnflag, attr, start, max(abs(ca / 32.0 - cb / 32.0)) AS stat
  FROM cum GROUP BY 1, 2, 3
)
SELECT st.l_returnflag, st.attr, o.seq AS center_seq, round(st.stat, 6) AS stat
FROM st JOIN ordered o
  ON o.l_returnflag = st.l_returnflag AND o.attr = st.attr
     AND o.rn = st.start + 32
"""


@register("change_point_multi", _CHANGE_POINT_MULTI_ORACLE)
def q_change_point_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-attribute change points (ChangePointDetector attr.ordinals):
    one KS row per (key, attr, window center) over two lineitem measures.
    The sequence is a per-key row_number over the unique composite
    (orderkey, linenumber, partkey, suppkey) — (orderkey, linenumber) alone
    is NOT unique in the synthetic fixture, and sequence ties would make
    window membership engine-dependent."""
    from pyspark.sql import Window

    w = Window.partitionBy("l_returnflag").orderBy(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.row_number().over(w).alias("_seq"),
        "l_quantity", "l_extendedprice",
    )
    out = sequence.change_point_multi(
        li, ["l_returnflag"], "_seq", ["l_quantity", "l_extendedprice"],
        window=64, step=8, stat="ks",
    )
    return _round(
        out.select(
            "l_returnflag", "attr", F.col("center_ts").alias("center_seq"), "stat"
        ),
        ["stat"],
    )


@register("change_point", _CHANGE_POINT_ORACLE)
def q_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = sequence.change_point(
        ev, ["event_type"], "ts", "value", window=64, step=8, stat="ks",
        order_cols=["event_id"],
    )
    return _round(
        out.select("event_type", F.unix_timestamp("center_ts").alias("center_epoch"), "stat"),
        ["stat"],
    )
