"""Registry entries: proximity/density family on embeddings + windowed
neighborhood / clustering / roll-up ops on events."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import knn, post, profile, rollup, zscore
from ..sources import load_table
from .queries_stats import _round
from .registry import register

_PAIRS_CTE = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         sqrt(list_sum(list_transform(list_zip(a.vec, b.vec),
                                      p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
), nn AS (
  SELECT src, dst, dist,
         row_number() OVER (PARTITION BY src ORDER BY dist ASC, dst ASC) AS nn_rank
  FROM pairs
), topk AS (
  SELECT src, dst, dist FROM nn WHERE nn_rank <= 5
)
"""


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every consumer takes top-5 neighbors, so push k into the pair builder:
    # the exchange carries N*5 rows instead of N^2 (oracle-identical — the
    # kernel's (dist, dst) tie order matches knn()'s row_number window)
    emb = load_table(spark, sf_dir, "embeddings")
    return knn.pair_distances_np(emb, "vec_id", "embedding", k=5)


_AVG_DIST_ORACLE = _PAIRS_CTE + """
SELECT src, round(avg(dist), 6) AS avg_dist,
       round(1000.0 / (avg(dist) + 1e-10), 6) AS density
FROM topk GROUP BY src
"""


@register("average_distance", _AVG_DIST_ORACLE)
def q_average_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = knn.average_distance(_pairs(spark, sf_dir), k=5, scale=1000.0)
    return _round(out, ["avg_dist", "density"])


_REL_DENSITY_ORACLE = _PAIRS_CTE + """
, dens AS (
  SELECT src, avg(dist) AS avg_dist, 1000.0 / (avg(dist) + 1e-10) AS density
  FROM topk GROUP BY src
), nbr AS (
  SELECT t.src, sum(d.density) AS nbr_density
  FROM topk t JOIN dens d ON t.dst = d.src GROUP BY t.src
)
SELECT d.src, round(d.avg_dist, 6) AS avg_dist, round(d.density, 6) AS density,
       round(d.density * 1000.0 / n.nbr_density, 6) AS rel_density
FROM dens d JOIN nbr n ON d.src = n.src
"""


@register("relative_density", _REL_DENSITY_ORACLE)
def q_relative_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = knn.relative_density(_pairs(spark, sf_dir), k=5, scale=1000.0)
    return _round(out, ["avg_dist", "density", "rel_density"])


_LOF_ORACLE = _PAIRS_CTE + """
, kdist AS (
  SELECT src, max(dist) AS kdist FROM topk GROUP BY src
), reach AS (
  SELECT t.src, t.dst, greatest(t.dist, ko.kdist) AS reach_dist
  FROM topk t JOIN kdist ko ON t.dst = ko.src
), lrd AS (
  SELECT src, 5.0 / (sum(reach_dist) + 1e-10) AS lrd FROM reach GROUP BY src
), nbr AS (
  SELECT t.src, avg(lo.lrd) AS avg_nbr_lrd
  FROM topk t JOIN lrd lo ON t.dst = lo.src GROUP BY t.src
)
SELECT l.src, round(l.lrd, 6) AS lrd, round(least(n.avg_nbr_lrd / l.lrd, 1000000.0), 6) AS lof
FROM lrd l JOIN nbr n ON l.src = n.src
"""


@register("lof", _LOF_ORACLE)
def q_lof(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = knn.lof(_pairs(spark, sf_dir), k=5)
    return _round(out, ["lrd", "lof"])


_LOF_TAIL = _LOF_ORACLE.split(", kdist AS", 1)[1]


def _lof_lsh_oracle(sf_dir: str) -> str:
    """Model-baked oracle for the LSH-bucketed LOF: the seeded hyperplane
    signatures (auto plane count, random.Random(42)) are replayed
    off-Spark over the same float64 upcast and baked as VALUES; the pair
    restriction — neighbors only within signature Hamming distance 1, the
    one-bit multi-probe contract of knn.lsh_pair_distances — is applied in
    SQL, and the LOF tail (k-distance, reach, lrd, cap) is the exact
    query's own verified SQL, reused verbatim."""
    import random

    import numpy as np

    from ..operators.knn import auto_planes
    from .model_oracles import _read

    pdf = _read(sf_dir, "embeddings", ["vec_id", "embedding"])
    n = len(pdf)
    if n == 0:
        return (
            "SELECT CAST(NULL AS BIGINT) AS src, CAST(NULL AS DOUBLE) AS lrd,"
            " CAST(NULL AS DOUBLE) AS lof WHERE FALSE"
        )
    x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    n_planes = auto_planes(n, 8)
    rng = random.Random(42)
    planes = [[rng.gauss(0, 1) for _ in range(x.shape[1])] for _ in range(n_planes)]
    p = np.asarray(planes, dtype=np.float64).T
    bits = (x @ p) >= 0
    weights = 1 << np.arange(n_planes - 1, -1, -1)
    sigs = (bits.astype(np.int64) * weights).sum(axis=1)
    sig_rows = ", ".join(
        f"({int(i)}, {int(s)})" for i, s in zip(pdf["vec_id"], sigs)
    )
    return f"""
WITH sig(vec_id, sig) AS (VALUES {sig_rows}),
v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         sqrt(list_sum(list_transform(list_zip(a.vec, b.vec),
                                      p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
  JOIN sig sa ON sa.vec_id = a.vec_id
  JOIN sig sb ON sb.vec_id = b.vec_id
  WHERE bit_count(xor(sa.sig, sb.sig)) <= 1
), nn AS (
  SELECT src, dst, dist,
         row_number() OVER (PARTITION BY src ORDER BY dist ASC, dst ASC) AS nn_rank
  FROM pairs
), topk AS (
  SELECT src, dst, dist FROM nn WHERE nn_rank <= 5
), kdist AS {_LOF_TAIL}"""


@register("lof_lsh", _lof_lsh_oracle)
def q_lof_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOF over LSH-bucketed candidate neighborhoods — the registered
    scale form beside the exact `lof` (the same exact-vs-bucketed pairing
    as media_dup_pairs / dedup_simhash): neighbors are searched only
    within signature Hamming distance 1 (knn.lsh_pair_distances,
    n_planes='auto' holding bucket size as N grows — the §8.1-measured
    off-ramp for the O(N^2) exact pair stage), then the identical LOF
    kernel runs on the candidate set. Neighborhoods are approximate —
    a true neighbor hashed >1 bit away is replaced by the next candidate
    — so scores differ from exact LOF by construction; the oracle bakes
    the same signatures and verifies the candidate-restricted LOF
    hash-exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = knn.lsh_pair_distances(emb, "vec_id", "embedding", n_planes="auto")
    out = knn.lof(pairs, k=5)
    return _round(out, ["lrd", "lof"])


_LOCAL_NBR_ORACLE = """
WITH w AS (
  SELECT event_id, event_type, value,
         list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS arr
  FROM events
)
SELECT event_id, event_type, value,
       round(list_sum(list_transform(arr, x -> abs(x - value))) / (len(arr) - 1), 6)
         AS nbr_score,
       CASE WHEN list_sum(list_transform(arr, x -> abs(x - value))) / (len(arr) - 1)
                 > 3.0 THEN 'O' ELSE 'N' END AS label
FROM w
"""


@register("local_neighborhood", _LOCAL_NBR_ORACLE)
def q_local_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = rollup.local_neighborhood(
        ev, ["event_type"], "ts", "value", window=5, mode="avgDist",
        order_cols=["event_id"],
    )
    return _round(
        out.select("event_id", "event_type", "value", "nbr_score", "label"),
        ["nbr_score"],
    )


_SCORED_CTE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mean, stddev_samp(value) AS std
  FROM events GROUP BY event_type
), scored AS (
  SELECT e.event_id, e.user_id, e.event_type, e.ts, e.value,
         CASE WHEN s.std > 0 THEN abs(e.value - s.mean) / s.std END AS score,
         CASE WHEN s.std IS NULL OR s.std <= 0 THEN 'I'
              WHEN abs(e.value - s.mean) / s.std > {thr} THEN 'O' ELSE 'N' END AS label
  FROM events e LEFT JOIN stats s USING (event_type)
)
"""

_OUTLIER_CLUSTER_ORACLE = _SCORED_CTE.format(thr="2.0") + """
, o AS (
  SELECT *,
         CASE WHEN lag(ts) OVER w IS NULL
                OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 86400
              THEN 1 ELSE 0 END AS newc
  FROM scored WHERE label = 'O'
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
), c AS (
  SELECT *, CAST(sum(newc) OVER (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cluster_id
  FROM o
), stats2 AS (
  SELECT event_type, cluster_id, count(*) AS cluster_size,
         floor(epoch(min(ts)))::BIGINT AS cluster_start_epoch,
         floor(epoch(max(ts)))::BIGINT AS cluster_end_epoch
  FROM c GROUP BY event_type, cluster_id
), protos AS (
  SELECT event_type, cluster_id, event_id, round(score, 6) AS proto_score
  FROM (SELECT *, row_number() OVER (PARTITION BY event_type, cluster_id
                                     ORDER BY score DESC, event_id ASC) AS rn FROM c)
  WHERE rn = 1
)
SELECT s.event_type, s.cluster_id, s.cluster_size, s.cluster_start_epoch,
       s.cluster_end_epoch, p.event_id, p.proto_score
FROM stats2 s JOIN protos p USING (event_type, cluster_id)
"""


@register("outlier_cluster", _OUTLIER_CLUSTER_ORACLE)
def q_outlier_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=2.0)
    out = rollup.outlier_cluster(
        scored, ["event_type"], "ts", max_interval_sec=86400, id_cols=["event_id"]
    )
    out = out.select(
        "event_type",
        "cluster_id",
        "cluster_size",
        F.unix_timestamp("cluster_start").alias("cluster_start_epoch"),
        F.unix_timestamp("cluster_end").alias("cluster_end_epoch"),
        "event_id",
        "proto_score",
    )
    return _round(out, ["proto_score"])


_LEVEL_SHIFT_SEG_ORACLE = _SCORED_CTE.format(thr="1.0") + """
, base AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
  FROM scored
), o AS (
  SELECT *, rn - row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS island
  FROM base WHERE label = 'O'
)
SELECT event_type,
       floor(epoch(min(ts)))::BIGINT AS segment_start_epoch,
       floor(epoch(max(ts)))::BIGINT AS segment_end_epoch,
       count(*) AS segment_length,
       round(avg(value), 6) AS segment_mean
FROM o GROUP BY event_type, island HAVING count(*) >= 3
"""


@register("level_shift_segments", _LEVEL_SHIFT_SEG_ORACLE)
def q_level_shift_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=1.0)
    out = rollup.level_shift_segments(
        scored, ["event_type"], "ts", "value", min_length=3, id_cols=["event_id"]
    )
    out = out.select(
        "event_type",
        F.unix_timestamp("segment_start").alias("segment_start_epoch"),
        F.unix_timestamp("segment_end").alias("segment_end_epoch"),
        "segment_length",
        "segment_mean",
    )
    return _round(out, ["segment_mean"])


_HIER_AGG_ORACLE = _SCORED_CTE.format(thr="2.0") + """
, h AS (
  SELECT DISTINCT user_id, 'segment' AS parent_type, user_id % 10 AS parent_id
  FROM events
), j AS (
  SELECT s.*, h.parent_type, h.parent_id FROM scored s JOIN h USING (user_id)
)
SELECT parent_type, parent_id,
       epoch(date_trunc('hour', ts))::BIGINT AS window_start_epoch,
       round(CASE WHEN max(CASE WHEN label = 'O' THEN 1 ELSE 0 END) = 1
                  THEN avg(CASE WHEN label = 'O' THEN value END)
                  ELSE avg(value) END, 6) AS agg_value,
       round(CASE WHEN max(CASE WHEN label = 'O' THEN 1 ELSE 0 END) = 1
                  THEN max(CASE WHEN label = 'O' THEN score END)
                  ELSE max(score) END, 6) AS agg_score,
       CASE WHEN max(CASE WHEN label = 'O' THEN 1 ELSE 0 END) = 1
            THEN 'O' ELSE 'N' END AS label
FROM j GROUP BY parent_type, parent_id, date_trunc('hour', ts)
"""


_STREAM_SCHEMA_ORACLE = _SCORED_CTE.format(thr="2.0") + """
, h(event_type, parent_type, parent_id) AS (
  VALUES ('view', 'funnel', 'engagement'), ('click', 'funnel', 'engagement'),
         ('signup', 'funnel', 'conversion'), ('purchase', 'funnel', 'conversion'),
         ('error', 'funnel', 'conversion')
), j AS (
  SELECT s.*, h.parent_type, h.parent_id FROM scored s JOIN h USING (event_type)
)
SELECT parent_type, parent_id,
       epoch(date_trunc('hour', ts))::BIGINT AS window_start_epoch,
       round(CASE WHEN max(CASE WHEN label = 'O' THEN 1 ELSE 0 END) = 1
                  THEN avg(CASE WHEN label = 'O' THEN value END)
                  ELSE avg(value) END, 6) AS agg_value,
       round(CASE WHEN max(CASE WHEN label = 'O' THEN 1 ELSE 0 END) = 1
                  THEN max(CASE WHEN label = 'O' THEN score END)
                  ELSE max(score) END, 6) AS agg_score,
       CASE WHEN max(CASE WHEN label = 'O' THEN 1 ELSE 0 END) = 1
            THEN 'O' ELSE 'N' END AS label
FROM j GROUP BY parent_type, parent_id, date_trunc('hour', ts)
"""


@register("stream_schema_rollup", _STREAM_SCHEMA_ORACLE)
def q_stream_schema_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataStreamSchema JSON round trip: load the ecomm-style schema fixture,
    flatten its id:"*" wildcards into the (event_type, parent) mapping, and
    roll scored events up to their funnel parents (the oracle inlines the
    same mapping as VALUES — flattening itself is config parsing)."""
    import os

    from ..sources import stream_schema

    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=2.0)
    schema_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "resources", "event_stream.json",
    )
    hierarchy = stream_schema.flatten_hierarchy(
        spark, schema_path, child_col="event_type"
    )
    out = rollup.hierarchical_aggregate(
        scored, hierarchy, ["event_type"], "ts", "value",
        window="1 hour", value_agg="avg", score_agg="max",
    )
    out = out.select(
        "parent_type",
        "parent_id",
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "agg_value",
        "agg_score",
        "label",
    )
    return _round(out, ["agg_value", "agg_score"])


@register("hierarchical_aggregate", _HIER_AGG_ORACLE)
def q_hierarchical_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=2.0)
    hierarchy = (
        ev.select("user_id")
        .distinct()
        .withColumn("parent_type", F.lit("segment"))
        .withColumn("parent_id", F.col("user_id") % 10)
    )
    out = rollup.hierarchical_aggregate(
        scored, hierarchy, ["user_id"], "ts", "value",
        window="1 hour", value_agg="avg", score_agg="max",
    )
    out = out.select(
        "parent_type",
        "parent_id",
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "agg_value",
        "agg_score",
        "label",
    )
    return _round(out, ["agg_value", "agg_score"])
