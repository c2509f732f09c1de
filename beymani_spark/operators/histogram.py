"""Histogram / estimated-probability family (SURVEY.md §2.1 #2, §2.2 K4-K7,
§2.3 M2/M3), all as groupBy aggregations + broadcast joins + window sums.

Reference semantics sources:
  multivariate_histogram ≙ MultiVariateDistribution (/root/reference/spark/src/
      main/scala/org/beymani/spark/dist/MultiVariateDistribution.scala:104-177;
      bucketing :125-136 — floor(value/bucketWidth) for numeric, raw value for
      categorical, per-field buckets concatenated into one bucket key)
  est_prob_score (K4)      ≙ EstimatedProbabilityBasedPredictor.java:67-91
      (score = 1 - p(bucket))
  est_attr_prob_score (K5) ≙ EsimatedAttrtibuteProbabilityBasedPredictor.java:
      175-215 (per-attr 1 - p̂(x), or -log p̂(x) capped at 20)
  est_meta_prob_score (K6) ≙ EstimatedMetaProbabilityBasedPredictor.java:78-117
      (p of p: total probability mass of buckets no more likely than x's)
  est_cum_prob_score (K7)  ≙ EstimatedCumProbabilityBasedPredictor.java:73-98
      (tail mass: F if F > 0.5 else 1 - F; F inclusive of x's bucket)
  sort_by_count (M2)       ≙ DistributionSorter.java:40-130
  entropy_sorted (M3)      ≙ EntropyBasedDistributionSorter.java:40-120

Scale: histograms are tiny relative to the fact table (|keys|×|buckets| rows),
so every scoring join broadcast-hashes; the meta/cum transforms are windows
over the histogram itself, not the data.
"""
from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scores import finish_scores, tag_label

#: cap for -log(p) when p == 0, matching the reference's 20.0
NEG_LOG_CAP = 20.0


def bucket_col(col: str, width: float | None) -> F.Column:
    """Numeric: floor(value/width); categorical (width None): raw value."""
    if width is None:
        return F.col(col).cast("string")
    return F.floor(F.col(col) / F.lit(float(width))).cast("long")


def attr_histogram(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    widths: Sequence[float],
) -> DataFrame:
    """Per-(keys, attr) equi-width histogram: (keys..., attr, bucket, cnt, prob)."""
    parts = []
    for v, w in zip(values, widths):
        parts.append(
            df.select(
                *keys,
                F.lit(v).alias("attr"),
                bucket_col(v, w).alias("bucket"),
            )
        )
    long = parts[0]
    for p in parts[1:]:
        long = long.unionByName(p)
    cnt = long.groupBy(*keys, "attr", "bucket").agg(F.count("*").alias("cnt"))
    wk = Window.partitionBy(*keys, "attr")
    return cnt.withColumn("prob", F.col("cnt") / F.sum("cnt").over(wk))


def multivariate_histogram(
    df: DataFrame,
    keys: Sequence[str],
    spec: Sequence[tuple[str, float | None]],
    member_id: str | None = None,
) -> DataFrame:
    """Keyed multivariate histogram; bucket = ':'-joined per-field buckets.

    ``member_id``: the MR MultiVariateDistribution id-list output mode
    (/root/reference/src/main/java/org/beymani/dist/MultiVariateDistribution
    .java:38-120) — adds ``member_ids``, the bucket's record ids as one
    sorted comma-joined string (sorted for run determinism; a string, like
    the reference's delimited text line, so engines format it identically).
    Scale note: a bucket's id list is proportional to its count — use only
    on bounded-cardinality specs, the count/rel_freq mode is the 100 TB
    path."""
    bucket = F.concat_ws(
        ":", *[bucket_col(c, w).cast("string") for c, w in spec]
    ).alias("bucket")
    aggs = [F.count("*").alias("cnt")]
    cols = [*keys, bucket]
    if member_id is not None:
        cols.append(F.col(member_id).cast("string").alias("_mid"))
        aggs.append(
            F.array_join(F.sort_array(F.collect_list("_mid")), ",").alias(
                "member_ids"
            )
        )
    cnt = df.select(*cols).groupBy(*keys, "bucket").agg(*aggs)
    wk = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    return cnt.withColumn("rel_freq", F.col("cnt") / F.sum("cnt").over(wk))


def multigram_multivariate(
    df: DataFrame,
    id_col: str,
    order_col: str,
    spec: Sequence[tuple[str, float | None]],
    seq_len: int = 3,
    keys: Sequence[str] = (),
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """N-gram distribution over MULTIVARIATE bucket symbols per id sequence
    ≙ MR MultigramMultiVariateDistribution (/root/reference/src/main/java/
    org/beymani/dist/MultigramMultiVariateDistribution.java:129-199): each
    row bucketizes to one composite symbol (the multivariate_histogram
    spec convention — raw categorical, floor(value/width) numeric; the
    reference's Java int division differs only for negative values), a
    sliding window of ``seq_len`` consecutive symbols per ``id_col``
    sequence emits one gram, and grams are counted per optional partition
    ``keys`` (the reference's partition field, :158-161/:188-191) with
    relative frequency added per the repo's distribution convention.

    The reference relies on mapper file order within an id (:144-178);
    here the sequence is explicit — ordered by ``order_col`` (+
    ``order_cols`` tiebreakers, which must make the order total or the
    gram composition is nondeterministic).

    Scale: ONE shuffle to co-locate each id's sequence (the lag chain's
    window), then the gram count aggregates with map-side partials;
    output is |distinct grams| rows — bounded by the bucket-symbol
    alphabet ** seq_len, not by N. Dead code in the reference (no
    tutorial or properties file invokes it) — implemented for inventory
    completeness."""
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    sym = F.concat_ws(":", *[bucket_col(c, w).cast("string") for c, w in spec])
    w = Window.partitionBy(*keys, id_col).orderBy(order_col, *order_cols)
    lagged = df.withColumn("_sym", sym).select(
        *keys,
        *[
            F.lag("_sym", seq_len - 1 - k).over(w).alias(f"_s{k}")
            for k in range(seq_len - 1)
        ],
        F.col("_sym").alias(f"_s{seq_len - 1}"),
    )
    grams = lagged.filter(F.col("_s0").isNotNull()).select(
        *keys,
        F.concat_ws("|", *[f"_s{k}" for k in range(seq_len)]).alias("gram"),
    )
    cnt = grams.groupBy(*keys, "gram").agg(F.count("*").alias("cnt"))
    wk = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    return cnt.withColumn("rel_freq", F.col("cnt") / F.sum("cnt").over(wk))


def est_prob_score(
    df: DataFrame,
    hist: DataFrame,
    keys: Sequence[str],
    spec: Sequence[tuple[str, float | None]],
    threshold: float = 0.99,
) -> DataFrame:
    """K4: score = 1 - rel_freq of the record's multivariate bucket."""
    bucket = F.concat_ws(":", *[bucket_col(c, w).cast("string") for c, w in spec])
    joined = df.withColumn("bucket", bucket).join(
        F.broadcast(hist.select(*keys, "bucket", "rel_freq")),
        [*keys, "bucket"],
        "left",
    )
    out = joined.withColumn(
        "score", F.lit(1.0) - F.coalesce(F.col("rel_freq"), F.lit(0.0))
    )
    return out.withColumn("label", tag_label(F.col("score"), threshold)).drop(
        "rel_freq"
    )


def est_attr_prob_score(
    df: DataFrame,
    hist: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    widths: Sequence[float],
    strategy: str = "inverse",
    weights: Sequence[float] | None = None,
    agg_strategy: str = "average",
    threshold: float = 0.99,
) -> DataFrame:
    """K5: per-attr score = 1 - p̂(x) ('inverse') or -ln p̂(x) ('negLog')."""
    return _scored_from_model_col(
        df, hist, keys, values, widths, "prob", _prob_score(strategy), weights,
        agg_strategy, threshold,
    )


def with_meta_prob(hist: DataFrame, keys: Sequence[str]) -> DataFrame:
    """K6 model transform: meta_prob(bucket) = Σ prob over buckets with
    prob <= prob(bucket) within (keys, attr) — RANGE window includes ties."""
    w = (
        Window.partitionBy(*keys, "attr")
        .orderBy("prob")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    return hist.withColumn("meta_prob", F.sum("prob").over(w))


def with_cum_prob(hist: DataFrame, keys: Sequence[str]) -> DataFrame:
    """K7 model transform: cum_prob(bucket) = Σ prob over buckets <= bucket
    (inclusive) within (keys, attr)."""
    w = (
        Window.partitionBy(*keys, "attr")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return hist.withColumn("cum_prob", F.sum("prob").over(w))


def _prob_score(strategy: str) -> Callable[[Column], Column]:
    """K5/K6 per-attribute score of a bucket's model probability (NULL for a
    bucket the model never saw, read as 0): 1 - p ('inverse') or -ln p
    ('negLog', NEG_LOG_CAP at p = 0)."""
    if strategy == "inverse":
        return lambda m: F.lit(1.0) - F.coalesce(m, F.lit(0.0))
    if strategy == "negLog":
        return lambda m: F.when(F.coalesce(m, F.lit(0.0)) > 0, -F.log(m)).otherwise(
            F.lit(NEG_LOG_CAP)
        )
    raise ValueError(f"unknown strategy: {strategy}")


def _scored_from_model_col(
    df: DataFrame,
    model: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    widths: Sequence[float],
    col: str,
    score_of: Callable[[Column], Column],
    weights: Sequence[float] | None,
    agg_strategy: str,
    threshold: float,
) -> DataFrame:
    out = df
    per_attr = []
    for v, w in zip(values, widths):
        sub = model.filter(F.col("attr") == v).select(
            *keys, F.col("bucket").alias(f"_b_{v}"), F.col(col).alias(f"_m_{v}")
        )
        out = out.withColumn(f"_b_{v}", bucket_col(v, w)).join(
            F.broadcast(sub), [*keys, f"_b_{v}"], "left"
        )
        per_attr.append(score_of(F.col(f"_m_{v}")))
    drop = [*[f"_b_{v}" for v in values], *[f"_m_{v}" for v in values]]
    return finish_scores(out, per_attr, weights, agg_strategy, threshold, 0.0, drop)


def est_meta_prob_score(
    df: DataFrame,
    hist: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    widths: Sequence[float],
    strategy: str = "inverse",
    weights: Sequence[float] | None = None,
    agg_strategy: str = "average",
    threshold: float = 0.99,
) -> DataFrame:
    """K6: rarity of the bucket's own likelihood."""
    return _scored_from_model_col(
        df, with_meta_prob(hist, keys), keys, values, widths, "meta_prob",
        _prob_score(strategy), weights, agg_strategy, threshold,
    )


def est_cum_prob_score(
    df: DataFrame,
    hist: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    widths: Sequence[float],
    weights: Sequence[float] | None = None,
    agg_strategy: str = "average",
    threshold: float = 0.95,
) -> DataFrame:
    """K7: tail mass — F(x) if F > 0.5 else 1 - F(x)."""
    model = with_cum_prob(hist, keys)

    def score_of(m):
        return F.when(m < 0.5, F.lit(1.0) - m).otherwise(m)

    return _scored_from_model_col(
        df, model, keys, values, widths, "cum_prob", score_of, weights, agg_strategy, threshold
    )


def entropy_increase_score(
    df: DataFrame,
    hist: DataFrame,
    keys: Sequence[str],
    value: str,
    width: float,
    threshold: float = 0.01,
) -> DataFrame:
    """K11 EntropyIncreaseBasedPredictor (/root/reference/src/main/java/org/
    beymani/predictor/EntropyIncreaseBasedPredictor.java:44-80), batch form:
    score = relative entropy increase of the keyed distribution if the
    record's bucket gained one more member.

    With N = Σ counts, S = Σ cnt·ln(cnt): H = ln N − S/N and adding one
    record to bucket b gives H'(b) = ln(N+1) − (S − cnt_b·ln cnt_b +
    (cnt_b+1)·ln(cnt_b+1))/(N+1); score = (H' − H)/H. Unseen bucket:
    cnt_b = 0. Pure aggregates + a broadcast bucket join."""
    attr_hist = hist.filter(F.col("attr") == value)
    agg = attr_hist.groupBy(*keys).agg(
        F.sum("cnt").alias("_N"),
        F.sum(F.col("cnt") * F.log("cnt")).alias("_S"),
    )
    buckets = attr_hist.select(
        *keys, "bucket", F.col("cnt").alias("_cnt_b")
    )
    out = (
        df.withColumn("bucket", bucket_col(value, width))
        .join(F.broadcast(buckets), [*keys, "bucket"], "left")
        .join(F.broadcast(agg), list(keys), "left")
        .withColumn("_cnt_b", F.coalesce(F.col("_cnt_b"), F.lit(0)))
    )
    n, s, cb = F.col("_N"), F.col("_S"), F.col("_cnt_b")
    h = F.log(n) - s / n
    s_new = s - F.when(cb > 0, cb * F.log(cb)).otherwise(F.lit(0.0)) + (cb + 1) * F.log(
        cb + 1
    )
    h_new = F.log(n + 1) - s_new / (n + 1)
    score = F.when(n.isNotNull() & (h > 0), (h_new - h) / h)
    out = out.withColumn("score", score).withColumn(
        "label", tag_label(F.col("score"), threshold)
    )
    return out.drop("_N", "_S", "_cnt_b")


def sort_by_count(
    hist: DataFrame, keys: Sequence[str], ascending: bool = False, limit: int | None = None
) -> DataFrame:
    """M2: rank buckets by member count (top-common desc / top-rare asc).

    Emits a rank column (ties broken by bucket for determinism); ``limit``
    keeps the top-N per key."""
    order = [F.col("cnt").asc() if ascending else F.col("cnt").desc(), F.col("bucket").asc()]
    w = Window.partitionBy(*keys, "attr").orderBy(*order) if "attr" in hist.columns else (
        Window.partitionBy(*keys).orderBy(*order)
    )
    out = hist.withColumn("rank", F.row_number().over(w))
    if limit is not None:
        out = out.filter(F.col("rank") <= limit)
    return out


def entropy_sorted(
    hist: DataFrame, keys: Sequence[str], limit: int | None = None
) -> DataFrame:
    """M3: entropy contribution -p*ln(p) per bucket, ranked descending."""
    prob = F.col("prob") if "prob" in hist.columns else F.col("rel_freq")
    out = hist.withColumn("entropy", -prob * F.log(prob))
    w_cols = [*keys, "attr"] if "attr" in hist.columns else list(keys)
    w = Window.partitionBy(*w_cols).orderBy(F.col("entropy").desc(), F.col("bucket").asc())
    out = out.withColumn("rank", F.row_number().over(w))
    if limit is not None:
        out = out.filter(F.col("rank") <= limit)
    return out
