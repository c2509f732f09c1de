"""Giant-key stress for the applyInPandas kernel family (SCALE.md hazard #1).

The one real memory bound in the repo is O(largest key group) inside a
single Python worker for the sequential kernels (the reference has the
same hazard: its per-key state lives in one bolt/reducer, e.g.
seq/MarkovChainPredictor.scala accumulating a key's sequence). These
tests pin the behavior with one deliberately dominant key (10x the median
group): every kernel must complete and produce per-key-complete output,
and the subsequence kernel's chunked path (``parallelism``) must match
the serial result exactly — that chunking is the documented off-ramp when
a key outgrows one worker.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beymani_spark.operators import sequence

BIG_N = 20_000
SMALL_N = 2_000


@pytest.fixture(scope="module")
def skewed(spark):
    """5 keys; 'big' has 10x the rows of each of the 4 'small' keys, with a
    deterministic value series (sine + hash jitter) and strictly increasing
    timestamps per key."""
    base = spark.range(BIG_N).select(
        F.lit("big").alias("k"),
        F.col("id").cast("timestamp").alias("ts"),
        (
            F.sin(F.col("id") / 50.0) * 10.0
            + (F.pmod(F.xxhash64("id"), F.lit(1000)) / 100.0)
        ).alias("v"),
    )
    smalls = [
        spark.range(SMALL_N).select(
            F.lit(f"s{i}").alias("k"),
            F.col("id").cast("timestamp").alias("ts"),
            (
                F.sin(F.col("id") / 30.0) * 5.0
                + (F.pmod(F.xxhash64("id", F.lit(i)), F.lit(1000)) / 100.0)
            ).alias("v"),
        )
        for i in range(4)
    ]
    out = base
    for s in smalls:
        out = out.unionByName(s)
    # scatter the giant key across many input partitions: the group
    # exchange must reassemble it into ONE worker regardless
    return out.repartition(32).persist()


def _counts(df, key="k"):
    return {r[key]: r["n"] for r in df.groupBy(key).agg(F.count("*").alias("n")).collect()}


def test_spectral_residual_giant_key_completes(spark, skewed):
    out = sequence.spectral_residual(skewed, ["k"], "ts", "v")
    c = _counts(out)
    assert c["big"] == BIG_N and c["s0"] == SMALL_N
    assert out.filter(F.col("sr_score").isNull()).count() == 0


def test_one_step_ahead_giant_key_completes(spark, skewed):
    out = sequence.one_step_ahead(skewed, ["k"], "ts", "v", window=8)
    c = _counts(out)
    assert c["big"] == BIG_N and c["s3"] == SMALL_N


def test_change_point_giant_key_completes(spark, skewed):
    out = sequence.change_point(skewed, ["k"], "ts", "v", window=64, step=8)
    c = _counts(out)
    # one emission per step offset: (n - window) // step + 1
    assert c["big"] == (BIG_N - 64) // 8 + 1
    assert c["s1"] == (SMALL_N - 64) // 8 + 1


def test_quantile_engines_agree_on_giant_key(spark, skewed):
    """Both exact quantile engines on the 20k-row key. The keyed models'
    percentile helper (``zscore.quartiles``: one value map per (group,
    value)) gives numpy's linear quartiles on every key, and the numeric
    card's prefix CDF (no per-group value map) gives the same numbers,
    bit for bit, on the big key alone."""
    import numpy as np

    from beymani_spark.functions import caching
    from beymani_spark.operators import profile, zscore

    vals: dict[str, list[float]] = {}
    for r in skewed.select("k", "v").collect():
        vals.setdefault(r.k, []).append(r.v)
    want = {k: np.quantile(v, [0.25, 0.75], method="linear") for k, v in vals.items()}
    got = {r.k: (r.q1, r.q3) for r in zscore.quartiles(skewed, ["k"], ["v"]).collect()}
    assert got.keys() == want.keys() and len(vals["big"]) == BIG_N
    for k, q in want.items():
        assert got[k] == pytest.approx(tuple(q), rel=1e-12, abs=1e-12), k
    big = skewed.filter(F.col("k") == "big")
    with caching.scope():
        (card,) = profile.numeric_profile(big, ["v"], quantiles=(0.25, 0.75)).collect()
    assert (card.q25, card.q75) == got["big"]


def test_subsequence_chunked_equals_serial_on_giant_key(spark):
    """The parallelism off-ramp must be score-identical to the serial sweep
    (it re-partitions the O(n^2) profile by diagonals, not an approximation).
    Smaller n here: the kernel is quadratic per key."""
    df = spark.range(1200).select(
        F.lit("big").alias("k"),
        F.col("id").cast("timestamp").alias("ts"),
        (F.sin(F.col("id") / 20.0) + (F.pmod(F.xxhash64("id"), F.lit(100)) / 50.0)).alias("v"),
    )
    serial = sequence.subsequence_distance(df, ["k"], "ts", "v", window=16)
    chunked = sequence.subsequence_distance(df, ["k"], "ts", "v", window=16, parallelism=8)
    a = {r["offset"]: r["discord_score"] for r in serial.collect()}
    b = {r["offset"]: r["discord_score"] for r in chunked.collect()}
    assert a.keys() == b.keys() and len(a) == 1200 - 16 + 1
    for off, d in a.items():
        assert abs(d - b[off]) < 1e-9, (off, d, b[off])


def test_chunk_for_training_giant_doc_completes(spark):
    """One pathological 200k-token doc among normal docs: the tokenize-once
    explode must stream its ~n/stride windows through the generator without
    collapsing onto one struct blob, and window arithmetic must stay exact
    at large offsets (SCALE.md training-chunking bound)."""
    from beymani_spark.operators import packing

    n_giant = 200_000
    giant = spark.range(1).select(
        F.lit(0).cast("long").alias("doc_id"),
        F.array_join(
            F.transform(F.sequence(F.lit(0), F.lit(n_giant - 1)),
                        lambda i: F.concat(F.lit("t"), i.cast("string"))),
            " ",
        ).alias("text"),
    )
    normal = spark.range(1, 33).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e").alias("text")
    )
    out = packing.chunk_for_training(
        giant.unionByName(normal), "doc_id", max_tokens=512, stride=256
    )
    per_doc = {r["doc_id"]: r["n"] for r in
               out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    import math
    assert per_doc[0] == 1 + math.ceil((n_giant - 512) / 256)
    assert all(per_doc[i] == 1 for i in range(1, 33))
    # the ragged tail still never starts at-or-past the end
    last = (out.filter("doc_id = 0").orderBy(F.desc("chunk_id")).limit(1).collect())[0]
    assert 0 < last["chunk_tokens"] <= 512


def test_dedup_clusters_giant_chain_converges_logarithmically(spark):
    """SCALE.md dedup hazard: one 10^5-member near-dup cluster shaped as a
    worst-case CHAIN (diameter n-1). Plain min-label propagation needs n
    rounds; the pointer-jumping compression must collapse it in O(log n)
    — and canonicalize every member to the chain's minimum id. Runs the
    DISTRIBUTED path (local_threshold=0) with max_iter high enough that
    only the log bound, not the cap, can end the loop."""
    from beymani_spark.operators import dedup

    n = 100_000
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    stats: dict = {}
    out = dedup.dedup_clusters(
        docs, "doc_id", pairs, local_threshold=0, max_iter=60, stats=stats
    )
    agg = out.agg(
        F.count("*").alias("n"),
        F.sum((F.col("cluster_rep") == 0).cast("long")).alias("rep0"),
        F.min("cluster_size").alias("min_sz"),
        F.max("cluster_size").alias("max_sz"),
    ).collect()[0]
    assert stats["mode"] == "distributed" and stats["n_pairs"] == n - 1
    assert (agg.n, agg.rep0, agg.min_sz, agg.max_sz) == (n, n, n, n)
    # doubling compression: ceil(log2(n)) data rounds + 1 convergence-detect
    import math

    assert stats["rounds"] <= math.ceil(math.log2(n)) + 2, stats


def test_behavior_windows_giant_user_complete(spark):
    """A bot user with 10x the median history: the behavior family's
    user-keyed windows (attribution, gaps) must stay per-key-complete —
    one window sort per user, spill-not-OOM (SCALE.md behavior row)."""
    import datetime as dt

    from beymani_spark.operators.behavior import event_gaps, last_touch_attribution

    t0 = dt.datetime(2025, 1, 1)
    big = spark.range(BIG_N).select(
        F.col("id").alias("event_id"),
        F.lit(7).alias("user_id"),
        (F.lit(t0) + F.make_interval(mins=F.col("id").cast("int"))).alias("ts"),
        F.when(F.col("id") % 100 == 99, F.lit("purchase"))
        .otherwise(F.lit("view"))
        .alias("event_type"),
        F.lit(1.0).alias("value"),
    )
    small = spark.range(SMALL_N).select(
        (F.col("id") + BIG_N).alias("event_id"),
        (F.col("id") % 4).alias("user_id"),
        (F.lit(t0) + F.make_interval(hours=F.col("id").cast("int"))).alias("ts"),
        F.lit("purchase").alias("event_type"),
        F.lit(2.0).alias("value"),
    )
    ev = big.unionByName(small).repartition(32)

    att = {r.touch_type: r.n_conversions for r in last_touch_attribution(ev).collect()}
    # big user: every 100th event is a purchase preceded by views -> 200
    # conversions credited to 'view'; small users' purchases follow
    # purchases (touch 'none' for each user's first, 'none' via coalesce
    # only when no prior non-purchase event exists -> all SMALL_N land on
    # 'none' since their histories are purchase-only)
    assert att["view"] == BIG_N // 100
    assert att["none"] == SMALL_N

    # gaps: big user events are 1 min apart (no 24h gap); small users are
    # 1h apart -> no gaps either; then verify a planted 30h gap surfaces
    assert event_gaps(ev, min_gap_hours=24.0).count() == 0
    planted = ev.unionByName(
        spark.createDataFrame(
            [(99_999, 7, t0 + dt.timedelta(days=400), "view", 0.0)],
            "event_id LONG, user_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE",
        )
    )
    gaps = event_gaps(planted, min_gap_hours=24.0).collect()
    assert len(gaps) == 1 and gaps[0].user_id == 7


def test_hot_digest_dedup_counts_partial_aggregate(spark):
    """A degenerate hot digest (one text shared by most of the corpus —
    empty/boilerplate docs at 100 TB) must flow through PARTIAL
    aggregation + a skew-splittable join, never a count window that lands
    the whole duplicate group in one window task (r11: exact_duplicates
    and dedup_clusters' cluster_size both moved off the window). Pins
    both the values and the plan shape."""
    from beymani_spark.operators import dedup

    n_hot, n_rest = 50_000, 500
    hot = spark.range(n_hot).select(
        F.col("id").alias("doc_id"), F.lit("boilerplate boilerplate").alias("text")
    )
    rest = spark.range(n_rest).select(
        (F.col("id") + n_hot).alias("doc_id"),
        F.concat(F.lit("unique doc "), F.col("id").cast("string")).alias("text"),
    )
    nulls = spark.range(3).select(
        (F.col("id") + n_hot + n_rest).alias("doc_id"),
        F.lit(None).cast("string").alias("text"),
    )
    df = hot.unionByName(rest).unionByName(nulls).repartition(32)

    out = dedup.exact_duplicates(df, "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "hot-digest count must not be a window"
    rows = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert len(rows) == n_hot + n_rest  # null-text rows drop, nothing else
    assert rows[0] == n_hot and rows[n_hot] == 1

    # cluster_size: one giant star cluster (everything pairs with doc 0)
    pairs = spark.range(1, 2_000).select(
        F.lit(0).alias("src"), F.col("id").alias("dst")
    )
    members = spark.range(2_500).select(F.col("id").alias("doc_id"))
    clusters = dedup.dedup_clusters(members, "doc_id", pairs)
    cplan = clusters._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in cplan, "cluster_size must not be a window"
    got = {r["doc_id"]: (r["cluster_rep"], r["cluster_size"]) for r in clusters.collect()}
    assert got[0] == (0, 2_000) and got[1999] == (0, 2_000)
    assert got[2_000] == (2_000, 1)  # singleton outside the pair graph
    assert len(got) == 2_500
