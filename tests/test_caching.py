"""Caller-owned cache lifetime: pin/release on lazily-returned operators."""
from __future__ import annotations

from beymani_spark.functions import caching
from beymani_spark.operators import dedup, text
from beymani_spark.sources import load_table


def _docs(spark):
    return load_table(spark, "/root/testdata/sf0.001", "documents")


def test_release_unpersists_minhash_shingle_cache(spark):
    pairs = dedup.minhash_lsh_pairs(_docs(spark), "doc_id")
    pairs.count()
    pinned = caching.pinned(pairs)
    assert pinned, "minhash_lsh_pairs should pin its shingle cache"
    assert all(f.storageLevel.useMemory for f in pinned)
    caching.release(pairs)
    assert all(not f.storageLevel.useMemory for f in pinned)
    assert caching.pinned(pairs) == []
    # idempotent
    caching.release(pairs)


def test_bigram_and_simhash_and_jaccard_pin_their_caches(spark):
    docs = _docs(spark)
    for result in (
        text.bigram_logprob(docs),
        dedup.simhash_dup_pairs(docs, "doc_id"),
        dedup.jaccard_pairs(docs, "doc_id"),
    ):
        result.count()
        pinned = caching.pinned(result)
        assert pinned
        caching.release(result)
        assert all(not f.storageLevel.useMemory for f in pinned)
        assert caching.pinned(result) == []


def test_back_to_back_pipeline_ops_no_storage_leak(spark):
    """Adoption audit (round-4): two pinned operators run back-to-back, each
    released after its final action, must return the session's persistent-RDD
    census to baseline — the contract a long-running pipeline (no bench-style
    clearCache between steps) depends on."""
    spark.catalog.clearCache()

    def cache_empty() -> bool:
        # the Catalyst CacheManager is the authoritative census for SQL
        # caches (sc.getPersistentRDDs does not track InMemoryRelations)
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    assert cache_empty()
    docs = _docs(spark)

    # every caller of the banded candidate-pair engine (banding.banded_pairs)
    from beymani_spark.operators import knn, multimodal, similarity

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    media = docs.select(
        docs["doc_id"].alias("media_id"), docs["text"].cast("binary").alias("payload")
    )
    engine_callers = {
        "minhash": lambda: dedup.minhash_lsh_pairs(docs, "doc_id"),
        "containment": lambda: dedup.containment_pairs(docs, "doc_id"),
        "simhash": lambda: dedup.simhash_dup_pairs(docs, "doc_id"),
        "simhash_auto": lambda: dedup.simhash_dup_pairs_auto(docs, "doc_id"),
        "phash": lambda: multimodal.phash_dup_pairs(multimodal.phash64(media)),
        "video": lambda: multimodal.video_phash_dup_pairs(
            multimodal.video_phash(media, n_frames=4)
        ),
        "cosine_lsh": lambda: similarity.cosine_dup_pairs_lsh(
            emb, "vec_id", "embedding", threshold=0.4
        ),
        "lsh_pair_distances": lambda: knn.lsh_pair_distances(
            emb, "vec_id", "embedding", n_planes="auto"
        ),
    }
    # every caller of the distributed prefix sum (operators/prefix.py)
    from beymani_spark.operators import packing, profile
    from pyspark.sql import functions as F

    q = docs.select("doc_id", "lang", F.col("n_chars").cast("double").alias("q"))
    a, b = q.filter(F.col("doc_id") % 2 == 0), q.filter(F.col("doc_id") % 2 == 1)
    prefix_callers = {
        "ks_two_sample": lambda: profile.ks_two_sample(a, b, "q"),
        "ks_two_sample_keyed": lambda: profile.ks_two_sample(a, b, "q", keys=["lang"]),
        "numeric_profile": lambda: profile.numeric_profile(q, ["q", "doc_id"]),
        "numeric_profile_drift": lambda: profile.numeric_profile_drift(a, b, ["q"]),
        "pack_sequences": lambda: packing.pack_sequences(docs, "doc_id"),
        "shuffle_plan": lambda: packing.shuffle_plan(docs, "doc_id"),
        "curriculum_plan": lambda: packing.curriculum_plan(docs, "doc_id", "n_chars"),
    }
    for name, build in {**engine_callers, **prefix_callers}.items():
        out = build()
        out.count()
        assert not cache_empty(), f"{name} cache should be live mid-op"
        caching.release(out, blocking=True)
        assert cache_empty(), f"{name} release leaked a cache"

    lp = text.bigram_logprob(docs)
    lp.count()
    assert not cache_empty(), "bigram cache should be live mid-op"
    caching.release(lp, blocking=True)
    assert cache_empty(), "bigram release leaked its exploded-gram cache"


def test_build_corpus_mixed_pins_and_releases_corpus_cache(spark):
    """build_corpus_mixed persists the built corpus (two consumers: stratum
    counts + fact pass) and hands lifetime to the caller per the repo-wide
    pin/release contract."""
    from beymani_spark.operators import pipeline

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    docs = _docs(spark)
    targets = {"en": 0.4, "es": 0.3, "de": 0.2, "fr": 0.1}
    mixed = pipeline.build_corpus_mixed(docs, targets, quality_min=0.6, seed=42)
    mixed.count()
    assert not cm.isEmpty(), "corpus cache should be live mid-op"
    pinned = caching.pinned(mixed)
    assert pinned, "build_corpus_mixed should pin its corpus cache"
    caching.release(mixed, blocking=True)
    assert cm.isEmpty(), "release leaked the corpus cache"


def test_stats_and_quartiles_matches_separate_builders(spark):
    """The fused model pass (profile.stats_and_quartiles, the
    anomaly_score_fuse one-scan optimization) must emit frames
    value-identical to the two separate builders, pin its combined cache,
    and release cleanly."""
    from beymani_spark.operators import profile, zscore

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    keys, vals = ["event_type"], ["value"]
    fused_stats, fused_q, combined = profile.stats_and_quartiles(ev, keys, vals)
    sep_stats = profile.numerical_stats(ev, keys, vals)
    sep_q = zscore.quartiles(ev, keys, vals)
    for fused, sep in ((fused_stats, sep_stats), (fused_q, sep_q)):
        assert fused.columns == sep.columns
        a = sorted(map(tuple, fused.collect()))
        b = sorted(map(tuple, sep.collect()))
        assert a == b
    assert combined.storageLevel.useMemory
    combined.unpersist(blocking=True)
    assert not combined.storageLevel.useMemory


def test_threshold_learner_and_outlier_cluster_pin_their_caches(spark):
    """The r10 model-frame persists: threshold_learner's count frame and
    outlier_cluster's clustered-outlier frame feed two plan branches each;
    both operators must pin the cache to the result and release cleanly."""
    from pyspark.sql import functions as F

    from beymani_spark.operators import post, profile, rollup, zscore

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=2.0)
    learner = post.threshold_learner(
        scored.filter(F.col("score").isNotNull()).withColumn(
            "cls", F.when(F.col("value") > 50, 1).otherwise(0)
        ),
        ["event_type"],
        "cls",
        [0.5, 1.0, 2.0],
    )
    clusters = rollup.outlier_cluster(
        scored, ["event_type"], "ts", max_interval_sec=86400, id_cols=["event_id"]
    )
    for result, what in ((learner, "threshold_learner"), (clusters, "outlier_cluster")):
        result.count()
        pinned = caching.pinned(result)
        assert pinned, f"{what} should pin its branch-shared cache"
        assert all(f.storageLevel.useMemory for f in pinned)
        caching.release(result, blocking=True)
        assert all(not f.storageLevel.useMemory for f in pinned)


def test_bm25_topk_pins_tf_cache_and_hybrid_propagates(spark):
    """bm25_topk persists its (id, term) count frame (df(t) + scoring join
    both consume it); hybrid_rrf_topk must carry that pin through its
    select so callers can still release."""
    from beymani_spark.operators import similarity, text

    docs = _docs(spark)
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    lex = text.bm25_topk(docs, ["the", "and"], k=5)
    lex.count()
    assert caching.pinned(lex), "bm25_topk should pin its tf cache"
    caching.release(lex, blocking=True)

    hyb = similarity.hybrid_rrf_topk(docs, emb, ["the", "and"], 0, k=5)
    hyb.count()
    assert caching.pinned(hyb), "hybrid_rrf_topk should propagate bm25's pin"
    caching.release(hyb, blocking=True)
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "release leaked a cache"
