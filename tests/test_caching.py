"""Query-scoped cache lifetime: caching.scope() owns every operator cache."""
from __future__ import annotations

from beymani_spark.functions import caching
from beymani_spark.operators import dedup, text
from beymani_spark.sources import load_table


def _docs(spark):
    return load_table(spark, "/root/testdata/sf0.001", "documents")


def _cache_empty(spark) -> bool:
    # the Catalyst CacheManager is the authoritative census for SQL
    # caches (sc.getPersistentRDDs does not track InMemoryRelations)
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_release_unpersists_minhash_shingle_cache(spark):
    """Nested scopes: exiting the inner scope frees exactly the frames
    persisted inside it (minhash_lsh_pairs' shingle and sketch caches);
    the outer scope's frame stays cached until the outer scope exits."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc

    def rdd_ids() -> set:
        return set(jsc.getPersistentRDDs().keys())

    docs = _docs(spark)
    with caching.scope():
        outer = caching.persist(docs.select("doc_id"))
        outer.count()
        held = rdd_ids()
        with caching.scope():
            dedup.minhash_lsh_pairs(docs, "doc_id").count()
            assert rdd_ids() - held, "the shingle cache should be live mid-op"
        assert not rdd_ids() - held, "inner exit left an inner cache behind"
        assert outer.storageLevel.useMemory, "inner exit freed an outer frame"
    assert not outer.storageLevel.useMemory
    assert _cache_empty(spark)


def test_back_to_back_pipeline_ops_no_storage_leak(spark):
    """Adoption audit: operators run back-to-back, each inside its own
    scope, must return the session's cache census to empty after every
    scope exit — the contract a long-running pipeline (no bench-style
    clearCache between steps) depends on."""
    spark.catalog.clearCache()
    assert _cache_empty(spark)
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
    bigram = {"bigram_logprob": lambda: text.bigram_logprob(docs)}
    for name, build in {**engine_callers, **prefix_callers, **bigram}.items():
        _assert_scope_owns_cache(spark, name, build)


def _assert_scope_owns_cache(spark, what, build):
    """``build()``'s caches are live after an action inside the scope and
    gone after scope exit. The session must hold no cache on entry."""
    with caching.scope():
        build().count()
        assert not _cache_empty(spark), f"{what} should persist its cache"
    assert _cache_empty(spark), f"{what}: scope exit leaked a cache"


def test_bigram_and_simhash_and_jaccard_pin_their_caches(spark):
    spark.catalog.clearCache()
    docs = _docs(spark)
    _assert_scope_owns_cache(spark, "bigram_logprob", lambda: text.bigram_logprob(docs))
    _assert_scope_owns_cache(
        spark, "simhash_dup_pairs", lambda: dedup.simhash_dup_pairs(docs, "doc_id")
    )
    _assert_scope_owns_cache(
        spark, "jaccard_pairs", lambda: dedup.jaccard_pairs(docs, "doc_id")
    )


def test_build_corpus_mixed_pins_and_releases_corpus_cache(spark):
    """build_corpus_mixed persists the built corpus (two consumers: stratum
    counts + fact pass); the enclosing scope frees it."""
    from beymani_spark.operators import pipeline

    spark.catalog.clearCache()
    docs = _docs(spark)
    targets = {"en": 0.4, "es": 0.3, "de": 0.2, "fr": 0.1}
    _assert_scope_owns_cache(
        spark,
        "build_corpus_mixed",
        lambda: pipeline.build_corpus_mixed(docs, targets, quality_min=0.6, seed=42),
    )


def test_stats_and_quartiles_matches_separate_builders(spark):
    """The fused model pass (profile.stats_and_quartiles, the
    anomaly_score_fuse one-scan optimization) must emit frames
    value-identical to the two separate builders, and its combined cache
    must be freed by the scope."""
    from beymani_spark.operators import profile, zscore

    spark.catalog.clearCache()
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    keys, vals = ["event_type"], ["value"]
    with caching.scope():
        fused_stats, fused_q = profile.stats_and_quartiles(ev, keys, vals)
        sep_stats = profile.numerical_stats(ev, keys, vals)
        sep_q = zscore.quartiles(ev, keys, vals)
        for fused, sep in ((fused_stats, sep_stats), (fused_q, sep_q)):
            assert fused.columns == sep.columns
            a = sorted(map(tuple, fused.collect()))
            b = sorted(map(tuple, sep.collect()))
            assert a == b
        assert not _cache_empty(spark)
    assert _cache_empty(spark)


def test_threshold_learner_and_outlier_cluster_pin_their_caches(spark):
    """The r10 model-frame persists: threshold_learner's count frame and
    outlier_cluster's clustered-outlier frame feed two plan branches each;
    both must be cached while the scope is open and freed when it exits."""
    from pyspark.sql import functions as F

    from beymani_spark.operators import post, profile, rollup, zscore

    spark.catalog.clearCache()
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=2.0)
    labelled = scored.filter(F.col("score").isNotNull()).withColumn(
        "cls", F.when(F.col("value") > 50, 1).otherwise(0)
    )
    _assert_scope_owns_cache(
        spark,
        "threshold_learner",
        lambda: post.threshold_learner(labelled, ["event_type"], "cls", [0.5, 1.0, 2.0]),
    )
    _assert_scope_owns_cache(
        spark,
        "outlier_cluster",
        lambda: rollup.outlier_cluster(
            scored, ["event_type"], "ts", max_interval_sec=86400, id_cols=["event_id"]
        ),
    )


def test_bm25_topk_pins_tf_cache_and_hybrid_propagates(spark):
    """bm25_topk persists its (id, term) count frame (df(t) + scoring join
    both consume it); hybrid_rrf_topk selects over bm25_topk's result, and
    the scope still frees that cache."""
    from beymani_spark.operators import similarity

    spark.catalog.clearCache()
    docs = _docs(spark)
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    _assert_scope_owns_cache(
        spark, "bm25_topk", lambda: text.bm25_topk(docs, ["the", "and"], k=5)
    )
    _assert_scope_owns_cache(
        spark,
        "hybrid_rrf_topk",
        lambda: similarity.hybrid_rrf_topk(docs, emb, ["the", "and"], 0, k=5),
    )
