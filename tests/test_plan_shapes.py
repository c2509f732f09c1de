"""Physical-plan regression tests for the SCALE.md posture claims.

These assert the plan *shape*, not timings: stats scoring must broadcast the
model and leave the fact table exchange-free, parquet scans must receive
pushed filters and pruned schemas, and model builders must partial-aggregate.
A regression here is a 100 TB problem long before it is a benchmark problem.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from beymani_spark.operators import profile, zscore
from beymani_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_stats_scoring_broadcasts_model_no_fact_exchange(spark):
    ev = load_table(spark, SF, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
    scored.count()
    plan = _plan(scored)
    assert "BroadcastHashJoin" in plan, "stats model must broadcast-join"
    # the only exchanges allowed are on the (tiny) model side: the stats
    # aggregation shuffle and the broadcast itself — never a sort-merge
    # repartition of the fact table
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan


def test_model_builder_partial_aggregates(spark):
    ev = load_table(spark, SF, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    plan = _plan(stats)
    # partial (map-side) + final aggregation: shuffle volume is |keys|
    assert plan.count("HashAggregate") >= 2


def test_filter_pushdown_reaches_parquet_scan(spark):
    ev = load_table(spark, SF, "events").filter(F.col("event_type") == "click")
    plan = ev._jdf.queryExecution().toString()
    assert "PushedFilters: [" in plan
    assert "event_type" in plan.split("PushedFilters:")[1][:200], (
        "filter on event_type must reach the parquet scan"
    )


def test_column_pruning_reaches_parquet_scan(spark):
    ev = load_table(spark, SF, "events").select("event_id", "value")
    plan = ev._jdf.queryExecution().toString()
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "event_id" in read_schema and "value" in read_schema
    assert "props" not in read_schema, "unused columns must be pruned from the scan"


def test_pair_builders_never_collect_to_driver(spark, monkeypatch):
    """The proximity/embedding family must be fully distributed: building AND
    executing the pair-based queries may never pull a table to the driver
    (round-1 verdict: toPandas() of the vector table = guaranteed OOM at
    100 TB). toPandas/collect are patched to raise; only the final result
    materialization is allowed."""
    import pyspark.sql.classic.dataframe as cdf

    from beymani_spark.plans import QUERIES

    real_to_pandas = cdf.DataFrame.toPandas

    def boom(self, *a, **kw):
        raise AssertionError("driver-side collect inside a pair builder")

    for name in ["average_distance", "lof", "relative_density", "cosine_dup_pairs"]:
        monkeypatch.setattr(cdf.DataFrame, "toPandas", boom)
        monkeypatch.setattr(cdf.DataFrame, "collect", boom)
        try:
            df = QUERIES[name].builder(spark, SF)
            assert df.count() >= 0  # forces full execution of the plan
        finally:
            monkeypatch.setattr(cdf.DataFrame, "toPandas", real_to_pandas)
            monkeypatch.delattr(cdf.DataFrame, "collect", raising=False)


def test_blocked_pair_builder_is_cogrouped(spark):
    """Plan shape: pair distances run as FlatMapCoGroupsInPandas blocks (the
    bounded-memory engine), not via a broadcast of a driver-built matrix."""
    from beymani_spark.operators import knn
    from beymani_spark.sources import load_table as lt

    emb = lt(spark, SF, "embeddings")
    pairs = knn.pair_distances_np(emb, "vec_id", "embedding", k=3, tiles=2)
    assert "FlatMapCoGroupsInPandas" in _plan(pairs)


def test_kmeans_pca_fit_is_presampled_score_is_broadcast(spark):
    """The k-means/PCA *fit* exchange must be bounded by the hash presample
    (filter before the group shuffle), and scoring must broadcast the tiny
    model — never sort-merge-join or re-shuffle the fact table."""
    from beymani_spark.operators import multivariate as mv
    from beymani_spark.sources import load_table as lt

    li = lt(spark, SF, "lineitem")
    keys, vals = ["l_returnflag"], ["l_quantity", "l_extendedprice"]

    model = mv.pca_model(li, keys, vals, n_components=1, presample=64)
    scored = mv.pca_score(li, model, keys, vals)
    scored.count()
    plan = _plan(scored)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    km = mv.kmeans_model(li, keys, vals, n_clusters=2, presample=64)
    kscored = mv.kmeans_score(li, km, keys, vals)
    kscored.count()
    kplan = _plan(kscored)
    # r11: a small under-cap model inlines as codegen literals — the
    # scoring plan has NO model join and NO exchange at all (the fact
    # table is scanned once, scored scan-side)
    assert "SortMergeJoin" not in kplan
    assert "Exchange" not in kplan
    assert "Join" not in kplan


def test_autoencoder_score_is_broadcast_codegen(spark):
    """AE scoring must broadcast the tiny model and stay a pure column
    expression: no sort-merge join, no fact-table exchange, no Python
    evaluation in the scoring plan."""
    from beymani_spark.operators import multivariate as mv
    from beymani_spark.sources import load_table as lt

    li = lt(spark, SF, "lineitem")
    keys, vals = ["l_returnflag"], ["l_quantity", "l_extendedprice"]
    model = mv.autoencoder_fit(li, keys, vals, hidden=1, presample=64)
    scored = mv.autoencoder_score(li, model, keys, vals)
    scored.count()
    plan = _plan(scored)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # scoring side must not re-enter Python (the fit's FlatMapGroupsInPandas
    # lives under the broadcast subtree only)
    head = plan.split("BroadcastExchange")[0]
    assert "Python" not in head, "AE scoring must stay JVM-side"


def test_mahalanobis_d3_score_is_one_broadcast_join(spark):
    """d > 2 Mahalanobis scoring reads the inverse the fit wrote: one
    broadcast join of the model and a column expression, with no per-key
    Python pass in the scoring plan."""
    from beymani_spark.operators import multivariate as mv
    from beymani_spark.sources import load_table as lt

    li = lt(spark, SF, "lineitem")
    keys = ["l_returnflag"]
    vals = ["l_quantity", "l_extendedprice", "l_discount"]
    model = mv.mahalanobis_model(li, keys, vals)
    scored = mv.mahalanobis_score(li, model, keys, vals)
    scored.count()
    plan = _plan(scored)
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_change_point_checkpoint_filters_before_group_shuffle(spark):
    """Resume runs must drop pre-checkpoint rows BEFORE the applyInPandas
    group exchange: the checkpoint joins broadcast and the filter sits under
    the shuffle, so the exchange carries only the suffix."""
    from beymani_spark.operators import sequence
    from beymani_spark.sources import load_table as lt

    ev = lt(spark, SF, "events")
    cp = sequence.change_point_checkpoint(ev.filter("event_id < 500"), ["event_type"], "ts")
    out = sequence.change_point(
        ev, ["event_type"], "ts", "value", window=64, step=8, checkpoint=cp
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, "checkpoint must broadcast-join"
    assert "SortMergeJoin" not in plan
    # the exchange feeding the python group kernel must sit ABOVE the
    # checkpoint join+filter in the plan tree (i.e. filter first)
    exch_pos = plan.find("Exchange hashpartitioning(event_type")
    join_pos = plan.find("BroadcastHashJoin")
    assert exch_pos != -1 and join_pos != -1 and exch_pos < join_pos, (
        "group exchange must consume the checkpoint-filtered rows "
        "(plan prints top-down: exchange above join = filter below shuffle)"
    )


def test_ivf_assignment_has_no_vector_shuffle(spark):
    """IVF base-side cell assignment is a mapInPandas over the scan: the
    only exchanges in the whole plan are the final top-k window partition
    and the bounded quantizer-fit group — never a join shuffle of the
    vector table (cells join via broadcast-sized bucket hash)."""
    from beymani_spark.operators import similarity
    from beymani_spark.sources import load_table as lt

    emb = lt(spark, SF, "embeddings").select("vec_id", "embedding")
    out = similarity.ivf_topk(
        emb, emb.limit(5), "vec_id", "embedding", k=3, n_cells=4, nprobe=2
    )
    out.count()
    plan = _plan(out)
    # bounded query side broadcasts onto the assigned base; the cell join is
    # an equi-join on _cell, never a cartesian or a base-side sort-merge
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sampling_is_pure_scan_no_exchange(spark):
    """stratified_sample / deterministic_split are single-pass column
    expressions: zero exchanges, and the scan only reads the referenced
    columns. At 100 TB these must run at scan speed."""
    from beymani_spark.operators import sampling

    docs = load_table(spark, SF, "documents")
    sampled = sampling.stratified_sample(
        docs.select("doc_id", "lang"), "doc_id", "lang", {"en": 0.5}, seed=42
    )
    plan = _plan(sampled)
    assert "Exchange" not in plan, "sampling must not shuffle"
    split = sampling.deterministic_split(docs.select("doc_id"), "doc_id")
    assert "Exchange" not in _plan(split)


def test_contamination_broadcasts_bench_grams(spark):
    """The benchmark gram set is the small side — it must broadcast; the
    training-corpus gram stream must never be the build side of a shuffle
    join against it."""
    from beymani_spark.operators import text as t

    docs = load_table(spark, SF, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    out = t.contamination(docs, bench, "doc_id", "text", n=3)
    assert "BroadcastHashJoin" in _plan(out)


def test_minhash_explodes_shingles_once(spark):
    """minhash_lsh_pairs generates each document's shingles once, into one
    persisted row-wise sketch: no per-shingle rows exist anywhere, the
    band self-join and both verification join-backs read that one cache,
    and the whole operator stays within a job and stage bound (the
    exploded 32-partition shingle table took 16 jobs and 33 stages on the
    sf0.01 documents)."""
    from beymani_spark.functions import caching
    from beymani_spark.operators import dedup

    jsc = spark.sparkContext._jsc
    tracker = spark.sparkContext.statusTracker()
    docs = load_table(spark, SF, "documents")
    with caching.scope():
        before = set(jsc.getPersistentRDDs().keys())
        pairs = dedup.minhash_lsh_pairs(
            docs, "doc_id", num_hashes=16, bands=4, n=3, min_jaccard=0.5
        )
        spark.sparkContext.setJobGroup("minhash_bound", "minhash_bound")
        try:
            pairs.collect()
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        cached = set(jsc.getPersistentRDDs().keys()) - before
        plan = _plan(pairs)
    jobs = list(tracker.getJobIdsForGroup("minhash_bound"))
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
    assert len(cached) == 1, "one persisted sketch, nothing else cached"
    # both band-join sides and both verification sides scan the cache
    assert plan.count("InMemoryTableScan") >= 4
    assert "explode(array_distinct" not in plan, "no per-shingle rows"
    assert len(jobs) <= 9 and stages <= 10, (len(jobs), stages)


def test_incremental_minhash_reuses_both_shingle_caches(spark):
    """incremental_minhash reads one persisted sketch per side for its
    band signatures AND its candidate verification — no per-shingle rows,
    no cartesian; the batch ledger join stays an equi-join throughout."""
    from beymani_spark.functions import caching
    from beymani_spark.operators import dedup

    docs = load_table(spark, SF, "documents")
    with caching.scope():
        out = dedup.incremental_minhash(
            docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0"), "doc_id"
        )
        plan = _plan(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the batch sketch feeds: its band rows, the batch half of the other
    # side's band rows, and both verification sides; the corpus sketch
    # feeds its band rows and one verification side — every consumer
    # reads a cache, and no shingle is exploded into a row
    assert plan.count("InMemoryTableScan") >= 6, (
        "signature and verification paths must read the persisted sketches"
    )
    assert "explode(array_distinct" not in plan


def test_mix_to_targets_broadcasts_rates_no_fact_shuffle(spark):
    from beymani_spark.operators import sampling

    docs = load_table(spark, SF, "documents")
    out = sampling.mix_to_targets(
        docs, "doc_id", "lang", {"en": 0.5, "es": 0.5}, seed=7
    )
    out.count()
    plan = _plan(out)
    # the |strata|-row rates frame broadcasts onto the fact scan; the fact
    # table itself must never sort-merge or repartition
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_dedup_partial_aggregates_ownership(spark):
    from beymani_spark.operators import dedup

    docs = load_table(spark, SF, "documents")
    out = dedup.chunk_dedup(docs, "doc_id", "text", chunk_tokens=10)
    plan = _plan(out)
    # first-occurrence owner per chunk is a partial+final agg (map-side
    # combine absorbs hot boilerplate chunks), not a window sort over the
    # chunk partition
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan


def test_pii_ops_are_scan_side_expressions(spark):
    from beymani_spark.operators import pii

    docs = load_table(spark, SF, "documents")
    out = pii.pii_redact(pii.pii_counts(docs, "text"), "text", "redacted")
    plan = _plan(out)
    # pure map pass: no exchange of any kind, single codegen stage over scan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_build_single_fact_shuffle(spark):
    from beymani_spark.operators import pipeline

    docs = load_table(spark, SF, "documents")
    out = pipeline.build_corpus(docs, quality_min=0.6, seed=42)
    out.count()
    plan = _plan(out)
    # lang/quality/PII fuse scan-side; the only fact-table exchanges are
    # the dedup ownership hash-partitioning (producer + reuse on the join
    # probe side). Anything beyond that means a stage stopped fusing.
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 2, f"corpus_build grew extra shuffles:\n{plan}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chunk_dedup_shuffles_hash_keys_not_chunk_text(spark):
    from beymani_spark.operators import dedup

    docs = load_table(spark, SF, "documents")
    out = dedup.chunk_dedup(docs, "doc_id", "text", chunk_tokens=10)
    plan = _plan(out)
    # ownership agg + join back key on the two-seed xxhash64 composite:
    # every hashpartitioning exchange except the per-doc reassembly must
    # partition on the hash columns, never on the raw chunk string
    import re

    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert parts, plan
    for p in parts:
        assert "chunk#" not in p.replace("chunk_idx", ""), (
            f"chunk text used as a shuffle key: {p}"
        )
    assert "_ch1" in plan and "_ch2" in plan


def test_bigram_logprob_joins_on_gram_hash(spark):
    from beymani_spark.operators import text as text_ops
    from beymani_spark.functions import caching

    import re

    docs = load_table(spark, SF, "documents")
    with caching.scope():
        plan = _plan(text_ops.bigram_logprob(docs, "doc_id", "text"))
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert parts, plan
    # model aggs and scoring joins all key on xxhash64 columns; the raw
    # gram string must never be a shuffle key (it is not even retained
    # past the explode projection)
    for p in parts:
        assert "gram#" not in p, f"raw gram used as a shuffle key: {p}"
    assert "_gh" in plan and "_w1h" in plan


def test_corpus_build_mixed_computes_corpus_once(spark):
    """The mix stage consumes the built corpus in two plan branches (the
    stratum-count aggregate and the fact pass). build_corpus_mixed persists
    the corpus so the lang->quality->PII->dedup pipeline — the dominant
    cost — executes once and both branches read the cache; without the
    persist the whole pipeline ran twice (observed 2x warm time at sf0.1)."""
    from beymani_spark.functions import caching
    from beymani_spark.operators import pipeline

    spark.catalog.clearCache()
    docs = load_table(spark, SF, "documents")
    targets = {"en": 0.4, "es": 0.3, "de": 0.2, "fr": 0.1}
    with caching.scope():
        out = pipeline.build_corpus_mixed(docs, targets, quality_min=0.6, seed=42)
        out.count()
        plan = _plan(out)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # exactly two cache consumers — the fact pass and ONE stratum-count
    # aggregate (T comes from a window over the counts frame, not a
    # second aggregation). Each InMemoryTableScan reprints the cached
    # definition, so count scans, not InMemoryRelation occurrences.
    assert plan.count("InMemoryTableScan") == 2, plan
    # every corpus FileScan sits inside a reprinted cache definition —
    # a bare (uncached) recompute would add scans without a relation
    assert "InMemoryRelation" in plan, plan


def test_incremental_build_is_batch_sized(spark):
    """Day-2 ingest plan: the batch runs the normal corpus pipeline (≤2
    digest exchanges incl. reuse) and the standing corpus contributes ONLY
    a distinct-digest anti-join side — no second corpus-pipeline pass, no
    corpus text columns anywhere in the plan."""
    from beymani_spark.operators import pipeline

    docs = load_table(spark, SF, "documents")
    corpus = pipeline.build_corpus(
        docs.filter(F.col("doc_id") % 2 == 0), quality_min=0.6, seed=42
    )
    manifest = corpus.select(F.md5("clean_text").alias("content_hash"))
    out = pipeline.build_corpus_incremental(
        docs.filter(F.col("doc_id") % 2 == 1), manifest, quality_min=0.6, seed=42
    )
    plan = _plan(out)
    assert "LeftAnti" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_stats_aggregates_are_tiny(spark):
    """The histogram stages on top of dedup_clusters are partial-agg
    groupBys over |clusters| rows — both carry partial_count/partial_sum
    (map-side combine), no window over the cluster key."""
    from beymani_spark.operators import dedup

    docs = load_table(spark, SF, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", num_hashes=16, bands=4, n=3, min_jaccard=0.5
    )
    plan = _plan(dedup.dedup_stats(docs, "doc_id", pairs))
    assert "partial_count" in plan, plan


def test_ks_two_sample_never_sorts_raw_inputs(spark):
    """The KS plan's only data-sized exchange is the per-value partial-agg
    groupBy; the cumulative CDF is a DISTRIBUTED prefix sum (range
    partition + per-partition ROWS window + broadcast base offsets), so no
    single-partition stage touches a data-sized frame even for wide
    domains — the only SinglePartition exchanges are the |partitions|-row
    base frame and the final 1-row aggregate."""
    from beymani_spark.operators import profile as prof

    docs = load_table(spark, SF, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0).select(F.col("n_chars").cast("double").alias("q"))
    b = docs.filter(F.col("doc_id") % 2 == 1).select(F.col("n_chars").cast("double").alias("q"))
    out = prof.ks_two_sample(a, b, "q")
    plan = _plan(out)
    assert "partial_sum" in plan, plan
    # the distributed prefix sum over the grouped value frame
    assert "Exchange rangepartitioning" in plan, plan
    # the cumulative window is per-range-partition, never global-order
    assert "windowspecdefinition(_pid" in plan, plan
    assert plan.count("Exchange SinglePartition") <= 2, plan


def test_corpus_to_manifest_single_pipeline_execution(spark):
    """The composed daily-drop query consumes the gated train frame in TWO
    plan branches (the pack prefix sum and the metadata join-back): the
    frame must come from ONE cached pipeline execution (InMemoryRelation),
    and the pack stage must keep its distributed-prefix-sum shape (range
    partition + broadcast base offsets) inside the composition."""
    from beymani_spark.functions import caching
    from beymani_spark.plans import QUERIES

    with caching.scope():
        plan = _plan(QUERIES["corpus_to_manifest"].builder(spark, SF))
    # BOTH consumers (pack prefix sum + metadata join-back) read the
    # cached train frame — the pipeline materializes once, not once
    # per branch (the InMemoryTableScans' shared InMemoryRelation is
    # the cache boundary; the FileScans visible in the plan text are
    # the cached subtree's lineage printout, executed only at
    # materialization)
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]
    assert "Exchange rangepartitioning" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """The write_bucketed_table claim, proven on the plan: two tables
    bucketed on the same key with the same bucket count must hash-join
    with ZERO Exchange operators (both sides pre-partitioned on disk),
    and an aggregation on the bucket column must also skip its shuffle —
    the co-located-join layout a 100 TB deployment relies on."""
    from beymani_spark.sources import sinks

    docs = load_table(spark, SF, "documents")
    facts = docs.select("doc_id", "n_chars")
    dims = docs.select("doc_id", "lang")
    try:
        sinks.write_bucketed_table(facts, "bt_facts", ["doc_id"], num_buckets=4)
        sinks.write_bucketed_table(dims, "bt_dims", ["doc_id"], num_buckets=4)
        a, b = spark.table("bt_facts"), spark.table("bt_dims")
        joined = a.join(b, "doc_id").where(F.col("n_chars") >= 0)
        # disable broadcast so the join would NEED a shuffle if the
        # bucketing metadata were not carried into planning
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _plan(joined)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == facts.count()

        agg_plan = _plan(a.groupBy("doc_id").agg(F.sum("n_chars")))
        assert "Exchange" not in agg_plan, agg_plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_facts")
        spark.sql("DROP TABLE IF EXISTS bt_dims")


def test_keyed_ks_prefix_sum_is_per_key_partition(spark):
    """The keys= KS form must keep the distributed-prefix-sum shape with
    the KEY inside every partition spec: cumsum windows over (key, _pid),
    base/total windows over (key) — never a global-order or key-global
    single-task stage over the value frame."""
    from beymani_spark.operators import profile as prof

    docs = load_table(spark, SF, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0).select("lang", F.col("n_chars").cast("double").alias("q"))
    b = docs.filter(F.col("doc_id") % 2 == 1).select("lang", F.col("n_chars").cast("double").alias("q"))
    plan = _plan(prof.ks_two_sample(a, b, "q", keys=["lang"]))
    assert "Exchange rangepartitioning(lang" in plan, plan
    assert "windowspecdefinition(lang" in plan, plan
    # the only SinglePartition stages are bounded frames (final agg is a
    # groupBy here, so at most the base-frame Window ordering remains)
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_key_skew_audit_takeordered_and_broadcast_totals(spark):
    """The skew audit must TakeOrdered its top-k (never a global sort of
    the per-key frame) and cross the 1-row totals in as a broadcast."""
    from beymani_spark.operators import profile as profile_ops

    ev = load_table(spark, SF, "events")
    out = profile_ops.key_skew_audit(ev, ["user_id"], k=20)
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the per-key counts frame must partial-aggregate (map-side combine)
    assert "partial_count" in plan


def test_topic_assign_never_shuffles_embeddings(spark):
    """Topic assignment is a broadcast-centroid mapInPandas scan: the
    embedding table itself must not exchange."""
    from beymani_spark.operators import similarity as sim

    emb = load_table(spark, SF, "embeddings")
    out = sim.topic_assign(emb, "vec_id", "embedding", n_topics=8)
    plan = _plan(out)
    assert "MapInPandas" in plan
    # the only exchanges belong to the bounded fit (already executed via
    # collect); the returned assignment plan reads the scan directly
    assert "Exchange hashpartitioning" not in plan


def test_semantic_dedup_pairs_join_on_cluster_no_cartesian(spark):
    """semantic_dedup's pair stage must be an equi-join keyed on the cluster
    id (pair volume sum(|cluster|^2), the SemDeDup trade) — never a
    cartesian/broadcast-nested-loop all-pairs — and the assigned frame must
    be cached once for its three consuming branches."""
    from beymani_spark.functions import caching
    from beymani_spark.operators import similarity as sim

    emb = load_table(spark, SF, "embeddings")
    with caching.scope():
        plan = _plan(sim.semantic_dedup(emb, "vec_id", "embedding", n_topics=8, tau=0.4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(topic" in plan
    assert "InMemoryTableScan" in plan  # cached assignment reused, not refit


def test_registered_semantic_dedup_resolves_auto_topics(spark):
    """The REGISTERED semantic_dedup query must take the scale-safe
    n_topics='auto' path (cluster size held constant as the corpus grows —
    the 1.05x 10x-shape, not the 8.81x fixed-topics one, BASELINE.md §8):
    building it consults auto_topics with the corpus row count."""
    from beymani_spark.functions import caching
    from beymani_spark.operators import similarity as sim
    from beymani_spark.plans.registry import QUERIES

    calls = []
    real = sim.auto_topics

    def spy(n, target_cluster=256):
        calls.append(n)
        return real(n, target_cluster)

    orig = sim.auto_topics
    sim.auto_topics = spy
    try:
        with caching.scope():
            QUERIES["semantic_dedup"].builder(spark, SF)
    finally:
        sim.auto_topics = orig
    n_rows = load_table(spark, SF, "embeddings").count()
    assert calls == [n_rows], "registered query did not resolve n_topics='auto'"


def test_prototype_prune_single_exchange_no_join(spark):
    """prototype_prune scores in one broadcast-centroid mapInPandas scan
    (assignment + cosine together — no join back to the vector table);
    the only exchange is the cluster-id window."""
    from beymani_spark.operators import similarity as sim

    emb = load_table(spark, SF, "embeddings")
    out = sim.prototype_prune(emb, "vec_id", "embedding", n_topics=8)
    plan = _plan(out)
    assert "MapInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(topic" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_cdc_chunk_dedup_same_ownership_shape_as_fixed(spark):
    """The CDC chunker is pure codegen array work on the scan; ownership
    must keep chunk_dedup's shape: partial+final agg over hashed chunk
    keys (map-side combine), never a window over the chunk partition, no
    raw chunk text on the ownership shuffle."""
    from beymani_spark.operators import dedup

    docs = load_table(spark, SF, "documents")
    out = dedup.cdc_chunk_dedup(docs, "doc_id", "text")
    plan = _plan(out)
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_topk_partial_aggs_and_broadcast_count(spark):
    """TF and DF both partial-aggregate (map-side combine on hot tokens);
    the corpus count joins as a broadcast 1-row frame; the only window is
    the per-doc top-k."""
    from beymani_spark.operators import text as textops

    docs = load_table(spark, SF, "documents")
    out = textops.tfidf_topk(docs, "doc_id", "text", k=5)
    plan = _plan(out)
    assert "partial_count" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "row_number" in plan
    # (doc,token) TF agg, token-side DF agg + join re-exchange, doc window
    assert plan.count("Exchange hashpartitioning") <= 4


def test_topic_share_drift_narrow_aggregates_only(spark):
    """Both snapshots reduce through broadcast-argmax scans + partial-agg
    groupBy(topic); the join and share windows run over n_topics rows —
    the embedding table itself never exchanges on anything but topic."""
    from beymani_spark.operators import similarity as sim

    emb = load_table(spark, SF, "embeddings")
    a = emb.filter("label % 2 = 0")
    b = emb.filter("label % 2 != 0")
    out = sim.topic_share_drift(a, b, "vec_id", "embedding", n_topics=8)
    plan = _plan(out)
    assert plan.count("MapInPandas") == 2
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    # every hash exchange is keyed on the tiny topic column
    import re

    keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert keys and all(k.startswith("topic") for k in keys), keys


def test_weighted_sample_is_takeordered_not_global_sort(spark):
    """A-ES top-k must plan as TakeOrderedAndProject (per-partition heaps),
    never a global Sort + Limit over the full frame."""
    from beymani_spark.operators import sampling

    docs = load_table(spark, SF, "documents")
    out = sampling.weighted_sample(docs, "doc_id", "n_chars", k=100)
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan


def test_constraint_audit_single_scan_partial_aggs(spark):
    """The whole constraint suite evaluates in ONE scan of the table with
    map-side partial aggregation; only one FileScan may appear."""
    from beymani_spark.operators.constraints import constraint_audit

    orders = load_table(spark, SF, "orders")
    out = constraint_audit(
        orders,
        [
            {"kind": "completeness", "column": "o_custkey", "threshold": 1.0},
            {"kind": "bounds", "column": "o_totalprice", "lo": 0, "hi": 1e6,
             "threshold": 0.9},
        ],
    )
    plan = _plan(out)
    assert plan.count("FileScan") == 1
    assert "partial_" in plan


def test_fuzzy_match_no_cartesian_hashed_key_join(spark):
    """Candidate pairs must come from an equi-join on the variant hash —
    never a cartesian/nested-loop product of the name dictionary."""
    from beymani_spark.operators.linkage import fuzzy_name_match

    part = load_table(spark, SF, "part")
    out = fuzzy_name_match(part, "p_name", max_dist=1)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "xxhash64" in plan


def test_warehouse_shape_plans(spark):
    """The TPC-H-shaped registry queries exist to pin planner paths: Q3's
    top-k must be TakeOrderedAndProject (never a global sort), Q4's
    existence check a left-semi join (never materializing the lineitem
    side), Q14's dim join a broadcast — and none may degrade to a
    cartesian product."""
    from beymani_spark.plans.registry import QUERIES

    checks = {
        "shipping_priority": ["TakeOrderedAndProject"],
        "late_shipment_priority": ["LeftSemi"],
        "promo_revenue_share": ["BroadcastHashJoin"],
        "small_quantity_revenue": [],
    }
    for name, wants in checks.items():
        plan = _plan(QUERIES[name].builder(spark, SF))
        for w in wants:
            assert w in plan, f"{name}: expected {w}"
        assert "CartesianProduct" not in plan, name
        assert "PushedFilters: [" in plan, f"{name}: no pushdown reached the scan"


def test_domain_cap_rate_mode_no_fact_shuffle(spark):
    """domain_cap(mode='rate') must keep the fact scan shuffle-free: the
    per-key counts broadcast back and the keep decision is a scan-side
    hash compare — the 100 TB shape. Exact mode is allowed its one key
    exchange (ranked window)."""
    from beymani_spark.operators.sampling import domain_cap

    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    plan = _plan(domain_cap(docs, "source", "doc_id", cap=5, mode="rate"))
    assert "BroadcastHashJoin" in plan
    # the only allowed exchange is the broadcast of the tiny counts side
    assert "Exchange hashpartitioning" not in plan.split("BroadcastExchange")[0]
    n_rows = domain_cap(docs, "source", "doc_id", cap=5, mode="rate").count()
    assert 0 < n_rows < 500  # statistically capped, never empty/full here

    exact = domain_cap(docs, "source", "doc_id", cap=5, mode="exact")
    counts = exact.groupBy("source").count().collect()
    assert all(r["count"] <= 5 for r in counts)


def test_gopher_and_pseudonymize_are_pure_scan_expressions(spark):
    """gopher_quality and pii_pseudonymize are scan-speed map passes: no
    exchange, no Python, whole-stage codegen over one projection."""
    from beymani_spark.operators import pii
    from beymani_spark.operators import text as text_ops

    docs = load_table(spark, SF, "documents")
    gplan = _plan(text_ops.gopher_quality(docs, "text"))
    assert "Exchange" not in gplan and "Python" not in gplan
    assert gplan.lstrip().startswith("*("), "gopher must stay in codegen"
    pplan = _plan(pii.pii_pseudonymize(docs, "text"))
    assert "Exchange" not in pplan and "Python" not in pplan


def test_u_shaped_attribution_keyed_windows_no_cartesian(spark):
    """u_shaped_attribution's heavy windows are user-keyed (never a
    single-partition global window over the fact table) and the
    touch-conversion join is an equi-join — no cartesian/BNLJ."""
    from beymani_spark.operators.behavior import u_shaped_attribution

    ev = load_table(spark, SF, "events")
    plan = _plan(u_shaped_attribution(ev))
    assert "Exchange hashpartitioning(user_id" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_media_dup_pairs_lsh_bucket_join_no_allpairs(spark):
    """The REGISTERED media_dup_pairs_lsh form must pair via the LSH
    signature equi-join (candidate volume sum(bucket^2) ~ N^2/2^planes with
    auto-sized planes) — never a cartesian / broadcast-nested-loop
    all-pairs — and the decode+quantize pipeline must be cached once for
    its four consumers (count, mean, both join sides)."""
    import re

    from beymani_spark.functions import caching
    from beymani_spark.plans.registry import QUERIES

    spark.catalog.clearCache()
    with caching.scope():
        out = QUERIES["media_dup_pairs_lsh"].builder(spark, SF)
        out.count()
        plan = _plan(out)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[sig", plan
    ), "pair stage must be keyed on the LSH bucket"
    assert "InMemoryTableScan" in plan, "decode pipeline must be cached, not re-run"


def _executed_node_counts(df):
    """Executed physical nodes of ``df`` by name, each counted once: AQE
    plans and query stages are unwrapped, and a cached relation's build
    plan counts once however many InMemoryTableScans read it."""
    from collections import Counter

    counts, seen = Counter(), set()

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        counts[node.nodeName()] += 1
        if cls == "InMemoryTableScanExec":
            builder = node.relation().cacheBuilder()
            if builder.hashCode() not in seen:
                seen.add(builder.hashCode())
                walk(builder.cachedPlan())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return counts


def test_probe_join_callers_sign_once(spark):
    """The hyperplane probe-join callers run the signature kernel ONCE: the
    banded engine persists the signed sketch and both join sides (probes
    and plain signatures) read it, instead of one mapInPandas per side."""
    from beymani_spark.functions import caching
    from beymani_spark.operators import knn, similarity

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    for build in (
        lambda: similarity.cosine_dup_pairs_lsh(emb, "vec_id", "embedding", threshold=0.4),
        lambda: knn.lsh_pair_distances(emb, "vec_id", "embedding", n_planes="auto"),
    ):
        with caching.scope():
            out = build()
            out.collect()
            assert _executed_node_counts(out)["MapInPandas"] == 1


def test_isolation_forest_merge_fit_presamples_union_score_no_exchange(
    spark, monkeypatch
):
    """isolation_forest_merge's refit exchange must carry the
    hash-presampled UNION pool (xxhash64 threshold filter below the group
    shuffle — ~2k rows/key at any N, never the fact table), and scoring
    against the merged model must stay a broadcast-tree MapInPandas with
    no fact-table exchange."""
    from beymani_spark.operators import multivariate as mv
    from beymani_spark.sources import load_table as lt

    li = lt(spark, SF, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        "l_quantity", "l_extendedprice",
    )
    keys, vals = ["l_returnflag"], ["l_quantity", "l_extendedprice"]
    old = li.filter(F.col("l_orderkey") % 3 != 0)
    new = li.filter(F.col("l_orderkey") % 3 != 2)
    fits = []
    real_materialize = mv.materialize

    def record(frame, *a, **kw):
        fits.append(frame)
        return real_materialize(frame, *a, **kw)

    monkeypatch.setattr(mv, "materialize", record)
    model = mv.isolation_forest_merge(
        old, new, keys, vals, num_trees=5, subsample=32, seed=7
    )
    (fit,) = fits
    mplan = _plan(fit)
    assert "FlatMapGroupsInPandas" in mplan
    assert "xxhash64" in mplan, "merged fit pool must be hash-presampled"
    assert "Union" in mplan, "fit must consume the old+new union"

    scored = mv.isolation_forest_score(li, model, keys, vals)
    scored.count()
    splan = _plan(scored)
    assert "MapInPandas" in splan
    # the only allowed exchange is the few-split round-robin spread of the
    # single-file test fixture (python-kernel balancing) — never a hash
    # shuffle or join of the fact table against the model
    assert "Exchange hashpartitioning" not in splan, (
        "fact table must not hash-shuffle to score"
    )
    assert "Join" not in splan, "merged model must ship broadcast, not join"


def test_dedup_simhash_auto_band_join_no_cartesian(spark):
    """The auto-width SimHash pair stage must be the (band_idx, band_value)
    equi-join — never a cartesian/BNLJ — with the N-row sketch persisted
    once for both join sides (the token explode + 30-90 bit aggregations
    run once, not twice)."""
    from beymani_spark.functions import caching
    from beymani_spark.plans.registry import QUERIES

    spark.catalog.clearCache()
    with caching.scope():
        out = QUERIES["dedup_simhash_auto"].builder(spark, SF)
        out.count()
        plan = _plan(out)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan, "sketch must be cached, not rebuilt"


def test_numeric_profile_plan_shapes(spark):
    """numeric_profile has NO percentile aggregate anywhere (no per-column
    value map): the quantiles come from a range-partitioned distributed
    prefix sum over the partial-aggregated (column, value) counts, so
    state per task is bounded at any distinct-value cardinality."""
    li = load_table(spark, SF, "lineitem")
    pplan = _plan(profile.numeric_profile(li, ["l_quantity", "l_discount"]))
    assert "percentile" not in pplan, "prefix: no value-map aggregate"
    assert "rangepartitioning" in pplan, "prefix: distributed CDF partitioning"
    assert "l_orderkey" not in pplan.split("ReadSchema")[-1], "scan must prune"
    assert "CartesianProduct" not in pplan


def test_one_percentile_per_value_column(spark):
    """Every exact keyed quantile model reads ONE percentile aggregate per
    value column (``profile.percentiles``), however many quantiles it
    needs: one value->count map per (group, value), not one per quantile."""
    from beymani_spark.functions import caching
    from beymani_spark.operators import post, ranges

    ev = load_table(spark, SF, "events")
    k = ["event_type"]
    builders = {
        "zscore.quartiles": lambda: zscore.quartiles(ev, k, ["value"]),
        "profile.stats_and_quartiles": lambda: profile.stats_and_quartiles(ev, k, ["value"])[1],
        "ranges.range_model_from_quantiles": lambda: ranges.range_model_from_quantiles(
            ev, k, ["value"]
        ),
        "post.winsorize": lambda: post.winsorize(ev, k, "value"),
        "post.score_stats": lambda: post.score_stats(ev, k, score_col="value")[0],
        "profile.discretize": lambda: profile.discretize(ev, "value", quantiles=4, keys=k),
    }
    with caching.scope():
        counts = {name: _plan(b()).count("partial_percentile(") for name, b in builders.items()}
    assert counts == dict.fromkeys(builders, 1)


def test_percentile_only_in_the_helper():
    """``profile.percentiles`` is the one exact keyed quantile engine: no
    other code in the package calls Spark's ``percentile`` aggregate, so a
    second per-site value map cannot come back unnoticed."""
    import ast
    from pathlib import Path

    import beymani_spark

    root = Path(beymani_spark.__file__).parent
    sites = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        # innermost enclosing function of every node (walk is outer-first)
        owner = {
            id(node): fn.name
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            for node in ast.walk(fn)
        }
        sites += [
            (path.relative_to(root).as_posix(), owner.get(id(node)))
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "percentile"
        ]
    assert sites == [("operators/profile.py", "percentiles")]


def test_gram_topk_partial_agg_broadcast_totals_no_cartesian(spark):
    """gram_topk's gram counts partial-aggregate (a viral gram combines
    map-side), the totals join back broadcast, and nothing goes
    cartesian; the rank window sorts only the aggregated frame."""
    from beymani_spark.operators.text import gram_topk

    docs = load_table(spark, SF, "documents")
    plan = _plan(gram_topk(docs, "source", "text", n=3, k=10))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan, "totals must broadcast back"
    assert "partial_count" in plan, "gram counts must combine map-side"
    assert "Generate explode" in plan


def test_dedup_corpus_best_partial_maxby_no_rank_window(spark):
    """dedup_corpus_best's survivor selection is a partial-aggregating
    max_by over the cluster labels — never a per-cluster rank window
    (no Window sort over the labeled corpus) and never a cartesian."""
    from beymani_spark.operators import dedup as dedup_ops
    from beymani_spark.operators import text as text_ops

    docs = load_table(spark, SF, "documents")
    qdocs = text_ops.quality_score(docs).withColumn(
        "_q", F.round(F.col("quality"), 6)
    ).select("doc_id", "text", "_q")
    pairs = dedup_ops.minhash_lsh_pairs(
        docs, "doc_id", num_hashes=16, bands=4, n=3, min_jaccard=0.5,
    )
    plan = _plan(dedup_ops.dedup_corpus_best(qdocs, "doc_id", pairs, "_q"))
    assert "partial_max_by" in plan, "survivor argmax must combine map-side"
    assert "Window" not in plan, "no rank window over the labeled corpus"
    assert "CartesianProduct" not in plan


def test_finite_gate_and_audit_plan_shapes(spark):
    """finite_gate is a pure codegen scan filter (no exchange, no
    Python); finite_audit is one partial-aggregated pass (exactly one
    shuffle carrying counter state)."""
    ev = load_table(spark, SF, "events")
    gplan = _plan(profile.finite_gate(ev, ["value"]))
    assert "Exchange" not in gplan and "Python" not in gplan
    assert gplan.lstrip().startswith("*("), "gate must stay in codegen"
    aplan = _plan(profile.finite_audit(ev, ["value"]))
    assert aplan.count("Exchange") == 1, "audit is one aggregation shuffle"
    assert "partial" in aplan.lower(), "audit must partial-aggregate"
    assert "Python" not in aplan


def test_compression_ratio_single_map_pass_no_shuffle(spark):
    """compression_ratio is one Arrow-batched map pass: a (Arrow)EvalPython
    stage for the zlib length, zero exchanges — scan-speed shape."""
    from beymani_spark.operators import text as text_ops

    docs = load_table(spark, SF, "documents")
    plan = _plan(text_ops.compression_ratio(docs))
    assert "Exchange" not in plan, "compression_ratio must not shuffle"
    assert "EvalPython" in plan, "zlib kernel should be a Python stage"


def test_q5_q10_shapes_broadcast_dims_pushed_filters(spark):
    """Q5 shape: every dimension (region-pruned nation, supplier)
    broadcasts — the fact tables never shuffle on a dimension key — and
    the plan has no cartesian. Q10 shape: the top-20 is
    TakeOrderedAndProject and the returnflag filter reaches the lineitem
    scan as a pushed filter."""
    from beymani_spark.plans.registry import QUERIES

    q5 = _plan(QUERIES["local_supplier_volume"].builder(spark, SF))
    assert q5.count("BroadcastHashJoin") >= 2, "dims must broadcast"
    assert "CartesianProduct" not in q5
    assert "PushedFilters: [" in q5

    q10 = _plan(QUERIES["returned_item_revenue"].builder(spark, SF))
    assert "TakeOrderedAndProject" in q10, "top-20 must be a heap, not a sort"
    assert "EqualTo(l_returnflag,R)" in q10, "returnflag must push to the scan"
    assert "BroadcastHashJoin" in q10 and "CartesianProduct" not in q10


def test_quality_fuse_broadcast_stats_no_sort(spark):
    """quality_fuse is stats-broadcast, never rank fusion: one tiny
    aggregate broadcast onto the scan (nested-loop join against the
    1-row stats frame), zero sorts, no cartesian blow-up risk beyond the
    single-row side."""
    from beymani_spark.operators import text as text_ops

    docs = load_table(spark, SF, "documents")
    scored = text_ops.quality_score(docs)
    plan = _plan(
        text_ops.quality_fuse(
            scored, ["quality", "punct_ratio"], weights=[2.0, 1.0]
        )
    )
    assert "BroadcastNestedLoopJoin" in plan, "stats frame must broadcast"
    assert "Sort" not in plan, "fusion must not rank-sort the corpus"


def test_fertility_and_compaction_partial_aggs(spark):
    """lang_fertility and compaction_plan are single partial-aggregated
    groupBys: one exchange each, map-side combine."""
    from beymani_spark.operators import text as text_ops
    from beymani_spark.operators.packing import compaction_plan

    docs = load_table(spark, SF, "documents")
    for df in (
        text_ops.lang_fertility(docs),
        compaction_plan(docs, ["source", "lang"]),
    ):
        plan = _plan(df)
        assert plan.count("Exchange") == 1
        assert "partial" in plan.lower()


def test_phash_dup_pairs_band_join_no_cartesian(spark):
    """media pHash dedup: candidates come from the (band, sig) equi-join —
    never a cartesian or a sort of all pairs; the hash pass is one
    Python map stage with no shuffle before the band explode."""
    from beymani_spark.operators.multimodal import phash64, phash_dup_pairs

    docs = load_table(spark, SF, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    plan = _plan(phash_dup_pairs(phash64(media, decode="fake")))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "sig" in plan, "candidates must equi-join on bands"


def test_perceptual_composite_forms_band_join_no_cartesian(spark):
    """The corpus-scale composite (2-of-4) forms across all three
    modalities keep the same plan shape: (band, sig) equi-join
    candidates, never a cartesian / nested-loop, and the length-contract
    filter visible in the plan (malformed hashes excluded loudly, not
    bucketed into a shared '' key)."""
    from beymani_spark.operators.multimodal import (
        audio_fingerprint,
        phash64,
        phash_dup_pairs,
        video_phash,
        video_phash_dup_pairs,
    )

    docs = load_table(spark, SF, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    forms = [
        phash_dup_pairs(
            phash64(media, decode="fake"), max_hamming=2, composite_bands=True
        ),
        phash_dup_pairs(
            audio_fingerprint(media, decode="fake"),
            hash_col="afp",
            max_hamming=2,
            composite_bands=True,
        ),
        video_phash_dup_pairs(
            video_phash(media, n_frames=4, decode="fake"),
            n_frames=4,
            max_hamming=2,
            composite_bands=True,
        ),
    ]
    for df in forms:
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "band" in plan and "sig" in plan
        assert "length" in plan, "length-contract filter must be in the plan"


def test_multigram_multivariate_plan_one_sequence_shuffle(spark):
    """multigram_multivariate: one exchange co-locates each id's sequence
    for the lag chain, the gram count aggregates with map-side partials,
    and nothing in the plan is a cartesian or a global sort."""
    from beymani_spark.operators.histogram import multigram_multivariate

    ev = load_table(spark, SF, "events")
    plan = _plan(
        multigram_multivariate(
            ev,
            id_col="user_id",
            order_col="ts",
            spec=[("event_type", None), ("value", 5.0)],
            seq_len=3,
            order_cols=["event_id"],
        )
    )
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower(), "gram count must map-side combine"
    # window sort is per id partition, never a global Sort+Exchange(range)
    assert "rangepartitioning" not in plan.lower()


def test_new_tpch_shapes_broadcast_dims_no_cartesian(spark):
    """Q7/Q8/Q13/Q18 shapes: every dimension side broadcast-joins, no
    cartesian / nested-loop anywhere, date filters reach the fact scans,
    and Q18's top-100 is TakeOrderedAndProject (per-partition heaps),
    never a global sort."""
    from beymani_spark.plans import QUERIES

    for name in ("volume_shipping", "market_share"):
        df = QUERIES[name].builder(spark, SF)
        df.count()
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, name
        assert "SortMergeJoin" not in plan, f"{name}: a dimension shuffled"

    q13 = QUERIES["customer_order_distribution"].builder(spark, SF)
    q13.count()
    p13 = _plan(q13)
    assert "CartesianProduct" not in p13
    assert "partial" in p13.lower(), "Q13 counts must map-side combine"

    q18 = QUERIES["large_volume_customers"].builder(spark, SF)
    q18.count()
    p18 = _plan(q18)
    assert "TakeOrderedAndProject" in p18, "top-100 must be heap-based"
    assert "CartesianProduct" not in p18
    assert "BroadcastHashJoin" in p18, "the HAVING-filtered order set must broadcast"


def test_kmeans_model_over_cap_stays_distributed(spark, monkeypatch):
    """A keyed fit whose |keys|*k model exceeds max_model_rows must never
    land on the driver: the centroid frame localCheckpoints and sizes
    attach via a distributed join. While the over-cap model builds AND
    fully executes, toPandas is patched to raise and collect to record
    its row counts: no collect may bring more than max_model_rows + 1
    rows to the driver (the bound of materialize's one collect), and
    rows is None. Its rows must equal the small-path (driver-collected)
    model exactly — same fit, same sizes, different materialization
    only."""
    import pyspark.sql.classic.dataframe as cdf

    from beymani_spark.operators.multivariate import (
        kmeans_mixed_model,
        kmeans_model,
    )
    from beymani_spark.sources import load_table

    li = load_table(spark, SF, "lineitem").limit(4000)
    keys = ["l_returnflag", "l_linestatus"]
    vals = ["l_quantity", "l_extendedprice"]
    small_model = kmeans_model(li, keys, vals, n_clusters=3, presample=64)
    assert small_model.rows is not None
    expected = sorted(tuple(r) for r in small_model.frame.collect())
    small_mixed = kmeans_mixed_model(
        li, ["l_returnflag"], ["l_quantity"], ["l_linestatus"],
        n_clusters=2, presample=64,
    )

    real_to_pandas = cdf.DataFrame.toPandas
    real_collect = cdf.DataFrame.collect

    def boom(self, *a, **kw):
        raise AssertionError("driver materialization in over-cap model")

    collected: list[int] = []

    def counted(self):
        rows = real_collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(cdf.DataFrame, "toPandas", boom)
    monkeypatch.setattr(cdf.DataFrame, "collect", counted)
    try:
        model = kmeans_model(
            li, keys, vals, n_clusters=3, presample=64, max_model_rows=0
        )
        assert model.rows is None
        assert model.frame.count() == len(expected)
        mixed = kmeans_mixed_model(
            li,
            ["l_returnflag"],
            ["l_quantity"],
            ["l_linestatus"],
            n_clusters=2,
            presample=64,
            max_model_rows=0,
        )
        assert mixed.rows is None
    finally:
        monkeypatch.setattr(cdf.DataFrame, "toPandas", real_to_pandas)
        monkeypatch.setattr(cdf.DataFrame, "collect", real_collect)
    assert collected and max(collected) <= 1, collected
    got = sorted(tuple(r) for r in model.frame.collect())
    assert got == expected, "over-cap model must equal the collected model"

    # end-to-end score parity (round-10 directive): a real fit routed
    # through the distributed path must score bit-identically to the
    # collected-path model, for both k-means families
    from beymani_spark.operators.multivariate import (
        kmeans_mixed_score,
        kmeans_score,
    )

    want = sorted(
        tuple(r)
        for r in kmeans_score(li, small_model, keys, vals, threshold=10000.0).collect()
    )
    have = sorted(
        tuple(r)
        for r in kmeans_score(li, model, keys, vals, threshold=10000.0).collect()
    )
    assert have == want, "over-cap model must score identically"
    mixed_args = (["l_returnflag"], ["l_quantity"], ["l_linestatus"])
    want = sorted(
        tuple(r) for r in kmeans_mixed_score(li, small_mixed, *mixed_args).collect()
    )
    have = sorted(
        tuple(r) for r in kmeans_mixed_score(li, mixed, *mixed_args).collect()
    )
    assert have == want and want, "over-cap mixed model must score identically"


def test_iforest_over_cap_scores_match_broadcast_path(spark, monkeypatch):
    """isolation_forest_score above max_model_rows must never materialize
    the model on the driver — facts cogroup with their key's trees — and
    must score bit-identically to the broadcast (collected) path,
    including the missing-model-key 'I'/null contract. While the over-cap
    scorer builds and runs, toPandas raises and collect records its row
    counts: at most max_model_rows + 1 rows reach the driver, and rows is
    None."""
    import pyspark.sql.classic.dataframe as cdf

    from beymani_spark.operators import multivariate as mv
    from beymani_spark.sources import load_table

    li = (
        load_table(spark, SF, "lineitem")
        .select(
            "l_orderkey", "l_linenumber", "l_returnflag",
            "l_quantity", "l_extendedprice",
        )
        .limit(3000)
        .localCheckpoint(eager=True)  # limit() must not re-sample per job
    )
    keys, vals = ["l_returnflag"], ["l_quantity", "l_extendedprice"]
    fitted = mv.isolation_forest_fit(
        li, keys, vals, num_trees=20, subsample=64, seed=11
    )
    # drop one key from the model so both paths exercise the 'I' branch;
    # both materializations serve the SAME trees
    frame = fitted.frame.filter(F.col("l_returnflag") != "R")
    expected = sorted(
        tuple(r)
        for r in mv.isolation_forest_score(
            li, mv.materialize(frame), keys, vals
        ).collect()
    )
    assert any(r[-1] == "I" for r in expected)

    real_to_pandas = cdf.DataFrame.toPandas
    real_collect = cdf.DataFrame.collect

    def boom(self, *a, **kw):
        raise AssertionError("driver materialization in over-cap scorer")

    collected: list[int] = []

    def counted(self):
        rows = real_collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(cdf.DataFrame, "toPandas", boom)
    monkeypatch.setattr(cdf.DataFrame, "collect", counted)
    try:
        over = mv.materialize(frame, max_model_rows=0)
        assert over.rows is None
        scored = mv.isolation_forest_score(li, over, keys, vals)
        assert scored.count() == len(expected)
    finally:
        monkeypatch.setattr(cdf.DataFrame, "toPandas", real_to_pandas)
        monkeypatch.setattr(cdf.DataFrame, "collect", real_collect)
    assert collected and max(collected) <= 1, collected
    got = sorted(tuple(r) for r in scored.collect())
    assert got == expected, "cogroup path must score bit-identically"


def test_round9_warehouse_shapes_broadcast_no_cartesian(spark):
    """Q15/Q22 shapes: the scalar subqueries (max revenue, avg balance)
    are 1-row broadcasts, the supplier name side broadcasts, the NOT
    EXISTS is an anti-join — no CartesianProduct, no
    SortMergeJoin of a dimension."""
    from beymani_spark.plans import QUERIES

    p15 = _plan(QUERIES["top_supplier_revenue"].builder(spark, SF))
    assert "CartesianProduct" not in p15
    assert "BroadcastNestedLoopJoin" in p15 or "BroadcastHashJoin" in p15
    p22 = _plan(QUERIES["idle_customer_balance"].builder(spark, SF))
    assert "CartesianProduct" not in p22
    assert "LeftAnti" in p22, "NOT EXISTS must plan as an anti-join"


def test_q6_q19_pushdown_and_broadcast(spark):
    """Q6: every predicate reaches the parquet scan (PushedFilters shows
    shipdate/discount/quantity) and the plan has no Exchange besides the
    1-row aggregate's. Q19: the part side broadcasts and there is no
    cartesian — the disjunction spans both sides so it evaluates
    post-join."""
    from beymani_spark.plans import QUERIES

    q6 = QUERIES["forecast_revenue_change"].builder(spark, SF)
    full = q6._jdf.queryExecution().toString()
    pushed = full.split("PushedFilters:")[1][:400]
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pushed, f"{c} must push into the scan"
    phys = _plan(q6)
    assert "Join" not in phys and "CartesianProduct" not in phys

    q19 = _plan(QUERIES["discounted_revenue"].builder(spark, SF))
    assert "BroadcastHashJoin" in q19
    assert "CartesianProduct" not in q19 and "SortMergeJoin" not in q19


def test_bm25_topk_take_ordered_no_global_sort(spark):
    """The query-term filter runs inside the token array (the explode is
    |matches|-sized), df/stat frames broadcast, and the global top-k is
    TakeOrderedAndProject — never a single-task full sort; the rank
    window runs after the k-row limit."""
    from beymani_spark.operators import text as textops

    docs = load_table(spark, SF, "documents")
    out = textops.bm25_topk(docs, ["spark", "dup", "window"], k=25)
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the filter happens before the explode: no corpus-token-sized
    # exchange — every hash exchange is on (doc,token) or token (the tf
    # subtree feeds both the join and the df agg, so its exchange prints
    # twice)
    assert plan.count("Exchange hashpartitioning") <= 4


def test_hybrid_rrf_no_single_query_window_sort(spark):
    """Both candidate lists are TakeOrderedAndProject; the dense side
    must NOT rank via a window partitioned by the (single) query id,
    which would single-task-sort the whole embedding table. The only
    windows run after the candidate limits (<= 2*n_candidates rows)."""
    from beymani_spark.operators import similarity as sim

    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    out = sim.hybrid_rrf_topk(docs, emb, ["spark", "dup"], 0, k=10)
    plan = _plan(out)
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan
    # every window's INPUT (below it in the top-down print) passes
    # through a limit before any parquet scan — i.e. windows rank only
    # candidate-/k-sized frames, never a full table
    import re

    for m in re.finditer(r"Window ", plan):
        rest = plan[m.end():]
        lim = min(
            [p for p in (rest.find("TakeOrderedAndProject"), rest.find("GlobalLimit")) if p != -1],
            default=-1,
        )
        scan = rest.find("Scan parquet")
        assert lim != -1 and (scan == -1 or lim < scan), (
            "window ranks an unlimited frame"
        )
