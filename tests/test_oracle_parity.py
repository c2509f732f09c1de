"""Every registry entry with an oracle must hash-match DuckDB (driver t2 mirror)."""
from __future__ import annotations

import pytest

from beymani_spark.functions import caching
from beymani_spark.plans import QUERIES

from .oracle import compare, duck_run

ORACLE_QUERIES = [name for name, q in QUERIES.items() if q.oracle is not None]

# Session confs under which every answer must stay the same: results are a
# function of the data only, not of the shuffle's partition count.
PHYSICAL_CONFIGS = {
    "aqe_off": {
        "spark.sql.exchange.reuse": "false",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "7",
    },
    "coalesce_off": {"spark.sql.adaptive.coalescePartitions.enabled": "false"},
}


def _check(spark, sf_dir, name, conf=None, tag=""):
    """Build ``name`` and compare it with its oracle inside one cache scope,
    under the session confs ``conf``. Scope exit must leave no cached
    relation and no new persistent RDD (the localCheckpoint blocks)."""
    conf = conf or {}
    saved = {k: spark.conf.get(k, None) for k in conf}
    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    before = set(jsc.getPersistentRDDs().keys())
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        q = QUERIES[name]
        with caching.scope():
            errs = compare(q.builder(spark, sf_dir), duck_run(sf_dir, q.oracle_sql(sf_dir)))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert not errs, f"{name}{tag}: " + "; ".join(errs)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name}{tag}: scope exit left a cached relation"
    )
    leaked = set(jsc.getPersistentRDDs().keys()) - before
    assert not leaked, f"{name}{tag}: scope exit left persistent RDDs {sorted(leaked)}"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, name):
    _check(spark, sf_dir, name)


@pytest.mark.slow  # multi-minute sweep: excluded from the default run (see pyproject)
def test_all_queries_return_rows(spark, sf_dir):
    for name, q in QUERIES.items():
        with caching.scope():
            n = q.builder(spark, sf_dir).count()
        assert n >= 0, name


@pytest.mark.parametrize("name", ORACLE_QUERIES)
@pytest.mark.slow  # multi-minute sweep: excluded from the default run (see pyproject)
def test_oracle_parity_altseed(spark, alt_sf_dir, name):
    """Second-draw sweep: the same parity contract against the
    alternate-seed / alternate-skew fixture build (tests/altseed.py) —
    skewed keys, NULL injections, empty/single-token docs, duplicate
    texts/vectors, orphan FKs, timestamp ties. Catches data-dependent
    bugs the single fixed draw structurally cannot."""
    _check(spark, alt_sf_dir, name, tag="[altseed]")


@pytest.mark.parametrize("name", ORACLE_QUERIES)
@pytest.mark.slow  # ~250 s at 4 cores: the default run takes the subsets below
def test_oracle_queries_physical_config_invariant(spark, sf_dir, name):
    _check(spark, sf_dir, name, PHYSICAL_CONFIGS["aqe_off"], "[aqe_off]")


# Every registry query that runs a distributed prefix sum
# (operators/prefix.py): their offsets depend on RangePartitioner bounds,
# so they must not depend on exchange reuse, AQE or the partition count.
PREFIX_SUM_QUERIES = [
    "numeric_profile", "numeric_profile_drift", "corpus_quality_drift",
    "corpus_quality_drift_by_lang", "corpus_length_drift", "pack_manifest",
    "pack_manifest_incremental", "corpus_to_manifest", "curriculum_plan",
    "corpus_shuffle",
]


@pytest.mark.parametrize("name", PREFIX_SUM_QUERIES)
def test_prefix_sum_queries_physical_config_invariant(spark, sf_dir, name):
    _check(spark, sf_dir, name, PHYSICAL_CONFIGS["aqe_off"], "[aqe_off]")


# Every caller of the blocked all-pairs engine (knn.blocked_vec_pairs): its
# src and ref tiles meet in one cogroup only if both sides hash the same
# key types, which a one-partition (coalesced) shuffle cannot show.
BLOCKED_PAIR_QUERIES = [
    "average_distance", "neighbor_density", "relative_density", "lof",
    "cosine_dup_pairs", "media_dup_pairs", "semantic_leak_check",
    "embedding_dup_clusters",
]


@pytest.mark.parametrize("config", sorted(PHYSICAL_CONFIGS))
@pytest.mark.parametrize("name", BLOCKED_PAIR_QUERIES)
def test_blocked_pair_queries_physical_config_invariant(spark, sf_dir, name, config):
    _check(spark, sf_dir, name, PHYSICAL_CONFIGS[config], f"[{config}]")


# Every registry query that fits a k-means or isolation-forest Model, run
# again with every materialize forced over the cap (max_model_rows=0), so
# the model stays a distributed frame end to end.
MODEL_QUERIES = [
    "kmeans_cluster_score", "kmeans_mixed", "isolation_forest",
    "isolation_forest_merge",
]


@pytest.mark.parametrize("name", MODEL_QUERIES)
def test_model_queries_over_cap_match_oracle(spark, sf_dir, name, monkeypatch):
    from beymani_spark.operators import multivariate

    real = multivariate.materialize
    models = []

    def over_cap(frame, max_model_rows=None):
        models.append(real(frame, max_model_rows=0))
        return models[-1]

    monkeypatch.setattr(multivariate, "materialize", over_cap)
    _check(spark, sf_dir, name, tag="[over_cap]")
    assert models and all(m.rows is None for m in models)


# Every registry query that labels near-dup clusters (dedup._cluster_labels).
# Above local_threshold verified pairs the labels come from distributed
# min-label propagation instead of the driver union-find; fixture pair sets
# are far below the 1M-pair threshold, so the default run never takes it.
CLUSTER_LABEL_QUERIES = [
    "dedup_clusters", "dedup_corpus", "embedding_dup_clusters",
    "embedding_dup_clusters_lsh", "dedup_corpus_best",
]


@pytest.mark.parametrize("name", CLUSTER_LABEL_QUERIES)
def test_cluster_label_queries_distributed_match_oracle(spark, sf_dir, name, monkeypatch):
    from beymani_spark.operators import dedup

    real = dedup._cluster_labels
    runs = []

    def distributed(df, id_col, pairs, src="src", dst="dst", max_iter=25,
                    local_threshold=None, stats=None):
        runs.append({} if stats is None else stats)
        return real(df, id_col, pairs, src, dst, max_iter, 0, runs[-1])

    monkeypatch.setattr(dedup, "_cluster_labels", distributed)
    _check(spark, sf_dir, name, PHYSICAL_CONFIGS["coalesce_off"], "[distributed]")
    assert runs and all(r["mode"] == "distributed" for r in runs)
    assert any(r["n_pairs"] for r in runs), f"{name}: no pairs, propagation untested"


def test_idle_customer_balance_parity_on_idle_customers(spark, sf_dir, tmp_path):
    """The fixture draws give every customer an order, so the plain parity
    check of idle_customer_balance compares two empty results. On a copy
    of the tables with the orders of the three highest-balance customers
    removed, Spark and DuckDB must agree on a non-empty answer."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    cust = pq.read_table(f"{sf_dir}/customer.parquet").to_pandas()
    keys = pa.array(cust.nlargest(3, "c_acctbal")["c_custkey"])
    orders = pq.read_table(f"{sf_dir}/orders.parquet")
    pq.write_table(
        orders.filter(pc.invert(pc.is_in(orders["o_custkey"], value_set=keys))),
        tmp_path / "orders.parquet",
    )
    shutil.copy(f"{sf_dir}/customer.parquet", tmp_path / "customer.parquet")
    q = QUERIES["idle_customer_balance"]
    with caching.scope():
        got = q.builder(spark, str(tmp_path))
        want = duck_run(str(tmp_path), q.oracle_sql(str(tmp_path)))
        errs = compare(got, want)
    assert len(want) >= 1, "no idle above-average customer in the copy"
    assert not errs, "; ".join(errs)
