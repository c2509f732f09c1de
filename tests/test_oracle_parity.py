"""Every registry entry with an oracle must hash-match DuckDB (driver t2 mirror)."""
from __future__ import annotations

import pytest

from beymani_spark.plans import QUERIES

from .oracle import compare, duck_run

ORACLE_QUERIES = [name for name, q in QUERIES.items() if q.oracle is not None]


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, name):
    q = QUERIES[name]
    spark_df = q.builder(spark, sf_dir)
    duck_df = duck_run(sf_dir, q.oracle_sql(sf_dir))
    errs = compare(spark_df, duck_df)
    assert not errs, f"{name}: " + "; ".join(errs)


@pytest.mark.slow  # multi-minute sweep: excluded from the default run (see pyproject)
def test_all_queries_return_rows(spark, sf_dir):
    for name, q in QUERIES.items():
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
    q = QUERIES[name]
    spark_df = q.builder(spark, alt_sf_dir)
    duck_df = duck_run(alt_sf_dir, q.oracle_sql(alt_sf_dir))
    errs = compare(spark_df, duck_df)
    assert not errs, f"{name}[altseed]: " + "; ".join(errs)


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
    from beymani_spark.functions import caching

    conf = {
        "spark.sql.exchange.reuse": "false",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "7",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    spark_df = None
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        q = QUERIES[name]
        spark_df = q.builder(spark, sf_dir)
        errs = compare(spark_df, duck_run(sf_dir, q.oracle_sql(sf_dir)))
        assert not errs, f"{name}[reuse off, AQE off, 7 partitions]: " + "; ".join(errs)
    finally:
        if spark_df is not None:
            caching.release(spark_df)
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
