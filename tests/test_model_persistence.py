"""Model save/load (sources/models.py) and the reference-style two-job
file pipeline: builder job writes a model, scoring job reloads it and
writes tagged delimited output — the workflow every reference tutorial
runs (and.sh: NumericalAttrStats then StatsBasedOutlierPredictor), here
with models as parquet DataFrames instead of text side-files."""
from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from beymani_spark.operators import profile, zscore
from beymani_spark.sources import load_table
from beymani_spark.sources.delimited import read_delimited, write_tagged
from beymani_spark.sources.models import load_model, save_model

SF = "/root/testdata/sf0.001"


def test_save_load_round_trip_and_guards(spark):
    ev = load_table(spark, SF, "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    path = tempfile.mkdtemp(prefix="beymani_model_") + "/stats"
    try:
        save_model(stats, path, name="numerical_stats")
        back = load_model(spark, path, expect_name="numerical_stats")
        # names+types round-trip (nullability flags legitimately relax
        # through parquet; simpleString is the manifest contract)
        assert back.schema.simpleString() == stats.schema.simpleString()
        assert back.exceptAll(stats).count() == 0 and stats.exceptAll(back).count() == 0
        with pytest.raises(ValueError, match="expected 'median_mad'"):
            load_model(spark, path, expect_name="median_mad")
    finally:
        shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)


def test_two_job_file_pipeline_matches_single_job(spark):
    """Job 1: delimited in -> stats model saved. Job 2: delimited in +
    loaded model -> scored -> tagged delimited out. Scores must equal the
    single-session pipeline bit-for-bit, and the output lines must carry
    the original columns + formatted score + label."""
    root = tempfile.mkdtemp(prefix="beymani_e2e_")
    try:
        ev = load_table(spark, SF, "events").select(
            "event_id", "event_type", "value"
        )
        src = f"{root}/in"
        ev.select(
            F.concat_ws(",", "event_id", "event_type", F.col("value").cast("string"))
            .alias("value")
        ).write.text(src)

        # job 1: build + persist the model
        data1 = read_delimited(
            spark, src, names=["event_id", "event_type", "value"],
            schema="c0 long, c1 string, c2 double",
        )
        stats = profile.numerical_stats(data1, ["event_type"], ["value"])
        save_model(stats, f"{root}/model", name="numerical_stats")

        # job 2: fresh read, load model, score, write tagged
        data2 = read_delimited(
            spark, src, names=["event_id", "event_type", "value"],
            schema="c0 long, c1 string, c2 double",
        )
        model = load_model(spark, f"{root}/model", expect_name="numerical_stats")
        scored = zscore.zscore(
            data2, model, ["event_type"], ["value"], threshold=3.0
        )
        write_tagged(scored, f"{root}/out", precision=3)

        # tagged lines: original 3 fields + score + label
        lines = [r.value for r in spark.read.text(f"{root}/out").collect()]
        assert len(lines) == ev.count()
        parts = lines[0].split(",")
        assert len(parts) == 5 and parts[4] in ("O", "N", "I")

        # score parity with the single-session pipeline
        direct = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
        a = scored.select("event_id", F.round("score", 9).alias("s"), "label")
        b = direct.select("event_id", F.round("score", 9).alias("s"), "label")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_centroid_model_roundtrip_serves_stream_assign(spark, tmp_path):
    """Fit once, save, reload tomorrow, serve: a reloaded centroid model
    must produce byte-identical topic assignments to the in-memory fit."""
    import numpy as np

    from beymani_spark.operators import similarity
    from beymani_spark.sources import load_table
    from beymani_spark.sources.models import load_model, save_model

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    cents = similarity.fit_spherical_centroids(
        emb, "embedding", n_cells=8, iterations=10, seed=42, presample=4096
    )
    path = str(tmp_path / "topic_model")
    save_model(similarity.centroids_to_df(spark, cents), path, name="topic_centroids")
    back = similarity.centroids_from_df(
        load_model(spark, path, expect_name="topic_centroids")
    )
    assert np.array_equal(back, cents)
    a = similarity.topic_assign(emb, "vec_id", "embedding", centroids=cents).collect()
    b = similarity.topic_assign(emb, "vec_id", "embedding", centroids=back).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_vocab_model_roundtrip_serves_keyword_tag(spark, tmp_path):
    """Reloaded TF-IDF vocabulary serves stream_keyword_tag with output
    identical to the freshly-fit model."""
    from beymani_spark.operators.text import tfidf_vocab, vocab_from_df, vocab_to_df
    from beymani_spark.sources import load_table
    from beymani_spark.sources.models import load_model, save_model
    from beymani_spark.streaming.jobs import stream_keyword_tag

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    vocab, n = tfidf_vocab(docs, "text", max_vocab=50)
    path = str(tmp_path / "vocab_model")
    save_model(vocab_to_df(spark, vocab, n), path, name="tfidf_vocab")
    v2, n2 = vocab_from_df(load_model(spark, path, expect_name="tfidf_vocab"))
    assert v2 == vocab and n2 == n
    a = stream_keyword_tag(docs, vocab, n, k=3).collect()
    b = stream_keyword_tag(docs, v2, n2, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and len(a) > 0


def test_detector_model_roundtrip_serves_stream_scoring(spark, tmp_path):
    """k-means and isolation-forest model frames persist through
    save_model/load_model and the reloaded frames serve the streaming
    scorers with output identical to the in-memory models — the two-job
    (fit job -> serve job) deployment shape for the detector family."""
    from pyspark.sql import functions as F

    from beymani_spark.operators.multivariate import (
        isolation_forest_fit,
        isolation_forest_score,
        kmeans_model,
        kmeans_score,
        materialize,
    )
    from beymani_spark.sources import load_table
    from beymani_spark.sources.models import load_model, save_model

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").limit(400)
    keys, vals = ["l_returnflag"], ["l_quantity", "l_extendedprice"]

    km = kmeans_model(li, keys, vals, n_clusters=3, presample=64)
    save_model(km.frame, str(tmp_path / "km"), "kmeans")
    km2 = materialize(load_model(spark, str(tmp_path / "km"), expect_name="kmeans"))
    a = {
        (r["l_orderkey"], r["l_linenumber"]): (round(r["score"], 9), r["label"])
        for r in kmeans_score(li, km, keys, vals).collect()
    }
    b = {
        (r["l_orderkey"], r["l_linenumber"]): (round(r["score"], 9), r["label"])
        for r in kmeans_score(li, km2, keys, vals).collect()
    }
    assert a == b and a

    isf = isolation_forest_fit(li, keys, vals, num_trees=10, subsample=64)
    save_model(isf.frame, str(tmp_path / "isf"), "iforest")
    isf2 = materialize(load_model(spark, str(tmp_path / "isf"), expect_name="iforest"))
    a = {
        (r["l_orderkey"], r["l_linenumber"]): (round(r["score"], 9), r["label"])
        for r in isolation_forest_score(li, isf, keys, vals).collect()
    }
    b = {
        (r["l_orderkey"], r["l_linenumber"]): (round(r["score"], 9), r["label"])
        for r in isolation_forest_score(li, isf2, keys, vals).collect()
    }
    assert a == b and a
