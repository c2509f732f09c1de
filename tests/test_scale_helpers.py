"""Stateful streaming Markov scoring, skew salting, observed metrics."""
from __future__ import annotations

import shutil
import tempfile

import pytest

from beymani_spark.functions.skew import observed_label_counts, salted_numerical_stats
from beymani_spark.operators import markov, profile, zscore
from beymani_spark.sources import load_table, streams
from beymani_spark.streaming.jobs import apply_stream_markov


def test_salted_stats_match_direct(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    direct = (
        profile.numerical_stats(ev, ["event_type"], ["value"])
        .select("event_type", "cnt", "mean", "std", "min", "max")
        .toPandas()
        .sort_values("event_type", ignore_index=True)
    )
    salted = (
        salted_numerical_stats(ev, ["event_type"], "value", salt_buckets=8)
        .select("event_type", "cnt", "mean", "std", "min", "max")
        .toPandas()
        .sort_values("event_type", ignore_index=True)
    )
    import pandas.testing as pt

    pt.assert_frame_equal(direct, salted, check_exact=False, rtol=1e-9)

    # a one-row key: std is NULL in both (no ANSI divide-by-zero), and a
    # constant two-row key has std 0.0 in both
    tiny = ev.sparkSession.createDataFrame(
        [("one", 3.0), ("two", 5.0), ("two", 5.0)], "event_type string, value double"
    )
    cols = ["event_type", "cnt", "mean", "std", "min", "max"]
    got = {
        r["event_type"]: r.asDict()
        for r in salted_numerical_stats(tiny, ["event_type"], "value").select(*cols).collect()
    }
    want = {
        r["event_type"]: r.asDict()
        for r in profile.numerical_stats(tiny, ["event_type"], ["value"]).select(*cols).collect()
    }
    assert got == want
    assert got["one"]["std"] is None and got["two"]["std"] == 0.0


def test_observed_label_counts(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
    observed, obs = observed_label_counts(scored)
    n = observed.count()  # action triggers metric collection
    got = obs.get
    assert got["total"] == n
    assert got["outliers"] + got["normals"] + got["invalid"] == n
    assert got["outliers"] == scored.filter("label = 'O'").count()


def test_stream_markov_matches_batch(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    model = markov.transition_model(
        ev, ["user_id"], "ts", "event_type", order_cols=["event_id"]
    )
    model_rows = [r.asDict() for r in model.collect()]

    src = tempfile.mkdtemp(prefix="beymani_mkv_src_")
    chk = tempfile.mkdtemp(prefix="beymani_mkv_chk_")
    try:
        ev.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        scored = apply_stream_markov(
            stream, model_rows, ["user_id"], "ts", "event_type",
            window=5, threshold=2.0,
        )
        q = streams.start_sink(
            scored,
            {"format": "memory", "queryName": "mkv_t", "outputMode": "append",
             "checkpoint": chk, "trigger": "availableNow"},
        )
        q.awaitTermination(180)
        got = spark.sql("select * from mkv_t").toPandas()
        assert len(got) == ev.count()
        # batch equivalent: windowed conditional-probability score
        batch = markov.markov_score(
            ev, model, ["user_id"], "ts", "event_type",
            metric="conditionalProbability", window=5, threshold=2.0,
            order_cols=["event_id"],
        ).toPandas()
        # streaming emits every event (first-per-user rows labeled I);
        # batch drops first-per-user rows — compare outlier sets on the rest
        got_scored = got[got.label != "I"]
        assert len(got_scored) == len(batch)
        assert (
            got_scored.sort_values(["user_id", "ts"]).score.round(9).to_numpy()
            == batch.sort_values(["user_id", "ts"]).score.round(9).to_numpy()
        ).all()
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)
