"""Tests: drift detectors (batch scan semantics + recall of an injected
drift point), Structured Streaming scorers (batch/stream parity on a file
source), and multimodal plumbing (stubbed decode, real batching)."""
from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest

from beymani_spark.operators import multimodal
from beymani_spark.sources import streams
from beymani_spark.streaming import drift as drift_mod
from beymani_spark.streaming.jobs import (
    alerts,
    apply_stream_ewma,
    stream_temporal_aggregate,
    stream_zscore,
)


@pytest.fixture(scope="module")
def error_stream(spark):
    """0/1 errors: rate 0.05 for 500 steps, then 0.4 (drift at ts=500)."""
    rng = np.random.RandomState(42)
    vals = np.concatenate(
        [(rng.rand(500) < 0.05).astype(int), (rng.rand(300) < 0.4).astype(int)]
    )
    pdf = pd.DataFrame({"model_id": "m1", "ts": range(800), "is_error": vals})
    return spark.createDataFrame(pdf)


@pytest.mark.parametrize(
    "detector,params",
    [
        ("ddm", {"threshold": 3.0, "warmup": 50}),
        ("eddm", {"threshold": 0.7, "warmup": 50}),
        ("fhddm", {"conf_level": 1e-6, "win_size": 100}),
        ("ecdd", {"threshold": 4.0, "expf": 0.1, "warmup": 50}),
    ],
)
def test_drift_detectors_fire_after_drift(spark, error_stream, detector, params):
    out = drift_mod.drift_detect(
        error_stream, ["model_id"], "ts", "is_error", detector, **params
    ).toPandas()
    before = out[(out.ts < 480)].drift.sum()
    after = out[(out.ts >= 520)].drift.sum()
    assert after > 10, f"{detector}: no drift detected after change ({after})"
    assert before <= 5, f"{detector}: {before} false alarms before change"


def test_drift_detect_multi_matches_joined_two_pass(spark, error_stream):
    """drift_detect_multi (one sorted pass, the consensus feed) must emit
    bit-identical flags to two independent drift_detect passes joined on
    the row key — the equivalence the drift_consensus query relies on."""
    from pyspark.sql import functions as F

    d1 = drift_mod.drift_detect(
        error_stream, ["model_id"], "ts", "is_error", "ddm", threshold=3.0, warmup=50
    ).select("model_id", "ts", F.col("drift").alias("drift_ddm"))
    d2 = drift_mod.drift_detect(
        error_stream, ["model_id"], "ts", "is_error", "fhddm",
        conf_level=1e-6, win_size=100,
    ).select("model_id", "ts", F.col("drift").alias("drift_fhddm"))
    joined = (
        d1.join(d2, ["model_id", "ts"]).orderBy("model_id", "ts").toPandas()
    )
    multi = (
        drift_mod.drift_detect_multi(
            error_stream, ["model_id"], "ts", "is_error",
            [
                ("drift_ddm", "ddm", {"threshold": 3.0, "warmup": 50}),
                ("drift_fhddm", "fhddm", {"conf_level": 1e-6, "win_size": 100}),
            ],
        )
        .select("model_id", "ts", "drift_ddm", "drift_fhddm")
        .orderBy("model_id", "ts")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        joined.reset_index(drop=True), multi.reset_index(drop=True)
    )


def test_consensus_drift(spark, error_stream):
    d1 = drift_mod.drift_detect(
        error_stream, ["model_id"], "ts", "is_error", "ddm", threshold=3.0, warmup=50
    ).withColumnRenamed("drift", "drift_ddm").drop("pr", "sd")
    d2 = drift_mod.drift_detect(
        error_stream, ["model_id"], "ts", "is_error", "ecdd", threshold=3.0, warmup=50
    ).withColumnRenamed("drift", "drift_ecdd").drop("z")
    both = d1.join(d2, ["model_id", "ts", "is_error"])
    out = drift_mod.consensus_drift(both, ["drift_ddm", "drift_ecdd"], "all").toPandas()
    assert out.drift_consensus.sum() > 0
    assert (out.drift_consensus <= out[["drift_ddm", "drift_ecdd"]].min(axis=1)).all()


@pytest.mark.parametrize(
    "detector,params",
    [
        ("ddm", {"threshold": 3.0, "warmup": 50}),
        ("eddm", {"threshold": 0.7, "warmup": 50}),
        ("fhddm", {"conf_level": 1e-6, "win_size": 100}),
        ("ecdd", {"threshold": 4.0, "expf": 0.1, "warmup": 50}),
    ],
)
def test_stream_drift_matches_batch(spark, error_stream, detector, params):
    """applyInPandasWithState drift == one batch scan over the same rows.
    The first micro-batch is 30 rows (< warmup/win_size) so the state
    resume path — including DDM's warmup seeding and FHDDM's value tail —
    crosses the batch boundary."""
    from beymani_spark.streaming.jobs import apply_stream_drift

    batch = (
        drift_mod.drift_detect(
            error_stream, ["model_id"], "ts", "is_error", detector, **params
        )
        .toPandas()
        .sort_values("ts", ignore_index=True)
    )

    src = tempfile.mkdtemp(prefix=f"beymani_drift_src_{detector}_")
    chk = tempfile.mkdtemp(prefix=f"beymani_drift_chk_{detector}_")
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = error_stream.toPandas().sort_values("ts", ignore_index=True)
        for i, part in enumerate([pdf.iloc[:30], pdf.iloc[30:]]):
            path = os.path.join(src, f"part-{i:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
            os.utime(path, (1_000_000 + i, 1_000_000 + i))

        stream = (
            spark.readStream.schema(error_stream.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = apply_stream_drift(
            stream, ["model_id"], "ts", "is_error", detector, **params
        )
        q = streams.start_sink(
            out,
            {"format": "memory", "queryName": f"drift_{detector}_t",
             "outputMode": "append", "checkpoint": chk, "trigger": "availableNow"},
        )
        q.awaitTermination(180)
        got = (
            spark.sql(f"select * from drift_{detector}_t")
            .toPandas()
            .sort_values("ts", ignore_index=True)
        )
        assert len(got) == len(batch)
        diag = {"ddm": ["pr", "sd"], "eddm": ["cur"], "fhddm": ["acc"], "ecdd": ["z"]}[
            detector
        ]
        for c in diag:
            assert np.allclose(
                got[c].to_numpy(dtype=float),
                batch[c].to_numpy(dtype=float),
                rtol=1e-9,
                equal_nan=True,
            ), f"{detector}: diag col {c} diverges between stream and batch"
        assert (got.drift.to_numpy() == batch.drift.to_numpy()).all(), (
            f"{detector}: drift flags diverge"
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


@pytest.mark.parametrize(
    "detector,params",
    [
        ("ddm", {"threshold": 2.0, "warmup": 20}),
        ("fhddm", {"conf_level": 1e-3, "win_size": 25}),
    ],
)
def test_stream_drift_tied_ts_scans_stable_order(spark, detector, params):
    """Same-ts rows of one micro-batch are scanned in arrival order, the
    stable ts sort batch drift_detect applies: a one-file stream whose 500
    rows share 50 timestamps emits exactly the rows of one detector scan
    over the file's rows, stable-sorted by ts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from beymani_spark.streaming.jobs import apply_stream_drift

    rng = np.random.RandomState(7)
    n = 500
    pdf = pd.DataFrame(
        {
            "model_id": "m1",
            "ts": rng.permutation(np.repeat(np.arange(50), n // 50)).astype("int64"),
            "is_error": (rng.rand(n) < np.linspace(0.05, 0.5, n)).astype("int64"),
        }
    )
    ordered = pdf.sort_values("ts", kind="mergesort", ignore_index=True)
    cols, _ = drift_mod._SCANS[detector](ordered["is_error"].to_numpy(), **params)
    expected = ordered[["ts", "is_error"]].copy()
    for c, v in cols.items():
        expected[c] = v

    src = tempfile.mkdtemp(prefix=f"beymani_drift_ties_src_{detector}_")
    chk = tempfile.mkdtemp(prefix=f"beymani_drift_ties_chk_{detector}_")
    try:
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(src, "part-000.parquet"),
        )
        stream = spark.readStream.schema(
            "model_id string, ts long, is_error long"
        ).parquet(src)
        out = apply_stream_drift(
            stream, ["model_id"], "ts", "is_error", detector, **params
        )
        q = streams.start_sink(
            out,
            {"format": "memory", "queryName": f"drift_ties_{detector}_t",
             "outputMode": "append", "checkpoint": chk, "trigger": "availableNow"},
        )
        q.awaitTermination(180)
        got = spark.sql(f"select * from drift_ties_{detector}_t").toPandas()
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)

    order = list(expected.columns)
    got = got[order].astype(float).sort_values(order, ignore_index=True)
    expected = expected.astype(float).sort_values(order, ignore_index=True)
    pd.testing.assert_frame_equal(got, expected, check_exact=False, rtol=1e-12)


@pytest.fixture(scope="module")
def stream_dirs(spark):
    src = tempfile.mkdtemp(prefix="beymani_stream_src_")
    chk = tempfile.mkdtemp(prefix="beymani_stream_chk_")
    yield src, chk
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(chk, ignore_errors=True)


def test_stream_zscore_matches_batch(spark, stream_dirs):
    from beymani_spark.operators import profile, zscore
    from beymani_spark.sources import load_table

    src, chk = stream_dirs
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.mode("overwrite").parquet(src)
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])

    stream = spark.readStream.schema(ev.schema).parquet(src)
    scored = stream_zscore(stream, stats, ["event_type"], ["value"], threshold=3.0)
    q = streams.start_sink(
        alerts(scored),
        {"format": "memory", "queryName": "alerts_t", "checkpoint": chk + "/zs",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = spark.sql("select event_id from alerts_t").toPandas()
    batch = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
    expected = batch.filter("label = 'O'").select("event_id").toPandas()
    assert sorted(got.event_id) == sorted(expected.event_id)


def test_stream_temporal_aggregate_runs(spark, stream_dirs, tmp_path):
    from beymani_spark.sources import load_table

    src, chk = str(tmp_path / "events"), stream_dirs[1]
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = stream_temporal_aggregate(stream, ["event_type"], "ts", "value", "1 hour", "2 hours")
    q = streams.start_sink(
        agg,
        {"format": "memory", "queryName": "tagg_t", "outputMode": "append",
         "checkpoint": chk + "/ta", "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    n = spark.sql("select * from tagg_t").count()
    assert n >= 0  # append mode emits only watermark-closed windows


def test_stream_ewma_stateful(spark, stream_dirs, tmp_path):
    from beymani_spark.sources import load_table

    src, chk = str(tmp_path / "events"), stream_dirs[1]
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    scored = apply_stream_ewma(stream, ["event_type"], "ts", "value", alpha=0.2, threshold=4.0)
    q = streams.start_sink(
        scored,
        {"format": "memory", "queryName": "ewma_t", "outputMode": "append",
         "checkpoint": chk + "/ew", "trigger": "availableNow"},
    )
    q.awaitTermination(180)
    out = spark.sql("select * from ewma_t").toPandas()
    assert len(out) == ev.count()
    assert set(out.label.unique()) <= {"O", "N"}


def test_stream_ewma_scores_resume_across_batches(spark):
    """Stream EWMA scores equal a plain per-key recursion over ts-sorted
    rows when the feed arrives as three files, one per micro-batch, so
    every key's (mean, var, n) state resumes across two boundaries."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    alpha, threshold = 0.2, 2.5
    rng = np.random.RandomState(11)
    parts = []
    for key in ("a", "b", "c"):
        vals = rng.normal(10.0, 1.0, 90)
        vals[rng.choice(90, 6, replace=False)] += 8.0  # spikes that tag 'O'
        parts.append(pd.DataFrame({"k": key, "ts": np.arange(90, dtype="int64"), "v": vals}))
    pdf = pd.concat(parts, ignore_index=True)

    ref = []
    for key, g in pdf.sort_values("ts", kind="mergesort").groupby("k"):
        mean, var, n = 0.0, 0.0, 0
        for t, x in zip(g.ts, g.v):
            s = 0.0
            if n > 0:
                sd = var**0.5
                s = abs(x - mean) / sd if sd > 0 else 0.0
            if n == 0:
                mean, var, n = x, 0.0, 1
            else:
                mean = (1 - alpha) * mean + alpha * x
                var = (1 - alpha) * var + alpha * (x - mean) ** 2
                n += 1
            ref.append((key, int(t), s))
    ref = pd.DataFrame(ref, columns=["k", "ts", "ref_score"])

    src = tempfile.mkdtemp(prefix="beymani_ewma_src_")
    chk = tempfile.mkdtemp(prefix="beymani_ewma_chk_")
    try:
        for i, lo in enumerate((0, 30, 60)):
            path = os.path.join(src, f"part-{i:03d}.parquet")
            part = pdf[(pdf.ts >= lo) & (pdf.ts < lo + 30)]
            pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
            os.utime(path, (1_000_000 + i, 1_000_000 + i))
        stream = (
            spark.readStream.schema("k string, ts long, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        scored = apply_stream_ewma(
            stream, ["k"], "ts", "v", alpha=alpha, threshold=threshold
        )
        q = streams.start_sink(
            scored,
            {"format": "memory", "queryName": "ewma_resume_t",
             "outputMode": "append", "checkpoint": chk, "trigger": "availableNow"},
        )
        q.awaitTermination(180)
        got = spark.sql("select * from ewma_resume_t").toPandas()
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)

    assert len(got) == len(pdf)
    m = got.merge(ref, on=["k", "ts"], how="inner", validate="one_to_one")
    assert len(m) == len(pdf)
    np.testing.assert_allclose(m.score, m.ref_score, rtol=1e-12, atol=0.0)
    assert (m.label == np.where(m.ref_score > threshold, "O", "N")).all()
    assert (m.label == "O").sum() > 0


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (i, "image", bytes([i % 256]) * (100 + i), ("png", 32, 32, 0)) for i in range(20)
    ] + [(100 + i, "video", bytes([7, i]) * 500, ("mp4", 0, 0, 3500)) for i in range(3)]
    return spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)


def test_multimodal_decode_features(spark, media_df):
    out = multimodal.decode_features(media_df, decode="fake").toPandas()
    assert len(out) == 23
    assert all(len(f) == 16 for f in out.features)
    assert abs(sum(out.features.iloc[0]) - 1.0) < 1e-9  # normalized histogram
    # determinism: same payload -> same features
    out2 = multimodal.decode_features(media_df, decode="fake").toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values("media_id", ignore_index=True),
        out2.sort_values("media_id", ignore_index=True),
    )


def test_multimodal_real_decode_raises(spark, media_df):
    with pytest.raises(Exception) as ei:
        multimodal.decode_features(media_df.limit(1), decode="real").collect()
    assert "NotImplementedError" in str(ei.value) or "codec" in str(ei.value)


def test_multimodal_resize_and_frames(spark, media_df):
    rs = multimodal.resize(media_df.filter("kind = 'image'"), width=4, height=4).toPandas()
    assert all(len(p) == 16 for p in rs.pixels)
    fr = multimodal.sample_frames(media_df.filter("kind = 'video'"), fps=1.0).toPandas()
    # 3500 ms at 1 fps -> 3 frames per video
    assert (fr.groupby("media_id").size() == 3).all()
    assert all(len(f) == 64 for f in fr.frame_features)


def test_stream_one_step_ahead_matches_batch(spark, stream_dirs):
    """Stateful streaming one-step-ahead == batch kernel on an ordered feed
    (same numpy arithmetic op-for-op), including the outlier-feedback ring."""
    import numpy as np

    from beymani_spark.operators import sequence
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import apply_stream_one_step_ahead

    src, chk = stream_dirs
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type", "ts", "value"
    )
    ev.write.mode("overwrite").parquet(src + "/osa")

    stream = spark.readStream.schema(ev.schema).parquet(src + "/osa")
    scored = apply_stream_one_step_ahead(
        stream, ["event_type"], "ts", "value", window=8, threshold=3.0
    )
    q = streams.start_sink(
        scored,
        {"format": "memory", "queryName": "osa_t", "outputMode": "append",
         "checkpoint": chk + "/osa", "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = (
        spark.sql("select * from osa_t")
        .toPandas()
        .sort_values(["event_type", "ts"], ignore_index=True)
    )
    batch = (
        sequence.one_step_ahead(
            ev, ["event_type"], "ts", "value", window=8, threshold=3.0
        )
        .select("event_type", "ts", "predicted", "osa_score", "label")
        .toPandas()
        .sort_values(["event_type", "ts"], ignore_index=True)
    )
    assert len(got) == len(batch)
    np.testing.assert_allclose(
        got.predicted.to_numpy(float), batch.predicted.to_numpy(float),
        rtol=1e-12, equal_nan=True,
    )
    np.testing.assert_allclose(
        got.osa_score.to_numpy(float), batch.osa_score.to_numpy(float), rtol=1e-12
    )
    assert list(got.label) == list(batch.label)


def test_stream_dedup_exact_drops_cross_batch_duplicates(spark):
    """Duplicated payloads arriving in DIFFERENT micro-batches inside the
    watermark horizon must be emitted exactly once."""
    import pandas as pd

    from beymani_spark.streaming.jobs import stream_dedup_exact

    src = tempfile.mkdtemp(prefix="beymani_dedup_src_")
    chk = tempfile.mkdtemp(prefix="beymani_dedup_chk_")
    try:
        base = pd.DataFrame(
            {
                "content_hash": [f"h{i % 4}" for i in range(8)],
                "ts": pd.to_datetime("2026-01-01 00:00:00")
                + pd.to_timedelta(range(8), unit="m"),
            }
        )
        # two files -> two micro-batches with overlapping hashes
        spark.createDataFrame(base.iloc[:5]).coalesce(1).write.mode("overwrite").parquet(src + "/b0")
        spark.createDataFrame(base.iloc[5:]).coalesce(1).write.mode("append").parquet(src + "/b0")
        schema = spark.read.parquet(src + "/b0").schema
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src + "/b0")
        deduped = stream_dedup_exact(stream, ["content_hash"], "ts", "2 hours")
        q = streams.start_sink(
            deduped,
            {"format": "memory", "queryName": "dedup_t", "checkpoint": chk,
             "trigger": "availableNow"},
        )
        q.awaitTermination(120)
        got = spark.sql("select content_hash from dedup_t").toPandas()
        assert sorted(got.content_hash) == ["h0", "h1", "h2", "h3"]
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def test_streaming_training_pipeline_matches_batch(spark):
    """The LLM-pipeline operators compose unchanged over a stream: quality
    filter -> deterministic stratified sample on a file stream produces
    exactly the batch result (all stateless column expressions)."""
    from pyspark.sql import functions as F

    from beymani_spark.operators import sampling, text
    from beymani_spark.sources import load_table

    src = tempfile.mkdtemp(prefix="beymani_pipe_src_")
    chk = tempfile.mkdtemp(prefix="beymani_pipe_chk_")
    try:
        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        docs.write.mode("overwrite").parquet(src)

        def pipeline(df):
            scored = text.quality_score(df)
            kept = scored.filter(F.col("quality") > 0.5)
            return sampling.stratified_sample(
                kept, "doc_id", "lang", {"en": 0.5, "es": 1.0}, seed=7
            ).select("doc_id")

        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = streams.start_sink(
            pipeline(stream),
            {"format": "memory", "queryName": "pipe_t", "checkpoint": chk,
             "trigger": "availableNow"},
        )
        q.awaitTermination(120)
        got = sorted(r.doc_id for r in spark.sql("select doc_id from pipe_t").collect())
        expected = sorted(r.doc_id for r in pipeline(docs).collect())
        assert got == expected and len(got) > 0
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def test_stream_near_dup_candidates_against_corpus(spark):
    """Streaming minhash banding must (a) compute bit-identical bands to
    the batch pipeline and (b) flag a slightly-edited copy of a corpus doc
    arriving on the stream."""
    from pyspark.sql import functions as F

    from beymani_spark.operators import dedup
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import stream_near_dup_candidates

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")

    # (a) per-row expression bands == groupBy-aggregated batch bands
    rowwise = dedup.rowwise_minhash_bands(docs, "doc_id", "text").toPandas()
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", 16, 3)
    batch = []
    import hashlib as _h  # noqa: F401 (md5 computed in-JVM below)
    rows_per_band = 4
    band_cols = []
    for b in range(4):
        cols = [F.col(f"mh_{b*rows_per_band+r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"),
                     F.md5(F.concat_ws("|", *[c.cast("string") for c in cols])).alias("sig"))
        )
    batch = (
        sigs.select(F.col("_id").alias("doc_id"), F.explode(F.array(*band_cols)).alias("bs"))
        .select("doc_id", "bs.band", "bs.sig")
        .toPandas()
    )
    key = lambda df: set(map(tuple, df[["doc_id", "band", "sig"]].itertuples(index=False)))  # noqa: E731
    assert key(rowwise) == key(batch)

    # (b) stream a near-copy of doc 0 plus an unrelated doc
    src = tempfile.mkdtemp(prefix="beymani_nd_src_")
    chk = tempfile.mkdtemp(prefix="beymani_nd_chk_")
    try:
        base_text = docs.filter("doc_id = 0").first()["text"]
        new = spark.createDataFrame(
            [(100000, base_text + " tail"), (100001, "zz yy xx ww vv uu tt ss")],
            "doc_id long, text string",
        )
        new.write.mode("overwrite").parquet(src)
        corpus_bands = dedup.rowwise_minhash_bands(docs, "doc_id", "text").select(
            F.col("doc_id").alias("corpus_doc_id"), "band", "sig"
        )
        stream = spark.readStream.schema(new.schema).parquet(src)
        out = stream_near_dup_candidates(stream, corpus_bands)
        q = streams.start_sink(
            out,
            {"format": "memory", "queryName": "nd_t", "checkpoint": chk,
             "trigger": "availableNow"},
        )
        q.awaitTermination(120)
        got = spark.sql("select * from nd_t").toPandas()
        assert (got.doc_id == 100000).any(), "edited copy must band-match its source"
        hits = got[got.doc_id == 100000]
        assert (hits.corpus_doc_id == 0).any()
        assert not (got.doc_id == 100001).any(), "unrelated doc must not match"
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def test_stream_sessionize_matches_batch_sessions(spark):
    """Native session_window streaming sessionization == batch gap
    sessionize: same (user, n_events) multiset of closed sessions.

    session_window's gap is exclusive at exactly-gap spacing while the
    batch operator keeps exactly-at-gap rows in-session, so the fixture
    avoids exact-gap ties (real timestamps are microsecond-spaced)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from beymani_spark.operators.rollup import session_stats
    from beymani_spark.streaming.jobs import stream_sessionize

    src = tempfile.mkdtemp(prefix="beymani_sess_src_")
    chk = tempfile.mkdtemp(prefix="beymani_sess_chk_")
    try:
        t0 = dt.datetime(2026, 1, 1)
        rows = []
        for u in (1, 2):
            offs = [0, 50, 90, 400, 430, 1000] if u == 1 else [0, 700, 750]
            rows += [(u, t0 + dt.timedelta(seconds=o + u), 1.0) for o in offs]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        df.write.mode("overwrite").parquet(src)

        stream = spark.readStream.schema(df.schema).parquet(src)
        out = stream_sessionize(stream, ["user_id"], "ts", "value", "100 seconds", "10 minutes")
        q = streams.start_sink(
            out,
            {"format": "memory", "queryName": "sess_t", "outputMode": "complete",
             "checkpoint": chk, "trigger": "availableNow"},
        )
        q.awaitTermination(120)
        got = spark.sql("select user_id, n_events from sess_t").toPandas()
        batch = (
            session_stats(df, ["user_id"], "ts", "value", gap_seconds=100)
            .select("user_id", "n_events")
            .toPandas()
        )
        assert sorted(map(tuple, got.itertuples(index=False))) == sorted(
            map(tuple, batch.itertuples(index=False))
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def test_stream_corpus_filter_matches_batch_and_dedups_cross_batch(spark):
    """stream_corpus_filter: (a) the stateless lang/quality/PII columns on a
    file stream equal the batch pipeline's on every surviving doc; (b) a
    duplicate payload arriving in a LATER micro-batch within the horizon is
    emitted exactly once (first arrival wins)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from beymani_spark.operators import pipeline
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import stream_corpus_filter

    src = tempfile.mkdtemp(prefix="beymani_scf_src_")
    chk = tempfile.mkdtemp(prefix="beymani_scf_chk_")
    try:
        docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(40)
        with_ts = docs.withColumn(
            "ts",
            (F.lit("2026-01-01 00:00:00").cast("timestamp").cast("long")
             + F.col("doc_id") % 30 * 60).cast("timestamp"),
        ).select("doc_id", "text", "ts")
        # batch 0: originals; batch 1: exact-duplicate payloads, new ids
        with_ts.coalesce(1).write.mode("overwrite").parquet(src + "/b")
        dup = with_ts.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
        dup.coalesce(1).write.mode("append").parquet(src + "/b")
        schema = spark.read.parquet(src + "/b").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/b")
        )
        out = stream_corpus_filter(
            stream, "doc_id", "text", ts_col="ts", quality_min=0.6,
            watermark="2 hours",
        )
        q = streams.start_sink(
            out,
            {"format": "memory", "queryName": "scf_t", "checkpoint": chk,
             "trigger": "availableNow"},
        )
        q.awaitTermination(120)
        got = spark.sql(
            "select doc_id, pred_lang, n_tokens, quality, content_hash from scf_t"
        ).toPandas()
        # (b) each content hash exactly once, duplicates from batch 1 dropped
        assert got.content_hash.is_unique
        assert (got.doc_id < 100000).all()
        # (a) stateless columns equal the batch corpus pipeline's
        batch = (
            pipeline.build_corpus(docs, quality_min=0.6, seed=42)
            .select("doc_id", "pred_lang", "n_tokens", "quality")
            .toPandas()
        )
        merged = got.drop(columns=["content_hash"]).merge(
            batch, on="doc_id", suffixes=("_s", "_b")
        )
        assert len(merged) == len(got) == len(batch) > 0
        for c in ["pred_lang", "n_tokens", "quality"]:
            assert (merged[f"{c}_s"] == merged[f"{c}_b"]).all(), c
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def test_chunk_for_training_is_streaming_safe(spark):
    """chunk_for_training is a stateless scan-side explode, so the SAME
    operator composes onto readStream unchanged (the chunking stage of a
    streaming ingest pipeline) and emits exactly the batch result."""
    import pandas as pd

    from beymani_spark.operators import packing
    from beymani_spark.sources import load_table

    src = tempfile.mkdtemp(prefix="beymani_chunk_src_")
    chk = tempfile.mkdtemp(prefix="beymani_chunk_chk_")
    try:
        docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(30)
        docs.select("doc_id", "text").coalesce(2).write.mode("overwrite").parquet(src + "/b")
        schema = spark.read.parquet(src + "/b").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/b")
        )
        out = packing.chunk_for_training(stream, "doc_id", max_tokens=16, stride=8)
        q = streams.start_sink(
            out,
            {"format": "memory", "queryName": "chunk_t", "checkpoint": chk,
             "trigger": "availableNow"},
        )
        q.awaitTermination(120)
        got = spark.sql(
            "select doc_id, chunk_id, chunk_tokens, chunk_text from chunk_t"
        ).toPandas()
        batch = packing.chunk_for_training(
            docs, "doc_id", max_tokens=16, stride=8
        ).toPandas()
        key = ["doc_id", "chunk_id"]
        a = got.sort_values(key).reset_index(drop=True)
        b = batch.sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b[a.columns])
        assert len(a) > len(set(a.doc_id))  # multi-chunk docs exist
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def test_stream_topic_assign_matches_batch(spark, stream_dirs):
    """Streaming topic assignment against a batch-fitted centroid model is
    row-identical to the batch operator (stateless broadcast argmax)."""
    from beymani_spark.operators import similarity
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import stream_topic_assign

    src, chk = stream_dirs
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    emb.write.mode("overwrite").parquet(src)
    cents = similarity.fit_spherical_centroids(
        emb, "embedding", n_cells=8, iterations=10, seed=42, presample=4096
    )

    stream = spark.readStream.schema(emb.schema).parquet(src)
    q = streams.start_sink(
        stream_topic_assign(stream, cents, "vec_id", "embedding"),
        {"format": "memory", "queryName": "topics_t", "checkpoint": chk + "/tp",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = {
        r["vec_id"]: r["topic"]
        for r in spark.sql("select * from topics_t").collect()
    }
    batch = {
        r["vec_id"]: r["topic"]
        for r in similarity.topic_assign(
            emb, "vec_id", "embedding", centroids=cents
        ).collect()
    }
    assert got == batch and len(got) == emb.count()


_NDV = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong potions under a pale winter moon near the old stone bridge"
)


def test_stream_near_dup_verified_filters_and_matches_batch(spark, stream_dirs):
    """Verified streaming near-dup: exact-Jaccard verification runs inside
    the stream-static join (stateless), filtering band collisions below
    the threshold; stream output pairs == the same function run in batch."""
    from beymani_spark.functions import caching
    from beymani_spark.operators import dedup
    from beymani_spark.streaming.jobs import stream_near_dup_verified

    src, chk = stream_dirs
    corpus = spark.createDataFrame(
        [(2, _NDV), (4, "totally unrelated corpus record about shipping manifests")],
        ["corpus_doc_id", "text"],
    )
    with caching.scope():
        manifest = caching.persist(dedup.corpus_band_manifest(corpus, "corpus_doc_id"))
        manifest.count()

        stream_rows = spark.createDataFrame(
            [(11, _NDV), (13, _NDV + " tonight"), (15, "nothing shared here at all today")],
            ["doc_id", "text"],
        )
        stream_rows.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(stream_rows.schema).parquet(src)

        q = streams.start_sink(
            stream_near_dup_verified(stream, manifest, min_jaccard=0.5),
            {"format": "memory", "queryName": "ndv_t", "checkpoint": chk + "/ndv",
             "trigger": "availableNow"},
        )
        q.awaitTermination(120)
        got = spark.sql(
            "select distinct doc_id, corpus_doc_id, jaccard from ndv_t"
        ).collect()
        pairs = {(r["doc_id"], r["corpus_doc_id"]): r["jaccard"] for r in got}
        # exact copy verified at 1.0; near copy verified in (0.5, 1); unrelated absent
        assert pairs[(11, 2)] == 1.0
        assert (13, 2) in pairs and 0.5 <= pairs[(13, 2)] < 1.0
        assert not any(d == 15 for d, _ in pairs)

        # raising the threshold above the near-copy's true jaccard (~0.96:
        # appending one token to a 25-token doc barely moves the shingle set)
        # filters the COLLIDING candidate: verification is real, not a
        # pass-through of band collisions
        strict = stream_near_dup_verified(stream_rows, manifest, min_jaccard=0.99)
        strict_pairs = {(r["doc_id"], r["corpus_doc_id"]) for r in strict.collect()}
        assert (11, 2) in strict_pairs and (13, 2) not in strict_pairs

        # batch run of the same function == distinct stream output
        batch = stream_near_dup_verified(stream_rows, manifest, min_jaccard=0.5)
        batch_pairs = {
            (r["doc_id"], r["corpus_doc_id"]): r["jaccard"]
            for r in batch.select("doc_id", "corpus_doc_id", "jaccard").distinct().collect()
        }
        assert batch_pairs == pairs


def test_stream_keyword_tag_matches_batch_tfidf(spark, stream_dirs):
    """Streaming TF-IDF tagging against a batch-fitted vocabulary is
    row-identical to the batch operator when the vocabulary was fit on the
    same corpus (every token known, identical df/N): the stateless
    row-local kernel IS tfidf_topk's math. Unknown tokens score df=0."""
    from beymani_spark.operators.text import tfidf_topk, tfidf_vocab
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import stream_keyword_tag

    src, chk = stream_dirs
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    docs.write.mode("overwrite").parquet(src)
    vocab, n_docs = tfidf_vocab(docs, "text")

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = streams.start_sink(
        stream_keyword_tag(stream, vocab, n_docs, "doc_id", "text", k=5),
        {"format": "memory", "queryName": "kw_t", "checkpoint": chk + "/kw",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["tfidf_rank"]): (r["token"], r["tf"], r["score"])
        for r in spark.sql("select * from kw_t").collect()
    }
    batch = {
        (r["doc_id"], r["tfidf_rank"]): (r["token"], r["tf"], r["score"])
        for r in tfidf_topk(docs, "doc_id", "text", k=5).collect()
    }
    assert got == batch and len(got) > 0

    # unknown tokens (absent from the fitted vocab) rank FIRST: df=0 is
    # maximally rare, the tagging semantics for novel terms
    import math

    novel = spark.createDataFrame(
        [(901, "zzzunseen zzzunseen the the the")], ["doc_id", "text"]
    )
    out = stream_keyword_tag(novel, vocab, n_docs, k=2).collect()
    by_rank = {r["tfidf_rank"]: r for r in out}
    assert by_rank[1]["token"] == "zzzunseen"
    expect = round(2 * (math.log((1 + n_docs) / 1.0) + 1.0), 6)
    assert abs(by_rank[1]["score"] - expect) < 1e-9

    # bounded-vocab fit truncates deterministically
    small, _ = tfidf_vocab(docs, "text", max_vocab=10)
    assert len(small) == 10 and set(small) <= set(vocab)


def test_stream_tag_learned_threshold_matches_batch_pipeline(spark, stream_dirs):
    """The batch-learn -> stream-serve loop: thresholds learned offline
    (pseudo-relevance top-5%) tag a live scored stream; per-key outlier
    counts equal the batch anomaly_pipeline's, and unlearned keys label
    'I', never 'N'."""
    from pyspark.sql import functions as F

    from beymani_spark.operators import post, profile, zscore
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import stream_zscore

    src, chk = stream_dirs
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type", "value"
    )
    ev.write.mode("overwrite").parquet(src)
    stats = profile.numerical_stats(ev, ["event_type"], ["value"])
    scored_b = zscore.zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
    thr = post.pseudo_relevance_threshold(
        scored_b, ["event_type"], top_fraction=0.05, min_count=20
    ).filter(F.col("threshold").isNotNull())

    stream = spark.readStream.schema(ev.schema).parquet(src)
    scored_s = stream_zscore(stream, stats, ["event_type"], ["value"])
    q = streams.start_sink(
        zscore.tag_with_keyed_threshold(scored_s, thr, ["event_type"]),
        {"format": "memory", "queryName": "ltag_t", "checkpoint": chk + "/ltag",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = spark.sql(
        "select event_type, sum(case when label = 'O' then 1 else 0 end) n_outliers,"
        " sum(case when label in ('O','N') then 1 else 0 end) n"
        " from ltag_t group by event_type"
    ).collect()
    stream_counts = {r.event_type: (r.n, r.n_outliers) for r in got}

    from beymani_spark.plans import QUERIES

    batch = {
        r.event_type: (r.n, r.n_outliers)
        for r in QUERIES["anomaly_pipeline"].builder(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for k, (n, o) in batch.items():
        assert stream_counts[k] == (n, o), (k, stream_counts[k], (n, o))

    # an unlearned key labels 'I' — unknown keys never pass as normal
    alien = spark.createDataFrame(
        [(999, "unseen_type", 3.0)], ["event_id", "event_type", "value"]
    )
    scored_a = zscore.zscore(alien, stats, ["event_type"], ["value"])
    out = zscore.tag_with_keyed_threshold(scored_a, thr, ["event_type"]).collect()
    assert [r.label for r in out] == ["I"]


def test_stream_interval_join_matches_batch(spark, stream_dirs):
    """Watermarked stream-stream interval join emits exactly the batch
    interval_join's pair set (both sides live; state bounded by
    watermark + tolerance)."""
    from pyspark.sql import functions as F

    from beymani_spark.operators.asof import interval_join
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import stream_interval_join

    src, chk = stream_dirs
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    ev.write.mode("overwrite").parquet(src)

    schema = ev.schema
    ls = (
        spark.readStream.schema(schema).parquet(src)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("lts"),
        )
    )
    rs = (
        spark.readStream.schema(schema).parquet(src)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("rts"),
        )
    )
    q = streams.start_sink(
        stream_interval_join(
            ls, rs, [("l_user", "r_user")], "lts", "rts", 300, watermark="10 minutes"
        )
        .filter("left_id != right_id"),
        {"format": "memory", "queryName": "sij_t", "checkpoint": chk + "/sij",
         "trigger": "availableNow"},
    )
    q.awaitTermination(180)
    got = {
        (r.left_id, r.right_id)
        for r in spark.sql("select left_id, right_id from sij_t").collect()
    }
    batch = {
        (r.left_id, r.right_id)
        for r in interval_join(
            ev.select("user_id", F.col("event_id").alias("left_id"), F.col("ts").alias("lts")),
            ev.select("user_id", F.col("event_id").alias("right_id"), F.col("ts").alias("rts")),
            ["user_id"],
            "lts",
            "rts",
            300,
            "left_id",
            "right_id",
        ).filter("left_id != right_id").collect()
    }
    assert got == batch and len(got) > 0


def test_stream_entropy_increase_matches_batch_and_accumulates(spark, stream_dirs):
    """K11 streaming form. (a) update=False freezes the seeded histogram:
    output must equal batch entropy_increase_score row-for-row. (b)
    update=True folds each event into state: a python prequential replay
    over the event_id order reproduces every score exactly, proving the
    histogram actually accumulates across the feed."""
    import math

    import numpy as np

    from beymani_spark.operators import histogram
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import apply_stream_entropy_increase

    src, chk = stream_dirs
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type", "ts", "value"
    )
    ev.write.mode("overwrite").parquet(src + "/ei")
    hist = histogram.attr_histogram(ev, ["event_type"], ["value"], [10.0])
    model_rows = [r.asDict() for r in hist.collect()]

    # (a) frozen model == batch scorer
    stream = spark.readStream.schema(ev.schema).parquet(src + "/ei")
    scored = apply_stream_entropy_increase(
        stream, model_rows, ["event_type"], "ts", "value",
        width=10.0, threshold=0.01, update=False,
    )
    q = streams.start_sink(
        scored,
        {"format": "memory", "queryName": "ei_t", "outputMode": "append",
         "checkpoint": chk + "/ei", "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = (
        spark.sql("select * from ei_t").toPandas()
        .sort_values(["event_type", "ts", "value"], ignore_index=True)
    )
    batch = (
        histogram.entropy_increase_score(
            ev, hist, ["event_type"], "value", 10.0, threshold=0.01
        )
        .select("event_type", "ts", "value", "bucket", "score", "label")
        .toPandas()
        .sort_values(["event_type", "ts", "value"], ignore_index=True)
    )
    assert len(got) == len(batch) > 0
    assert list(got.bucket.astype(str)) == list(batch.bucket.astype(str))
    np.testing.assert_allclose(
        got.score.to_numpy(float), batch.score.to_numpy(float),
        rtol=1e-9, equal_nan=True,
    )
    assert list(got.label) == list(batch.label)

    # (b) accumulating state == python prequential replay (event_id as the
    # order column: unique, so the replay order is the stream's order)
    stream2 = spark.readStream.schema(ev.schema).parquet(src + "/ei")
    scored2 = apply_stream_entropy_increase(
        stream2, model_rows, ["event_type"], "event_id", "value",
        width=10.0, threshold=0.01, update=True,
    )
    q2 = streams.start_sink(
        scored2,
        {"format": "memory", "queryName": "ei_u", "outputMode": "append",
         "checkpoint": chk + "/ei_u", "trigger": "availableNow"},
    )
    q2.awaitTermination(120)
    pdf = ev.toPandas()
    seed: dict = {}
    for r in model_rows:
        seed.setdefault(r["event_type"], {})[str(r["bucket"])] = int(r["cnt"])
    expect = {}
    for key, sub in pdf.groupby("event_type"):
        h_d = dict(seed.get(key, {}))
        for _, row in sub.sort_values("event_id").iterrows():
            b = str(int(math.floor(row["value"] / 10.0)))
            n = sum(h_d.values())
            score = None
            if n > 0:
                s = sum(c * math.log(c) for c in h_d.values())
                h = math.log(n) - s / n
                if h > 0:
                    cb = h_d.get(b, 0)
                    s_new = (
                        s - (cb * math.log(cb) if cb else 0.0)
                        + (cb + 1) * math.log(cb + 1)
                    )
                    score = (math.log(n + 1) - s_new / (n + 1) - h) / h
            expect[(key, int(row["event_id"]))] = score
            h_d[b] = h_d.get(b, 0) + 1
    got2 = spark.sql("select * from ei_u").toPandas()
    assert len(got2) == len(pdf)
    for r in got2.itertuples():
        e = expect[(r.event_type, int(r.event_id))]
        if e is None:
            assert r.score is None or np.isnan(r.score)
        else:
            assert abs(r.score - e) <= 1e-12 * max(1.0, abs(e))
    # accumulation must actually move the distribution: for each key, the
    # same bucket scored at different stream positions gets different
    # scores (a frozen model would give identical ones)
    per_bucket = got2.dropna(subset=["score"]).groupby(
        ["event_type", "bucket"]
    )["score"].nunique()
    assert (per_bucket > 1).any()


def test_stream_quality_fuse_matches_batch_and_nulls_unlearned(spark, stream_dirs):
    """Batch-fitted fusion stats serve a live stream: per-row fused
    scores equal batch fuse_apply exactly, and a stratum absent from the
    fitted model scores NULL (never 'exactly average')."""
    from pyspark.sql import functions as F

    from beymani_spark.operators import text as text_ops
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import stream_quality_fuse

    src, chk = stream_dirs
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    scored = text_ops.quality_score(docs).select(
        "doc_id", "lang", "quality", "type_token_ratio"
    )
    # fit on every lang EXCEPT 'fr' so the stream carries an unlearned stratum
    stats = text_ops.fuse_stats(
        scored.filter(F.col("lang") != "fr"),
        ["quality", "type_token_ratio"],
        by=["lang"],
    )
    batch = stream_quality_fuse(
        scored, stats, ["quality", "type_token_ratio"], [2.0, 1.0], by=["lang"]
    )
    exp = {r["doc_id"]: r["fused_score"] for r in batch.collect()}

    scored.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(scored.schema).parquet(src)
    q = streams.start_sink(
        stream_quality_fuse(
            stream, stats, ["quality", "type_token_ratio"], [2.0, 1.0], by=["lang"]
        ),
        {"format": "memory", "queryName": "qfuse_t", "checkpoint": chk + "/qfuse",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["fused_score"]
        for r in spark.sql("select doc_id, fused_score from qfuse_t").collect()
    }
    assert got == exp, "stream fuse must equal batch fuse row-for-row"
    fr_docs = [r["doc_id"] for r in scored.filter(F.col("lang") == "fr").collect()]
    assert fr_docs and all(got[d] is None for d in fr_docs), (
        "unlearned stratum must score NULL"
    )


def test_stream_media_phash_dedup_matches_batch(spark, stream_dirs):
    """Streaming media pHash dedup vs a standing corpus: the verified
    (stream item, corpus item, hamming) set equals a batch run of the
    same kernel+band math; a planted corpus copy surfaces at hamming 0,
    unrelated payloads do not."""
    from pyspark.sql import functions as F

    from beymani_spark.operators.multimodal import phash64
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import stream_media_phash_dedup

    src, chk = stream_dirs
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(60)
    corpus = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    corpus_hashes = phash64(corpus, decode="fake").withColumnRenamed(
        "media_id", "corpus_media_id"
    )
    # stream: copies of corpus items 0/7/14... under shifted ids + fresh items
    arriving = corpus.filter(F.col("media_id") % 7 == 0).select(
        (F.col("media_id") + 500_000).alias("media_id"), "payload"
    )
    arriving.write.mode("overwrite").parquet(src + "/media")

    batch_out = stream_media_phash_dedup(
        spark.read.schema(arriving.schema).parquet(src + "/media"),
        corpus_hashes,
    )
    exp = {
        (r["media_id"], r["corpus_media_id"]): r["hamming"]
        for r in batch_out.collect()
    }

    stream = spark.readStream.schema(arriving.schema).parquet(src + "/media")
    q = streams.start_sink(
        stream_media_phash_dedup(stream, corpus_hashes),
        {"format": "memory", "queryName": "phash_t", "checkpoint": chk + "/phash",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = {
        (r["media_id"], r["corpus_media_id"]): r["hamming"]
        for r in spark.sql(
            "select media_id, corpus_media_id, hamming from phash_t"
        ).collect()
    }
    assert got == exp
    # every planted copy found against its original at hamming 0
    planted = {(m + 500_000, m) for m in range(0, 60, 7)}
    assert planted <= set(got) and all(got[p] == 0 for p in planted)


def test_stream_media_phash_dedup_composite_matches_batch(spark, stream_dirs):
    """Composite-band streaming pHash dedup: the corpus-scale form's
    verified pair set equals the single-band form restricted to
    hamming <= 2 (exact copies always share every band pair); a
    malformed corpus hash is excluded by the length contract instead of
    bucketing under '' keys; max_hamming=3 rejected in composite mode."""
    import pytest
    from pyspark.sql import functions as F

    from beymani_spark.operators.multimodal import phash64
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import stream_media_phash_dedup

    src, chk = stream_dirs
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(60)
    corpus = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    corpus_hashes = phash64(corpus, decode="fake").withColumnRenamed(
        "media_id", "corpus_media_id"
    )
    # poison the corpus with malformed hashes: must be excluded, not
    # all-pairs-bucketed under ''
    poisoned = corpus_hashes.unionByName(
        spark.createDataFrame(
            [(900_001, ""), (900_002, "abcd")],
            "corpus_media_id long, phash string",
        )
    )
    arriving = corpus.filter(F.col("media_id") % 7 == 0).select(
        (F.col("media_id") + 500_000).alias("media_id"), "payload"
    )
    arriving.write.mode("overwrite").parquet(src + "/media_c2")
    batch_df = spark.read.schema(arriving.schema).parquet(src + "/media_c2")

    base2 = {
        (r["media_id"], r["corpus_media_id"]): r["hamming"]
        for r in stream_media_phash_dedup(
            batch_df, poisoned, max_hamming=3, composite_bands=False
        ).collect()
        if r["hamming"] <= 2
    }
    comp_batch = {
        (r["media_id"], r["corpus_media_id"]): r["hamming"]
        for r in stream_media_phash_dedup(
            batch_df, poisoned, max_hamming=2, composite_bands=True
        ).collect()
    }
    assert comp_batch == base2 and comp_batch, (
        "composite must equal single-band at hamming<=2"
    )
    assert not any(c >= 900_000 for _, c in comp_batch), (
        "malformed corpus hashes must be excluded"
    )

    stream = spark.readStream.schema(arriving.schema).parquet(src + "/media_c2")
    q = streams.start_sink(
        stream_media_phash_dedup(
            stream, poisoned, max_hamming=2, composite_bands=True
        ),
        {"format": "memory", "queryName": "phash_c2_t", "checkpoint": chk + "/phash_c2",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = {
        (r["media_id"], r["corpus_media_id"]): r["hamming"]
        for r in spark.sql(
            "select media_id, corpus_media_id, hamming from phash_c2_t"
        ).collect()
    }
    assert got == comp_batch, "stream composite must equal batch composite"

    with pytest.raises(ValueError, match="hamming"):
        stream_media_phash_dedup(
            batch_df, poisoned, max_hamming=3, composite_bands=True
        )


def test_stream_kmeans_score_matches_batch(spark, stream_dirs):
    """Streaming k-means serve: scores from the batch-fitted broadcast
    centroid model equal a batch kmeans_score run row-for-row — the
    model-side aggregations are static, so the stream plan is a
    stream-static broadcast join plus codegen expressions."""
    from pyspark.sql import functions as F

    from beymani_spark.operators.multivariate import kmeans_model, kmeans_score
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import stream_kmeans_score

    src, chk = stream_dirs
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    keys, vals = ["l_returnflag"], ["l_quantity", "l_extendedprice"]
    model = kmeans_model(li, keys, vals, n_clusters=3, presample=64)

    arriving = li.limit(300).select(
        "l_orderkey", "l_linenumber", *keys, *vals
    )
    arriving.write.mode("overwrite").parquet(src + "/km")
    batch_in = spark.read.schema(arriving.schema).parquet(src + "/km")
    exp = {
        (r["l_orderkey"], r["l_linenumber"]): (round(r["score"], 9), r["label"])
        for r in kmeans_score(batch_in, model, keys, vals).collect()
    }

    stream = spark.readStream.schema(arriving.schema).parquet(src + "/km")
    # the unroll width comes from the model's driver rows: planning the
    # stream runs no Spark job
    sc = spark.sparkContext
    sc.setJobGroup("km_plan", "stream kmeans planning")
    try:
        scored = stream_kmeans_score(stream, model, keys, vals)
        assert not sc.statusTracker().getJobIdsForGroup("km_plan")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    q = streams.start_sink(
        scored,
        {"format": "memory", "queryName": "km_t", "checkpoint": chk + "/km",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = {
        (r["l_orderkey"], r["l_linenumber"]): (round(r["score"], 9), r["label"])
        for r in spark.sql(
            "select l_orderkey, l_linenumber, score, label from km_t"
        ).collect()
    }
    assert got == exp and got, "stream kmeans serve must equal batch"


def test_stream_isolation_forest_matches_batch(spark, stream_dirs):
    """Streaming isolation-forest serve: the broadcast-forest mapInPandas
    traversal runs stream-side (the .rdd few-split probe is skipped on
    streams); scores equal batch; a key absent from the model tags 'I'."""
    from pyspark.sql import functions as F

    from beymani_spark.operators.multivariate import (
        isolation_forest_fit,
        isolation_forest_score,
    )
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import stream_isolation_forest_score

    src, chk = stream_dirs
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    keys, vals = ["l_returnflag"], ["l_quantity", "l_extendedprice"]
    # fit on ONE key only so other keys exercise the 'I' path in-stream
    model = isolation_forest_fit(
        li.filter(F.col("l_returnflag") == "A"), keys, vals,
        num_trees=10, subsample=64,
    )

    arriving = li.limit(300).select("l_orderkey", "l_linenumber", *keys, *vals)
    arriving.write.mode("overwrite").parquet(src + "/isf")
    batch_in = spark.read.schema(arriving.schema).parquet(src + "/isf")
    exp = {
        (r["l_orderkey"], r["l_linenumber"]): (
            None if r["score"] is None else round(r["score"], 9),
            r["label"],
        )
        for r in isolation_forest_score(batch_in, model, keys, vals).collect()
    }

    stream = spark.readStream.schema(arriving.schema).parquet(src + "/isf")
    q = streams.start_sink(
        stream_isolation_forest_score(stream, model, keys, vals),
        {"format": "memory", "queryName": "isf_t", "checkpoint": chk + "/isf",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = {
        (r["l_orderkey"], r["l_linenumber"]): (
            None if r["score"] is None else round(r["score"], 9),
            r["label"],
        )
        for r in spark.sql(
            "select l_orderkey, l_linenumber, score, label from isf_t"
        ).collect()
    }
    assert got == exp and got
    labels = {lab for _, lab in got.values()}
    assert "I" in labels, "absent-model keys must tag 'I' in the stream"
    assert {"N", "O"} & labels, "fitted key must score normally"


def test_stream_multigram_matches_batch_across_batches(spark, stream_dirs):
    """Streaming multigram: the emitted gram multiset equals the batch
    operator's distribution, INCLUDING grams that span micro-batch
    boundaries (the state carries each id's window tail); an id with
    fewer than seq_len rows emits nothing."""
    from collections import Counter

    from pyspark.sql import functions as F

    from beymani_spark.operators.histogram import multigram_multivariate
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import apply_stream_multigram

    src, chk = stream_dirs
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).limit(400)
    spec = [("event_type", None), ("value", 5.0)]

    exp = {
        r["gram"]: r["cnt"]
        for r in multigram_multivariate(
            ev, "user_id", "ts", spec, seq_len=3, order_cols=["event_id"]
        ).collect()
    }

    # split by event_id (monotone with ts) into two files so every user's
    # sequence — and therefore grams — SPAN the micro-batch break
    cut = ev.selectExpr("percentile(cast(event_id as double), 0.5)").first()[0]
    ev.filter(F.col("event_id") <= cut).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src + "/mg/f1")
    ev.filter(F.col("event_id") > cut).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src + "/mg/f2")
    import glob as _glob
    import shutil

    dest = src + "/mg_in"
    import os

    os.makedirs(dest, exist_ok=True)
    for i, part in enumerate(
        sorted(_glob.glob(src + "/mg/f1/part-*.parquet"))
        + sorted(_glob.glob(src + "/mg/f2/part-*.parquet"))
    ):
        shutil.copyfile(part, f"{dest}/{i:02d}.parquet")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dest)
    )
    q = streams.start_sink(
        apply_stream_multigram(
            stream, "user_id", "ts", spec, seq_len=3, order_cols=["event_id"]
        ),
        {"format": "memory", "queryName": "mg_t", "checkpoint": chk + "/mg",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = Counter(
        r["gram"] for r in spark.sql("select gram from mg_t").collect()
    )
    assert dict(got) == exp and exp, (
        "stream gram multiset must equal the batch distribution"
    )


def test_stream_bucket_rule_nonfinite_and_overflow(spark, stream_dirs):
    """Round-10 ADVICE: +/-inf, NaN, and |floor(v/width)| >= 2^63 values
    must render NULL buckets in BOTH entropy paths (the sequential
    update path used to crash with an uncaught OverflowError on inf; the
    frozen vectorized path used to emit an INT64_MIN-wrapped garbage
    bucket) and must be skipped from multigram symbols — the two modes
    render byte-identical buckets on any input."""
    import numpy as np

    from beymani_spark.streaming.jobs import (
        _safe_bucket_str,
        _safe_bucket_strings,
        apply_stream_entropy_increase,
        apply_stream_multigram,
    )

    # helper-level rule identity: vectorized mask == sequential rule
    vals = np.array(
        [np.inf, -np.inf, np.nan, 1e300, -1e300, 9.3e19, 25.0, -7.5, 0.0]
    )
    valid, img = _safe_bucket_strings(vals, 10.0)
    seq = [_safe_bucket_str(v, 10.0) for v in vals]
    assert [img[i] if valid[i] else None for i in range(len(vals))] == seq
    assert seq[:6] == [None] * 6 and seq[6:] == ["2", "-1", "0"]

    # width = 0: the vectorized 0-divide yields inf and masks to NULL;
    # the sequential path must render NULL too (ZeroDivisionError), not
    # kill the streaming task
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        valid0, _ = _safe_bucket_strings(vals, 0.0)
    assert not valid0.any()
    assert [_safe_bucket_str(v, 0.0) for v in vals] == [None] * len(vals)

    src, chk = stream_dirs
    pdf = pd.DataFrame(
        {
            "key": ["a"] * 6,
            "event_id": list(range(6)),
            "ts": list(range(6)),
            "value": [5.0, float("inf"), float("-inf"), float("nan"), 1e300, 15.0],
        }
    )
    df = spark.createDataFrame(pdf)
    df.write.mode("overwrite").parquet(src + "/nf")
    model_rows = [
        {"key": "a", "bucket": "0", "cnt": 3},
        {"key": "a", "bucket": "1", "cnt": 2},
    ]
    outs = {}
    for mode, update in (("nf_u", True), ("nf_f", False)):
        stream = spark.readStream.schema(df.schema).parquet(src + "/nf")
        scored = apply_stream_entropy_increase(
            stream, model_rows, ["key"], "event_id", "value",
            width=10.0, threshold=0.01, update=update,
        )
        q = streams.start_sink(
            scored,
            {"format": "memory", "queryName": mode, "outputMode": "append",
             "checkpoint": chk + "/" + mode, "trigger": "availableNow"},
        )
        q.awaitTermination(120)
        outs[mode] = (
            spark.sql(f"select * from {mode}")
            .toPandas().sort_values("event_id", ignore_index=True)
        )
    for mode, got in outs.items():
        assert list(got.bucket.where(got.bucket.notna(), None)) == [
            "0", None, None, None, None, "1",
        ], mode
        assert not got.bucket.astype(str).str.contains("92233720").any(), mode
    # the first event scores against the same seed histogram in both
    # modes (nothing folded yet), so frozen and update must agree on it
    # (np.log vs math.log differ by ~1 ulp — the family's rtol contract)
    assert np.isclose(
        outs["nf_u"].score[0], outs["nf_f"].score[0], rtol=1e-9
    )

    # multigram: the non-finite/overflow column values are skipped from
    # the composite symbol exactly like a failed cast
    stream = spark.readStream.schema(df.schema).parquet(src + "/nf")
    q = streams.start_sink(
        apply_stream_multigram(
            stream, "key", "ts", [("value", 10.0)], seq_len=1,
            order_cols=["event_id"],
        ),
        {"format": "memory", "queryName": "nf_mg", "checkpoint": chk + "/nf_mg",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    grams = [
        r["gram"]
        for r in spark.sql(
            "select gram from nf_mg order by gram"
        ).collect()
    ]
    assert sorted(grams) == sorted(["0", "", "", "", "", "1"])


def _run_markov_replay(spark, src, chk, name, clock):
    """Four-file replay harness for the eviction-clock test: entity B goes
    quiet after file 1, the watermark sweeps far past B's last event +
    horizon while A keeps streaming (files 2-3), then B re-appears in
    file 4 with an event time BEHIND the watermark (the straggler-clamp
    path). Returns B's final-event row."""
    import datetime as dt

    from beymani_spark.streaming.jobs import apply_stream_markov

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    files = [
        # file 1: both entities warm up (A and B each make one transition)
        [("A", ts(0), "a"), ("A", ts(60), "b"),
         ("B", ts(0), "a"), ("B", ts(60), "b")],
        # file 2: A only — advances the watermark to t0+2h
        [("A", ts(7200), "a")],
        # file 3: A only — the batch where B's expired event-time deadline
        # (t0+60s + 1h) is processed against the t0+2h watermark
        [("A", ts(7260), "b")],
        # file 4: B returns (ahead of the watermark — an event BEHIND it
        # would be dropped as late data before the stateful operator, the
        # watermark contract this eviction mode buys into)
        [("B", ts(10900), "b"), ("A", ts(10800), "a")],
    ]
    dest = f"{src}/{name}"
    os.makedirs(dest, exist_ok=True)
    schema = "user_id string, ts timestamp, event_type string"
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{dest}/stage{i}")
    import glob as _glob
    import shutil as _shutil

    feed = f"{dest}/feed"
    os.makedirs(feed, exist_ok=True)
    for i in range(len(files)):
        part = sorted(_glob.glob(f"{dest}/stage{i}/part-*.parquet"))[0]
        tgt = f"{feed}/{i:02d}.parquet"
        _shutil.copyfile(part, tgt)
        # FileStreamSource orders by modification time — pin strictly
        # increasing mtimes or the four replay batches can scramble
        os.utime(tgt, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    model_rows = [
        {"prev_state": a, "cur_state": b, "prob": p}
        for (a, b), p in {
            ("a", "a"): 0.5, ("a", "b"): 0.5,
            ("b", "a"): 0.5, ("b", "b"): 0.5,
        }.items()
    ]
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .withWatermark("ts", "0 seconds")
    )
    scored = apply_stream_markov(
        stream, model_rows, ["user_id"], "ts", "event_type",
        window=5, threshold=100.0,
        state_timeout_ms=3_600_000, state_timeout_clock=clock,
    )
    q = streams.start_sink(
        scored,
        {"format": "memory", "queryName": name, "outputMode": "append",
         "checkpoint": chk + "/" + name, "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    rows = spark.sql(
        f"select * from {name} where user_id = 'B' order by ts"
    ).collect()
    assert len(rows) == 3
    return rows[-1]


@pytest.mark.slow  # multi-minute sweep: excluded from the default run (see pyproject)
def test_event_time_eviction_fires_under_replay(spark, stream_dirs):
    """Round-10 directive: ProcessingTimeTimeout is the wrong horizon
    during catch-up replay — a fast replay of old data never idles on
    the wall clock, so nothing evicts and a returning entity keeps its
    stale state. state_timeout_clock='event' evicts on the WATERMARK
    instead: once it passes an entity's last event + horizon, the state
    is removed and the entity re-warms on return (label 'I'), exactly as
    if it were new. The same replay under the processing clock keeps the
    state (B's return scores against its carried symbol) — proving the
    two clocks differ exactly where they should."""
    src, chk = stream_dirs

    evicted = _run_markov_replay(spark, src, chk, "ev_clock", "event")
    assert evicted["score"] is None and evicted["label"] == "I", (
        "event clock must have evicted B's state during the replay gap"
    )

    kept = _run_markov_replay(spark, src, chk, "pt_clock", "processing")
    assert kept["score"] is not None and kept["label"] != "I", (
        "processing clock must NOT evict during a fast replay"
    )


def test_stream_iforest_over_cap_model_raises(spark, stream_dirs):
    """A streaming fact frame can only serve a BROADCAST forest; an
    over-cap model must refuse at plan time instead of silently doing
    the unbounded driver collect the cap exists to prevent."""
    from beymani_spark.operators.multivariate import isolation_forest_fit
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import stream_isolation_forest_score

    src, _ = stream_dirs
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    model = isolation_forest_fit(
        li, ["l_returnflag"], ["l_quantity", "l_extendedprice"],
        num_trees=5, subsample=32, max_model_rows=1,
    )
    assert model.rows is None
    li.limit(10).write.mode("overwrite").parquet(src + "/ifoc")
    stream = spark.readStream.schema(li.schema).parquet(src + "/ifoc")
    with pytest.raises(ValueError, match="max_model_rows"):
        stream_isolation_forest_score(
            stream, model, ["l_returnflag"], ["l_quantity", "l_extendedprice"]
        )


def test_stream_kmeans_score_empty_model_raises(spark):
    """An empty centroid model (a fit that produced nothing, or a wrong
    path) must fail loudly at plan time, not TypeError on int(None), and
    must read its emptiness off the driver rows without a Spark job."""
    from beymani_spark.operators.multivariate import kmeans_model, materialize
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import stream_kmeans_score

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    keys, vals = ["l_returnflag"], ["l_quantity"]
    fitted = kmeans_model(li, keys, vals, n_clusters=2, presample=64)
    model = materialize(fitted.frame.limit(0))
    assert model.rows == []
    sc = spark.sparkContext
    sc.setJobGroup("empty_km", "empty kmeans model check")
    try:
        with pytest.raises(ValueError, match="empty kmeans model"):
            stream_kmeans_score(li, model, keys, vals)
        assert not sc.statusTracker().getJobIdsForGroup("empty_km")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_stream_multigram_boolean_categorical_matches_batch(
    spark, stream_dirs
):
    """Non-string categoricals (booleans) render through Spark's
    cast-to-string on BOTH sides — the stream casts categorical spec
    columns before the stateful stage (Python str(True) would emit
    'True' where batch emits 'true'), keeping grams byte-identical."""
    from collections import Counter

    from beymani_spark.operators.histogram import multigram_multivariate
    from beymani_spark.streaming.jobs import apply_stream_multigram

    src, chk = stream_dirs
    rows = [
        (i, i % 7, (i * 3) % 2 == 0, float(i % 11)) for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, uid long, flag boolean, value double"
    )
    spec = [("flag", None), ("value", 4.0)]
    exp = {
        r["gram"]: r["cnt"]
        for r in multigram_multivariate(
            df, "uid", "event_id", spec, seq_len=2
        ).collect()
    }
    assert any("true" in g or "false" in g for g in exp), (
        "booleans must render lowercase in batch grams"
    )
    df.coalesce(1).write.mode("overwrite").parquet(src + "/mgb")
    stream = spark.readStream.schema(df.schema).parquet(src + "/mgb")
    q = streams.start_sink(
        apply_stream_multigram(stream, "uid", "event_id", spec, seq_len=2),
        {"format": "memory", "queryName": "mgb_t", "checkpoint": chk + "/mgb",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = Counter(
        r["gram"] for r in spark.sql("select gram from mgb_t").collect()
    )
    assert dict(got) == exp and exp, (
        "boolean-categorical grams must equal batch byte-for-byte"
    )


def test_stream_markov_global_matches_batch(spark, stream_dirs):
    """The reference's GLOBAL accumulation mode: the streaming expanding
    mean (per-entity num/den accumulators in state) equals the batch
    markov_score(window=None) row-for-row on the scored rows, across a
    micro-batch split (the accumulators carry); first-per-user rows tag
    'I' in the stream and are dropped by batch."""
    from pyspark.sql import functions as F

    from beymani_spark.operators import markov
    from beymani_spark.sources import load_table
    from beymani_spark.streaming.jobs import apply_stream_markov_global

    src, chk = stream_dirs
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    model = markov.transition_model(
        ev, ["user_id"], "ts", "event_type", order_cols=["event_id"]
    )
    model_rows = [r.asDict() for r in model.collect()]

    batch = markov.markov_score(
        ev, model, ["user_id"], "ts", "event_type",
        metric="missProbability", window=None, threshold=0.85,
        order_cols=["event_id"],
    ).toPandas()

    # two files split on the event_id median (monotone with ts): every
    # user's accumulators span the micro-batch boundary
    cut = ev.selectExpr("percentile(cast(event_id as double), 0.5)").first()[0]
    ev.filter(F.col("event_id") <= cut).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src + "/mg_f1")
    ev.filter(F.col("event_id") > cut).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src + "/mg_f2")
    import glob as _glob
    import os
    import shutil

    dest = src + "/mkvg_in"
    os.makedirs(dest, exist_ok=True)
    for i, part in enumerate(
        sorted(_glob.glob(src + "/mg_f1/part-*.parquet"))
        + sorted(_glob.glob(src + "/mg_f2/part-*.parquet"))
    ):
        shutil.copyfile(part, f"{dest}/{i:02d}.parquet")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dest)
    )
    q = streams.start_sink(
        apply_stream_markov_global(
            stream, model_rows, ["user_id"], "ts", "event_type",
            metric="missProbability", threshold=0.85,
        ),
        {"format": "memory", "queryName": "mkvg_t", "checkpoint": chk + "/mkvg",
         "trigger": "availableNow"},
    )
    q.awaitTermination(180)
    got = spark.sql("select * from mkvg_t").toPandas()
    assert len(got) == ev.count(), "stream emits every event"
    scored = got[got.label != "I"].sort_values(["user_id", "ts"])
    exp = batch.sort_values(["user_id", "ts"])
    assert len(scored) == len(exp)
    assert (
        scored.score.round(9).to_numpy() == exp.score.round(9).to_numpy()
    ).all(), "global expanding mean must equal batch window=None"
    assert (
        scored.label.to_numpy() == exp.label.to_numpy()
    ).all(), "labels must agree"
    with pytest.raises(ValueError, match="metric"):
        apply_stream_markov_global(
            stream, model_rows, ["user_id"], "ts", "event_type",
            metric="bogus",
        )


@pytest.mark.slow  # multi-minute sweep: excluded from the default run (see pyproject)
def test_stream_markov_null_state_chunk_independent(spark, stream_dirs):
    """Null state symbols: the null row scores as an unseen transition
    (batch's left-join null-prob arithmetic); the row AFTER a null has no
    transition and tags 'I' (the row batch drops via prev_state IS NOT
    NULL) — and the output is IDENTICAL whether the null falls mid-batch
    or at a micro-batch boundary (the carried symbol and the in-batch
    shift produce the same mask)."""
    from beymani_spark.streaming.jobs import (
        apply_stream_markov,
        apply_stream_markov_global,
    )

    src, chk = stream_dirs
    rows = [
        (1, 1, "a"), (2, 1, "b"), (3, 1, None), (4, 1, "b"), (5, 1, "a"),
        (6, 1, "b"), (7, 1, "a"),
    ]
    df = spark.createDataFrame(rows, "ts long, user_id long, state string")
    model_rows = [
        {"prev_state": "a", "cur_state": "b", "prob": 0.75},
        {"prev_state": "a", "cur_state": "a", "prob": 0.25},
        {"prev_state": "b", "cur_state": "a", "prob": 1.0},
    ]

    def run(splits, name, fn, **kw):
        import glob as g
        import os
        import shutil

        d = f"{src}/{name}"
        os.makedirs(d, exist_ok=True)
        for f_ in g.glob(d + "/*.parquet"):
            os.remove(f_)
        for i, (lo, hi) in enumerate(splits):
            part = df.filter(f"ts >= {lo} and ts <= {hi}").coalesce(1)
            tmp = f"{src}/{name}_tmp{i}"
            part.write.mode("overwrite").parquet(tmp)
            for j, p in enumerate(sorted(g.glob(tmp + "/part-*.parquet"))):
                shutil.copyfile(p, f"{d}/{i:02d}_{j}.parquet")
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = streams.start_sink(
            fn(stream, model_rows, ["user_id"], "ts", "state", **kw),
            {"format": "memory", "queryName": f"q_{name}",
             "checkpoint": f"{chk}/{name}", "trigger": "availableNow"},
        )
        q.awaitTermination(120)
        return (
            spark.sql(f"select ts, score, label from q_{name}")
            .toPandas()
            .sort_values("ts", ignore_index=True)
        )

    for fn, kw, tag in (
        (apply_stream_markov, {"window": 5, "threshold": 2.0}, "mkv"),
        (
            apply_stream_markov_global,
            {"metric": "missProbability", "threshold": 0.9},
            "mkvg",
        ),
    ):
        one = run([(1, 7)], f"{tag}_one", fn, **kw)
        two = run([(1, 3), (4, 7)], f"{tag}_two", fn, **kw)
        assert (one.label == two.label).all(), f"{tag}: chunk-dependent labels"
        import numpy as np

        assert np.allclose(
            one.score.to_numpy(dtype=float),
            two.score.to_numpy(dtype=float),
            rtol=1e-9,
            equal_nan=True,
        ), f"{tag}: chunk-dependent scores"
        by_ts = dict(zip(one.ts, one.label))
        assert by_ts[1] == "I", f"{tag}: first-ever event must tag I"
        assert by_ts[4] == "I", f"{tag}: the row after a null must tag I"
        assert by_ts[3] != "I", f"{tag}: the null row itself IS a transition"


def test_stream_entropy_frozen_boolean_buckets_match_model(spark, stream_dirs):
    """Frozen-model entropy serve over a BOOLEAN value column: the stream
    casts the column to string Spark-side, so buckets render 'true'/
    'false' exactly like the batch-fit attr_histogram model — every event
    hits its seed bucket (no silent everyone-is-unseen)."""
    from beymani_spark.operators.histogram import attr_histogram
    from beymani_spark.streaming.jobs import apply_stream_entropy_increase

    src, chk = stream_dirs
    rows = [(i, 1, i % 3 == 0) for i in range(60)]
    df = spark.createDataFrame(rows, "ts long, k long, flag boolean")
    model = attr_histogram(df, ["k"], ["flag"], [None])
    model_rows = [r.asDict() for r in model.collect()]
    assert {r["bucket"] for r in model_rows} == {"true", "false"}

    df.coalesce(1).write.mode("overwrite").parquet(src + "/entb")
    stream = spark.readStream.schema(df.schema).parquet(src + "/entb")
    q = streams.start_sink(
        apply_stream_entropy_increase(
            stream, model_rows, ["k"], "ts", "flag", width=None,
            threshold=0.5, update=False,
        ),
        {"format": "memory", "queryName": "entb_t", "checkpoint": chk + "/entb",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = spark.sql("select bucket, score, label from entb_t").toPandas()
    assert set(got.bucket) == {"true", "false"}, "buckets must hit the model"
    assert (got.label != "I").all() and got.score.notna().all(), (
        "a populated frozen model must score every event"
    )


def test_stream_multigram_non_numeric_bucketed_col_skips(spark, stream_dirs):
    """A non-numeric value in a NUMERIC (width) spec column renders as
    null and is skipped like batch's failed cast — never floored through
    NaN into the INT64_MIN garbage symbol."""
    from beymani_spark.streaming.jobs import apply_stream_multigram

    src, chk = stream_dirs
    rows = [(i, 1, "abc" if i % 2 else str(float(i))) for i in range(12)]
    df = spark.createDataFrame(rows, "event_id long, uid long, v string")
    df.coalesce(1).write.mode("overwrite").parquet(src + "/mgnn")
    stream = spark.readStream.schema(df.schema).parquet(src + "/mgnn")
    q = streams.start_sink(
        apply_stream_multigram(
            stream, "uid", "event_id", [("v", 4.0)], seq_len=2
        ),
        {"format": "memory", "queryName": "mgnn_t", "checkpoint": chk + "/mgnn",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    grams = [r["gram"] for r in spark.sql("select gram from mgnn_t").collect()]
    assert grams, "numeric rows must still emit grams"
    assert not any("-9223372036854775808" in g for g in grams), (
        "coerce-failed values must render null, not INT64_MIN"
    )


@pytest.mark.slow  # multi-minute sweep: excluded from the default run (see pyproject)
def test_stream_markov_state_timeout_evicts_idle_entities(spark, stream_dirs):
    """state_timeout_ms bounds the state store by ACTIVE entities: a key
    idle past the horizon is evicted (its state removed), and when it
    returns it starts fresh — first event tags 'I' again — instead of
    resuming a stale window. Without the timeout, the same feed resumes
    the carried state (no 'I' on return)."""
    import glob as g
    import os
    import shutil
    import time

    from beymani_spark.streaming.jobs import apply_stream_markov

    src, chk = stream_dirs
    model_rows = [
        {"prev_state": "a", "cur_state": "b", "prob": 0.5},
        {"prev_state": "b", "cur_state": "a", "prob": 1.0},
        {"prev_state": "a", "cur_state": "a", "prob": 0.5},
    ]
    schema = "ts long, user_id long, state string"
    batches = [
        [(1, 1, "a"), (2, 1, "b")],   # key 1 active
        [(3, 2, "a"), (4, 2, "b")],   # key 1 idle -> times out
        [(5, 1, "a"), (6, 1, "b")],   # key 1 returns
    ]

    def run(name, **kw):
        d = f"{src}/{name}"
        os.makedirs(d, exist_ok=True)
        for f_ in g.glob(d + "/*.parquet"):
            os.remove(f_)
        for i, rows in enumerate(batches):
            tmp = f"{src}/{name}_tmp{i}"
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            for j, p in enumerate(sorted(g.glob(tmp + "/part-*.parquet"))):
                shutil.copyfile(p, f"{d}/{i:02d}_{j}.parquet")
                os.utime(f"{d}/{i:02d}_{j}.parquet", (1e6 + i, 1e6 + i))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = streams.start_sink(
            apply_stream_markov(
                stream, model_rows, ["user_id"], "ts", "state",
                window=5, threshold=2.0, **kw,
            ),
            {"format": "memory", "queryName": f"q_{name}",
             "checkpoint": f"{chk}/{name}", "trigger": "1 second"},
        )
        # processing-time triggers (availableNow would collapse the idle
        # gap): wait until all 6 rows have been processed
        for _ in range(60):
            if spark.sql(f"select * from q_{name}").count() >= 6:
                break
            time.sleep(1)
        q.stop()
        q.awaitTermination(60)
        return {
            r["ts"]: r["label"]
            for r in spark.sql(f"select ts, label from q_{name}").collect()
        }

    evicted = run("mkv_to", state_timeout_ms=1)
    assert evicted[5] == "I", (
        "returning entity must start fresh after its state timed out"
    )
    kept = run("mkv_noto")
    assert kept[5] != "I", (
        "without a timeout the carried state must resume across the gap"
    )


def test_stream_entropy_update_true_coerce_failure_skips(spark, stream_dirs):
    """update=True numeric bucketing over a non-numeric value renders
    null (scored as unseen, never folded into state) instead of
    TypeError-killing the query — the frozen path's and multigram's
    coerce-failure rule."""
    from beymani_spark.streaming.jobs import apply_stream_entropy_increase

    src, chk = stream_dirs
    rows = [(i, 1, "abc" if i % 3 == 2 else str(float(i % 5))) for i in range(30)]
    df = spark.createDataFrame(rows, "ts long, k long, v string")
    df.coalesce(1).write.mode("overwrite").parquet(src + "/entc")
    stream = spark.readStream.schema(df.schema).parquet(src + "/entc")
    q = streams.start_sink(
        apply_stream_entropy_increase(
            stream, [], ["k"], "ts", "v", width=2.0, threshold=0.5,
            update=True,
        ),
        {"format": "memory", "queryName": "entc_t", "checkpoint": chk + "/entc",
         "trigger": "availableNow"},
    )
    q.awaitTermination(120)
    got = spark.sql("select v, bucket from entc_t").toPandas()
    assert len(got) == 30, "the query must survive coerce failures"
    assert got[got.v == "abc"].bucket.isna().all(), (
        "coerce-failed values must render a null bucket"
    )
    assert got[got.v != "abc"].bucket.notna().all()
