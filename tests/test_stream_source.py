"""Config-driven streaming source entry (sources/streams.py): value
decoding, rate-source soak through a real scoring job, exactly-once
checkpoint restart through open_stream/start_sink, and the state-store
partition count start_sink gives new and restarted checkpoints."""
from __future__ import annotations

import datetime as dt
import json
import time

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from beymani_spark.sources import streams

_SHUFFLE = "spark.sql.shuffle.partitions"


# --- decode_value (broker-free kafka payload parsing) ------------------------


def _kafka_shaped(spark, payloads: list[str]):
    return spark.createDataFrame(
        [(p.encode(),) for p in payloads], "value binary"
    )


def test_decode_value_delimited(spark):
    df = _kafka_shaped(spark, ["e1,2024-01-01 00:00:00,1.5", "e2,2024-01-01 00:00:01,-2.0"])
    out = streams.decode_value(
        df,
        {
            "value.format": "delimited",
            "value.delimiter": ",",
            "value.schema": "entity string, ts timestamp, value double",
        },
    ).collect()
    assert [(r["entity"], r["value"]) for r in out] == [("e1", 1.5), ("e2", -2.0)]
    assert out[0]["ts"].year == 2024


def test_decode_value_json_and_raw(spark):
    df = _kafka_shaped(spark, ['{"entity": "e1", "value": 3.5}'])
    out = streams.decode_value(
        df, {"value.format": "json", "value.schema": "entity string, value double"}
    ).collect()
    assert out[0]["entity"] == "e1" and out[0]["value"] == 3.5
    raw = streams.decode_value(df, {}).collect()
    assert raw[0]["value"].startswith('{"entity"')


def test_decode_value_requires_schema(spark):
    df = _kafka_shaped(spark, ["a,b"])
    with pytest.raises(ValueError, match="value.schema"):
        streams.decode_value(df, {"value.format": "delimited"})


def test_open_stream_rejects_unknown_format(spark):
    with pytest.raises(ValueError, match="unknown stream format"):
        streams.open_stream(spark, {"format": "redis"})


def test_start_sink_validates_file_sink_config(spark, tmp_path):
    """A file-format sink without 'path' must fail with a descriptive
    ValueError (not a raw KeyError), symmetric with the checkpoint check,
    and leave the session's shuffle partitions as they were."""
    src = streams.open_stream(spark, {"format": "rate", "rowsPerSecond": "1"})
    prior = spark.conf.get(_SHUFFLE)
    with pytest.raises(ValueError, match="requires 'path'"):
        streams.start_sink(src, {"format": "parquet", "checkpoint": str(tmp_path / "ck")})
    with pytest.raises(ValueError, match="checkpoint"):
        streams.start_sink(src, {"format": "parquet", "path": str(tmp_path / "out")})
    assert spark.conf.get(_SHUFFLE) == prior


# --- rate-source soak through a real scoring job -----------------------------


def test_rate_source_soak_through_stream_zscore(spark, tmp_path):
    """The Storm-spout replacement drives an actual scoring job: rate rows
    mapped to (entity, value), scored by stream_zscore against a broadcast
    stats model, flowing into a memory sink."""
    from beymani_spark.streaming.jobs import stream_zscore

    src = streams.open_stream(
        spark, {"format": "rate", "rowsPerSecond": "500", "numPartitions": "2"}
    )
    ev = src.select(
        F.concat(F.lit("e"), (F.col("value") % 3).cast("string")).alias("event_type"),
        (F.col("value") % 17).cast("double").alias("value"),
    )
    stats = spark.createDataFrame(
        [("e0", "value", 8.0, 2.0), ("e1", "value", 8.0, 2.0), ("e2", "value", 8.0, 2.0)],
        "event_type string, attr string, mean double, std double",
    )
    scored = stream_zscore(ev, stats, ["event_type"], ["value"], threshold=3.0)
    q = streams.start_sink(
        scored,
        {
            "format": "memory",
            "queryName": "rate_soak",
            "checkpoint": str(tmp_path / "ck"),
            "trigger": "1 second",
        },
    )
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.sql("select * from rate_soak").count()
            if n >= 100:
                break
            time.sleep(1)
        assert n >= 100, f"rate soak produced only {n} rows"
        row = spark.sql("select * from rate_soak").first()
        assert row["label"] in ("O", "N") and row["score"] is not None
    finally:
        q.stop()


# --- exactly-once checkpoint restart through the config entry ----------------


def test_file_stream_checkpoint_restart_exactly_once(spark, tmp_path):
    src, out, ck = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    schema = "id long, value double"
    conf = {"format": "file", "path": src, "schema": schema, "file.format": "parquet"}

    def run_once():
        stream = streams.open_stream(spark, conf).withColumn(
            "doubled", F.col("value") * 2
        )
        q = streams.start_sink(
            stream,
            {"format": "parquet", "path": out, "checkpoint": ck, "trigger": "availableNow"},
        )
        q.awaitTermination(120)

    spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 1.0).alias("value")
    ).write.mode("append").parquet(src)
    run_once()
    # second batch lands AFTER the first query fully stopped; the restart
    # must pick up ONLY the new files (commit log), never reprocess batch 1
    spark.range(100, 150).select(
        F.col("id"), (F.col("id") * 1.0).alias("value")
    ).write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(out).toPandas()
    assert len(got) == 150, f"restart broke exactly-once: {len(got)} rows"
    assert sorted(got.id) == list(range(150))
    assert (got.doubled == got.value * 2).all()


# --- state-store partitioning: one partition per core ------------------------


def _write_dedup_slice(spark, src, i):
    """Slice ``i`` of a keyed event stream: keys k0..k{5+i}, each once per
    slice, so every key after slice 0 also repeats an earlier arrival."""
    rows = [(f"k{k}", dt.datetime(2024, 1, 1, 0, i, k), float(k)) for k in range(6 + i)]
    spark.createDataFrame(rows, "key string, ts timestamp, v double").coalesce(1).write.parquet(
        f"{src}/s{i}"
    )


def _dedup_drain(spark, src, out, ck, direct=False):
    """availableNow drain of stream_dedup_exact over the slices (one per
    micro-batch) into a parquet sink; ``direct`` starts it with plain
    writeStream instead of start_sink."""
    from beymani_spark.streaming.jobs import stream_dedup_exact

    stream = streams.open_stream(spark, {
        "format": "file", "path": f"{src}/*", "schema": "key string, ts timestamp, v double",
        "maxFilesPerTrigger": "1",
    })
    deduped = stream_dedup_exact(stream, ["key"], "ts", "24 hours")
    if direct:
        q = (
            deduped.writeStream.format("parquet").option("checkpointLocation", ck)
            .trigger(availableNow=True).start(out)
        )
    else:
        q = streams.start_sink(
            deduped, {"format": "parquet", "path": out, "checkpoint": ck,
                      "trigger": "availableNow"},
        )
    q.awaitTermination(120)
    assert q.exception() is None


def _recorded_partitions(ck):
    """(shuffle partitions recorded in each offsets entry, partition dirs of
    operator 0's state store)."""
    entries = [p for p in (ck / "offsets").iterdir() if p.name.isdigit()]
    recorded = {int(json.loads(p.read_text().splitlines()[1])["conf"][_SHUFFLE]) for p in entries}
    return recorded, len([p for p in (ck / "state" / "0").iterdir() if p.name.isdigit()])


def _rows(spark, out):
    return sorted(map(tuple, spark.read.parquet(out).toPandas().itertuples(index=False)))


def test_start_sink_gives_new_stream_one_state_partition_per_core(spark, tmp_path):
    """A new checkpoint started through start_sink gets min(session
    partitions, defaultParallelism) state partitions; the session keeps its
    own value after start_sink returns or raises; the output equals the
    same drain started directly at the session's 32 partitions."""
    src = str(tmp_path / "src")
    for i in range(3):
        _write_dedup_slice(spark, src, i)
    prior = spark.conf.get(_SHUFFLE)
    assert prior == "32"
    cores = min(32, spark.sparkContext.defaultParallelism)

    _dedup_drain(spark, src, str(tmp_path / "ref"), str(tmp_path / "ck_ref"), direct=True)
    assert _recorded_partitions(tmp_path / "ck_ref") == ({32}, 32)

    _dedup_drain(spark, src, str(tmp_path / "out"), str(tmp_path / "ck"))
    assert spark.conf.get(_SHUFFLE) == prior
    assert _recorded_partitions(tmp_path / "ck") == ({cores}, cores)
    got = _rows(spark, str(tmp_path / "out"))
    assert got == _rows(spark, str(tmp_path / "ref"))
    assert sorted(k for k, _, _ in got) == sorted(f"k{k}" for k in range(8))

    rate = streams.open_stream(spark, {"format": "rate", "rowsPerSecond": "1"})
    # raised by Spark inside start(): no aggregation for complete mode
    with pytest.raises(AnalysisException, match="(?i)complete"):
        streams.start_sink(rate, {"format": "memory", "queryName": "bad_mode",
                                  "outputMode": "complete"})
    assert spark.conf.get(_SHUFFLE) == prior


def test_start_sink_resumes_old_checkpoint_at_recorded_partitions(spark, tmp_path):
    """A checkpoint first written at 32 state partitions by plain
    writeStream, resumed through start_sink after a new slice lands, keeps
    32 partitions and stays exactly-once."""
    src, out, ck = str(tmp_path / "src"), str(tmp_path / "out"), tmp_path / "ck"
    for i in range(2):
        _write_dedup_slice(spark, src, i)
    _dedup_drain(spark, src, out, str(ck), direct=True)
    def commits():
        return [p for p in (ck / "commits").iterdir() if p.name.isdigit()]

    n_before = len(commits())
    _write_dedup_slice(spark, src, 2)
    _dedup_drain(spark, src, out, str(ck))

    assert len(commits()) > n_before
    assert _recorded_partitions(ck) == ({32}, 32)
    got = _rows(spark, out)
    assert sorted(k for k, _, _ in got) == sorted(f"k{k}" for k in range(8))
    first_ts = {f"k{k}": dt.datetime(2024, 1, 1, 0, 0 if k < 6 else k - 5, k) for k in range(8)}
    assert {k: ts for k, ts, _ in got} == first_ts


def test_kafka_branch_fails_with_clear_error_without_connector(spark):
    # no broker / no connector jar in this env: the boundary must be a
    # clear, actionable error, not a stack trace from deep inside Spark
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        streams.open_stream(
            spark,
            {
                "format": "kafka",
                "kafka.bootstrap.servers": "localhost:9092",
                "subscribe": "events",
            },
        )


def test_stream_constraint_gate_quarantines_bad_batch(spark, tmp_path):
    """Two file micro-batches: one clean, one violating the bounds
    constraint — the audit ledger records both, the output path holds only
    the clean batch's rows."""
    import time

    from beymani_spark.streaming.jobs import stream_constraint_gate

    src = tmp_path / "src"
    src.mkdir()
    audit_p, out_p = str(tmp_path / "audit"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    good = spark.createDataFrame([(1, 5.0), (2, 7.0)], ["id", "v"])
    good.coalesce(1).write.mode("overwrite").parquet(str(src / "b0"))

    stream = (
        spark.readStream.schema("id BIGINT, v DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_constraint_gate(
        stream,
        [{"kind": "bounds", "column": "v", "lo": 0.0, "hi": 10.0, "threshold": 1.0}],
        audit_p,
        out_p,
        ckpt,
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            bad = spark.createDataFrame([(3, 99.0), (4, 1.0)], ["id", "v"])
            bad.coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
            q.processAllAvailable()
            break
    finally:
        q.stop()

    audit = spark.read.parquet(audit_p).orderBy("batch_id").collect()
    assert [r.passed for r in audit] == [True, False]
    assert audit[1].metric == 0.5
    out = spark.read.parquet(out_p)
    assert sorted(r.id for r in out.collect()) == [1, 2]


# --- kafka-shape contract (broker-less shim) ---------------------------------


def test_kafka_shim_runs_job_end_to_end_with_pinned_schema(spark, tmp_path):
    """Executes the kafka branch of open_stream against the broker-less
    shim: parquet records carrying the connector's EXACT schema
    (KAFKA_RECORD_SCHEMA — key/value binary, topic, partition, offset,
    timestamp, timestampType) flow through the same option handling,
    the same delimited value decode, a real scoring job, and a memory
    sink. Pins both the record schema and the decoded output schema, so
    a connector-contract drift fails here instead of on a live broker."""
    import datetime as dt

    from beymani_spark.streaming.jobs import stream_zscore

    shim = tmp_path / "topic"
    rows = [
        (
            b"e%d" % (i % 3),
            (f"e{i % 3},2024-01-01 00:00:{i:02d},{float(i % 17)}").encode(),
            "events",
            i % 2,
            i,
            dt.datetime(2024, 1, 1, 0, 0, i),
            0,
        )
        for i in range(40)
    ]
    spark.createDataFrame(rows, streams.KAFKA_RECORD_SCHEMA).write.parquet(str(shim))

    conf = {
        "format": "kafka",
        "kafka.bootstrap.servers": "broker:9092",  # exercised, unused by shim
        "subscribe": "events",
        "kafka.shim.path": str(shim),
        "value.format": "delimited",
        "value.delimiter": ",",
        "value.schema": "event_type string, ts timestamp, value double",
    }
    src = streams.open_stream(spark, conf)
    assert src.isStreaming
    # decoded stream schema is exactly the declared value schema
    assert [(f.name, f.dataType.simpleString()) for f in src.schema.fields] == [
        ("event_type", "string"),
        ("ts", "timestamp"),
        ("value", "double"),
    ]

    stats = spark.createDataFrame(
        [("e0", "value", 8.0, 2.0), ("e1", "value", 8.0, 2.0), ("e2", "value", 8.0, 2.0)],
        "event_type string, attr string, mean double, std double",
    )
    scored = stream_zscore(src, stats, ["event_type"], ["value"], threshold=3.0)
    q = streams.start_sink(
        scored,
        {
            "format": "memory",
            "queryName": "kafka_shim",
            "checkpoint": str(tmp_path / "ck"),
            "trigger": "availableNow",
        },
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.sql("select * from kafka_shim").toPandas()
    assert len(got) == 40
    # stream output equals the batch job on the same decoded records
    batch = spark.createDataFrame(
        [(f"e{i % 3}", float(i % 17)) for i in range(40)],
        "event_type string, value double",
    )
    exp = stream_zscore(batch, stats, ["event_type"], ["value"], threshold=3.0).toPandas()
    key = ["event_type", "value", "score", "label"]
    assert sorted(map(tuple, got[key].itertuples(index=False))) == sorted(
        map(tuple, exp[key].itertuples(index=False))
    )


def test_kafka_shim_record_schema_matches_connector_contract(spark):
    """The shim schema string is the connector's documented record shape —
    guard against accidental edits."""
    assert streams.KAFKA_RECORD_SCHEMA == (
        "key binary, value binary, topic string, partition int, offset long, "
        "timestamp timestamp, timestampType int"
    )


def test_encode_value_shapes(spark):
    df = spark.createDataFrame(
        [("e1", 1.5, 7)], "entity string, value double, n int"
    )
    row = streams.encode_value(
        df,
        {"value.format": "delimited", "value.delimiter": "|",
         "key.column": "entity"},
    ).first()
    assert (row["key"], row["value"]) == ("e1", "1.5|7")
    row = streams.encode_value(
        df, {"value.format": "json", "value.columns": "entity, value"}
    ).first()
    assert row["value"] == '{"entity":"e1","value":1.5}'
    row = streams.encode_value(
        df, {"value.format": "raw", "value.columns": "entity"}
    ).first()
    assert row["value"] == "e1"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        streams.encode_value(df, {"value.format": "raw"})
    with _pytest.raises(ValueError, match="unknown value.format"):
        streams.encode_value(df, {"value.format": "avro"})


def test_kafka_sink_source_shim_round_trip(spark, tmp_path):
    """Full config-driven kafka round trip without a broker: typed frame ->
    encode_value -> kafka sink (shim) -> kafka source (shim, records
    re-wrapped in the connector schema) -> decode_value == the original
    frame. Proves the encode/decode pair is an exact inverse and both
    shim boundaries run the production code paths."""
    import datetime as dt

    src_rows = [(f"e{i % 3}", float(i), i) for i in range(12)]
    typed = spark.createDataFrame(src_rows, "entity string, value double, n int")
    conf = {
        "format": "kafka",
        "topic": "scores",
        "kafka.shim.path": str(tmp_path / "topic_out"),
        "checkpoint": str(tmp_path / "ck_sink"),
        "trigger": "availableNow",
        "value.format": "delimited",
        "value.delimiter": ",",
        "value.columns": "entity, value, n",  # full row in the payload
        "key.column": "entity",  # partitioner key (fieldsGrouping analogue)
    }
    # stream the typed frame from a file source to exercise writeStream
    src_dir = tmp_path / "in"
    typed.write.parquet(str(src_dir))
    stream = spark.readStream.schema(typed.schema).parquet(str(src_dir))
    q = streams.start_sink(stream, conf)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    # wrap the sink records in the connector's full record schema
    sunk = spark.read.parquet(str(tmp_path / "topic_out"))
    full = sunk.select(
        F.col("key").cast("binary"),
        F.col("value").cast("binary"),
        F.lit("scores").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.lit(dt.datetime(2024, 1, 1)).cast("timestamp").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    shim_dir = tmp_path / "topic_in"
    full.write.parquet(str(shim_dir))
    back = streams.open_stream(
        spark,
        {
            "format": "kafka",
            "kafka.shim.path": str(shim_dir),
            "subscribe": "scores",
            "value.format": "delimited",
            "value.delimiter": ",",
            "value.schema": "entity string, value double, n int",
        },
    )
    q2 = streams.start_sink(
        back,
        {
            "format": "memory",
            "queryName": "kafka_round_trip",
            "checkpoint": str(tmp_path / "ck_src"),
            "trigger": "availableNow",
        },
    )
    try:
        q2.awaitTermination(120)
    finally:
        q2.stop()
    got = sorted(
        map(tuple, spark.sql("select * from kafka_round_trip").toPandas().itertuples(index=False))
    )
    assert got == sorted(src_rows)
