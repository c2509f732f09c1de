"""Config-driven streaming source/sink entry — the Storm-spout analogue.

The reference wires its real-time input through a properties file: a Redis
spout reads delimited messages from a queue named in the config and feeds
the predictor bolt (/root/reference/src/main/java/org/beymani/predictor/
OutlierPredictor.java:40-61; resource/typical.properties). The Structured
Streaming translation is a ``readStream`` assembled from a plain dict, so
the SAME streaming job (streaming/jobs.py) runs against a Kafka topic, a
file drop directory, or the rate source without code edits::

    stream = open_stream(spark, {
        "format": "kafka",
        "kafka.bootstrap.servers": "broker:9092",
        "subscribe": "events",
        "value.format": "delimited",
        "value.delimiter": ",",
        "value.schema": "entity string, ts timestamp, value double",
    })
    q = start_sink(scored, {"format": "parquet", "path": out,
                            "checkpoint": ckpt, "trigger": "availableNow"})

Scale posture: the source choice never changes the job plan — watermarks
and broadcast models are declared by the job, and every option here is
pass-through to Spark's own connector (Kafka offsets are checkpoint-tracked,
file sources are exactly-once via the commit log). State-store partitioning
is set in one place, _start_query, which every stream the engine starts
goes through (start_sink, streaming.jobs.stream_constraint_gate): a new
checkpoint gets min(spark.sql.shuffle.partitions, defaultParallelism)
partitions, one per core, and keeps that count for every restart.
The value decoding (delimited/json -> typed columns) is pure codegen
(from_csv / from_json), mirroring the reference's delimited queue messages
at scan speed.
"""
from __future__ import annotations

import threading
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_KAFKA_PASSTHROUGH = (
    "subscribe",
    "subscribepattern",
    "assign",
    "startingoffsets",
    "endingoffsets",
    "maxoffsetspertrigger",
    "failondataloss",
)

#: the exact record schema Spark's kafka connector produces — the contract
#: every downstream job sees; the broker-less shim pins itself to it
KAFKA_RECORD_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def decode_value(df: DataFrame, conf: Mapping[str, str]) -> DataFrame:
    """Decode a Kafka-shaped frame (binary ``value`` column) into typed
    columns per ``value.format``:

    - ``'delimited'`` (reference queue-message format): from_csv with
      ``value.delimiter`` into ``value.schema`` (DDL string)
    - ``'json'``: from_json into ``value.schema``
    - ``'raw'`` (default): value cast to string as column ``value``

    Separated from open_stream so the parsing is unit-testable without a
    broker; it is the exact expression applied to the live stream."""
    vfmt = str(conf.get("value.format", "raw")).lower()
    v = F.col("value").cast("string")
    if vfmt == "raw":
        return df.select(v.alias("value"))
    schema = conf.get("value.schema")
    if not schema:
        raise ValueError(f"value.format={vfmt!r} requires 'value.schema' (DDL)")
    if vfmt == "delimited":
        parsed = F.from_csv(
            v, F.lit(str(schema)), {"delimiter": str(conf.get("value.delimiter", ","))}
        )
    elif vfmt == "json":
        parsed = F.from_json(v, str(schema))
    else:
        raise ValueError(f"unknown value.format: {vfmt}")
    return df.select(parsed.alias("_v")).select("_v.*")


def open_stream(spark: SparkSession, conf: Mapping[str, str]) -> DataFrame:
    """Build a streaming DataFrame from a config dict (``format`` +
    format-specific options, all strings so the dict can come straight
    from a properties/JSON file):

    - ``kafka``: ``kafka.*`` options pass through verbatim, plus
      subscribe/assign/startingOffsets/...; the value payload is decoded
      per decode_value. Needs the spark-sql-kafka connector on the
      classpath (raises a clear error otherwise). ``kafka.shim.path``
      swaps ONLY the broker connection for a file stream pinned to the
      connector's exact record schema (KAFKA_RECORD_SCHEMA: key/value
      binary + topic/partition/offset/timestamp/timestampType) — the
      broker-less contract-test stand-in, so everything downstream of
      the source boundary (value decoding, job plans, sinks) executes
      identically with or without a real broker.
    - ``file``: ``path`` + ``schema`` (DDL, required — streaming file
      sources cannot infer) + ``file.format`` (parquet/csv/json/text,
      default parquet) + optional ``maxFilesPerTrigger``.
    - ``rate``: ``rowsPerSecond`` / ``numPartitions`` pass through.
    """
    fmt = str(conf.get("format", "")).lower()
    if fmt == "kafka":
        # resolve case-insensitively, matching the passthrough exclusion
        # below — a mixed-case key must activate the shim, not silently
        # drop it and dial a real broker
        shim = next(
            (v for k, v in conf.items() if str(k).lower() == "kafka.shim.path"),
            None,
        )
        reader = spark.readStream.format("kafka")
        for k, val in conf.items():
            lk = str(k).lower()
            if lk.startswith("kafka.") and lk != "kafka.shim.path":
                reader = reader.option(k, val)
            elif lk in _KAFKA_PASSTHROUGH:
                reader = reader.option(k, val)
        if shim:
            # broker-less stand-in: identical record schema, identical
            # downstream decode — only the source connection differs
            raw = (
                spark.readStream.schema(KAFKA_RECORD_SCHEMA)
                .parquet(str(shim))
            )
            return decode_value(raw, conf)
        try:
            raw = reader.load()
        except Exception as e:  # connector jar absent or options invalid
            raise RuntimeError(
                "kafka source unavailable — spark-sql-kafka connector must "
                "be on the classpath (--packages org.apache.spark:"
                "spark-sql-kafka-0-10_2.13:<spark version>)"
            ) from e
        return decode_value(raw, conf)
    if fmt == "file":
        path, schema = conf.get("path"), conf.get("schema")
        if not path or not schema:
            raise ValueError("file source requires 'path' and 'schema' (DDL)")
        reader = spark.readStream.schema(str(schema))
        if "maxFilesPerTrigger" in conf:
            reader = reader.option("maxFilesPerTrigger", conf["maxFilesPerTrigger"])
        ffmt = str(conf.get("file.format", "parquet")).lower()
        if ffmt not in ("parquet", "csv", "json", "text"):
            raise ValueError(f"unknown file.format: {ffmt}")
        if ffmt == "csv":
            reader = reader.option(
                "delimiter", str(conf.get("value.delimiter", ","))
            ).option("header", str(conf.get("header", "false")))
        return getattr(reader, ffmt)(str(path))
    if fmt == "rate":
        reader = spark.readStream.format("rate")
        for k in ("rowsPerSecond", "numPartitions", "rampUpTime"):
            if k in conf:
                reader = reader.option(k, conf[k])
        return reader.load()
    raise ValueError(f"unknown stream format: {conf.get('format')!r}")


def encode_value(df: DataFrame, conf: Mapping[str, str]) -> DataFrame:
    """Mirror of decode_value for the PRODUCING side: serialize a typed
    frame into the kafka record shape (string ``value``, optional string
    ``key``) per ``value.format``:

    - ``'delimited'``: concat_ws(``value.delimiter``) over ``value.columns``
      (comma-separated list; default: every non-key column in frame order)
      — the reference's queue-message format.
    - ``'json'``: to_json over the same struct.
    - ``'raw'`` (default): the single ``value.columns`` column cast to
      string.

    ``key.column`` (optional) casts that column to the record key —
    Kafka's partitioner hashes it, so pick the entity id to preserve the
    reference's fieldsGrouping semantics end-to-end. Pure codegen
    (concat_ws / to_json), no Python in the hot path."""
    vfmt = str(conf.get("value.format", "raw")).lower()
    key_col = conf.get("key.column")
    cols_conf = conf.get("value.columns")
    cols = (
        [c.strip() for c in str(cols_conf).split(",") if c.strip()]
        if cols_conf
        else [c for c in df.columns if c != key_col]
    )
    if vfmt == "delimited":
        value = F.concat_ws(
            str(conf.get("value.delimiter", ",")),
            *[F.col(c).cast("string") for c in cols],
        )
    elif vfmt == "json":
        value = F.to_json(F.struct(*[F.col(c) for c in cols]))
    elif vfmt == "raw":
        if len(cols) != 1:
            raise ValueError("value.format='raw' needs exactly one value column")
        value = F.col(cols[0]).cast("string")
    else:
        raise ValueError(f"unknown value.format: {vfmt}")
    out = [value.alias("value")]
    if key_col:
        out.insert(0, F.col(key_col).cast("string").alias("key"))
    return df.select(*out)


def start_sink(df: DataFrame, conf: Mapping[str, str]) -> StreamingQuery:
    """Start a writeStream from a config dict and return the query:
    ``format`` (parquet/json/csv/memory/console/noop/kafka), ``checkpoint``
    (checkpointLocation — required for file sinks: it is what makes
    restart exactly-once), ``path`` (file sinks), ``queryName`` (memory),
    ``outputMode`` (default append), ``trigger`` ('availableNow',
    'once', or a processing-time interval like '5 seconds').

    ``kafka``: the frame is serialized to key/value per encode_value, then
    written by Spark's kafka sink (``kafka.*`` options pass through;
    ``topic`` required). ``kafka.shim.path`` swaps ONLY the broker
    connection for a parquet sink of the same key/value record — the
    broker-less contract-test stand-in, symmetric with open_stream's
    source shim, so the encode path and job plan execute identically.

    Every query starts through _start_query, so a new checkpoint gets one
    state-store partition per core."""
    fmt = str(conf.get("format", "parquet")).lower()
    if fmt == "kafka":
        df = encode_value(df, conf)
        shim = conf.get("kafka.shim.path")
        if shim:
            sink_conf = {
                **{k: v for k, v in conf.items() if not str(k).startswith("kafka.")},
                "format": "parquet",
                "path": str(shim),
            }
            return start_sink(df, sink_conf)
        if "topic" not in conf:
            raise ValueError("kafka sink requires 'topic'")
        if "checkpoint" not in conf:
            raise ValueError("kafka sink requires 'checkpoint' for exactly-once")
    file_sink = fmt in ("parquet", "json", "csv")
    if file_sink and "path" not in conf:
        raise ValueError(f"{fmt} sink requires 'path'")
    writer = df.writeStream.format(fmt).outputMode(str(conf.get("outputMode", "append")))
    if fmt == "kafka":
        writer = writer.option("topic", str(conf["topic"]))
        for k, val in conf.items():
            if str(k).lower().startswith("kafka."):
                writer = writer.option(k, val)
    if "checkpoint" in conf:
        writer = writer.option("checkpointLocation", str(conf["checkpoint"]))
    elif file_sink:
        raise ValueError("file sinks require 'checkpoint' for exactly-once restart")
    if "queryName" in conf:
        writer = writer.queryName(str(conf["queryName"]))
    trig = conf.get("trigger")
    if trig == "availableNow":
        writer = writer.trigger(availableNow=True)
    elif trig == "once":
        writer = writer.trigger(once=True)
    elif trig:
        writer = writer.trigger(processingTime=str(trig))
    return _start_query(df.sparkSession, writer, str(conf["path"]) if file_sink else None)


#: guards the set/start/restore of the session conf in _start_query against
#: a concurrent start from another thread on the same session
_START_LOCK = threading.Lock()


def _start_query(
    spark: SparkSession, writer: DataStreamWriter, path: str | None = None
) -> StreamingQuery:
    """Start ``writer`` (built on a frame of ``spark``) with one state-store
    partition per core; the single place the engine starts a stream.

    A streaming query's stateful operators (the per-entity state store of
    groupBy(entity) kernels, dropDuplicates, stream-stream joins) take their
    partition count from ``spark.sql.shuffle.partitions`` when the query
    first starts, and the checkpoint's offset log freezes that count for
    every restart. The batch session's value (32 in get_spark) is sized for
    table scans; a micro-batch of a few hundred rows over a handful of
    keys then runs mostly empty state-store tasks, each paying a fixed
    open/commit cost per micro-batch. So, for ``start()`` only, the value
    drops to ``min(current, sparkContext.defaultParallelism)``:

    - ``start()`` clones the session, so the stream keeps the lowered count
      while ``spark`` gets its own value back in the ``finally``, also when
      start raises;
    - a lower value set by the user survives the ``min``;
    - a restarted checkpoint keeps the count it recorded, because Spark
      restores it from the offset log over the session's value.

    Bound: the count is fixed at first start, so it is one task wave on the
    cluster the query first ran on. Not 1 (another 15-30% faster on small
    micro-batches on a 4-core host), because one partition would hold every
    key's state in a single task on any cluster, forever."""
    key = "spark.sql.shuffle.partitions"
    with _START_LOCK:
        prior = spark.conf.get(key)
        spark.conf.set(key, str(min(int(prior), spark.sparkContext.defaultParallelism)))
        try:
            return writer.start(path)
        finally:
            spark.conf.set(key, prior)
