"""File input: spec.input -> DataFrame, in batch or as a stream.

The reference's file input tails raw lines and feeds them through the
configured codec (reference input/file/inputfile.go:47-210 + codec
dispatch config/codec.go:23-36); the batch analog reads the whole
fileset in one scan, and the streaming analog (`stream_source`) reads
the same files through the same dispatch as they arrive. Columnar
formats (parquet/orc) skip the codec — they are already typed; line
formats (text/json/csv) decode at read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gogstash_spark import codecs, logevent

_FILE_TYPES = ("parquet", "orc", "json", "csv", "text")


def read_input(spark: SparkSession, inp: dict) -> DataFrame:
    """Read spec.input: {type: parquet|orc|text|json|csv, path, ...}.

    text honors `codec` (default|json) exactly like the reference's
    file input; json reads JSON-lines natively (schema inferred or
    given as DDL via `schema`); csv honors `header`/`sep`.

    Every returned frame carries a `ts` event-time column: the
    reference stamps LogEvent.Timestamp at event creation
    (config/logevent/logevent.go NewLogEvent/@timestamp), so inputs
    whose payload has no time of its own (exec, redis drains, docker
    stats, ...) get read-time as the event time — downstream
    time-bucketed aggregates and %{+@...} templates always resolve.
    """
    return _stamp_ts(_read_input_typed(spark, inp))


def stream_source(spark: SparkSession, inp: dict) -> DataFrame:
    """spec.input as a readStream, the streaming twin of `read_input`.

    File inputs go through the batch dispatch over `spark.readStream`,
    at most 4 files per trigger (the rate_limit analog), with the schema
    of the same batch read (text's is fixed). multi unions its parts.
    kafka (reference input/kafka/inputkafka.go:20-33) reads the options
    of `connectors.kafka_options_from_gogstash` and decodes `value` with
    the input's codec, as text does; without the spark-sql-kafka jar it
    raises a RuntimeError naming the `--packages` coordinate. Every
    other input is a one-shot drain and raises ValueError."""
    typ = inp.get("type", "parquet")
    if typ == "multi":
        df = _union([stream_source(spark, sub) for sub in inp.get("inputs") or []])
    elif typ == "kafka":
        from gogstash_spark.sources.connectors import kafka_options_from_gogstash

        try:
            src = spark.readStream.format("kafka").options(
                **kafka_options_from_gogstash(inp)
            ).load()
        except Exception as e:  # jar missing -> actionable message
            msg = str(e)
            if "Failed to find" in msg or "ClassNotFound" in msg or "DATA_SOURCE_NOT_FOUND" in msg:
                raise RuntimeError(
                    "kafka connector not on classpath; submit with "
                    "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
                ) from e
            raise
        df = _decode(src.select("value"), inp)
    elif typ in _FILE_TYPES:
        reader = spark.readStream.option("maxFilesPerTrigger", 4)
        if typ != "text":
            reader = reader.schema(_read_files(spark.read, inp).schema)
        df = _read_files(reader, inp)
    else:
        raise ValueError(
            "input type %r does not stream; streaming reads %s, multi or kafka inputs"
            % (typ, "/".join(_FILE_TYPES))
        )
    return _stamp_ts(df)


def _stamp_ts(df: DataFrame) -> DataFrame:
    if logevent.TS not in df.columns:
        df = df.withColumn(logevent.TS, F.current_timestamp())
    return df


def _union(parts: list[DataFrame]) -> DataFrame:
    # several inputs union into one frame (a gogstash config may
    # declare many inputs feeding the same filter chain)
    if not parts:
        raise ValueError("multi input with no inputs")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _read_input_typed(spark: SparkSession, inp: dict) -> DataFrame:
    typ = inp.get("type", "parquet")
    if typ == "multi":
        return _union([read_input(spark, sub) for sub in inp.get("inputs") or []])
    if typ == "kafka":
        raise ValueError("kafka input is a stream; run the spec with --streaming")
    if typ == "exec":
        from gogstash_spark.sources.ingest import exec_input

        return exec_input(
            spark, inp["command"], inp.get("args"),
            message_trim=inp.get("message_trim", " \t\r\n"),
            message_prefix=inp.get("message_prefix", ""),
            message_type=inp.get("message_type", "text"),
        )
    if typ == "http":
        from gogstash_spark.sources.ingest import http_input

        return http_input(spark, inp["url"], method=inp.get("method", "GET"))
    if typ == "redis":
        from gogstash_spark.sources.ingest import redis_input

        host = inp.get("host", "localhost:6379")
        if isinstance(host, list):
            host = host[0]
        return redis_input(
            spark, host, key=inp.get("key", "gogstash"),
            timeout=float(inp.get("timeout", 5.0)),
            max_events=inp.get("max_events"),
        )
    if typ in ("dockerlog", "dockerstats"):
        # reference key names verbatim (input/dockerlog/
        # inputdockerlog.go:24-29, input/dockerstats/
        # inputdockerstats.go:24-29); interval keys are the daemon's
        # poll cadence — the batch analog is one drain per run,
        # scheduled externally like exec/http
        from gogstash_spark.sources.dockerapi import (
            dockerlog_input,
            dockerstats_input,
        )

        url = inp.get("dockerurl", "unix:///var/run/docker.sock")
        include = inp.get("include_patterns")
        exclude = inp.get("exclude_patterns", ("gogstash",))
        if typ == "dockerlog":
            return dockerlog_input(
                spark, url, include_patterns=include, exclude_patterns=exclude,
                sincepath=inp.get("sincepath"),
                start_position=inp.get("start_position", "beginning"),
            )
        return dockerstats_input(
            spark, url, include_patterns=include, exclude_patterns=exclude,
            log_mode=inp.get("log_mode", "full"),
        )
    if typ == "nats":
        # at-least-once pull-consume: jetstream:true selects it, an
        # EXPLICIT jetstream:false forces the core drain, and with the
        # key absent a stream/durable key implies it
        if inp.get("jetstream", bool(inp.get("stream") or inp.get("durable"))):
            from gogstash_spark.sources.ingest import nats_jetstream_input

            return nats_jetstream_input(
                spark, inp.get("host", "localhost:4222"),
                stream=inp.get("stream", "gogstash"),
                durable=inp.get("durable", "gogstash_spark"),
                batch=int(inp.get("batch", 512)),
                timeout=float(inp.get("timeout", 5.0)),
                idle_timeout=float(inp.get("idle_timeout", 1.0)),
                max_events=inp.get("max_events"),
            )
        from gogstash_spark.sources.ingest import nats_input

        return nats_input(
            spark, inp.get("host", "localhost:4222"),
            topic=inp.get("topic", "gogstash"),
            timeout=float(inp.get("timeout", 5.0)),
            idle_timeout=float(inp.get("idle_timeout", 1.0)),
            max_events=inp.get("max_events"),
        )
    if typ == "nsq":
        from gogstash_spark.sources.ingest import nsq_input

        return nsq_input(
            spark, inp["nsq"], inp["topic"],
            channel=inp.get("channel", "gogstash"),
            max_inflight=int(inp.get("max_inflight", 150)),
            timeout=float(inp.get("timeout", 5.0)),
            idle_timeout=float(inp.get("idle_timeout", 1.0)),
            max_events=inp.get("max_events"),
        )
    if typ == "lorem":
        from gogstash_spark.sources.ingest import lorem_input

        return lorem_input(
            spark, count=int(inp.get("count", 1000)), format=inp.get("format"),
            fields=inp.get("fields"), empty=bool(inp.get("empty", False)),
            seed=int(inp.get("seed", 42)),
        )
    return _read_files(spark.read, inp)


def _read_files(reader, inp: dict) -> DataFrame:
    """The path-based inputs over `reader`: spark.read in batch, a
    schema-given spark.readStream in `stream_source`."""
    typ = inp.get("type", "parquet")
    path = inp.get("path")
    if not path:
        raise ValueError("spec.input.path required")
    if typ == "parquet":
        return reader.parquet(path)
    if typ == "orc":
        return reader.orc(path)
    if typ == "json":
        if inp.get("schema"):
            reader = reader.schema(inp["schema"])
        return reader.json(path)
    if typ == "csv":
        return (
            reader.option("header", "true" if inp.get("header", True) else "false")
            .option("sep", inp.get("sep", ","))
            .option("inferSchema", "true" if inp.get("infer_schema", True) else "false")
            .csv(path)
        )
    if typ == "text":
        return _decode(reader.text(path), inp)
    raise ValueError("unknown input type %r" % typ)


def _decode(df: DataFrame, inp: dict) -> DataFrame:
    """The `codec` step (default|json) over a frame's one `value` column."""
    codec = inp.get("codec", "default")
    if codec == "json":
        return codecs.decode_json(df, "value", inp.get("schema")).drop("value")
    if codec == "default":
        return codecs.decode_default(df, "value").drop("value")
    raise ValueError("unknown codec %r for %s input" % (codec, inp.get("type")))
