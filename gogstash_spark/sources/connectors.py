"""Gated Kafka connector.

The gogstash kafka input and output map to Spark's Kafka source and
sink. Without the spark-sql-kafka jar on the classpath the stream calls
raise an error naming the `--packages` coordinate; the option mapping
from a gogstash kafka block is pure and tested without a jar or broker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_KAFKA_ASSIGNORS = {
    "range": "org.apache.kafka.clients.consumer.RangeAssignor",
    "roundrobin": "org.apache.kafka.clients.consumer.RoundRobinAssignor",
    "sticky": "org.apache.kafka.clients.consumer.StickyAssignor",
}

_SASL_LOGIN_MODULES = {
    "PLAIN": "org.apache.kafka.common.security.plain.PlainLoginModule",
    "SCRAM-SHA-256": "org.apache.kafka.common.security.scram.ScramLoginModule",
    "SCRAM-SHA-512": "org.apache.kafka.common.security.scram.ScramLoginModule",
}


def kafka_options_from_gogstash(cfg: dict) -> dict[str, str]:
    """gogstash kafka input block -> the exact Spark kafka-source
    options (reference input/kafka/inputkafka.go:20-33 — brokers,
    topics, group, offset_oldest, assignor, SASL fields). This is the
    connector CONTRACT: pinned by test without a broker/jar so the
    semantics can't drift.

    Notes vs the sarama consumer: Spark tracks offsets in its own
    checkpoint (group.id is still forwarded so broker-side quotas/ACLs
    apply); offset_oldest maps to startingOffsets earliest/latest —
    the same initial-offset choice sarama's OffsetOldest makes.
    """
    opts = {
        "kafka.bootstrap.servers": ",".join(cfg.get("brokers") or []),
        "subscribe": ",".join(cfg.get("topics") or []),
        "startingOffsets": "earliest" if cfg.get("offset_oldest") else "latest",
    }
    if cfg.get("group"):
        opts["kafka.group.id"] = str(cfg["group"])
    if cfg.get("assignor"):
        a = str(cfg["assignor"]).lower()
        if a not in _KAFKA_ASSIGNORS:
            raise ValueError("kafka assignor must be one of %s" % sorted(_KAFKA_ASSIGNORS))
        opts["kafka.partition.assignment.strategy"] = _KAFKA_ASSIGNORS[a]
    if cfg.get("security_protocol"):
        opts["kafka.security.protocol"] = str(cfg["security_protocol"])
    mech = cfg.get("sasl_mechanism")
    if mech:
        mech = str(mech).upper()
        opts["kafka.sasl.mechanism"] = mech
        module = _SASL_LOGIN_MODULES.get(mech)
        if module is None:
            raise ValueError(
                "unsupported sasl_mechanism %r (known: %s)"
                % (mech, sorted(_SASL_LOGIN_MODULES))
            )
        def jaas_quote(s: str) -> str:
            return str(s).replace("\\", "\\\\").replace('"', '\\"')

        user = jaas_quote(cfg.get("sasl_username", ""))
        pwd = jaas_quote(cfg.get("sasl_password", ""))
        opts["kafka.sasl.jaas.config"] = (
            '%s required username="%s" password="%s";' % (module, user, pwd)
        )
    return opts


def kafka_sink_options_from_gogstash(cfg: dict) -> list[dict[str, str]]:
    """gogstash kafka OUTPUT block -> the exact Spark kafka-sink
    writeStream options, one option-dict per topic (reference
    output/kafka/outputkafka.go:17-27 config; Output() produces every
    event to EVERY listed topic, outputkafka.go:95-107 — hence the
    list). The write-side contract, pinned broker-less like the input.

    Mapping notes vs the sarama producer:
    - security_protocol == "SASL" enables SASL with username/password
      (outputkafka.go:79-83); sarama's default SASL mechanism is PLAIN
      over plaintext -> SASL_PLAINTEXT + PlainLoginModule.
    - empty brokers/topics is an init error in the reference
      (outputkafka.go:69-77) -> ValueError here.
    """
    brokers = cfg.get("brokers") or []
    topics = cfg.get("topics") or []
    if not brokers:
        raise ValueError("kafka output: brokers should not be empty")
    if not topics:
        raise ValueError("kafka output: topics should not be empty")
    base: dict[str, str] = {"kafka.bootstrap.servers": ",".join(brokers)}
    if cfg.get("security_protocol") == "SASL":
        def jaas_quote(s: str) -> str:
            return str(s).replace("\\", "\\\\").replace('"', '\\"')

        base["kafka.security.protocol"] = "SASL_PLAINTEXT"
        base["kafka.sasl.mechanism"] = "PLAIN"
        base["kafka.sasl.jaas.config"] = (
            'org.apache.kafka.common.security.plain.PlainLoginModule '
            'required username="%s" password="%s";'
            % (jaas_quote(cfg.get("sasl_username", "")),
               jaas_quote(cfg.get("sasl_password", "")))
        )
    elif cfg.get("security_protocol"):
        base["kafka.security.protocol"] = str(cfg["security_protocol"])
    return [{**base, "topic": str(t)} for t in topics]


def kafka_write_stream(
    df: DataFrame,
    checkpoint_dir: str,
    gogstash_cfg: dict,
    json_opts: dict | None = None,
):
    """writeStream to Kafka from a gogstash kafka output block: the
    event is Go-marshal-parity JSON (event.MarshalJSON,
    output/kafka/outputkafka.go:96) in the record value, one streaming
    query per topic. Raises a clear error naming the missing connector
    jar on this image."""
    import re as _re

    from gogstash_spark.codecs import encode_json

    encoded = encode_json(df, **(json_opts or {})).select(
        F.col("encoded").cast("binary").alias("value")
    )
    # config errors (empty brokers/topics) surface as-is, OUTSIDE the
    # jar-probe try — masking them as "jar missing" misdirects the fix
    per_topic = kafka_sink_options_from_gogstash(gogstash_cfg)
    queries = []
    seen: dict[str, int] = {}
    try:
        for opts in per_topic:
            # checkpoint keyed by TOPIC NAME, never list position: a
            # reordered/shrunk topic list must not re-bind another
            # topic's committed offsets (silent skip/duplication). A
            # topic listed TWICE (the reference would publish each
            # event twice to it) gets a _dupN suffix so the two
            # concurrent queries never share one streaming checkpoint.
            ck = _re.sub(r"[^A-Za-z0-9._-]", "_", opts["topic"])
            n = seen.get(ck, 0)
            seen[ck] = n + 1
            if n:
                ck = "%s_dup%d" % (ck, n)
            w = encoded.writeStream.format("kafka").option(
                "checkpointLocation", "%s/topic_%s" % (checkpoint_dir, ck)
            )
            for k, v in opts.items():
                w = w.option(k, v)
            queries.append(w.start())
    except Exception as e:
        for q in queries:
            q.stop()
        msg = str(e)
        if "Failed to find" in msg or "ClassNotFound" in msg or "DATA_SOURCE_NOT_FOUND" in msg:
            raise RuntimeError(
                "kafka connector not on classpath; submit with "
                "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
            ) from e
        raise
    return queries


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str | None = None,
    topics: str | None = None,
    starting_offsets: str = "earliest",
    gogstash_cfg: dict | None = None,
) -> DataFrame:
    """readStream from Kafka (reference input/kafka/inputkafka.go:24-33)
    — value bytes -> `text` via the default codec. Pass either the
    explicit args or a verbatim gogstash kafka input block. Raises a
    clear error when the kafka connector jar is absent (this image)."""
    if gogstash_cfg is not None:
        opts = kafka_options_from_gogstash(gogstash_cfg)
    else:
        opts = {
            "kafka.bootstrap.servers": bootstrap_servers or "",
            "subscribe": topics or "",
            "startingOffsets": starting_offsets,
        }
    try:
        r = spark.readStream.format("kafka")
        for k, v in opts.items():
            r = r.option(k, v)
        src = r.load()
    except Exception as e:  # jar missing -> actionable message
        msg = str(e)
        if (
            "Failed to find" in msg or "ClassNotFound" in msg
            or "DATA_SOURCE_NOT_FOUND" in msg
        ):
            raise RuntimeError(
                "kafka connector not on classpath; submit with "
                "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
            ) from e
        raise
    from gogstash_spark.codecs import decode_default

    return decode_default(src, "value")
