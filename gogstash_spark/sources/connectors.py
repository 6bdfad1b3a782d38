"""Kafka input options.

The gogstash kafka input maps to Spark's Kafka source, read by
`sources.files.stream_source` (which raises an error naming the
`--packages` coordinate without the spark-sql-kafka jar). The option
mapping from a gogstash kafka block is pure and tested without a jar or
broker. The kafka output has no mapping: streaming writes table sinks
only.
"""

from __future__ import annotations

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
