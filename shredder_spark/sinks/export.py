"""One-argument sink dispatch by URI scheme (reference A25).

The reference CLI routes its output on the URL's prefix
(`fixed2avro/Exporters.go:140-169`): ``http://`` / ``https://`` →
Kafka (prefix stripped, remainder = bootstrap servers), anything else
→ an Avro OCF file path (`:171-184` extractHttpPrefix). ``export``
reproduces that ergonomic on DataFrames:

    export(df, "https://broker:9092", topic="events", schema_id=7)
    export(df, "/data/out/events_avro")

Kafka routing builds the Confluent-framed, partition-pinned batch
(`prepare_kafka_batch`) and writes through the connector with the
env/SSL option surface from :mod:`shredder_spark.sinks.config`; file
routing writes snappy Avro OCF. Both sinks existed before this module;
this adds only the reference's single-argument dispatch.

Tier dispatch (round 7): when the spark-sql-kafka jar is absent (as
in this container), the SAME prepared batch ships through the
pure-Python Kafka wire tier (`sinks/kafka_wire.py`) with a logged
downgrade — identical bytes on the broker, reduced throughput. SSL
configs refuse the plaintext fallback loudly instead of downgrading.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from shredder_spark.sinks.config import KafkaConfig, ensure_topics


def classify_sink_url(url: str) -> tuple[str, str]:
    """(kind, target): ``("kafka", bootstrap_servers)`` for http[s]
    URLs — prefix stripped, like the reference's extractHttpPrefix —
    else ``("avro", path)``."""
    for proto in ("http://", "https://"):
        if url.startswith(proto):
            return "kafka", url[len(proto):]
    return "avro", url


def export(
    df: DataFrame,
    url: str,
    *,
    topic: str | None = None,
    schema_id: int = 1,
    key_col: str | None = None,
    config: KafkaConfig | None = None,
    check_topics: bool = True,
    codec: str = "snappy",
) -> None:
    """Write ``df`` to the sink named by ``url`` (reference A25
    semantics: the caller passes one location string; the scheme picks
    the exporter)."""
    kind, target = classify_sink_url(url)
    if kind == "avro":
        from shredder_spark.sinks.avro import write_avro_ocf

        write_avro_ocf(df, target, codec=codec)
        return

    if topic is None:
        raise ValueError("Kafka export needs topic=")
    from shredder_spark.sinks.kafka import (
        KafkaUnavailableError, _warn_wire_tier, have_kafka_datasource,
        prepare_kafka_batch,
    )

    cfg = config or KafkaConfig.from_env(bootstrap_servers=target)
    if check_topics and not cfg.ssl:
        # reference EnsureTopics fail-fast (plaintext metadata probe)
        ensure_topics([topic], cfg.bootstrap_servers)
    batch = prepare_kafka_batch(df, schema_id, key_col=key_col)
    if have_kafka_datasource(df.sparkSession):
        (batch.write.format("kafka")
            .options(**cfg.producer_options())
            .option("topic", topic)
            .save())
        return
    if cfg.ssl:
        # the wire tier speaks PLAINTEXT only — never downgrade an
        # SSL-configured export onto an unencrypted socket
        raise KafkaUnavailableError(
            "spark-sql-kafka connector not on classpath and the "
            "pure-Python wire tier does not support SSL; deploy "
            "org.apache.spark:spark-sql-kafka-0-10_2.13.")
    # connector-absent fallback: the same prepared (key, value,
    # partition) batch ships over the pure-Python Kafka wire tier —
    # one producer connection per task, partition column honored.
    # Identical bytes on the broker; slower than the JVM producer
    # (see KAFKA_BENCH: this is the jar-less tier, not the hot path).
    _warn_wire_tier("exporting", topic)
    from shredder_spark.sinks.kafka_wire import write_kafka_wire

    write_kafka_wire(batch, topic, cfg.bootstrap_servers)
