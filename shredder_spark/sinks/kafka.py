"""Kafka sink/source surface (reference A22/A23/A26/A27, SURVEY B5–B7).

The reference produces Confluent-framed Avro messages (magic byte +
4-byte big-endian schema-registry id + Avro binary,
`kafkaavro/producer.go:191-210`), pinning chunk *i* to topic partition
*i* (`fixed2avro/Exporters.go:58`). Spark-first mapping:

- ``prepare_kafka_batch`` builds the exact (key, value, partition)
  DataFrame the Spark Kafka sink contract expects — the framing is a
  column expression; Avro row encoding is ``to_avro`` when the
  spark-avro functions are on the classpath, else an Arrow-batched
  pandas UDF over the vectorized encoder (``sinks/avro_vec.py``).
- ``write_kafka`` / ``read_kafka_stream`` use the spark-sql-kafka
  connector when it is on the classpath. Without it they log a tier
  downgrade and go through ``sinks/kafka_wire.py``, a pure-Python
  client for the public Kafka protocol (record-batch v2 + CRC32C,
  Produce v3, Fetch v4): ``write_kafka_wire`` produces from one
  connection per task, and ``read_kafka_stream`` reads through
  ``format("kafkawire")``, whose one stream reader fetches each
  partition's offset range inside the executor task that owns it.
  The produce→consume loop is round-trip-verified over real sockets
  against an in-process broker (tests/test_kafka_wire.py).
- partition pinning = an explicit ``partition`` column
  (``spark_partition_id()``), which the Kafka sink honors natively.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import BinaryType

from shredder_spark.sinks.avro import _to_wire, spark_schema_to_avro
from shredder_spark.sinks.avro_codec import RecordCodec
from shredder_spark.utils import ensure_package_on_executors


class KafkaUnavailableError(RuntimeError):
    pass


def have_kafka_datasource(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider")
        return True
    except Exception:
        return False


# ------------------------------------------------------------- framing exprs


def frame_confluent_col(avro_value: Column, schema_id: int) -> Column:
    """Confluent wire format as a column expression (JVM-side concat)."""
    header = b"\x00" + struct.pack(">I", schema_id)
    return F.concat(F.lit(header), avro_value)


def deframe_value_col(value: Column) -> Column:
    """Strip the 5-byte Confluent header → raw Avro binary."""
    return F.substring(value, 6, 2147483647)


def schema_id_col(value: Column) -> Column:
    """Big-endian 4-byte schema id from a framed message (JVM-side)."""
    return F.conv(F.hex(F.substring(value, 2, 4)), 16, 10).cast("long")


def magic_ok_col(value: Column) -> Column:
    return F.substring(value, 1, 1) == F.lit(b"\x00")


# ------------------------------------------------------------- avro encode


def avro_encode_col(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Add an ``_avro`` binary column encoding the given columns as one
    Avro record per row.

    Uses JVM ``to_avro`` when spark-avro is deployed; otherwise an
    Arrow-batched pandas UDF over :class:`RecordCodec`. Temporals are
    pre-converted to epoch ints JVM-side either way.
    """
    columns = columns or df.columns
    avro_schema = spark_schema_to_avro(df.select(*columns).schema)

    try:
        from pyspark.sql.avro.functions import to_avro  # needs spark-avro jar

        df.sparkSession._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.avro.AvroDataToCatalyst")
        return df.withColumn("_avro", to_avro(F.struct(*columns), avro_schema))
    except Exception:
        pass

    ensure_package_on_executors(df.sparkSession)
    wire = _to_wire(df.select(*columns))
    wire_cols = wire.columns
    from pyspark.sql.pandas.types import to_arrow_type

    import pyarrow as pa

    arrow_schema = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType), nullable=True)
         for f in wire.schema.fields])

    @F.pandas_udf(BinaryType())
    def _encode(*cols: pd.Series) -> pd.Series:
        # vectorized batch encode (sinks/avro_vec.py) — one numpy pass
        # per Arrow batch, per-row slices out; byte-identical to
        # RecordCodec.encode (tests/test_avro_vec.py)
        from shredder_spark.sinks.avro_vec import encode_batch_rows

        rc = RecordCodec(avro_schema)
        pdf = pd.DataFrame(dict(zip(wire_cols, cols)))
        batch = pa.RecordBatch.from_pandas(
            pdf, schema=arrow_schema, preserve_index=False)
        return pd.Series(encode_batch_rows(rc, batch))

    return wire.withColumn("_avro", _encode(*[F.col(c) for c in wire_cols]))


def prepare_kafka_batch(
    df: DataFrame,
    schema_id: int,
    *,
    key_col: str | None = None,
    pin_partitions: bool = True,
    columns: list[str] | None = None,
) -> DataFrame:
    """Build the (key, value[, partition]) DataFrame for the Kafka sink.

    value = Confluent-framed Avro record of ``columns``;
    key = ``key_col`` cast to string bytes (reference registers a
    ``"string"`` key schema, `Exporters.go:59`);
    partition = ``spark_partition_id()`` when pinned (reference A23:
    chunk i → partition i).
    """
    encoded = avro_encode_col(df, columns)
    out = encoded.select(
        (F.col(key_col).cast("string").cast("binary") if key_col
         else F.lit(None).cast("binary")).alias("key"),
        frame_confluent_col(F.col("_avro"), schema_id).alias("value"),
        *( [F.spark_partition_id().alias("partition")] if pin_partitions else [] ),
    )
    return out


# ------------------------------------------------------------- gated I/O


def _warn_wire_tier(what: str, topic: str) -> None:
    import logging

    logging.getLogger(__name__).warning(
        "spark-sql-kafka connector absent: %s topic %r through the "
        "pure-Python kafkawire tier (PLAINTEXT, reduced throughput)",
        what, topic)


def write_kafka(df: DataFrame, topic: str, bootstrap_servers: str) -> None:
    """Produce a prepared (key, value[, partition]) DataFrame. With
    the connector on the classpath this is the JVM producer hot path;
    without it (this container) the same batch ships through the
    pure-Python wire tier — identical bytes on the broker, logged
    tier downgrade (round-6 verdict task 7)."""
    if not have_kafka_datasource(df.sparkSession):
        from shredder_spark.sinks.kafka_wire import write_kafka_wire

        _warn_wire_tier("producing to", topic)
        write_kafka_wire(df, topic, bootstrap_servers)
        return
    (df.write.format("kafka")
       .option("kafka.bootstrap.servers", bootstrap_servers)
       .option("topic", topic)
       .save())


def read_kafka_stream(spark, topic: str, bootstrap_servers: str,
                      partitions: list[int] | None = None) -> DataFrame:
    """Streaming Kafka source. Connector present → ``format("kafka")``
    (subscribe mode, JVM consumer). Connector absent → the
    ``format("kafkawire")`` Python data source (B733), which needs the
    partition list explicitly (the wire tier has no metadata-driven
    subscribe; default [0]). Both return one row per record with
    partition/offset/key/value columns."""
    if not have_kafka_datasource(spark):
        from shredder_spark.sources.kafka_wire_datasource import (
            register_kafkawire_source)

        _warn_wire_tier("streaming from", topic)
        register_kafkawire_source(spark)
        return (spark.readStream.format("kafkawire")
                .option("bootstrap", bootstrap_servers)
                .option("topic", topic)
                .option("partitions",
                        ",".join(str(p) for p in (partitions or [0])))
                .load())
    return (spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .load())
