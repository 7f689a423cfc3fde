"""Avro OCF sink/source (reference A24/B4), Spark-distributed.

Semantics match the reference's file exporter
(`fixed2avro/Exporters.go:105-138`): one snappy-compressed Avro OCF
file per partition (reference: per chunk).

Both directions are one JVM call: ``AvroFileFormat`` ships inside
``spark-sql_2.13-4.1.2.jar``, so Spark writes and reads OCF itself.
``write_avro_ocf`` / ``read_avro_ocf`` exist to hide the class-name
quirk (``AVRO_FORMAT``). ``spark_schema_to_avro`` and ``_to_wire``
serve the Python encoders (the fused kernel in ``sinks/avro_vec.py``
and the Kafka value encoder in ``sinks/kafka.py``).
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType, BooleanType, DateType, DoubleType, FloatType, IntegerType,
    LongType, StringType, StructType, TimestampType,
)

_SPARK_TO_AVRO: list[tuple[type, object]] = [
    (BooleanType, "boolean"),
    (BinaryType, "bytes"),
    (FloatType, "float"),
    (DoubleType, "double"),
    (IntegerType, "int"),
    (LongType, "long"),
    (StringType, "string"),
    (DateType, {"type": "int", "logicalType": "date"}),
    (TimestampType, {"type": "long", "logicalType": "timestamp-micros"}),
]


def spark_schema_to_avro(schema: StructType, name: str = "record") -> str:
    fields = []
    for f in schema.fields:
        avro_t = None
        for klass, t in _SPARK_TO_AVRO:
            if isinstance(f.dataType, klass):
                avro_t = t
                break
        if avro_t is None:
            raise ValueError(f"no avro mapping for {f.dataType}")
        fields.append({"name": f.name, "type": ["null", avro_t] if f.nullable else avro_t})
    return json.dumps({"type": "record", "name": name, "fields": fields})


# This pyspark build ships the avro FileFormat class but not its
# DataSourceRegister service entry, so the "avro" shortname fails while
# the full class name works — use the latter everywhere.
AVRO_FORMAT = "org.apache.spark.sql.avro.AvroFileFormat"


def _to_wire(df: DataFrame) -> DataFrame:
    """Temporal → epoch-int conversion, JVM-side (dates→days, ts→micros)."""
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, DateType):
            cols.append(F.datediff(F.col(f.name), F.lit("1970-01-01")).alias(f.name))
        elif isinstance(f.dataType, TimestampType):
            cols.append(F.unix_micros(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def write_avro_ocf(df: DataFrame, out_dir: str, *, codec: str = "snappy") -> None:
    """Write ``df`` as one OCF file per partition, replacing ``out_dir``."""
    df.write.format(AVRO_FORMAT).option("compression", codec).mode("overwrite").save(out_dir)


def read_avro_ocf(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory (or glob) of OCF files into a DataFrame."""
    return spark.read.format(AVRO_FORMAT).load(path)
