"""Fixed-width text source (reference operators A6–A21, SURVEY.md §2).

The reference reads the whole file into RAM, splits it into per-core
chunks aligned on CRLF, and parses field-by-field
(`fixed2avro/ColumnBuilder.go:98-227`). Spark-first equivalent:

- ``spark.read.text`` with ``lineSep="\\r\\n"`` — HDFS-style input
  splits give chunking + line-boundary fixup for free, streamed (no
  whole-file buffer, which is what lets this scale past RAM to 100 TB),
  and gzip input is decompressed on the way.
- footer: a line starting with 12 ``*`` terminates input
  (`ColumnBuilder.go:211-214`) — expressed as a filter, together with
  the blank-line filter.
- parse: ``mapInArrow`` hands each batch of lines to the one
  fixed-width kernel, ``fixedwidth_arrow.parse_lines``, which slices
  fields by rune (parity with `fixed2avro/Util.go:45-65`) and parses
  failures to null — the reference's *intended* semantics per SURVEY.md
  §1.4.
- quarantine (B8): rows where any field failed to parse (or the row
  width is wrong) are split to a bad-records DataFrame with reasons,
  instead of the reference's silent zero-values.

The batch reader and its streaming twin share every step but the
``readStream``.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, StringType

from shredder_spark.avro_schema import FixedSchema, parse_avro_fixed_schema
from shredder_spark.sources.fixedwidth_arrow import FOOTER_PREFIX, parse_lines
from shredder_spark.utils import ensure_package_on_executors

_LINE_SEP = "\r\n"


@dataclass
class FixedWidthResult:
    clean: DataFrame
    quarantine: DataFrame  # columns: _raw_line, _errors (array<string>)


def _parse(spark: SparkSession, lines: DataFrame, schema,
           quarantine: bool = False) -> DataFrame:
    """Footer and blank lines dropped, then every batch of ``lines``
    (one ``value`` column) parsed by ``parse_lines``."""
    fs = schema if isinstance(schema, FixedSchema) else parse_avro_fixed_schema(schema)
    out = fs.to_struct_type()
    if quarantine:
        out = out.add("_raw_line", StringType()) \
            .add("_errors", ArrayType(StringType()))

    def parse(batches):
        for b in batches:
            yield parse_lines(b.column(0), fs, quarantine=quarantine)

    ensure_package_on_executors(spark)
    return (lines.filter(~F.col("value").startswith(FOOTER_PREFIX)
                         & (F.col("value") != ""))
            .mapInArrow(parse, out))


def read_fixed_width(
    spark: SparkSession,
    path: str,
    schema: str | dict | FixedSchema,
    *,
    with_quarantine: bool = False,
    encoding: str | None = None,
):
    """Read a fixed-width text file (or directory, plain or gzipped)
    into a typed DataFrame.

    Returns a DataFrame, or a :class:`FixedWidthResult` when
    ``with_quarantine=True``. Fields are sliced by rune whatever the
    input, so ``encoding`` accepts only ``None`` and ``"utf8"``.
    """
    if encoding not in (None, "utf8"):
        raise ValueError(f"encoding must be None or 'utf8', not {encoding!r}")
    lines = spark.read.text(path, lineSep=_LINE_SEP)
    if not with_quarantine:
        return _parse(spark, lines, schema)
    parsed = _parse(spark, lines, schema, quarantine=True)
    bad = F.size("_errors") > 0
    return FixedWidthResult(
        clean=parsed.filter(~bad).drop("_raw_line", "_errors"),
        quarantine=parsed.filter(bad).select("_raw_line", "_errors"))


def read_fixed_width_stream(
    spark: SparkSession,
    path: str,
    schema: str | dict | FixedSchema,
    *,
    max_files_per_trigger: int | None = None,
):
    """Continuous fixed-width ingest: ``readStream.text`` over a landing
    directory, same parse as the batch path.

    This is the reference CLI's pipeline (`CLI.go:30-63`) as a
    Structured Streaming job: drop files into ``path`` and each
    micro-batch parses the new ones and flows to whatever sink the
    caller attaches (``foreachBatch`` → Avro OCF, or the Kafka sink
    with Confluent framing — see shredder_spark.sinks). State-free:
    the file-source log tracks processed files; no operator state.
    """
    reader = spark.readStream.option("lineSep", _LINE_SEP)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _parse(spark, reader.text(path), schema)
