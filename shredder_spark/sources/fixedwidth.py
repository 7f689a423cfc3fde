"""Fixed-width text source (reference operators A6–A21, SURVEY.md §2).

The reference reads the whole file into RAM, splits it into per-core
chunks aligned on CRLF, and parses field-by-field
(`fixed2avro/ColumnBuilder.go:98-227`). Spark-first equivalent:

- ``spark.read.text`` with ``lineSep="\\r\\n"`` — HDFS-style input
  splits give chunking + line-boundary fixup for free, streamed (no
  whole-file buffer, which is what lets this scale past RAM to 100 TB).
- projection = one ``substring`` per column at cumulative character
  offsets — Spark's ``substring`` counts characters, so multibyte
  runes split correctly (parity with `fixed2avro/Util.go:45-65`).
- casts = ``try_cast``/``try_to_timestamp`` expressions (ANSI-safe:
  parse failure yields null, never a job abort), implementing the
  reference's *intended* semantics per SURVEY.md §1.4.
- footer: a line starting with 12 ``*`` terminates input
  (`ColumnBuilder.go:211-214`) — expressed as a filter.
- quarantine (B8): rows where any field failed to parse (or the row
  width is wrong) are split to a bad-records DataFrame with reasons,
  instead of the reference's silent zero-values.

Everything is built-in column expressions — whole-stage codegen, no
Python in the row path.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from shredder_spark.avro_schema import FixedField, FixedSchema, parse_avro_fixed_schema

FOOTER_PREFIX = "*" * 12
_RAW_COL = "_raw_line"

# Timestamp text format `yyyy-MM-dd-HH.mm.ss[.ffffff]`
# (`fixed2avro/ColumnBuilder.go:232,283` comments). Seconds part is
# fixed-width; the fraction is up to 6 digits, right-padded to micros.
# The accepted shape of a left-trimmed value's first 26 characters:
# every component all digits at full width, separators unchecked (any
# character, `(?s)`), then an optional fraction that is a digit prefix
# followed only by pad spaces; `\z` is the true end (`$` would allow a
# trailing line terminator).
_TS_SHAPE = (r"(?s)^[0-9]{4}.[0-9]{2}.[0-9]{2}.[0-9]{2}.[0-9]{2}.[0-9]{2}"
             r"(.[0-9]* *)?\z")


def _ts_micros_expr(raw: Column) -> Column:
    """Parse the custom timestamp format to TimestampType (UTC).

    Hand-slices the datetime components at fixed offsets — exactly the
    reference's strategy (`fixed2avro/ColumnBuilder.go:232-281` slices
    `[0:4] [5:7] [8:10] [11:13] [14:16] [17:19] [20:]`) — then rebuilds
    with ``try_make_timestamp`` (≈30% faster than a DateTimeFormatter
    round through ``try_to_timestamp``, and, like the reference, does
    not re-validate the separator runes). The rules are the numpy
    reader's (``fixedwidth_arrow._ts_micros_numpy``): leading spaces
    are trimmed, only the first 26 characters count, and a value that
    does not have ``_TS_SHAPE`` is null — so a sign, a space inside a
    component, a component cut short or a fraction digit after a space
    nulls it instead of try_cast reading it. The fraction is
    right-padded to micros.
    """
    t = F.substring(F.ltrim(raw), 1, 26)
    whole = F.try_make_timestamp(
        F.substring(t, 1, 4).try_cast("int"),
        F.substring(t, 6, 2).try_cast("int"),
        F.substring(t, 9, 2).try_cast("int"),
        F.substring(t, 12, 2).try_cast("int"),
        F.substring(t, 15, 2).try_cast("int"),
        F.substring(t, 18, 2).try_cast("decimal(2,0)"),
    )
    # fraction re-attached as integer micros: long add beats routing a
    # decimal(8,6) seconds value through make_timestamp (~25% on the
    # 3-ts-column bench shape). An absent fraction pads to 0.
    frac = F.rpad(F.rtrim(F.substring(t, 21, 6)), 6, "0").try_cast("long")
    return F.when(t.rlike(_TS_SHAPE),
                  F.timestamp_micros(F.unix_micros(whole) + frac))


def _slice_expr(value: Column, start: int, length: int) -> Column:
    """Fixed-width slice at 1-based character offsets, single-expression
    form: per-row ASCII fast path (byte copy) with a rune-correct
    fallback (parity with `fixed2avro/Util.go:45-65`).

    NOTE (measured, sf0.1): the guard's CSE across 30 cast-wrapped
    fields only happens when a preceding filter has materialized
    ``length()`` (read_fixed_width's blank-line filter does) — a bare
    select of these expressions re-scans the row per field, 4× slower.
    Callers composing their own scan should keep an equivalent
    length-touching filter upstream.
    """
    return (
        F.when(F.octet_length(value) == F.length(value),
               value.cast("binary").substr(start, length).cast("string"))
        .otherwise(F.substring(value, start, length))
    )


def _cast_expr(field: FixedField, raw: Column) -> Column:
    """Typed value expression for one field (reference A12–A21, intended
    semantics). Returns null on parse failure — quarantine decides what
    to do with it."""
    t = field.type_name
    if t == "boolean":
        first = F.upper(F.substring(F.ltrim(raw), 1, 1))
        return (
            F.when(first.isin("J", "Y"), F.lit(True))
            .when(first == "N", F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
        )
    if t in ("Bytes", "bytes"):
        return F.encode(raw, "UTF-8")
    # no explicit trim: Spark's string→number casts trim ASCII
    # whitespace themselves (UTF8String trimAll before parse), so a
    # leading F.trim would be a second pass over every numeric field
    if t == "float":
        return raw.try_cast("float")
    if t == "double":
        return raw.try_cast("double")
    if t == "int":
        return raw.try_cast("int")
    if t == "long":
        return raw.try_cast("long")
    if t == "string":
        return raw  # reference does NOT trim (`ColumnBuilderTypes.go:157-160`)
    if t == "date":
        return F.to_date(_ts_micros_expr(raw))
    if t in ("timestamp-millis", "timestamp-micros"):
        return _ts_micros_expr(raw)
    raise ValueError(f"unsupported type {t!r}")


# string/bytes fields can't fail; everything else parsing to null on
# non-blank input means a bad value.
_FALLIBLE = {"boolean", "float", "double", "int", "long", "date",
             "timestamp-millis", "timestamp-micros"}


@dataclass
class FixedWidthResult:
    clean: DataFrame
    quarantine: DataFrame  # columns: _raw_line, _errors (array<string>)


def read_fixed_width(
    spark: SparkSession,
    path: str,
    schema: str | dict | FixedSchema,
    *,
    line_sep: str = "\r\n",
    footer_prefix: str = FOOTER_PREFIX,
    with_quarantine: bool = False,
    encoding: str | None = None,
):
    """Read a fixed-width text file into a typed DataFrame.

    Returns a DataFrame, or a :class:`FixedWidthResult` when
    ``with_quarantine=True``.

    ``encoding=None`` (default) defers to the schema's own top-level
    ``"encoding"`` declaration (falling back to utf8) — a feed whose
    schema declares ``"encoding": "ascii"`` gets byte slicing with no
    per-call opt-in.
    ``encoding="utf8"`` slices at RUNE offsets with a per-row
    ASCII byte fast path — correct for any UTF-8 input.
    ``encoding="ascii"`` slices BYTES unconditionally — 1.9× faster on
    the 30-column bench (measured sf0.1) — for feeds the caller
    declares single-byte (the reference's mainframe-extract workload
    is); a multibyte row under this mode slices at shifted offsets,
    which the fallible casts turn into nulls → quarantine, never a
    wrong silent value for typed fields.
    """
    fs = schema if isinstance(schema, FixedSchema) else parse_avro_fixed_schema(schema)
    if encoding is None:
        encoding = getattr(fs, "encoding", None) or "utf8"

    lines = spark.read.text(path, lineSep=line_sep).withColumnRenamed("value", _RAW_COL)
    if footer_prefix:
        lines = lines.filter(~F.col(_RAW_COL).startswith(footer_prefix))
    # drop blank trailing lines produced by a terminator on the last row
    lines = lines.filter(F.length(_RAW_COL) > 0)

    raw_cols = {
        f.name: _slice_expr(F.col(_RAW_COL), start, f.length)
        for f, start in fs.field_offsets()
    }
    typed = [_cast_expr(f, raw_cols[f.name]).alias(f.name) for f in fs.fields]

    if not with_quarantine:
        if encoding == "ascii":
            # declared single-byte input: unconditional byte slicing
            # (1.24× end-to-end →Avro at the 4-task shape, interleaved
            # A/B at sf0.1; the per-row guard and its rune branch
            # disappear from codegen entirely)
            v = F.col(_RAW_COL)
            return lines.select(*[
                _cast_expr(f, v.cast("binary").substr(start, f.length)
                           .cast("string")).alias(f.name)
                for f, start in fs.field_offsets()])
        # Single-pass guarded projection. Measured alternatives at
        # sf0.1: (a) a bare select of guarded slices WITHOUT the
        # length filter below is 4× slower — codegen only CSEs the
        # repeated octet_length/length guard when the filter has
        # already materialized length(); (b) a two-branch ASCII/
        # multibyte filter+union split pays a second source scan and
        # lands ~30% slower than this shape; (c) a single row-level
        # branch selecting between an array of byte slices and an
        # array of rune slices measured IDENTICAL to this shape under
        # interleaved A/B (an uninterleaved run had suggested 1.4× —
        # VM phase noise) while losing column pruning, so the
        # per-field form stays.
        return lines.select(*typed)

    width_ok = F.length(_RAW_COL) == fs.row_width
    error_terms = [
        F.when(~width_ok,
               F.concat(F.lit("row_width:"), F.length(_RAW_COL).cast("string")))
    ]
    for f in fs.fields:
        if f.type_name in _FALLIBLE:
            raw = raw_cols[f.name]
            failed = _cast_expr(f, raw).isNull() & (F.trim(raw) != "")
            error_terms.append(F.when(width_ok & failed, F.lit(f"bad_{f.name}")))
    with_errs = lines.select(
        F.col(_RAW_COL),
        F.array_compact(F.array(*error_terms)).alias("_errors"),
        *typed,
    )
    clean = with_errs.filter(F.size("_errors") == 0).drop(_RAW_COL, "_errors")
    quarantine = with_errs.filter(F.size("_errors") > 0).select(_RAW_COL, "_errors")
    return FixedWidthResult(clean=clean, quarantine=quarantine)


def read_fixed_width_stream(
    spark: SparkSession,
    path: str,
    schema: str | dict | FixedSchema,
    *,
    line_sep: str = "\r\n",
    footer_prefix: str = FOOTER_PREFIX,
    max_files_per_trigger: int | None = None,
):
    """Continuous fixed-width ingest: ``readStream.text`` over a landing
    directory, same typed projection as the batch path.

    This is the reference CLI's pipeline (`CLI.go:30-63`) as a
    Structured Streaming job: drop files into ``path`` and each
    micro-batch parses the new ones and flows to whatever sink the
    caller attaches (``foreachBatch`` → Avro OCF, or the Kafka sink
    with Confluent framing — see shredder_spark.sinks). State-free:
    the file-source log tracks processed files; no operator state.
    """
    fs = schema if isinstance(schema, FixedSchema) else parse_avro_fixed_schema(schema)
    reader = spark.readStream.option("lineSep", line_sep)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.text(path).withColumnRenamed("value", _RAW_COL)
    if footer_prefix:
        lines = lines.filter(~F.col(_RAW_COL).startswith(footer_prefix))
    lines = lines.filter(F.length(_RAW_COL) > 0)
    typed = [
        _cast_expr(f, _slice_expr(F.col(_RAW_COL), start, f.length)).alias(f.name)
        for f, start in fs.field_offsets()
    ]
    return lines.select(*typed)

