"""The Spark-expression fixed-width parse, kept as an independent
reference for the cross-tier tests.

The library parses fixed-width text with one numpy/Arrow kernel
(``shredder_spark.sources.fixedwidth_arrow.parse_lines``). This module
defines the same column semantics a second way, in built-in Spark
column expressions (rune ``substring`` slices, ``try_cast``,
``try_make_timestamp``), so a test can compare the kernel's rows with
rows computed by different code.

``read_fixed_width_reference`` reads lines with ``spark.read.text``
(``lineSep="\\r\\n"`` by default, ``line_sep=None`` for Spark's
default set of separators), drops footer and blank lines, and parses
them with the expressions below.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from shredder_spark.avro_schema import FixedField, FixedSchema, parse_avro_fixed_schema
from shredder_spark.sources.fixedwidth import FixedWidthResult
from shredder_spark.sources.fixedwidth_arrow import FOOTER_PREFIX

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


def field_offsets(fs: FixedSchema) -> list[tuple[FixedField, int]]:
    """1-based character start position per field (Spark's
    ``substring`` is 1-based and character-counted)."""
    out, pos = [], 1
    for f in fs.fields:
        out.append((f, pos))
        pos += f.length
    return out


def read_fixed_width_reference(
    spark: SparkSession,
    path: str,
    schema: str | dict | FixedSchema,
    *,
    line_sep: str | None = "\r\n",
    with_quarantine: bool = False,
) -> DataFrame | FixedWidthResult:
    """The expression parse of a fixed-width file: a typed DataFrame,
    or a :class:`FixedWidthResult` when ``with_quarantine=True``."""
    fs = schema if isinstance(schema, FixedSchema) else parse_avro_fixed_schema(schema)
    reader = spark.read if line_sep is None else spark.read.option("lineSep", line_sep)
    lines = reader.text(path).withColumnRenamed("value", _RAW_COL)
    lines = lines.filter(~F.col(_RAW_COL).startswith(FOOTER_PREFIX))
    # drop blank trailing lines produced by a terminator on the last row
    lines = lines.filter(F.length(_RAW_COL) > 0)

    raw_cols = {
        f.name: _slice_expr(F.col(_RAW_COL), start, f.length)
        for f, start in field_offsets(fs)
    }
    typed = [_cast_expr(f, raw_cols[f.name]).alias(f.name) for f in fs.fields]

    if not with_quarantine:
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
