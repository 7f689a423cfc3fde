"""Avro-JSON (+ nonstandard per-field ``len``) schema compiler.

Re-expresses the semantics of the reference's schema loader
(`/root/reference/common/fixed.go:86-148`): an Avro record schema whose
fields carry a rune-width ``len`` attribute describing a fixed-column
text layout. Here it compiles to a Spark ``StructType`` (widths kept in
field metadata) and the field widths the fixed-width parse slices by.

Type surface per SURVEY.md §1.3 (`/root/reference/common/avro.go:38-56`):
boolean, Bytes (capital-B quirk), float, double, int, long, string,
date, timestamp-millis, timestamp-micros. We implement the *intended*
semantics for the reference's parser quirks (SURVEY.md §1.4): real
epoch millis/micros, parse failure → null (quarantined), boolean
J/j/Y/y→true N/n→false else null.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Avro (logical)type name → Spark type. Keys mirror the reference's
# type map including its capital-B "Bytes" quirk.
_TYPE_MAP: dict[str, DataType] = {
    "boolean": BooleanType(),
    "Bytes": BinaryType(),
    "bytes": BinaryType(),
    "float": FloatType(),
    "double": DoubleType(),
    "int": IntegerType(),
    "long": LongType(),
    "string": StringType(),
    "date": DateType(),
    "timestamp-millis": TimestampType(),
    "timestamp-micros": TimestampType(),
}


@dataclass(frozen=True)
class FixedField:
    name: str
    type_name: str  # reference type string (post logicalType resolution)
    length: int  # rune (character) width

    @property
    def spark_type(self) -> DataType:
        return _TYPE_MAP[self.type_name]


@dataclass(frozen=True)
class FixedSchema:
    name: str
    fields: tuple[FixedField, ...]

    @property
    def row_width(self) -> int:
        """Payload rune width (terminator excluded — the text source
        strips it; the reference counts CRLF separately,
        `common/fixed.go:42-49`)."""
        return sum(f.length for f in self.fields)

    def to_struct_type(self) -> StructType:
        return StructType(
            [
                StructField(
                    f.name,
                    f.spark_type,
                    nullable=True,
                    metadata={"len": f.length, "avro_type": f.type_name},
                )
                for f in self.fields
            ]
        )


def parse_avro_fixed_schema(schema_json: str | dict) -> FixedSchema:
    """Parse an Avro record schema with per-field ``len`` attributes.

    Accepts both inline type objects (``{"type": {"type": "long",
    "logicalType": "timestamp-micros", "len": 26}}``) and the flat
    variant with len beside the field. logicalType overrides the
    physical type name, as in the reference loader
    (`common/fixed.go:115-126`).
    """
    obj = json.loads(schema_json) if isinstance(schema_json, str) else schema_json
    if obj.get("type") != "record":
        raise ValueError(f"expected a record schema, got {obj.get('type')!r}")
    fields = []
    for f in obj.get("fields", []):
        name = f["name"]
        t = f["type"]
        if isinstance(t, dict):
            type_name = t.get("logicalType") or t["type"]
            length = t.get("len", f.get("len"))
        else:
            type_name = t
            length = f.get("len")
        if length is None:
            raise ValueError(f"field {name!r} missing 'len' attribute")
        if type_name not in _TYPE_MAP:
            raise ValueError(f"field {name!r}: unsupported type {type_name!r}")
        fields.append(FixedField(name, type_name, int(length)))
    if not fields:
        raise ValueError("schema has no fields")
    return FixedSchema(obj.get("name", "record"), tuple(fields))
