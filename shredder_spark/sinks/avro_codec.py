"""Minimal Avro binary codec + Object Container File (OCF) support.

Implemented from the public Apache Avro 1.11 specification (binary
encoding + object container files). Exists because this environment
ships neither the spark-avro datasource jar nor any Python avro
library; when a spark-avro jar is available the sinks in
``shredder_spark.sinks.avro`` prefer the JVM path automatically.

Scope: flat record schemas over the engine's type surface
(SURVEY.md §1.3) — boolean, bytes, float, double, int, long, string,
plus date / timestamp-millis / timestamp-micros logicals — with
optional ``["null", T]`` unions. Values are Python primitives; the
Spark sink converts temporal columns to ints JVM-side first, so the
hot loop is ints/floats/str/bytes only.

Codecs: null, deflate (zlib raw), snappy (pyarrow codec + CRC32 of the
uncompressed block, big-endian, per the spec).
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from typing import Any, Callable, Iterable

import pyarrow as _pa

MAGIC = b"Obj\x01"
SYNC_SIZE = 16

# ------------------------------------------------------------------ encoding


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def encode_long(n: int) -> bytes:
    """The zigzag varint of ``n``."""
    n = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while n > 0x7F:
        out.append(n & 0x7F | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def write_long(buf: io.BytesIO, n: int) -> None:
    buf.write(encode_long(n))


def read_long(buf: io.BufferedIOBase) -> int:
    shift, acc = 0, 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("unexpected EOF in varint")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _zigzag_decode(acc)
        shift += 7


def write_bytes(buf: io.BytesIO, b: bytes) -> None:
    write_long(buf, len(b))
    buf.write(b)


def read_bytes(buf: io.BufferedIOBase) -> bytes:
    n = read_long(buf)
    return buf.read(n)


# Per-type value writers. Logical temporals arrive as pre-converted ints.
_WRITERS: dict[str, Callable[[io.BytesIO, Any], None]] = {
    "boolean": lambda b, v: b.write(b"\x01" if v else b"\x00"),
    "int": write_long,
    "long": write_long,
    "float": lambda b, v: b.write(struct.pack("<f", v)),
    "double": lambda b, v: b.write(struct.pack("<d", v)),
    "bytes": lambda b, v: write_bytes(b, bytes(v)),
    "string": lambda b, v: write_bytes(b, v.encode("utf-8")),
    "date": write_long,  # int days
    "timestamp-millis": write_long,
    "timestamp-micros": write_long,
    "time-millis": write_long,
    "time-micros": write_long,
}

_READERS: dict[str, Callable[[io.BufferedIOBase], Any]] = {
    "boolean": lambda b: b.read(1) == b"\x01",
    "int": read_long,
    "long": read_long,
    "float": lambda b: struct.unpack("<f", b.read(4))[0],
    "double": lambda b: struct.unpack("<d", b.read(8))[0],
    "bytes": read_bytes,
    "string": lambda b: read_bytes(b).decode("utf-8"),
    "date": read_long,
    "timestamp-millis": read_long,
    "timestamp-micros": read_long,
    "time-millis": read_long,
    "time-micros": read_long,
}


def _field_type(ftype: Any) -> tuple[str, int]:
    """Resolve a field's (primitive-or-logical name, null branch index).

    null_index is -1 for non-nullable fields; otherwise the union
    position of "null" (the Avro spec allows ["null", T] and
    [T, "null"] — Spark's writer emits the latter)."""
    null_index = -1
    if isinstance(ftype, list):
        non_null = [t for t in ftype if t != "null"]
        if len(non_null) != 1 or len(ftype) != 2:
            raise ValueError(f"unsupported union {ftype!r}")
        null_index = ftype.index("null")
        ftype = non_null[0]
    if isinstance(ftype, dict):
        name = ftype.get("logicalType") or ftype["type"]
    else:
        name = ftype
    if name == "Bytes":  # reference capital-B quirk
        name = "bytes"
    if name not in _WRITERS:
        raise ValueError(f"unsupported avro type {name!r}")
    return name, null_index


class RecordCodec:
    """Row ↔ Avro-binary for one flat record schema."""

    def __init__(self, schema_json: str | dict):
        obj = json.loads(schema_json) if isinstance(schema_json, str) else schema_json
        if obj.get("type") != "record":
            raise ValueError("expected record schema")
        self.schema = obj
        self.schema_json = json.dumps(obj, separators=(",", ":"))
        self.fields: list[tuple[str, str, int]] = []
        for f in obj["fields"]:
            name, null_index = _field_type(f["type"])
            self.fields.append((f["name"], name, null_index))

    # -- encode
    def encode_into(self, buf: io.BytesIO, row: Iterable[Any]) -> None:
        for (fname, tname, null_index), v in zip(self.fields, row):
            if null_index >= 0:
                if v is None:
                    write_long(buf, null_index)
                    continue
                write_long(buf, 1 - null_index)
            elif v is None:
                raise ValueError(f"null in non-nullable field {fname}")
            _WRITERS[tname](buf, v)

    def encode(self, row: Iterable[Any]) -> bytes:
        buf = io.BytesIO()
        self.encode_into(buf, row)
        return buf.getvalue()

    # -- decode
    def decode_from(self, buf: io.BufferedIOBase) -> tuple:
        out = []
        for _, tname, null_index in self.fields:
            if null_index >= 0:
                if read_long(buf) == null_index:
                    out.append(None)
                    continue
            out.append(_READERS[tname](buf))
        return tuple(out)

    def decode(self, data: bytes) -> tuple:
        return self.decode_from(io.BytesIO(data))


# ------------------------------------------------------------------ codecs


def _snappy() -> _pa.Codec:
    return _pa.Codec("snappy")


def compress_block(codec: str, data: bytes) -> bytes:
    if codec == "null":
        return data
    if codec == "deflate":
        # raw deflate (no zlib header) per the Avro spec
        c = zlib.compressobj(9, zlib.DEFLATED, -zlib.MAX_WBITS)
        return c.compress(data) + c.flush()
    if codec == "snappy":
        return b"".join((_snappy().compress(data),
                         struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)))
    raise ValueError(f"unsupported codec {codec!r}")


def decompress_block(codec: str, data: bytes, uncompressed_hint: int | None = None) -> bytes:
    if codec == "null":
        return data
    if codec == "deflate":
        return zlib.decompress(data, -zlib.MAX_WBITS)
    if codec == "snappy":
        body, crc = data[:-4], data[-4:]
        if uncompressed_hint is None:
            # raw snappy streams open with the uncompressed length as a
            # little-endian base-128 varint — pyarrow needs it explicitly
            size, shift = 0, 0
            for byte in body:
                size |= (byte & 0x7F) << shift
                if not byte & 0x80:
                    break
                shift += 7
            uncompressed_hint = size
        out = _snappy().decompress(body, uncompressed_hint).to_pybytes()
        if struct.pack(">I", zlib.crc32(out) & 0xFFFFFFFF) != crc:
            raise ValueError("snappy block CRC mismatch")
        return out
    raise ValueError(f"unsupported codec {codec!r}")


# ------------------------------------------------------------------ OCF


def write_ocf_header(fh: io.BufferedIOBase, codec_obj: RecordCodec,
                     codec: str, sync: bytes | None = None) -> bytes:
    """Magic, metadata (schema, codec) and sync marker; returns the sync
    marker (default: derived from the schema)."""
    if sync is None:
        sync = (zlib.crc32(codec_obj.schema_json.encode()) & 0xFFFFFFFF).to_bytes(4, "big") * 4
    assert len(sync) == SYNC_SIZE
    fh.write(MAGIC)
    meta = io.BytesIO()
    write_long(meta, 2)
    write_bytes(meta, b"avro.schema")
    write_bytes(meta, codec_obj.schema_json.encode("utf-8"))
    write_bytes(meta, b"avro.codec")
    write_bytes(meta, codec.encode())
    write_long(meta, 0)
    fh.write(meta.getvalue())
    fh.write(sync)
    return sync


def write_ocf(
    fh: io.BufferedIOBase,
    codec_obj: RecordCodec,
    rows: Iterable[Iterable[Any]],
    *,
    codec: str = "snappy",
    sync: bytes | None = None,
    block_rows: int = 4096,
) -> int:
    """Write an Avro OCF stream; returns row count."""
    sync = write_ocf_header(fh, codec_obj, codec, sync)

    n_total = 0
    block = io.BytesIO()
    n_block = 0

    def _flush() -> None:
        nonlocal block, n_block
        if not n_block:
            return
        payload = compress_block(codec, block.getvalue())
        fh.write(encode_long(n_block) + encode_long(len(payload)))
        fh.write(payload)
        fh.write(sync)
        block, n_block = io.BytesIO(), 0

    for row in rows:
        codec_obj.encode_into(block, row)
        n_block += 1
        n_total += 1
        if n_block >= block_rows:
            _flush()
    _flush()
    return n_total


def read_ocf_all(fh: io.BufferedIOBase) -> tuple[dict, list[tuple]]:
    if fh.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        n = read_long(fh)
        if n == 0:
            break
        if n < 0:  # block-size-prefixed map chunk
            read_long(fh)
            n = -n
        for _ in range(n):
            k = read_bytes(fh).decode()
            meta[k] = read_bytes(fh)
    schema = json.loads(meta[b"avro.schema".decode()] if isinstance(meta.get("avro.schema"), str) else meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    rc = RecordCodec(schema)
    sync = fh.read(SYNC_SIZE)
    rows: list[tuple] = []
    while True:
        try:
            n_rows = read_long(fh)
        except EOFError:
            break
        size = read_long(fh)
        payload = fh.read(size)
        data = io.BytesIO(decompress_block(codec, payload))
        for _ in range(n_rows):
            rows.append(rc.decode_from(data))
        if fh.read(SYNC_SIZE) != sync:
            raise ValueError("sync marker mismatch")
    return schema, rows


# ------------------------------------------------------- Confluent framing

CONFLUENT_MAGIC = 0


def frame_confluent(schema_id: int, avro_payload: bytes) -> bytes:
    """Confluent wire format: magic 0x00 + 4-byte big-endian schema id +
    Avro binary (reference `kafkaavro/producer.go:191-210`)."""
    return b"\x00" + struct.pack(">I", schema_id) + avro_payload


def deframe_confluent(message: bytes) -> tuple[int, bytes]:
    if not message or message[0] != CONFLUENT_MAGIC:
        raise ValueError("unknown magic byte")
    return struct.unpack(">I", message[1:5])[0], message[5:]
