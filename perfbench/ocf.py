"""Avro object container files, read and written by the benchmark itself.

Written from the Avro 1.11 specification, independent of the program's
codec, so the benchmark's checks do not trust the code they check.
"""

from __future__ import annotations

import json

MAGIC = b"Obj\x01"


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Unsigned little-endian base-128 varint at ``pos``."""
    n = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def _long(buf: bytes, pos: int) -> tuple[int, int]:
    z, pos = _varint(buf, pos)
    return (z >> 1) ^ -(z & 1), pos


def _zz(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def walk(data: bytes) -> tuple[int, int]:
    """Row count and uncompressed payload bytes of one OCF file, from
    the block headers alone. Raises ValueError on any framing error
    (bad magic, torn block, wrong sync marker)."""
    if data[:4] != MAGIC:
        raise ValueError("bad OCF magic")
    pos, meta = 4, {}
    while True:
        count, pos = _long(data, pos)
        if count == 0:
            break
        if count < 0:
            _, pos = _long(data, pos)
            count = -count
        for _ in range(count):
            klen, pos = _long(data, pos)
            key = data[pos:pos + klen].decode()
            pos += klen
            vlen, pos = _long(data, pos)
            meta[key] = data[pos:pos + vlen]
            pos += vlen
    sync = data[pos:pos + 16]
    pos += 16
    codec = meta.get("avro.codec", b"null").decode()
    rows = payload = 0
    while pos < len(data):
        n, pos = _long(data, pos)
        size, pos = _long(data, pos)
        block = data[pos:pos + size]
        if n < 0 or len(block) != size:
            raise ValueError("torn OCF block")
        pos += size
        if data[pos:pos + 16] != sync:
            raise ValueError("OCF sync marker mismatch")
        pos += 16
        rows += n
        # a raw snappy stream opens with its uncompressed length
        payload += _varint(block, 0)[0] if codec == "snappy" else size
    return rows, payload


def write_plain(path: str, schema_json: str, payloads: list[bytes]) -> None:
    """One uncompressed OCF block holding the given record payloads."""
    sync = b"perfbench-sync!!"
    schema = json.dumps(json.loads(schema_json)).encode()
    head = bytearray(MAGIC)
    head += _zz(2)
    for k, v in ((b"avro.schema", schema), (b"avro.codec", b"null")):
        head += _zz(len(k)) + k + _zz(len(v)) + v
    head += _zz(0) + sync
    body = b"".join(payloads)
    with open(path, "wb") as fh:
        fh.write(bytes(head))
        fh.write(_zz(len(payloads)) + _zz(len(body)))
        fh.write(body)
        fh.write(sync)
