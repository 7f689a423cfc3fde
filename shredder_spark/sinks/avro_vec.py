"""Vectorized Avro binary encoder: Arrow batch → Avro records, columnar.

The per-row codec (``avro_codec.RecordCodec``) encodes field-by-field
in Python — fine for Kafka framing (one record per message), but the
OCF sink hot loop is O(rows × fields) interpreter work. This module
encodes a whole Arrow batch with numpy, padded-matrix style:

1. per field, compute the encoded byte LENGTH of every row (varint
   widths via threshold sums, string lengths from the Arrow offsets);
2. allocate a padded (rows × Σ field-slot-widths) byte matrix and a
   same-shape validity mask that starts all true; each field owns a
   fixed column block sized to its batch-max width, and every write is
   a strided store of one ``V{k}`` element per row, never a fancy
   index. A varint of ≤ 8 bytes is built in one uint64 per row, and a
   field clears mask bytes only where it can leave holes (null rows,
   varints of varying width, strings of unequal length);
3. one boolean-mask compress of the raveled matrix emits the exact
   row-major Avro byte stream (row lengths → cumsum gives per-row
   offsets for the OCF/Kafka framings).

Exactness: ``encode_batch(rc, batch)`` equals
``b"".join(rc.encode(row) for row in rows)`` byte-for-byte (pinned in
tests/test_avro_vec.py). Type surface: the engine's wire form
(SURVEY.md §1.3) — boolean, int, long, float, double, bytes, string,
and the temporal logicals as epoch ints — with optional ``["null", T]``
unions. Columns are read off their Arrow buffers.
"""

from __future__ import annotations

import io
import zlib
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa

from shredder_spark.sinks.avro_codec import (
    MAGIC, RecordCodec, compress_block, write_bytes, write_long)
from shredder_spark.sources.fixedwidth_arrow import _null_mask, _rows

_VARINT_MAX = 10
_ENC_ROWS = 16384  # encode sub-slice: padded matrix + mask stay cache-resident

_INT_TYPES = frozenset({
    "int", "long", "date", "timestamp-millis", "timestamp-micros",
    "time-millis", "time-micros"})


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64, copy=False)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def _varint_len(z: np.ndarray) -> np.ndarray:
    """Encoded byte count per value: 1 + (# of 7-bit thresholds ≤ z).
    The threshold loop stops at the column's max — small-int columns
    (the common shape) pay 2-3 compares instead of 9."""
    n = np.ones(len(z), dtype=np.int64)
    if len(z) == 0:
        return n
    zm = int(z.max())
    for k in range(1, _VARINT_MAX):
        t = 1 << (7 * k)
        if zm < t:
            break
        n += (z >= np.uint64(t))
    return n


_SHIFTS = np.arange(_VARINT_MAX, dtype=np.uint64) * np.uint64(7)
# varints of ≤ 8 bytes (values < 2^56) are built one uint64 per row:
# three spread steps move the 7-bit groups into the low 7 bits of
# bytes 0..7 (28|28 → 32-bit halves, 14|14 → 16-bit quarters, 7|7 →
# bytes), then the continuation bits of a width-k varint — 0x80 in
# bytes 0..k-2 — are OR'ed in from a table indexed by k. The mask of
# a width-k row is likewise one word: 0x01 in bytes 0..k-1.
_SPREAD = tuple(tuple(map(np.uint64, step)) for step in (
    (0x000000000FFFFFFF, 0x00FFFFFFF0000000, 4),
    (0x00003FFF00003FFF, 0x0FFFC0000FFFC000, 2),
    (0x007F007F007F007F, 0x3F803F803F803F80, 1)))
_CONT = np.array([0] + [(1 << 8 * (k - 1)) - 1 & 0x8080808080808080
                         for k in range(1, 9)], dtype=np.uint64)
_LIVE = np.array([(1 << 8 * k) - 1 & 0x0101010101010101
                  for k in range(9)], dtype="<u8")


def _bytes8(w: np.ndarray, k: int) -> np.ndarray:
    """Bytes 0..k-1 of each little-endian uint64, one ``V{k}`` per row."""
    return _rows(w.astype("<u8", copy=False).view(np.uint8)
                 .reshape(-1, 8)[:, :k])


def _fill_varint(pb: np.ndarray, pm: np.ndarray, off: int,
                 z: np.ndarray, nb: np.ndarray, vmax: int,
                 valid: np.ndarray | None, dense: bool) -> None:
    """Varint bytes into the padded matrix, stored as one ``V{vmax}``
    per row — per-plane column stores hit a different cache line per row
    (the padded row stride) and were ~3× slower. ``pm`` starts all
    true and is written only when the field leaves holes (``dense`` is
    false: a null row, or a varint shorter than ``vmax``). Dead bytes
    carry garbage, masked off."""
    if vmax == 1:
        # single-byte fast path (no continuation bit possible)
        pb[:, off] = (z & np.uint64(0x7F)).astype(np.uint8)
        if valid is not None:
            pm[:, off] = valid
        return
    if vmax <= 8:
        w = z
        for lo, hi, sh in _SPREAD:
            w = (w & lo) | ((w & hi) << sh)
        w |= _CONT[vmax] if dense else np.take(_CONT, nb)
        _rows(pb[:, off:off + vmax])[:] = _bytes8(w, vmax)
        if dense:
            return
        k = nb if valid is None else np.where(valid, nb, 0)
        _rows(pm[:, off:off + vmax])[:] = _bytes8(np.take(_LIVE, k), vmax)
        return
    planes = ((z[:, None] >> _SHIFTS[:vmax]) & np.uint64(0x7F)) \
        .astype(np.uint8)
    live = nb[:, None] > np.arange(vmax, dtype=np.int64)
    planes |= (nb[:, None] > np.arange(1, vmax + 1)).view(np.uint8) \
        << np.uint8(7)
    _rows(pb[:, off:off + vmax])[:] = _rows(planes)
    _rows(pm[:, off:off + vmax])[:] = _rows(
        live if valid is None else (live & valid[:, None]))


class _Prep:
    __slots__ = ("length", "slots", "fill")

    def __init__(self, length, slots, fill):
        self.length = length   # exact encoded bytes per row (int64)
        self.slots = slots     # padded columns owned by this field
        self.fill = fill       # fill(pb, pm, off) -> None


def _values(col: pa.Array, dtype) -> np.ndarray:
    """``col`` cast to ``dtype`` as a numpy view of its value buffer;
    NULL slots hold whatever the buffer holds. (``to_numpy`` of an
    array with NULLs, ``is_null`` and ``fill_null`` import pandas.)"""
    dtype = np.dtype(dtype)
    pa_type = pa.from_numpy_dtype(dtype)
    if col.type != pa_type:
        col = col.cast(pa_type)
    return np.frombuffer(col.buffers()[1], dtype, len(col),
                         col.offset * dtype.itemsize)


def _prep_field(fname: str, tname: str, null_index: int,
                col: pa.Array) -> _Prep:
    if isinstance(col, pa.ChunkedArray):  # pragma: no cover
        col = col.combine_chunks()
    n = len(col)
    nullable = null_index >= 0
    has_nulls = col.null_count > 0
    if has_nulls and not nullable:
        raise ValueError(f"null in non-nullable field {fname}")
    valid = ~_null_mask(col) if has_nulls else None

    if tname == "boolean":
        vals = np.unpackbits(np.frombuffer(col.buffers()[1], np.uint8),
                             count=col.offset + n,
                             bitorder="little")[col.offset:]
        vlen = np.ones(n, dtype=np.int64)
        vslots = 1

        def fill_val(pb, pm, off):
            pb[:, off] = vals
            if valid is not None:
                pm[:, off] = valid

    elif tname in _INT_TYPES:
        # temporal logicals cast to their epoch ints
        v = _values(col, np.int64)
        if valid is not None:
            v = np.where(valid, v, 0)
        z = _zigzag(v)
        vlen = _varint_len(z)
        vslots = int(vlen.max()) if n else 1
        dense = valid is None and (n == 0 or int(vlen.min()) == vslots)

        def fill_val(pb, pm, off):
            _fill_varint(pb, pm, off, z, vlen, vslots, valid, dense)

    elif tname in ("float", "double"):
        width = 4 if tname == "float" else 8
        v = _values(col, f"<f{width}")
        vlen = np.full(n, width, dtype=np.int64)
        vslots = width

        def fill_val(pb, pm, off):
            _rows(pb[:, off:off + width])[:] = v.view(f"V{width}")
            if valid is not None:
                pm[:, off:off + width] = valid[:, None]

    elif tname in ("string", "bytes"):
        big = pa.types.is_large_string(col.type) \
            or pa.types.is_large_binary(col.type)
        odt, osz = (np.int64, 8) if big else (np.int32, 4)
        offs = np.frombuffer(col.buffers()[1], dtype=odt, count=n + 1,
                             offset=col.offset * osz).astype(np.int64)
        dbuf = col.buffers()[2]
        data = (np.frombuffer(dbuf, dtype=np.uint8)
                if dbuf is not None else np.empty(0, dtype=np.uint8))
        src = offs[:-1]
        lens = offs[1:] - src
        if valid is not None:  # a NULL slot may still span bytes
            lens = np.where(valid, lens, 0)
        zl = _zigzag(lens)
        hlen = _varint_len(zl)
        vlen = hlen + lens
        hmax = int(hlen.max()) if n else 1
        wmax = int(lens.max()) if n else 0
        # uniform width + no nulls (the fixed-width-feed shape): the
        # Arrow payload buffer IS an (n, wmax) matrix — block copy it,
        # no mask store
        uniform = (n > 0 and wmax > 0 and valid is None
                   and int(lens.min()) == wmax)
        hdense = valid is None and (n == 0 or int(hlen.min()) == hmax)
        vslots = hmax + wmax

        def fill_val(pb, pm, off):
            _fill_varint(pb, pm, off, zl, hlen, hmax, valid, hdense)
            poff = off + hmax
            if wmax == 0:
                return
            if uniform:
                start = int(src[0])
                _rows(pb[:, poff:poff + wmax])[:] = \
                    data[start:start + n * wmax].view(f"V{wmax}")
                return
            cols = np.arange(wmax, dtype=np.int64)
            # NULL rows have length 0 here: no live byte
            _rows(pm[:, poff:poff + wmax])[:] = _rows(lens[:, None] > cols)
            if len(data):
                idx = np.minimum(src[:, None] + cols, len(data) - 1)
                pb[:, poff:poff + wmax] = data[idx]

    else:  # pragma: no cover
        raise ValueError(f"unsupported avro type {tname!r}")

    if not nullable:
        return _Prep(vlen, vslots, fill_val)

    # union branch indexes are 0/1 → their zigzag varints are the
    # single bytes 0x00/0x02
    null_byte = np.uint8(null_index << 1)
    val_byte = np.uint8((1 - null_index) << 1)
    if valid is None:
        length, union_bytes = 1 + vlen, val_byte
    else:
        length = 1 + np.where(valid, vlen, 0)
        union_bytes = np.where(valid, val_byte, null_byte)

    def fill(pb, pm, off):
        pb[:, off] = union_bytes
        fill_val(pb, pm, off + 1)

    return _Prep(length, vslots + 1, fill)


def _encode_core(rc: RecordCodec, batch: pa.RecordBatch):
    """Encode every record; returns (byte array, row starts, row
    lengths) so callers can take the concatenation (OCF blocks) or
    per-row slices (Kafka framing) without re-encoding."""
    n = batch.num_rows
    if batch.num_columns != len(rc.fields):
        raise ValueError(
            f"batch has {batch.num_columns} columns, schema has "
            f"{len(rc.fields)} fields")
    preps = []
    total = np.zeros(n, dtype=np.int64)
    width = 0
    for (fname, tname, null_index), col in zip(rc.fields, batch.columns):
        p = _prep_field(fname, tname, null_index, col)
        preps.append(p)
        total = total + p.length
        width += p.slots
    # padded layout: every fill below is a strided column/block store.
    # Each field writes all its slot columns of ``pb``, live or dead,
    # so np.empty is safe there; ``pm`` starts all true and a field
    # clears only the holes it can leave (nulls, short varints,
    # strings shorter than their block)
    pb = np.empty((n, width), dtype=np.uint8)
    pm = np.ones((n, width), dtype=bool)
    off = 0
    for p in preps:
        p.fill(pb, pm, off)
        off += p.slots
    out = pb.reshape(-1)[pm.reshape(-1)]
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(total[:-1], out=starts[1:])
    return out, starts, total


def encode_batch(rc: RecordCodec, batch: pa.RecordBatch) -> bytes:
    """Avro binary of every record in ``batch``, concatenated —
    byte-identical to the per-row codec's output. A batch is encoded in
    cache-sized sub-slices (the padded matrix of a 64 Ki-row batch
    spills L2; ~25% faster at 16 Ki — r12 ingest-bar sweep) whose byte
    arrays are joined once."""
    return b"".join(_encode_core(rc, batch.slice(t, _ENC_ROWS))[0]
                    for t in range(0, batch.num_rows, _ENC_ROWS))


def encode_batch_rows(rc: RecordCodec, batch: pa.RecordBatch) -> list:
    """Per-record Avro bytes (the Kafka message-value shape): one
    vectorized pass + row-offset slicing."""
    if batch.num_rows == 0:
        return []
    out, starts, lens = _encode_core(rc, batch)
    mv = memoryview(out)
    return [bytes(mv[s:s + ln]) for s, ln in
            zip(starts.tolist(), lens.tolist())]


def write_ocf_arrow(
    fh: io.BufferedIOBase,
    rc: RecordCodec,
    batches: Iterable[pa.RecordBatch],
    *,
    codec: str = "snappy",
    sync: bytes | None = None,
    block_rows: int = 65536,
) -> int:
    """Write Arrow batches as an Avro OCF stream (header/blocks/sync
    framing identical to ``avro_codec.write_ocf``); returns row count."""
    if sync is None:
        sync = (zlib.crc32(rc.schema_json.encode())
                & 0xFFFFFFFF).to_bytes(4, "big") * 4
    fh.write(MAGIC)
    meta = io.BytesIO()
    write_long(meta, 2)
    write_bytes(meta, b"avro.schema")
    write_bytes(meta, rc.schema_json.encode("utf-8"))
    write_bytes(meta, b"avro.codec")
    write_bytes(meta, codec.encode())
    write_long(meta, 0)
    fh.write(meta.getvalue())
    fh.write(sync)

    n_total = 0
    for batch in batches:
        for s in range(0, batch.num_rows, block_rows):
            chunk = batch.slice(s, min(block_rows, batch.num_rows - s))
            if chunk.num_rows == 0:
                continue
            comp = compress_block(codec, encode_batch(rc, chunk))
            head = io.BytesIO()
            write_long(head, chunk.num_rows)
            write_long(head, len(comp))
            fh.write(head.getvalue())
            fh.write(comp)
            fh.write(sync)
            n_total += chunk.num_rows
    return n_total


def wire_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Temporal columns → epoch ints (timestamp[us/ms]→long,
    date32→int), the codec wire form — columnar equivalent of
    ``sinks.avro._to_wire``."""
    cols, changed = [], False
    for col in batch.columns:
        if pa.types.is_timestamp(col.type):
            cols.append(col.cast(pa.int64()))
            changed = True
        elif pa.types.is_date32(col.type):
            cols.append(col.cast(pa.int32()))
            changed = True
        else:
            cols.append(col)
    if not changed:
        return batch
    return pa.RecordBatch.from_arrays(cols, names=batch.schema.names)


def fixed_width_to_avro_fused(
    spark,
    path: str,
    schema,
    out_dir: str,
    *,
    tasks: int | None = None,
) -> int:
    """Reference-shaped single-stage ingest: each task streams its byte
    ranges through the fixed-width reader's public pair —
    ``read(part)`` → ``wire_batch`` → ``write_ocf_arrow`` (snappy), one
    OCF file per range — so data never materializes as Spark rows and
    never crosses into the JVM (cf. the reference's chunked
    parse→serialize pipeline, `fixed2avro/Exporters.go:105-138`). The
    per-partition imperative body is exactly what RDD.mapPartitions is
    for; everything upstream/downstream of ingest stays DataFrame.

    Returns total rows written. Output files match
    ``write_avro_ocf``'s schema (nullable unions) and naming. ``tasks``
    defaults to ``session.default_cpus()``.
    """
    import os

    from shredder_spark.avro_schema import FixedSchema, \
        parse_avro_fixed_schema
    from shredder_spark.session import default_cpus
    from shredder_spark.sinks.avro import spark_schema_to_avro
    from shredder_spark.sources.fixedwidth_arrow import FixedWidthArrowReader
    from shredder_spark.utils import ensure_package_on_executors

    fs = schema if isinstance(schema, FixedSchema) \
        else parse_avro_fixed_schema(schema)
    avro_schema = spark_schema_to_avro(fs.to_struct_type())

    tasks = tasks or default_cpus()
    ensure_package_on_executors(spark)
    os.makedirs(out_dir, exist_ok=True)
    planner = FixedWidthArrowReader(
        {"path": path, "cores": str(tasks)}, fs)
    parts = list(enumerate(planner.partitions()))

    def run(it) -> Iterator[int]:
        rc = RecordCodec(avro_schema)
        for i, part in it:
            out_path = os.path.join(out_dir, f"part-{i:05d}.avro")
            with open(out_path, "wb") as fh:
                n = write_ocf_arrow(
                    fh, rc, map(wire_batch, planner.read(part)))
            if n == 0:
                os.remove(out_path)
            yield n

    # at most ``tasks`` Spark tasks: the planner emits at least one
    # range per file, so a many-file input has more ranges than tasks;
    # each task writes its slice of ranges one after another
    counts = (spark.sparkContext
              .parallelize(parts, max(min(tasks, len(parts)), 1))
              .mapPartitions(run).collect())
    return int(sum(counts))
