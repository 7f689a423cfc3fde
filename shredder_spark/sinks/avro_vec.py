"""Vectorized Avro binary encoder: Arrow batch → Avro records, columnar.

The per-row codec (``avro_codec.RecordCodec``) encodes field-by-field
in Python — fine for Kafka framing, but O(rows × fields) interpreter
work in the OCF sink. This module encodes a batch (one OCF block) with
numpy, by row segments:

1. *Pieces.* Each field becomes pieces (union byte, value, string
   header, string payload) with a slot width ``k``, a live length (one
   int, or one per row) and bytes that are constant (a union byte with
   no NULLs, the header of equal-length strings, a varint that does not
   vary: they go into a one-row template), one ``V{k}`` element per row,
   or a ``V{k}`` gather from a ragged string's payload.
2. *Segments* are runs of pieces that end at a piece of variable length,
   so a segment's dead bytes sit at its tail. Segment ``j`` of a row
   starts at the row's start plus the lengths of segments ``< j``.
3. In *slices* of ``_SLICE`` rows, the per-row pieces are stored into
   padded rows (template broadcast once), and each segment is copied
   whole into the output through a byte-stride ``V{k}`` view, in segment
   order, so the next segment of the same row overwrites each dead tail.
4. *Exact tails.* In a row where a segment's slack exceeds the live
   bytes left after it, its dead tail would spill into the next row, so
   there it is written exactly: the bytes all such rows have in one
   copy, the rest in runs of 2^b bytes, one copy per bit of the spread
   of their live lengths.

``encode_batch(rc, batch)`` equals ``b"".join(rc.encode(row) for row in
rows)`` byte-for-byte (tests/test_avro_vec.py). Type surface: the
engine's wire form (SURVEY.md §1.3) — boolean, int, long, float, double,
bytes, string, temporal logicals as epoch ints (Arrow temporals are read
as their int storage) — with optional ``["null", T]`` unions.
"""

from __future__ import annotations

import functools
import io
from collections import namedtuple
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa

from shredder_spark.sinks.avro_codec import (
    RecordCodec, compress_block, encode_long, write_ocf_header)
from shredder_spark.sources.fixedwidth_arrow import _null_mask, _rows

_VARINT_MAX = 10
_SLICE = 2048  # rows per slice; a 1-64 Ki sweep of the bench feed: 2 Ki fastest

_INT_TYPES = frozenset({
    "int", "long", "date", "timestamp-millis", "timestamp-micros",
    "time-millis", "time-micros"})


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64, copy=False)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def _varint_len(z: np.ndarray, zmax: int) -> np.ndarray:
    """Encoded byte count per value: 1 + (# of 7-bit thresholds ≤ z),
    with no compare above the column's max."""
    n = np.ones(len(z), dtype=np.int64)
    for k in range(1, _VARINT_MAX):
        t = 1 << (7 * k)
        if zmax < t:
            break
        n += (z >= np.uint64(t))
    return n


def _width(z: int) -> int:
    """Byte count of the varint of the non-negative (zigzagged) ``z``."""
    return max(1, -(-z.bit_length() // 7))


_SHIFTS = np.arange(_VARINT_MAX, dtype=np.uint64) * np.uint64(7)
# varints of ≤ 8 bytes (values < 2^56) are built one uint64 per row:
# three spread steps move the 7-bit groups into the low 7 bits of
# bytes 0..7 (28|28 → 32-bit halves, 14|14 → 16-bit quarters, 7|7 →
# bytes; a step is a no-op below its varint width), then the
# continuation bits of a width-k varint — 0x80 in bytes 0..k-2 — are
# OR'ed in from a table indexed by k
_SPREAD = tuple((*map(np.uint64, step[:3]), step[3]) for step in (
    (0x000000000FFFFFFF, 0x00FFFFFFF0000000, 4, 5),
    (0x00003FFF00003FFF, 0x0FFFC0000FFFC000, 2, 3),
    (0x007F007F007F007F, 0x3F803F803F803F80, 1, 2)))
_CONT = np.array([0] + [(1 << 8 * (k - 1)) - 1 & 0x8080808080808080
                         for k in range(1, 9)], dtype=np.uint64)


def _windows(buf: np.ndarray, k: int) -> np.ndarray:
    """Every ``k``-byte window of ``buf``, one ``V{k}`` per first byte."""
    return np.ndarray((len(buf) - k + 1,), f"V{k}", buf, 0, (1,))


# slot width; live bytes (an int, or one int64 per row); the bytes every
# row shares, or None; rows(s, e) -> ``V{k}`` elements of rows s..e-1
_Piece = namedtuple("_Piece", "k live const rows", defaults=(None, None))


def _per_row(vals: np.ndarray, live) -> _Piece:
    """A piece holding one ``V{k}`` element per row."""
    return _Piece(vals.dtype.itemsize, live,
                  rows=lambda s, e: vals[s:e])


def _varint(v: np.ndarray, valid: np.ndarray | None) -> _Piece:
    """The zigzag varints of ``v`` (0 in NULL rows, which have no live
    byte). Dead bytes carry garbage."""
    z = _zigzag(v)
    zmin, zmax = int(z.min()), int(z.max())
    if valid is None and zmin == zmax:
        b = encode_long(int(v[0]))
        return _Piece(len(b), len(b), const=b)
    vmax = _width(zmax)
    if valid is None and _width(zmin) == vmax:
        nb, live = None, vmax
    else:
        nb = _varint_len(z, zmax)
        live = nb if valid is None else np.where(valid, nb, 0)
    if vmax == 1:
        return _per_row(z.astype(np.uint8).view("V1"), live)
    if vmax <= 8:
        # stored as one ``V{vmax}`` per row: per-plane column stores hit
        # a different cache line per row and were ~3× slower
        w = z
        for lo, hi, sh, need in _SPREAD:
            if vmax >= need:
                w = (w & lo) | ((w & hi) << sh)
        w = w | (_CONT[vmax] if nb is None else np.take(_CONT, nb))
        return _per_row(_rows(w.astype("<u8", copy=False).view(np.uint8)
                              .reshape(-1, 8)[:, :vmax]), live)
    planes = ((z[:, None] >> _SHIFTS[:vmax]) & np.uint64(0x7F)) \
        .astype(np.uint8)
    if nb is None:
        planes[:, :-1] |= np.uint8(0x80)
    else:
        planes |= (nb[:, None] > np.arange(1, vmax + 1)).view(np.uint8) \
            << np.uint8(7)
    return _per_row(_rows(planes), live)


def _values(col: pa.Array, dtype) -> np.ndarray:
    """``col`` cast to ``dtype`` (a temporal column viewed as its int
    storage) as a numpy view of its value buffer; NULL slots hold
    whatever the buffer holds. (``to_numpy`` of an array with NULLs,
    ``is_null`` and ``fill_null`` import pandas.)"""
    dtype = np.dtype(dtype)
    pa_type = pa.from_numpy_dtype(dtype)
    if col.type != pa_type:
        col = col.view(pa_type) if pa.types.is_temporal(col.type) \
            else col.cast(pa_type)
    return np.frombuffer(col.buffers()[1], dtype, len(col),
                         col.offset * dtype.itemsize)


def _prep_field(fname: str, tname: str, null_index: int,
                col: pa.Array) -> list:
    """The pieces of one field over a batch of ≥ 1 rows."""
    if isinstance(col, pa.ChunkedArray):  # pragma: no cover
        col = col.combine_chunks()
    n = len(col)
    nullable = null_index >= 0
    has_nulls = col.null_count > 0
    if has_nulls and not nullable:
        raise ValueError(f"null in non-nullable field {fname}")
    valid = ~_null_mask(col) if has_nulls else None

    def fixed(vals):  # one k-byte value per row, none in NULL rows
        k = vals.dtype.itemsize
        return [_per_row(vals, k if valid is None else valid * k)]

    if tname == "boolean":
        pieces = fixed(np.unpackbits(
            np.frombuffer(col.buffers()[1], np.uint8), count=col.offset + n,
            bitorder="little")[col.offset:].view("V1"))
    elif tname in _INT_TYPES:
        v = _values(col, np.int64 if pa.types.is_unsigned_integer(col.type)
                    else f"<i{col.type.bit_width // 8}")
        if valid is not None:
            v = np.where(valid, v, 0)
        pieces = [_varint(v, valid)]
    elif tname in ("float", "double"):
        width = 4 if tname == "float" else 8
        pieces = fixed(_values(col, f"<f{width}").view(f"V{width}"))
    elif tname in ("string", "bytes"):
        big = pa.types.is_large_string(col.type) \
            or pa.types.is_large_binary(col.type)
        odt = np.dtype(np.int64 if big else np.int32)
        offs = np.frombuffer(col.buffers()[1], odt, n + 1,
                             col.offset * odt.itemsize).astype(np.int64)
        data = np.frombuffer(col.buffers()[2] or b"", np.uint8)
        src = offs[:-1]
        lens = offs[1:] - src
        if valid is not None:  # a NULL slot may still span bytes
            lens = np.where(valid, lens, 0)
        wmax = int(lens.max())
        if valid is None and int(lens.min()) == wmax:
            # equal lengths (the fixed-width-feed shape): one header for
            # all rows, and the payload buffer IS an (n, wmax) matrix
            head = encode_long(wmax)
            pieces = [_Piece(len(head), len(head), const=head)]
            if wmax:
                start = int(src[0])
                pieces += fixed(data[start:start + n * wmax]
                                .view(f"V{wmax}"))
        else:
            pieces = [_varint(lens, valid)]
            if wmax:
                if int(src[-1]) + wmax > len(data):
                    data = np.concatenate(
                        [data, np.zeros(wmax, dtype=np.uint8)])
                win = _windows(data, wmax)
                pieces.append(_Piece(wmax, lens,
                                     rows=lambda s, e: win[src[s:e]]))
    else:  # pragma: no cover
        raise ValueError(f"unsupported avro type {tname!r}")

    if not nullable:
        return pieces
    # union branch indexes are 0/1 → their zigzag varints are the
    # single bytes 0x00/0x02
    null_byte = np.uint8(null_index << 1)
    val_byte = np.uint8((1 - null_index) << 1)
    if valid is None:
        return [_Piece(1, 1, const=bytes((val_byte,)))] + pieces
    union = np.where(valid, val_byte, null_byte).astype(np.uint8)
    return [_per_row(union.view("V1"), 1)] + pieces


def _layout(pieces: list, n: int):
    """Template row, per-row stores and segments of a block's pieces;
    returns (template, stores, segments, row lengths). A segment is
    (first slot, end slot, live bytes per row or one int, spill): spill
    marks the rows whose dead tail would pass their row's end, or is
    None when no row's does."""
    width = sum(p.k for p in pieces)
    template = np.zeros(width, dtype=np.uint8)
    stores, segs = [], []
    off = a = fixed = 0
    for p in pieces:
        if p.const is not None:
            template[off:off + p.k] = np.frombuffer(p.const, np.uint8)
        else:
            stores.append((off, p.k, p.rows))
        off += p.k
        if isinstance(p.live, np.ndarray):
            segs.append([a, off, fixed + p.live])
            a, fixed = off, 0
        else:
            fixed += p.live
    if off > a:
        segs.append([a, off, fixed])
    rest = np.zeros(n, dtype=np.int64)  # live bytes after a segment
    for seg in reversed(segs):
        a, b, live = seg
        spill = b - a - live > rest
        seg.append(spill if spill.any() else None)
        rest = rest + live
    return template, stores, segs, rest


def _write_exact(win, pos, rows, a: int, live, r) -> None:
    """Only the live bytes of rows ``r``'s segment (the one starting at
    slot ``a`` of ``rows``): the bytes every such row has in one copy,
    the rest in runs of 2^b bytes, one copy per bit of the spread."""
    pos, live = pos[r], live[r]
    flat = rows.reshape(-1)
    src = r * rows.shape[1] + a
    lo = int(live.min())
    if lo:
        win(lo)[pos] = _windows(flat, lo)[src]
    d = live - lo
    for b in reversed(range(int(d.max()).bit_length())):
        q = np.flatnonzero(d & (1 << b))
        off = lo + (d[q] & -(2 << b))  # the row's bytes before this run
        win(1 << b)[pos[q] + off] = _windows(flat, 1 << b)[src[q] + off]


def _encode_core(rc: RecordCodec, batch: pa.RecordBatch):
    """Encode every record; returns (byte array, row starts, row
    lengths) so callers can take the concatenation (OCF blocks) or
    per-row slices (Kafka framing) without re-encoding."""
    n = batch.num_rows
    if batch.num_columns != len(rc.fields):
        raise ValueError(
            f"batch has {batch.num_columns} columns, schema has "
            f"{len(rc.fields)} fields")
    if n == 0 or not rc.fields:
        return np.empty(0, dtype=np.uint8), np.zeros(n, np.int64), \
            np.zeros(n, np.int64)
    pieces = [p for (fname, tname, null_index), col
              in zip(rc.fields, batch.columns)
              for p in _prep_field(fname, tname, null_index, col)]
    template, stores, segs, total = _layout(pieces, n)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(total[:-1], out=starts[1:])
    out = np.empty(int(starts[-1] + total[-1]), dtype=np.uint8)
    win = functools.lru_cache(None)(lambda k: _windows(out, k))

    # every slot a store below leaves alone holds the template's byte
    pb = np.empty((min(n, _SLICE), len(template)), dtype=np.uint8)
    _rows(pb)[:] = template.view(f"V{len(template)}")
    for s in range(0, n, _SLICE):
        e = min(s + _SLICE, n)
        rows = pb[:e - s]
        for off, k, fill in stores:
            _rows(rows[:, off:off + k])[:] = fill(s, e)
        pos = starts[s:e]
        for a, b, live, spill in segs:
            if not isinstance(live, int):
                live = live[s:e]
            if spill is None or not spill[s:e].any():
                win(b - a)[pos] = _rows(rows[:, a:b])
            else:  # rows that spill are written exactly, the rest whole
                keep = np.flatnonzero(~spill[s:e])
                win(b - a)[pos[keep]] = _rows(rows[:, a:b])[keep]
                _write_exact(win, pos, rows, a, live,
                             np.flatnonzero(spill[s:e]))
            pos = pos + live
    return out, starts, total


def encode_batch(rc: RecordCodec, batch: pa.RecordBatch) -> bytes:
    """Avro binary of every record in ``batch``, concatenated —
    byte-identical to the per-row codec's output."""
    return _encode_core(rc, batch)[0].tobytes()


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
    sync = write_ocf_header(fh, rc, codec, sync)

    n_total = 0
    for batch in batches:
        for s in range(0, batch.num_rows, block_rows):
            chunk = batch.slice(s, block_rows)
            comp = compress_block(codec, encode_batch(rc, chunk))
            fh.write(encode_long(chunk.num_rows) + encode_long(len(comp)))
            fh.write(comp)
            fh.write(sync)
            n_total += chunk.num_rows
    return n_total


def wire_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Temporal columns → epoch ints (timestamp[us/ms]→long,
    date32→int), the codec wire form — columnar equivalent of
    ``sinks.avro._to_wire``."""
    cols = [col.view(pa.int64()) if pa.types.is_timestamp(col.type)
            else col.view(pa.int32()) if pa.types.is_date32(col.type)
            else col for col in batch.columns]
    if all(c is col for c, col in zip(cols, batch.columns)):
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

    Returns total rows written. Output files are named
    ``part-<nnnnn>.avro`` by range; their schema is
    ``spark_schema_to_avro`` of the parsed columns (nullable unions).
    ``tasks`` defaults to ``session.default_cpus()``.
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
