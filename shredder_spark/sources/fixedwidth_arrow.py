"""The fixed-width parse kernel and ``spark.read.format("fixedwidth")``.

One parse serves every fixed-width entry point. ``_parse_batch`` parses
an ``n × width`` byte matrix, which ASCII lines of the declared width
already are; ``parse_lines`` slices any other batch by rune (parity
with `fixed2avro/Util.go:45-65`): string and bytes fields are rune
slices of the line, and typed fields are parsed from a matrix of one
byte per rune, in which a non-ASCII rune reads as DEL, a byte no parser
accepts. Each column is parsed in one vectorized pass:

- numerics: Arrow's ``ascii_trim`` + ``cast``; a batch Arrow rejects
  drops to a numpy parse whose bad or out-of-range values become NULL;
- the custom ``yyyy-MM-dd-HH.mm.ss[.ffffff]`` timestamps get ISO
  separators written over a copy of the field and go through Arrow's
  strict ISO-8601 ``cast``; a batch it rejects drops to the numpy
  parse (components sliced at fixed offsets, days-from-civil), which
  defines the semantics.

Masked arrays are built from buffers: ``pa.array`` imports pandas.

``format("fixedwidth")`` reads each input partition, a byte range of
the feed, in the executor's Python worker from a read-only ``mmap``.
ASCII rows of the declared width with CRLF terminators reshape the
mapping in place into the byte matrix; any other range is copied out
and split into lines for ``parse_lines``. No batch aliases the mapping,
and typed batches cross the Python↔JVM boundary once.
``sinks/avro_vec.fixed_width_to_avro_fused`` runs the same
``partitions()`` / ``read(part)`` pair per task and never crosses it.
A file found shorter at ``read(part)`` than when the partitions were
planned raises instead of reading past its end.

Split convention (HDFS text splits): each partition owns every line
that STARTS inside its byte range; a line starting with the footer
prefix ends the range's scan (`ColumnBuilder.go:211-214`).
"""

from __future__ import annotations

import glob
import json
import math
import mmap
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource, DataSourceReader, InputPartition)
from pyspark.sql.types import StructType

from shredder_spark.avro_schema import FixedSchema, parse_avro_fixed_schema
from shredder_spark.session import default_cpus
from shredder_spark.utils import ensure_package_on_executors

# a line starting with 12 `*` terminates the input (`ColumnBuilder.go:211-214`)
FOOTER_PREFIX = "*" * 12
_BATCH_ROWS = 65536  # rows per Arrow batch
_FOOTER = FOOTER_PREFIX.encode()
_DEL = 0x7F  # stands in for a non-ASCII rune in a typed field


def _masked(pa_type, n: int, values: np.ndarray,
            mask: np.ndarray | None) -> pa.Array:
    """An ``n``-row array over the ``values`` buffer, NULL where
    ``mask`` is set (pa.array(..., mask=) would import pandas)."""
    nulls = 0 if mask is None else int(np.count_nonzero(mask))
    validity = (pa.py_buffer(np.packbits(~mask, bitorder="little"))
                if nulls else None)
    return pa.Array.from_buffers(
        pa_type, n, [validity, pa.py_buffer(np.ascontiguousarray(values))],
        nulls)


def _null_mask(arr: pa.Array) -> np.ndarray:
    """``arr.is_null()`` as numpy, read off the validity bitmap."""
    n = len(arr)
    if arr.null_count == 0:
        return np.zeros(n, dtype=bool)
    bits = np.unpackbits(np.frombuffer(arr.buffers()[0], np.uint8),
                         count=arr.offset + n, bitorder="little")
    return bits[arr.offset:] == 0


def _rows(block: np.ndarray) -> np.ndarray:
    """An ``(n, k > 0)`` block with contiguous rows as ``n`` ``V{k}``
    elements, so a copy moves whole rows, not bytes (no ``V0`` dtype)."""
    return block.view(f"V{block.shape[1]}")[:, 0]


def _string_list(values: list[str]) -> pa.Array:
    """``pa.array(values)`` without its pandas import."""
    blobs = [v.encode() for v in values]
    offsets = np.zeros(len(blobs) + 1, dtype=np.int32)
    np.cumsum([len(b) for b in blobs], out=offsets[1:])
    return pa.StringArray.from_buffers(
        len(blobs), pa.py_buffer(offsets), pa.py_buffer(b"".join(blobs)))


def _string_array(mat: np.ndarray, start: int, length: int) -> pa.Array:
    """Fixed-width string column: one contiguous byte blob + arithmetic
    offsets (pa.py_buffer wraps the numpy memory — no tobytes round
    trip). The blob is always a copy: ``mat`` may be a view of the
    mapped input file, which no batch may outlive."""
    n = mat.shape[0]
    blob = (np.array(_rows(mat[:, start:start + length])).view(np.uint8)
            if length else np.empty(0, dtype=np.uint8))
    offsets = np.arange(0, (n + 1) * length, length, dtype=np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(blob))


def _num_fallback(raw: np.ndarray, dtype):
    """Per-element tolerant parse for a batch where vectorized astype
    failed: bad or out-of-range field → null."""
    out = np.zeros(len(raw), dtype=dtype)
    mask = np.zeros(len(raw), dtype=bool)
    py = int if np.issubdtype(dtype, np.integer) else float
    for i, b in enumerate(raw):
        try:
            out[i] = py(b)
        except (ValueError, OverflowError):
            mask[i] = True
    return out, mask


def _num_array(mat: np.ndarray, start: int, length: int, dtype,
               pa_type) -> pa.Array:
    # fast path (r12, the parse leg of the ingest bar): string column
    # → Arrow C++ ascii-trim + cast kernels — ~4× numpy's
    # per-element astype strtol on clean right-aligned feeds. Any row
    # Arrow won't parse (junk bytes, overflow, all-space) raises and
    # drops to the numpy path, whose semantics stay authoritative
    # (vectorized astype, then per-element null-on-failure).
    try:
        return pc.cast(
            pc.ascii_trim_whitespace(_string_array(mat, start, length)),
            pa_type)
    except pa.ArrowInvalid:
        pass
    raw = np.ascontiguousarray(mat[:, start:start + length]) \
        .view(f"S{length}").ravel()
    # integers parse as int64 and are range-checked: astype(int32)
    # wraps out-of-range values silently
    wide = np.int64 if np.issubdtype(dtype, np.integer) else dtype
    try:
        vals, mask = raw.astype(wide), None
    except (ValueError, OverflowError):
        vals, mask = _num_fallback(raw, wide)
    if wide is not dtype:
        info = np.iinfo(dtype)
        out = (vals < info.min) | (vals > info.max)
        mask = out if mask is None else mask | out
        vals = vals.astype(dtype)
    return _masked(pa_type, len(vals), vals, mask)


def _days_from_civil(y: np.ndarray, m: np.ndarray,
                     d: np.ndarray) -> np.ndarray:
    """Vectorized Howard Hinnant days-from-civil (public algorithm):
    days since 1970-01-01 for proleptic-Gregorian y/m/d."""
    y = y - (m <= 2)
    era = np.where(y >= 0, y, y - 399) // 400
    yoe = y - era * 400
    doy = (153 * (m + np.where(m > 2, -3, 9)) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


# `yyyy-MM-dd-HH.mm.ss` component digit positions (relative to field
# start) and one (19 × 6) weight matrix: components = digits @ _TS_M —
# a single BLAS matvec replaces six per-component `_digits` loops
# (r12, the parse leg of the ingest bar; ~4× on this stage).
_TS_WINDOWS = ((0, 4), (5, 7), (8, 10), (11, 13), (14, 16), (17, 19))
_TS_DIGIT_POS = np.array(
    [j for lo, hi in _TS_WINDOWS for j in range(lo, hi)])
# float32 is exact here: every weighted digit sum is an integer
# ≤ 9999 (components) or ≤ 999999 (fraction), far under 2^24
_TS_M = np.zeros((19, 6), dtype=np.float32)
for _c, (_lo, _hi) in enumerate(_TS_WINDOWS):
    for _j in range(_lo, _hi):
        _TS_M[_j, _c] = 10.0 ** (_hi - 1 - _j)


# days per month (index 1..12) of a common year; February gains the
# leap day separately
_MONTH_DAYS = np.array([0, 31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31])
# ISO-8601 separators, written over the feed's own at fixed offsets
# (which, like the reference, no tier validates) so Arrow's parser
# reads `yyyy-MM-dd-HH.mm.ss` as `yyyy-MM-ddTHH:mm:ss`
_ISO_SEPS = ((4, ord("-")), (7, ord("-")), (10, ord("T")), (13, ord(":")),
             (16, ord(":")))


def _ts_micros(mat: np.ndarray, start: int, length: int) -> pa.Array:
    """`yyyy-MM-dd-HH.mm.ss[.ffffff]` → timestamp (epoch micros).

    Arrow's C++ ISO-8601 cast first (~5× the numpy parse): it accepts
    only strictly valid times, and every value it accepts is the one
    the numpy parse gives. Any row it rejects — a calendar-invalid
    date, hour 24+, second 60, a leading space, a zone suffix, junk —
    drops the whole batch to ``_ts_micros_numpy``, which defines the
    semantics (the same pattern as ``_num_array``)."""
    if length >= 19:  # shorter fields are all-null: numpy says so
        try:
            return _ts_micros_arrow(mat, start, length)
        except pa.ArrowInvalid:
            pass
    return _ts_micros_numpy(mat, start, length)


def _ts_micros_arrow(mat: np.ndarray, start: int, length: int) -> pa.Array:
    # the numpy parse reads at most 6 fraction digits (offsets 20-25)
    # and, in a 20-byte field, none at all: Arrow sees the same window
    w = 19 if length <= 20 else min(length, 26)
    # a writable private copy (ascontiguousarray may return a
    # read-only view of the mapped file)
    blk = np.array(_rows(mat[:, start:start + w])).view((np.uint8, w))
    for off, ch in _ISO_SEPS:
        blk[:, off] = ch
    if w > 19:
        # ISO has no `ss.` without digits: a fraction-less value ends
        # at the seconds, and the right trim removes the pad
        blk[:, 19] = np.where(blk[:, 20] == ord(" "), ord(" "), ord("."))
    n = blk.shape[0]
    offsets = np.arange(0, (n + 1) * w, w, dtype=np.int32)
    text = pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(blk))
    # right trim of pad spaces only: a leading space or a tab must
    # stay and make Arrow reject the batch
    return pc.cast(pc.ascii_rtrim(text, " "), pa.timestamp("us"))


def _ts_micros_numpy(mat: np.ndarray, start: int, length: int) -> pa.Array:
    """The timestamp semantics: leading spaces are trimmed; components
    are sliced at fixed offsets (separators not re-validated,
    reference parity) and must be digits forming a valid
    calendar date and time — hour ≤ 23, minute ≤ 59, second ≤ 60 (60
    rolls into the next minute); the fraction is a digit prefix
    right-padded to micros, then pad spaces; anything else → null."""
    n = mat.shape[0]
    sl = mat[:, start:start + length].view(np.uint8)
    if sl.shape[1] < 19:  # truncated field → all rows bad, not a crash
        sl = np.concatenate(
            [sl, np.full((n, 19 - sl.shape[1]), ord(" "),
                         dtype=np.uint8)], axis=1)
    lead = np.flatnonzero(sl[:, 0] == ord(" "))
    if len(lead):
        # left-trim those rows: shift each by its leading-space count
        # (an all-space row shifts by 0 and stays blank, so null)
        sub = sl[lead]
        k = np.argmax(sub != ord(" "), axis=1)
        ext = np.concatenate([sub, np.full_like(sub, ord(" "))], axis=1)
        sl = sl.copy()
        sl[lead] = np.take_along_axis(
            ext, k[:, None] + np.arange(sl.shape[1]), axis=1)
    is_digit = (sl[:, :19] >= ord("0")) & (sl[:, :19] <= ord("9"))
    digit_ok = is_digit[:, _TS_DIGIT_POS].all(axis=1)
    # (byte-48) wraps for non-digits; ×is_digit zeroes them — all in
    # uint8, then one float32 sgemm extracts every component at once
    dv = ((sl[:, :19] - np.uint8(48)) * is_digit).astype(np.float32)
    comps = (dv @ _TS_M).astype(np.int64)  # y mo d hh mi ss
    y, mo, d = comps[:, 0], comps[:, 1], comps[:, 2]
    hh, mi, ss = comps[:, 3], comps[:, 4], comps[:, 5]
    # fraction: a DIGIT PREFIX right-padded to micros, then field pad
    # spaces (the value is trimmed before the fraction is rpad'ed with
    # zeros — '.5    ' means 500000 µs). Digits after a space, or any
    # other char, → bad (nulls the timestamp). Weight of fraction digit
    # i is 10^(5-i) regardless of how many digits follow —
    # algebraically identical to the old prefix-value × 10^(6-nd) form.
    frac = np.zeros(n, dtype=np.int64)
    fbad = np.zeros(n, dtype=bool)
    fw = min(6, max(0, length - 20))
    if fw > 0:
        fsl = sl[:, 20:20 + fw]
        digit = (fsl >= ord("0")) & (fsl <= ord("9"))
        space = fsl == ord(" ")
        pref = np.logical_and.accumulate(digit, axis=1)
        fbad = ~(pref | space).all(axis=1)
        fd = ((fsl - np.uint8(48)) * pref).astype(np.float32)
        frac = (fd @ (10.0 ** np.arange(5, 5 - fw, -1,
                                        dtype=np.float32))) \
            .astype(np.int64)
    leap = (y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0))
    month_days = _MONTH_DAYS[np.clip(mo, 0, 12)] + ((mo == 2) & leap)
    bad = (~digit_ok | (mo < 1) | (mo > 12) | (d < 1) | (d > month_days)
           | (hh > 23) | (mi > 59) | (ss > 60) | fbad)
    safe = lambda a, lo: np.where(bad, lo, a)  # noqa: E731
    days = _days_from_civil(safe(y, 1970), safe(mo, 1), safe(d, 1))
    micros = (((days * 24 + safe(hh, 0)) * 60 + safe(mi, 0)) * 60
              + safe(ss, 0)) * 1_000_000 + frac
    return _masked(pa.timestamp("us"), n, micros, bad)


def _date_array(ts: pa.Array) -> pa.Array:
    """Timestamps → dates (floor to the UTC day), validity kept."""
    validity, values = ts.buffers()
    micros = np.frombuffer(values, np.int64, ts.offset + len(ts))
    days = (micros // 86_400_000_000).astype(np.int32)
    return pa.Array.from_buffers(pa.date32(), len(ts),
                                 [validity, pa.py_buffer(days)],
                                 ts.null_count, ts.offset)


def _bool_array(mat: np.ndarray, start: int, length: int) -> pa.Array:
    """First non-space char: J/Y → true, N → false (either case), else
    null (fields are 1-char in practice, ltrim handled by taking the
    first non-space)."""
    sl = mat[:, start:start + length].view(np.uint8)
    first = sl[:, 0].copy()
    for i in range(1, sl.shape[1]):  # ltrim across the (tiny) width
        is_space = first == ord(" ")
        first = np.where(is_space, sl[:, i], first)
    up = np.where((first >= ord("a")) & (first <= ord("z")),
                  first - 32, first)
    t = (up == ord("J")) | (up == ord("Y"))
    f = up == ord("N")
    return _masked(pa.bool_(), len(t), np.packbits(t, bitorder="little"),
                   ~(t | f))


_TEXT_TYPES = ("string", "bytes", "Bytes")
_NUMERIC = {"int": (np.int32, pa.int32()), "long": (np.int64, pa.int64()),
            "float": (np.float32, pa.float32()),
            "double": (np.float64, pa.float64())}


def _parse_batch(mat: np.ndarray, fs: FixedSchema,
                 lines: pa.Array | None = None) -> pa.RecordBatch:
    """Typed columns from the ``n × row_width`` byte matrix ``mat``.
    Given the batch's ``lines``, string and bytes fields are their rune
    slices instead, as the line holds them (a short line gives a short
    value)."""
    cols, pos = [], 0
    for f in fs.fields:
        t = f.type_name
        if t in _TEXT_TYPES:
            col = (_string_array(mat, pos, f.length) if lines is None
                   else pc.utf8_slice_codeunits(lines, pos, pos + f.length))
            cols.append(col if t == "string" else col.cast(pa.binary()))
        elif t in _NUMERIC:
            cols.append(_num_array(mat, pos, f.length, *_NUMERIC[t]))
        elif t == "boolean":
            cols.append(_bool_array(mat, pos, f.length))
        elif t == "date":
            cols.append(_date_array(_ts_micros(mat, pos, f.length)))
        else:  # timestamp-millis, timestamp-micros
            cols.append(_ts_micros(mat, pos, f.length))
        pos += f.length
    return pa.RecordBatch.from_arrays(cols, names=[f.name for f in fs.fields])


def _line_buffers(lines: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """The UTF-8 bytes of a string array's lines, back to back, and the
    ``n + 1`` offsets of the lines in them (starting at 0)."""
    n = len(lines)
    _, off_buf, data_buf = lines.buffers()
    dtype = np.int64 if pa.types.is_large_string(lines.type) else np.int32
    offsets = np.frombuffer(off_buf, dtype, n + 1,
                            lines.offset * np.dtype(dtype).itemsize)
    offsets = offsets.astype(np.int64)
    lo, hi = offsets[0], offsets[-1]
    data = (np.frombuffer(data_buf, np.uint8, hi - lo, lo) if hi > lo
            else np.empty(0, dtype=np.uint8))
    return data, offsets - lo


def parse_lines(lines: pa.Array, fs: FixedSchema, *,
                quarantine: bool = False) -> pa.RecordBatch:
    """Parse one batch of fixed-width lines (terminators removed) into
    the schema's typed columns.

    ASCII lines all ``row_width`` long are reshaped into the byte
    matrix as they are. Any other batch is sliced by rune: a line of
    the wrong width is cut or space-padded to ``row_width`` runes for
    the typed fields, while its string and bytes fields keep their rune
    slices as they are.

    ``quarantine=True`` adds ``_raw_line`` (the line) and ``_errors``:
    ``row_width:<runes>`` for a line of the wrong width, else
    ``bad_<field>`` for each typed field that is not all spaces and
    parses to NULL (reference B8, instead of silent zero values).
    """
    w = fs.row_width
    n = len(lines)
    data, offsets = _line_buffers(lines)
    runes = np.diff(offsets)
    if (runes == w).all() and (data.size == 0 or data.max() < 0x80):
        mat = data.view("S1").reshape(n, w)
        batch = _parse_batch(mat, fs)
    else:
        cont = np.flatnonzero((data & 0xC0) == 0x80)  # UTF-8 tails
        runes = runes - np.bincount(
            np.searchsorted(offsets, cont, side="right") - 1, minlength=n)
        one = np.delete(data, cont)  # one byte per rune
        one[one >= 0x80] = _DEL
        if (runes == w).all():
            mat = one.view("S1").reshape(n, w)
        else:
            rune_offsets = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(runes, out=rune_offsets[1:])
            text = pa.StringArray.from_buffers(
                n, pa.py_buffer(rune_offsets), pa.py_buffer(one))
            fitted = pc.utf8_rpad(pc.utf8_slice_codeunits(text, 0, w), w)
            mat = _line_buffers(fitted)[0].view("S1").reshape(n, w)
        batch = _parse_batch(mat, fs, lines)
    if not quarantine:
        return batch

    width_ok = runes == w
    flags, reasons, pos = [~width_ok], ["row_width:"], 0
    for f, col in zip(fs.fields, batch.columns):
        if f.type_name not in _TEXT_TYPES:
            blank = (mat[:, pos:pos + f.length].view(np.uint8)
                     == ord(" ")).all(axis=1)
            flags.append(width_ok & _null_mask(col) & ~blank)
            reasons.append(f"bad_{f.name}")
        pos += f.length
    flags = np.column_stack(flags)
    rows, kinds = np.nonzero(flags)  # row-major: a row's reasons in field order
    errors = [reasons[k] + (str(runes[r]) if k == 0 else "")
              for r, k in zip(rows.tolist(), kinds.tolist())]
    list_offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(flags.sum(axis=1), out=list_offsets[1:])
    return pa.RecordBatch.from_arrays(
        batch.columns + [lines, pa.ListArray.from_arrays(
            pa.Array.from_buffers(pa.int32(), n + 1,
                                  [None, pa.py_buffer(list_offsets)]),
            _string_list(errors))],
        names=batch.schema.names + ["_raw_line", "_errors"])


def _owned_span(mm: mmap.mmap, start: int, end: int) -> tuple[int, int]:
    """``[a, b)`` of the lines that START inside ``[start, end)``
    (HDFS text-split rule): the owner of the line crossing ``start``
    finishes it, and this range finishes its own last line."""
    a = 0
    if start > 0:
        nl = mm.find(b"\n", start - 1)
        a = len(mm) if nl < 0 else nl + 1
    if a >= end:
        return a, a
    if mm[end - 1] == 0x0A:
        return a, end
    nl = mm.find(b"\n", end)
    return a, len(mm) if nl < 0 else nl + 1


class _Range(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path, self.start, self.end = path, start, end


class FixedWidthDataSource(DataSource):
    """``format("fixedwidth")`` — options: ``path``, ``fixed_schema``
    (Avro+len JSON) and ``cores`` (input partitions, default
    ``session.default_cpus()``)."""

    @classmethod
    def name(cls) -> str:
        return "fixedwidth"

    def _fixed(self) -> FixedSchema:
        return parse_avro_fixed_schema(self.options["fixed_schema"])

    def schema(self) -> StructType:
        return self._fixed().to_struct_type()

    def reader(self, schema: StructType) -> "FixedWidthArrowReader":
        return FixedWidthArrowReader(dict(self.options), self._fixed())


class FixedWidthArrowReader(DataSourceReader):
    def __init__(self, options: dict, fixed: FixedSchema):
        path = options["path"]
        self.fixed = fixed
        self.cores = int(options.get("cores") or default_cpus())
        if os.path.isdir(path):
            # Spark text-source directory convention: every data file
            # (skip _SUCCESS/_manifest dotfiles)
            self.files = sorted(
                f for f in glob.glob(os.path.join(path, "*"))
                if os.path.isfile(f)
                and not os.path.basename(f).startswith(("_", ".")))
        else:
            self.files = [path]
        self.sizes = {f: os.path.getsize(f) for f in self.files}

    def partitions(self):
        total = sum(self.sizes.values())
        if total == 0:
            return [_Range(self.files[0] if self.files else "", 0, 0)]
        chunk = max(1, math.ceil(total / self.cores))
        parts = []
        for f in self.files:
            size = self.sizes[f]
            for s in range(0, size, chunk):
                parts.append(_Range(f, s, min(s + chunk, size)))
        return parts

    def _matrix(self, mm: mmap.mmap, a: int, b: int) -> np.ndarray | None:
        """The owned lines ``mm[a:b]`` as an n×width byte matrix, up to
        the first footer line, when they are ASCII, all of the declared
        width and CRLF-terminated: the mapping reshaped in place (a
        read-only view, no copy). None for any other range."""
        w = self.fixed.row_width
        w2 = w + 2
        if a >= b:
            return np.empty((0, w), dtype="S1")
        if (b - a) % w2 or np.frombuffer(mm, np.uint8, b - a, a).max() >= 0x80:
            return None
        mat = np.frombuffer(mm, dtype="S1", count=b - a,
                            offset=a).reshape(-1, w2)
        crlf = mat[:, w:].view(np.uint8)
        if not ((crlf[:, 0] == 13).all() and (crlf[:, 1] == 10).all()):
            return None
        mat = mat[:, :w]
        if len(_FOOTER) <= w:
            is_footer = (mat[:, :len(_FOOTER)].view(np.uint8)
                         == np.frombuffer(_FOOTER, np.uint8)).all(axis=1)
            if is_footer.any():
                mat = mat[:int(np.argmax(is_footer))]
        return mat

    def _batches(self, mm: mmap.mmap, a: int, b: int):
        mat = self._matrix(mm, a, b)
        if mat is not None:
            for i in range(0, max(1, mat.shape[0]), _BATCH_ROWS):
                yield _parse_batch(mat[i:i + _BATCH_ROWS], self.fixed)
            return
        lines = _split_lines(np.frombuffer(mm[a:b], np.uint8))
        for i in range(0, max(1, len(lines)), _BATCH_ROWS):
            yield parse_lines(lines.slice(i, _BATCH_ROWS), self.fixed)

    def read(self, part: _Range):
        if part.start >= part.end:  # an empty input's single range
            yield _parse_batch(
                np.empty((0, self.fixed.row_width), dtype="S1"), self.fixed)
            return
        with open(part.path, "rb") as fh:
            size = os.fstat(fh.fileno()).st_size
            planned = self.sizes[part.path]
            if size < planned:
                # reading the mapping past the new end of file would
                # kill the worker with SIGBUS
                raise ValueError(
                    f"{part.path} is {size} bytes, {planned} when its "
                    "read was planned: the file changed under the scan")
            mm = mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ)
        try:
            yield from self._batches(mm, *_owned_span(mm, part.start, part.end))
        finally:
            try:
                mm.close()
            except BufferError:
                # only while an exception is in flight: its traceback
                # still holds a view of the mapping, which is unmapped
                # once that view is freed (batches never alias it)
                pass


def _split_lines(buf: np.ndarray) -> pa.Array:
    """The lines of ``buf`` as a string array: split at LF, trailing CRs
    dropped, blank lines skipped, and nothing from the first footer
    line on. Raises on bytes that are not UTF-8."""
    nl = np.flatnonzero(buf == 0x0A)
    starts = np.concatenate(([0], nl + 1))
    ends = np.concatenate((nl, [len(buf)]))
    while True:  # rstrip(b"\r")
        cr = ends > starts
        cr[cr] = buf[ends[cr] - 1] == 0x0D
        if not cr.any():
            break
        ends -= cr
    keep = ends > starts
    starts, ends = starts[keep], ends[keep]
    k = len(_FOOTER)
    head = buf[np.minimum(starts[:, None] + np.arange(k), len(buf) - 1)]
    is_footer = ((ends - starts >= k)
                 & (head == np.frombuffer(_FOOTER, np.uint8)).all(axis=1))
    if is_footer.any():
        stop = int(np.argmax(is_footer))
        starts, ends = starts[:stop], ends[:stop]
    inside = np.zeros(len(buf) + 1, dtype=np.int8)
    inside[starts] = 1
    inside[ends] -= 1
    offsets = np.zeros(len(starts) + 1, dtype=np.int32)
    np.cumsum(ends - starts, out=offsets[1:])
    lines = pa.StringArray.from_buffers(
        len(starts), pa.py_buffer(offsets),
        pa.py_buffer(buf[np.cumsum(inside[:-1], dtype=np.int8) > 0]))
    lines.validate(full=True)
    return lines


def register_fixedwidth_source(spark: SparkSession) -> None:
    # the reader is pickled by reference: workers must import the package
    ensure_package_on_executors(spark)
    spark.dataSource.register(FixedWidthDataSource)


def read_fixed_width_arrow_ds(
    spark: SparkSession,
    path: str,
    schema: str | dict,
    *,
    cores: int | None = None,
) -> DataFrame:
    """``format("fixedwidth")`` over ``path``: executor-side byte-range
    reads, one Arrow crossing."""
    register_fixedwidth_source(spark)
    reader = (spark.read.format("fixedwidth")
              .option("fixed_schema", schema if isinstance(schema, str)
                      else json.dumps(schema)))
    if cores is not None:
        reader = reader.option("cores", str(cores))
    return reader.load(path)
