"""Vectorized fixed-width reader: ``spark.read.format("fixedwidth")``.

The declared-ASCII fast path of the fixed-width source. Each input
partition is a byte range of the feed, read directly in the
executor's Python worker from a read-only ``mmap`` of the file: the
owned-line boundaries are found on the mapping, the ASCII check is one
``max()`` over it, and when every row has the declared width and a
CRLF terminator the range becomes an ``n × width`` byte matrix by
reshaping the mapping in place — no private copy of the range (a
ragged range is copied out and line-split instead). Column slices are
views, each column is parsed in one vectorized pass, and every array a
batch holds is a private copy, so no batch outlives the mapping:

- numerics: the field as an Arrow string column → ``ascii_trim`` +
  ``cast``; a batch Arrow rejects drops to a numpy parse whose bad or
  out-of-range values become NULL (the ``try_cast`` contract);
- the custom ``yyyy-MM-dd-HH.mm.ss[.ffffff]`` timestamps get ISO
  separators written over a copy of the field and go through Arrow's
  ISO-8601 ``cast``, which accepts only strictly valid times; a batch
  it rejects drops to the numpy parse (components sliced at fixed
  offsets, days-from-civil, no per-row formatter), which defines the
  semantics.

Typed Arrow batches cross the Python↔JVM boundary once.
``sinks/avro_vec.fixed_width_to_avro_fused`` runs the same
``partitions()`` / ``read(part)`` pair per task and never crosses it.
A file found shorter at ``read(part)`` than when the partitions were
planned raises instead of reading past its end.

ASCII contract: the reader slices bytes, so it accepts only ASCII
input and raises on any range holding a non-ASCII byte. Feeds needing
rune-correct slicing, quarantine or streaming use the expression tier,
``sources/fixedwidth.read_fixed_width``; on ASCII feeds both tiers
produce the same rows (tests/test_fixedwidth_arrow.py).

Split convention (HDFS text splits): each partition owns every line
that STARTS inside its byte range; a line starting with the footer
prefix ends the range's scan (`ColumnBuilder.go:211-214`).

Reference parity: same A6-A21 surface as sources/fixedwidth.py
(`fixed2avro/ColumnBuilder.go:98-227` field loop, reimplemented as
columnar batch ops).
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
from shredder_spark.sources.fixedwidth import FOOTER_PREFIX
from shredder_spark.utils import ensure_package_on_executors

_BATCH_ROWS = 65536  # rows per Arrow batch
_FOOTER = FOOTER_PREFIX.encode()


def _string_array(mat: np.ndarray, start: int, length: int) -> pa.Array:
    """Fixed-width string column: one contiguous byte blob + arithmetic
    offsets (pa.py_buffer wraps the numpy memory — no tobytes round
    trip). The blob is always a copy: ``mat`` may be a view of the
    mapped input file, which no batch may outlive."""
    blob = np.array(mat[:, start:start + length]).reshape(-1)
    n = mat.shape[0]
    offsets = np.arange(0, (n + 1) * length, length, dtype=np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(blob))


def _num_fallback(raw: np.ndarray, dtype):
    """Per-element tolerant parse for a batch where vectorized astype
    failed: bad or out-of-range field → null (the try_cast contract)."""
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
    return pa.array(vals, type=pa_type, mask=mask)


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
    blk = np.array(mat[:, start:start + w].view(np.uint8))
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
    """The timestamp semantics, equal to the expression tier's
    ``fixedwidth._ts_micros_expr`` on ASCII fields: leading spaces are
    trimmed; components are sliced at fixed offsets (separators not
    re-validated, reference parity) and must be digits forming a valid
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
    # spaces (the expression tier trims the value before rpad'ing the
    # fraction with zeros — '.5    ' means 500000 µs). Digits after a
    # space, or any other char, → bad (nulls the timestamp, same as
    # try_cast on the padded fraction). Weight of fraction digit i is
    # 10^(5-i) regardless of how many digits follow — algebraically
    # identical to the old prefix-value × 10^(6-nd) form.
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
    return pa.array(micros, type=pa.timestamp("us"), mask=bad)


def _bool_array(mat: np.ndarray, start: int, length: int) -> pa.Array:
    """First non-space char: J/Y → true, N → false, else null
    (fixedwidth._cast_expr boolean parity; fields are 1-char in
    practice, ltrim handled by taking the first non-space)."""
    sl = mat[:, start:start + length].view(np.uint8)
    first = sl[:, 0].copy()
    for i in range(1, sl.shape[1]):  # ltrim across the (tiny) width
        is_space = first == ord(" ")
        first = np.where(is_space, sl[:, i], first)
    up = np.where((first >= ord("a")) & (first <= ord("z")),
                  first - 32, first)
    t = (up == ord("J")) | (up == ord("Y"))
    f = up == ord("N")
    return pa.array(t, type=pa.bool_(), mask=~(t | f))


def _parse_batch(mat: np.ndarray, fs: FixedSchema) -> pa.RecordBatch:
    cols, pos = [], 0
    for f in fs.fields:
        t = f.type_name
        if t == "string":
            cols.append(_string_array(mat, pos, f.length))
        elif t in ("bytes", "Bytes"):
            blob = np.ascontiguousarray(mat[:, pos:pos + f.length])
            n = mat.shape[0]
            offsets = np.arange(0, (n + 1) * f.length, f.length,
                                dtype=np.int32)
            cols.append(pa.BinaryArray.from_buffers(
                pa.binary(), n, [None, pa.py_buffer(offsets.tobytes()),
                                 pa.py_buffer(blob.tobytes())]))
        elif t in ("int",):
            cols.append(_num_array(mat, pos, f.length, np.int32,
                                   pa.int32()))
        elif t == "long":
            cols.append(_num_array(mat, pos, f.length, np.int64,
                                   pa.int64()))
        elif t == "float":
            cols.append(_num_array(mat, pos, f.length, np.float32,
                                   pa.float32()))
        elif t == "double":
            cols.append(_num_array(mat, pos, f.length, np.float64,
                                   pa.float64()))
        elif t == "boolean":
            cols.append(_bool_array(mat, pos, f.length))
        elif t in ("timestamp-millis", "timestamp-micros"):
            cols.append(_ts_micros(mat, pos, f.length))
        elif t == "date":
            ts = _ts_micros(mat, pos, f.length)
            days = pa.compute.cast(
                pa.compute.floor(pa.compute.divide(
                    pa.compute.cast(ts, pa.int64()), 86_400_000_000)),
                pa.int32())
            cols.append(days.cast(pa.date32()))
        else:  # pragma: no cover
            raise ValueError(f"unsupported type {t!r}")
        pos += f.length
    names = [f.name for f in fs.fields]
    return pa.RecordBatch.from_arrays(cols, names=names)


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
    (Avro+len JSON) and ``cores`` (input partitions, default 8)."""

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
        self.cores = int(options.get("cores", "8"))
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

    def _matrix(self, mm: mmap.mmap, a: int, b: int) -> np.ndarray:
        """The owned lines ``mm[a:b]`` → n×width matrix. Fast path:
        uniform width+CRLF rows reshape the mapping in place (a
        read-only view, no copy); otherwise the range is copied out and
        line-split with space padding (width deviations are data errors
        that the null-on-failure casts surface)."""
        w = self.fixed.row_width
        w2 = w + 2
        if a < b and (b - a) % w2 == 0:
            mat = np.frombuffer(mm, dtype="S1", count=b - a,
                                offset=a).reshape(-1, w2)
            crlf = mat[:, w:].view(np.uint8)
            if (crlf[:, 0] == 13).all() and (crlf[:, 1] == 10).all():
                mat = mat[:, :w]
                if len(_FOOTER) <= w:
                    is_footer = (
                        mat[:, :len(_FOOTER)].view(np.uint8)
                        == np.frombuffer(_FOOTER, np.uint8)).all(axis=1)
                    if is_footer.any():
                        mat = mat[:int(np.argmax(is_footer))]
                return mat
        rows = []
        for line in mm[a:b].split(b"\n"):
            line = line.rstrip(b"\r")
            if not line:
                continue
            if line.startswith(_FOOTER):
                break
            rows.append(line[:w].ljust(w, b" "))
        if not rows:
            return np.empty((0, w), dtype="S1")
        return np.frombuffer(b"".join(rows), dtype="S1").reshape(-1, w)

    def _batches(self, mat: np.ndarray):
        for i in range(0, max(1, mat.shape[0]), _BATCH_ROWS):
            chunk = mat[i:i + _BATCH_ROWS]
            if chunk.shape[0] or i == 0:
                yield _parse_batch(chunk, self.fixed)

    def read(self, part: _Range):
        if part.start >= part.end:  # an empty input's single range
            yield from self._batches(
                np.empty((0, self.fixed.row_width), dtype="S1"))
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
            a, b = _owned_span(mm, part.start, part.end)
            if a < b and np.frombuffer(mm, np.uint8, b - a, a).max() >= 0x80:
                # byte slicing would shift every field after a multibyte
                # rune and emit invalid UTF-8 strings without an error
                raise ValueError(
                    f"{part.path} [{part.start}, {part.end}): non-ASCII "
                    "bytes; format('fixedwidth') slices bytes — read this "
                    "feed with sources.fixedwidth.read_fixed_width, which "
                    "slices runes")
            yield from self._batches(self._matrix(mm, a, b))
        finally:
            try:
                mm.close()
            except BufferError:
                # only while an exception is in flight: its traceback
                # still holds a view of the mapping, which is unmapped
                # once that view is freed (batches never alias it)
                pass


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
