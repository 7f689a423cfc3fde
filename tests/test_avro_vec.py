"""Vectorized Avro encoder: byte-exact equality vs the per-row codec,
OCF round trips, and the fused fixed-width→Avro ingest job."""

from __future__ import annotations

import io
import json
import random

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st

from shredder_spark.sinks import avro_vec
from shredder_spark.sinks.avro_codec import (
    RecordCodec, read_ocf_all, write_ocf)
from shredder_spark.sinks.avro_vec import (
    encode_batch, encode_batch_rows, wire_batch, write_ocf_arrow)

SCHEMA = json.dumps({
    "type": "record", "name": "t", "fields": [
        {"name": "b", "type": ["null", "boolean"]},
        {"name": "i", "type": ["null", "int"]},
        {"name": "l", "type": "long"},
        {"name": "f", "type": ["null", "float"]},
        {"name": "d", "type": "double"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "y", "type": ["null", "bytes"]},
        {"name": "ts", "type": ["null", {"type": "long",
                                         "logicalType": "timestamp-micros"}]},
    ],
})

ARROW_SCHEMA = pa.schema([
    pa.field("b", pa.bool_()),
    pa.field("i", pa.int32()),
    pa.field("l", pa.int64(), nullable=False),
    pa.field("f", pa.float32()),
    pa.field("d", pa.float64(), nullable=False),
    pa.field("s", pa.string()),
    pa.field("y", pa.binary()),
    pa.field("ts", pa.int64()),
])


def _random_rows(n: int, seed: int, with_nulls: bool = True):
    rng = random.Random(seed)

    def maybe(v):
        return None if with_nulls and rng.random() < 0.25 else v

    rows = []
    for _ in range(n):
        rows.append((
            maybe(rng.random() < 0.5),
            maybe(rng.randint(-2**31, 2**31 - 1)),
            rng.choice([0, 1, -1, 63, 64, -64, -65,
                        rng.randint(-2**63, 2**63 - 1)]),
            maybe(float(np.float32(rng.uniform(-1e6, 1e6)))),
            rng.uniform(-1e18, 1e18),
            maybe(rng.choice(["", "a", "héllo wörld", "x" * rng.randint(0, 200)])),
            maybe(rng.choice([b"", b"\x00\xff", bytes(range(rng.randint(0, 64)))])),
            maybe(rng.randint(-2**62, 2**62)),
        ))
    return rows


def _batch(rows) -> pa.RecordBatch:
    cols = list(zip(*rows)) if rows else [[] for _ in range(8)]
    arrays = [pa.array(list(c), type=f.type)
              for c, f in zip(cols, ARROW_SCHEMA)]
    return pa.RecordBatch.from_arrays(arrays, schema=ARROW_SCHEMA)


@pytest.mark.parametrize("seed,n,with_nulls", [
    (1, 1, True), (2, 97, True), (3, 1000, True), (4, 257, False)])
def test_encode_batch_byte_exact(seed, n, with_nulls):
    rc = RecordCodec(SCHEMA)
    rows = _random_rows(n, seed, with_nulls)
    want = b"".join(rc.encode(r) for r in rows)
    got = encode_batch(rc, _batch(rows))
    assert got == want


def test_encode_batch_varint_boundaries():
    # every 7-bit varint width boundary, both signs, zigzag edges
    vals = [0, -1, 1, 63, -64, 64, -65]
    for k in range(1, 10):
        vals += [v for v in (2**(7 * k) - 1, 2**(7 * k), -(2**(7 * k)),
                             2**(7 * k - 1))
                 if -2**63 <= v < 2**63]
    vals += [2**63 - 1, -2**63]
    rc = RecordCodec(json.dumps({
        "type": "record", "name": "v",
        "fields": [{"name": "l", "type": "long"}]}))
    want = b"".join(rc.encode((v,)) for v in vals)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(vals, type=pa.int64())], names=["l"])
    assert encode_batch(rc, batch) == want

    # batches whose varints all have one width (the packed uniform
    # path, no mask store), width 1..10, each without and with nulls;
    # equal-length strings ride along (a 1-byte header at width 1, a
    # 2-byte one above)
    rng = random.Random(10)
    rc = RecordCodec(json.dumps({
        "type": "record", "name": "u", "fields": [
            {"name": "l", "type": "long"},
            {"name": "n", "type": ["null", "long"]},
            {"name": "s", "type": ["null", "string"]}]}))
    for width in range(1, 11):
        lo, hi = (1 << 7 * (width - 1)) if width > 1 else 0, \
            min(1 << 7 * width, 1 << 64) - 1
        zs = [lo, hi, lo + 1, hi - 1] + [rng.randint(lo, hi)
                                         for _ in range(60)]
        vals = [z >> 1 if z % 2 == 0 else -((z + 1) >> 1) for z in zs]
        text = "x" * (10 if width == 1 else 100)
        for nulls in (False, True):
            def maybe(v, i):
                return None if nulls and i % 3 == 1 else v
            rows = [(v, maybe(v, i), maybe(text, i))
                    for i, v in enumerate(vals)]
            batch = pa.RecordBatch.from_arrays(
                [pa.array([r[0] for r in rows], type=pa.int64()),
                 pa.array([r[1] for r in rows], type=pa.int64()),
                 pa.array([r[2] for r in rows], type=pa.string())],
                names=["l", "n", "s"])
            assert encode_batch(rc, batch) == \
                b"".join(rc.encode(r) for r in rows), (width, nulls)


def test_encode_batch_sliced_batch():
    # pa slices carry buffer offsets — the encoder must respect them
    rc = RecordCodec(SCHEMA)
    rows = _random_rows(500, 7)
    batch = _batch(rows)
    sl = batch.slice(123, 200)
    want = b"".join(rc.encode(r) for r in rows[123:323])
    assert encode_batch(rc, sl) == want


def test_encode_batch_null_in_non_nullable_raises():
    rc = RecordCodec(json.dumps({
        "type": "record", "name": "v",
        "fields": [{"name": "l", "type": "long"}]}))
    batch = pa.RecordBatch.from_arrays(
        [pa.array([1, None], type=pa.int64())], names=["l"])
    with pytest.raises(ValueError, match="non-nullable"):
        encode_batch(rc, batch)


def test_encode_batch_null_first_union_order():
    # [T, "null"] (Spark's writer order) — value branch byte flips
    rc = RecordCodec(json.dumps({
        "type": "record", "name": "v",
        "fields": [{"name": "l", "type": ["long", "null"]}]}))
    rows = [(5,), (None,), (-3,)]
    want = b"".join(rc.encode(r) for r in rows)
    batch = pa.RecordBatch.from_arrays(
        [pa.array([5, None, -3], type=pa.int64())], names=["l"])
    assert encode_batch(rc, batch) == want


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_write_ocf_arrow_round_trip(codec):
    rc = RecordCodec(SCHEMA)
    rows = _random_rows(777, 11)
    buf = io.BytesIO()
    n = write_ocf_arrow(buf, rc, [_batch(rows)], codec=codec,
                        block_rows=256)
    assert n == 777
    buf.seek(0)
    schema, got = read_ocf_all(buf)
    assert [tuple(r) for r in got] == rows


def test_write_ocf_arrow_matches_row_writer_stream():
    # same rows through both writers parse to the same records
    rc = RecordCodec(SCHEMA)
    rows = _random_rows(300, 13)
    b1, b2 = io.BytesIO(), io.BytesIO()
    write_ocf(b1, rc, rows, codec="snappy")
    write_ocf_arrow(b2, rc, [_batch(rows)], codec="snappy")
    b1.seek(0)
    b2.seek(0)
    assert read_ocf_all(b1)[1] == read_ocf_all(b2)[1]


def test_wire_batch_temporals():
    ts = pa.array([0, 86_400_000_000, None], type=pa.timestamp("us"))
    d = pa.array([0, 1, None], type=pa.date32())
    b = pa.RecordBatch.from_arrays([ts, d], names=["ts", "d"])
    w = wire_batch(b)
    assert w.column(0).type == pa.int64()
    assert w.column(1).type == pa.int32()
    assert w.column(0).to_pylist() == [0, 86_400_000_000, None]
    assert w.column(1).to_pylist() == [0, 1, None]


def test_fused_fixed_width_to_avro(spark, tmp_path):
    """End-to-end: fixed-width feed → fused job → OCF files that decode
    to exactly what the expression reference's read + row sink would
    produce. The F2 all-types feed (dates, millis timestamps, bytes,
    float, boolean, nullable unions) checks the other direction of
    interop: files written by the Python encoder, read by Spark's JVM
    Avro reader, equal the reference parse."""
    from shredder_spark.sinks.avro import read_avro_ocf, write_avro_ocf
    from shredder_spark.sinks.avro_vec import fixed_width_to_avro_fused
    from tests.fixedwidth_reference import read_fixed_width_reference
    from tests.fixtures import F2_ALLTYPES_SCHEMA, write_f2

    schema = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "k", "type": "long", "len": 6},
            {"name": "v", "type": "double", "len": 10},
            {"name": "s", "type": "string", "len": 8},
            {"name": "ts", "type": {"type": "long",
                                    "logicalType": "timestamp-micros",
                                    "len": 26}},
        ],
    }
    lines = []
    for i in range(500):
        lines.append(
            f"{i:6d}{i * 1.5:10.2f}{'s%03d' % i:<8s}"
            f"2024-03-0{1 + i % 9}-12.30.0{i % 6}.{i % 1000:03d}   ")
    feed = tmp_path / "feed.txt"
    feed.write_bytes(("\r\n".join(lines) + "\r\n").encode())

    out_fused = str(tmp_path / "fused")
    n = fixed_width_to_avro_fused(spark, str(feed), schema, out_fused,
                                  tasks=4)
    assert n == 500

    out_row = str(tmp_path / "rowpath")
    df = read_fixed_width_reference(spark, str(feed), schema)
    write_avro_ocf(df, out_row, codec="snappy")

    got = read_avro_ocf(spark, out_fused)
    want = read_avro_ocf(spark, out_row)
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    feed2 = str(tmp_path / "f2.txt")
    write_f2(feed2, rows=500)
    out_f2 = str(tmp_path / "fused_f2")
    n = fixed_width_to_avro_fused(spark, feed2, F2_ALLTYPES_SCHEMA, out_f2,
                                  tasks=3)
    assert n == 500
    got = read_avro_ocf(spark, out_f2)
    want = read_fixed_width_reference(spark, feed2, F2_ALLTYPES_SCHEMA)
    assert [(f.name, f.dataType) for f in got.schema] == \
        [(f.name, f.dataType) for f in want.schema]
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_fused_kernel_bytes_equal_single_thread_replay(spark, tmp_path):
    """Each fused output file is byte-identical to a driver-side run of
    the reader's public pair over the same range — read(part) →
    wire_batch → write_ocf_arrow — the replay the benchmark times
    layer by layer."""
    import os

    from shredder_spark.avro_schema import parse_avro_fixed_schema
    from shredder_spark.sinks.avro import spark_schema_to_avro
    from shredder_spark.sinks.avro_vec import fixed_width_to_avro_fused
    from shredder_spark.sources.fixedwidth_arrow import FixedWidthArrowReader
    from tests.fixtures import F2_ALLTYPES_SCHEMA, write_f2

    feed = str(tmp_path / "f2.txt")
    write_f2(feed, rows=3000)
    out = str(tmp_path / "fused")
    n = fixed_width_to_avro_fused(spark, feed, F2_ALLTYPES_SCHEMA, out,
                                  tasks=3)
    assert n == 3000

    fs = parse_avro_fixed_schema(F2_ALLTYPES_SCHEMA)
    rc = RecordCodec(spark_schema_to_avro(fs.to_struct_type()))
    planner = FixedWidthArrowReader({"path": feed, "cores": "3"}, fs)
    parts = planner.partitions()
    assert len(parts) == 3
    for i, part in enumerate(parts):
        buf = io.BytesIO()
        write_ocf_arrow(buf, rc, map(wire_batch, planner.read(part)),
                        codec="snappy")
        with open(os.path.join(out, f"part-{i:05d}.avro"), "rb") as fh:
            assert fh.read() == buf.getvalue(), f"range {i}"


def test_fused_kernel_on_unicode_feed(spark, tmp_path):
    """Multibyte runes in the string columns: the fused kernel slices by
    rune, and Spark's Avro reader decodes its output to the generator's
    checksums in every column."""
    from perfbench import gen
    from shredder_spark.sinks.avro import AVRO_FORMAT
    from shredder_spark.sinks.avro_vec import fixed_width_to_avro_fused

    feed = str(tmp_path / "unicode.txt")
    truth = gen.write_fixed_width(feed, seed=3, rows=60_000, unicode=True)
    out = str(tmp_path / "fused")
    n = fixed_width_to_avro_fused(spark, feed, gen.avro_fixed_schema(), out,
                                  tasks=3)
    assert n == truth["rows"]
    got = (spark.read.format(AVRO_FORMAT).load(out)
           .selectExpr("count(*) AS `_rows`",
                       *[gen.checksum_sql(c, t) for c, t, _ in gen.FIELDS])
           .first().asDict())
    assert got.pop("_rows") == truth["rows"]
    assert len(got) == 30
    assert got == truth["sums"]


def test_encode_batch_rows_per_record():
    rc = RecordCodec(SCHEMA)
    rows = _random_rows(400, 17)
    got = encode_batch_rows(rc, _batch(rows))
    assert got == [rc.encode(r) for r in rows]
    assert encode_batch_rows(rc, _batch([])) == []


# md5 of the fused kernel's OCF files (part-00000..00002, in name
# order) for perfbench's 6,000-row seed-1 feed at tasks=3, recorded
# before the mapped reads, Arrow-first timestamps and packed varints:
# kernel speed-ups must leave every output byte as it was
_GOLDEN_FUSED_MD5 = "38209cf415de3f54f702fae0c1df9e66"


def test_fused_kernel_golden_md5(spark, tmp_path):
    import hashlib
    import os

    from perfbench import gen
    from shredder_spark.sinks.avro_vec import fixed_width_to_avro_fused

    feed = str(tmp_path / "bench528.txt")
    gen.write_fixed_width(feed, seed=1, rows=6000)
    out = str(tmp_path / "fused")
    n = fixed_width_to_avro_fused(spark, feed, gen.avro_fixed_schema(),
                                  out, tasks=3)
    assert n == 6000
    names = sorted(os.listdir(out))
    assert names == [f"part-{i:05d}.avro" for i in range(3)]
    h = hashlib.md5()
    for name in names:
        with open(os.path.join(out, name), "rb") as fh:
            h.update(fh.read())
    assert h.hexdigest() == _GOLDEN_FUSED_MD5


def test_encode_never_imports_pandas():
    """The encoder reads every column off its Arrow buffers: a fresh
    process encodes a batch with NULLs in every wire type (a NULL
    string slot that still spans bytes, temporals through ``wire_batch``)
    byte-for-byte as the per-row codec does, and never imports pandas."""
    import os
    import subprocess
    import sys

    code = """
import json, sys
import numpy as np
import pyarrow as pa
from shredder_spark.sinks.avro_codec import RecordCodec
from shredder_spark.sinks.avro_vec import encode_batch, wire_batch
from shredder_spark.sources.fixedwidth_arrow import _masked
rc = RecordCodec(sys.argv[1])
null = np.array([False, True, False, False, True])
n = len(null)
bits = lambda a: pa.py_buffer(np.packbits(a, bitorder="little"))
def varlen(pa_type, blobs, spans):
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(spans, out=offsets[1:])
    return pa.Array.from_buffers(pa_type, n, [bits(~null), pa.py_buffer(
        np.array(offsets)), pa.py_buffer(b"".join(blobs))], int(null.sum()))
flags = np.array([True, True, False, True, False])
ints = np.array([0, 99, -64, 2**31 - 1, 7])
longs = np.array([1, 2**60, -65, -2**63, 300])
floats = np.array([1.5, 9.0, -0.25, 3e38, 2.0])
strs = [b"", b"gone", "h\\u00e9".encode(), b"x" * 130, b""]
micros = np.array([0, 5, -1, 2**62, 86_400_000_000])
days = np.array([0, 3, -1, 19000, 1])
cols = [
    pa.Array.from_buffers(pa.bool_(), n, [bits(~null), bits(flags)], 2),
    _masked(pa.int32(), n, ints.astype(np.int32), null),
    _masked(pa.int64(), n, longs, null),
    _masked(pa.float32(), n, floats.astype(np.float32), null),
    _masked(pa.float64(), n, floats, null),
    varlen(pa.string(), strs, [len(s) for s in strs]),
    varlen(pa.binary(), strs, [len(s) for s in strs]),
    _masked(pa.timestamp("us"), n, micros, null),
    _masked(pa.date32(), n, days.astype(np.int32), null),
]
batch = wire_batch(pa.RecordBatch.from_arrays(
    cols, names=[f[0] for f in rc.fields]))
values = [flags.tolist(), ints.tolist(), longs.tolist(),
          floats.astype(np.float32).tolist(), floats.tolist(),
          [s.decode() for s in strs], strs, micros.tolist(), days.tolist()]
rows = [tuple(None if null[i] else v[i] for v in values) for i in range(n)]
assert encode_batch(rc, batch) == b"".join(rc.encode(r) for r in rows)
assert "pandas" not in sys.modules
"""
    schema = json.dumps({"type": "record", "name": "t", "fields": [
        {"name": name, "type": ["null", t]} for name, t in [
            ("b", "boolean"), ("i", "int"), ("l", "long"), ("f", "float"),
            ("d", "double"), ("s", "string"), ("y", "bytes"),
            ("ts", {"type": "long", "logicalType": "timestamp-micros"}),
            ("dt", {"type": "int", "logicalType": "date"})]]})
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code, schema], check=True, cwd=root)


def test_encode_batch_unconverted_date32_with_nulls():
    # a date32 column that did not go through ``wire_batch`` is read as
    # its int32 day numbers, NULLs included
    rc = RecordCodec(json.dumps({"type": "record", "name": "d", "fields": [
        {"name": "d", "type": ["null", {"type": "int",
                                        "logicalType": "date"}]},
        {"name": "t", "type": {"type": "long",
                               "logicalType": "timestamp-micros"}}]}))
    days = [0, None, -1, 19_000, None, 2**31 - 1, -2**31]
    micros = [0, 1, -1, 2**62, 5, -2**63, 2**63 - 1]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(days, type=pa.int32()).view(pa.date32()),
         pa.array(micros, type=pa.int64()).view(pa.timestamp("us"))],
        names=["d", "t"])
    want = b"".join(rc.encode(r) for r in zip(days, micros))
    assert encode_batch(rc, batch) == want
    assert encode_batch(rc, batch.slice(2, 4)) == \
        b"".join(rc.encode(r) for r in list(zip(days, micros))[2:6])


# ------------------------------------------------ property: vs RecordCodec

_S = avro_vec._SLICE
# batch sizes around the encoder's slice: empty, one row, one slice
# short / exact / over, and a partial fourth slice
_SIZES = [0, 1, _S - 1, _S, _S + 1, 3 * _S + 7]
# wire type → (Arrow storage types it may arrive as, varint widths the
# type's values can take; None for non-varint types)
_WIRE = {
    "boolean": ([pa.bool_()], None),
    "int": ([pa.int32()], 5),
    "long": ([pa.int64()], 10),
    "date": ([pa.int32(), pa.date32()], 5),
    "time-millis": ([pa.int32(), pa.time32("ms")], 5),
    "time-micros": ([pa.int64(), pa.time64("us")], 10),
    "timestamp-millis": ([pa.int64(), pa.timestamp("ms")], 10),
    "timestamp-micros": ([pa.int64(), pa.timestamp("us")], 10),
    "float": ([pa.float32()], None),
    "double": ([pa.float64()], None),
    "string": ([pa.string(), pa.large_string()], None),
    "bytes": ([pa.binary(), pa.large_binary()], None),
}
_RUNES = ["a", "Z", "0", " ", "é", "ß", "日", "語", "😀"]


def _unzigzag(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


def _varint_values(rng, n, lo, hi, bits):
    """``n`` ints whose zigzag varints are ``lo``..``hi`` bytes wide,
    within a ``bits``-bit signed range."""
    out = []
    for _ in range(n):
        w = rng.randint(lo, hi)
        zlo = 0 if w == 1 else 1 << 7 * (w - 1)
        zhi = min((1 << 7 * w) - 1, (1 << bits) - 1)
        out.append(_unzigzag(rng.randint(zlo, zhi)))
    return out


def _column(rng, tname, n, shape):
    """``n`` Python values of one wire type; ``shape`` picks constant,
    equal-width or ragged content."""
    kind, a, b = shape
    if tname == "boolean":
        return [kind == "const" or rng.random() < 0.5 for _ in range(n)]
    if tname in ("float", "double"):
        pool = [0.0, -0.0, 1.5, -2.25, float("inf"), 3e38, -1e-3]
        vals = [rng.choice(pool) if kind == "const" else
                rng.uniform(-1e30, 1e30) for _ in range(n)]
        if tname == "float":
            vals = [float(np.float32(v)) for v in vals]
        return [vals[0]] * n if kind == "const" and n else vals
    if tname in ("string", "bytes"):
        if kind == "ragged":
            runes = _RUNES if tname == "string" else _RUNES[:4]
            vals = ["".join(rng.choice(runes)
                            for _ in range(rng.randint(0, a)))
                    for _ in range(n)]
        else:  # every value the same byte length
            rune = rng.choice(["a", "é", "日"] if tname == "string" else ["x"])
            vals = ["".join(rng.choice([rune, rune.upper()])
                            for _ in range(a)) for _ in range(n)]
        if kind == "const":
            vals = [vals[0]] * n if n else []
        return vals if tname == "string" else [v.encode() for v in vals]
    bits = 32 if _WIRE[tname][1] == 5 else 64
    vals = _varint_values(rng, n, a, b, bits)
    return [vals[0]] * n if kind == "const" and n else vals


@st.composite
def _encoder_case(draw):
    nfields = draw(st.integers(1, 12))
    fields, specs = [], []
    for i in range(nfields):
        tname = draw(st.sampled_from(sorted(_WIRE)))
        storages, vmax = _WIRE[tname]
        storage = draw(st.sampled_from(storages))
        kind = draw(st.sampled_from(["const", "equal", "ragged"]))
        if vmax:
            lo = draw(st.integers(1, vmax))
            hi = lo if kind == "equal" else draw(st.integers(lo, vmax))
            shape = (kind, lo, hi)
        else:
            shape = (kind, draw(st.integers(0, 40)), 0)
        nulls = draw(st.sampled_from(["none", "none", "some", "all"]))
        order = draw(st.sampled_from(["plain", "null-first", "null-last"]))
        if nulls != "none" and order == "plain":
            order = "null-first"
        ftype = tname if tname in ("boolean", "int", "long", "float",
                                   "double", "string", "bytes") \
            else {"type": "int" if vmax == 5 else "long",
                  "logicalType": tname}
        if order != "plain":
            ftype = ["null", ftype] if order == "null-first" \
                else [ftype, "null"]
        fields.append({"name": f"c{i}", "type": ftype})
        specs.append((tname, storage, shape, nulls))
    n = draw(st.sampled_from(_SIZES))
    offset = draw(st.sampled_from([0, 0, 1, 37]))
    seed = draw(st.integers(0, 2**32 - 1))
    return fields, specs, n, offset, seed


def _encoder_batch(specs, n, offset, seed):
    """Python rows and the Arrow batch of ``n`` of them, sliced out of a
    longer batch at ``offset`` when it is non-zero."""
    rng = random.Random(seed)
    total = n + offset + (3 if offset else 0)
    cols, arrays = [], []
    for tname, storage, shape, nulls in specs:
        vals = _column(rng, tname, total, shape)
        if nulls == "all":
            vals = [None] * total
        elif nulls == "some":
            vals = [None if rng.random() < 0.3 else v for v in vals]
        if pa.types.is_temporal(storage):
            arr = pa.array(vals, type=pa.int32() if storage.bit_width == 32
                           else pa.int64()).view(storage)
        else:
            arr = pa.array(vals, type=storage)
        cols.append(vals[offset:offset + n])
        arrays.append(arr)
    batch = pa.RecordBatch.from_arrays(
        arrays, names=[f"c{i}" for i in range(len(specs))])
    return list(zip(*cols)) if n else [], batch.slice(offset, n)


# no shrink phase: an example is a schema, sizes and a seed, short to
# print as drawn, while shrinking cases of thousands of rows takes minutes
@settings(derandomize=True, deadline=None, max_examples=100,
          phases=[Phase.explicit, Phase.generate],
          suppress_health_check=[HealthCheck.too_slow])
@given(_encoder_case())
def test_encode_batch_property_vs_record_codec(case):
    fields, specs, n, offset, seed = case
    rc = RecordCodec(json.dumps({"type": "record", "name": "p",
                                 "fields": fields}))
    rows, batch = _encoder_batch(specs, n, offset, seed)
    want = [rc.encode(r) for r in rows]
    assert encode_batch(rc, batch) == b"".join(want)
    if n <= _S:
        assert encode_batch_rows(rc, batch) == want


def _exact_tail_case(fields, cols):
    """Encode through both codecs; also report whether any segment of
    the block is written exactly (the tail that could leave its row)."""
    rc = RecordCodec(json.dumps({"type": "record", "name": "x",
                                 "fields": fields}))
    batch = pa.RecordBatch.from_arrays(
        [pa.array(v, type=t) for v, t in cols],
        names=[f["name"] for f in fields])
    rows = list(zip(*[v for v, _ in cols]))
    assert encode_batch(rc, batch) == b"".join(rc.encode(r) for r in rows)
    assert encode_batch_rows(rc, batch) == [rc.encode(r) for r in rows]
    pieces = [p for (f, t, ni), col in zip(rc.fields, batch.columns)
              for p in avro_vec._prep_field(f, t, ni, col)]
    return any(seg[3] is not None
               for seg in avro_vec._layout(pieces, len(rows))[2])


def test_encode_exact_tail_ragged_long_last():
    rng = random.Random(1)
    n = 3 * _S + 7
    longs = _varint_values(rng, n, 1, 10, 64)
    words = ["", "ab", "日本", "x" * 30]
    assert _exact_tail_case(
        [{"name": "s", "type": "string"}, {"name": "l", "type": "long"}],
        [([rng.choice(words) for _ in range(n)], pa.string()),
         (longs, pa.int64())])


def test_encode_exact_tail_ragged_long_then_boolean():
    # the long's slack (up to 9 bytes) exceeds the one boolean byte left
    # in its row, so its segment must not spill into the next row
    rng = random.Random(2)
    n = _S + 1
    assert _exact_tail_case(
        [{"name": "l", "type": "long"}, {"name": "b", "type": "boolean"}],
        [(_varint_values(rng, n, 1, 10, 64), pa.int64()),
         ([rng.random() < 0.5 for _ in range(n)], pa.bool_())])


@pytest.mark.parametrize("all_null", [False, True])
def test_encode_exact_tail_all_null_rows(all_null):
    # a fully NULL row is one union byte per field: every segment's
    # slack can exceed what is left of such a row
    rng = random.Random(3)
    n = _S + 3
    kinds = [("long", pa.int64()), ("string", pa.string()),
             ("double", pa.float64()), ("bytes", pa.binary()),
             ("int", pa.int32())]
    dead = [all_null or rng.random() < 0.4 for _ in range(n)]
    cols = []
    for name, t in kinds:
        widths = {"long": (1, 10), "int": (1, 5)}.get(name, (20, 0))
        vals = _column(rng, name, n, ("ragged", *widths))
        cols.append(([None if d else v for v, d in zip(vals, dead)], t))
    fields = [{"name": f"f{i}", "type": [k, "null"] if i % 2 else ["null", k]}
              for i, (k, _) in enumerate(kinds)]
    assert _exact_tail_case(fields, cols)
