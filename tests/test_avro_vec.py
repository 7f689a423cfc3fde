"""Vectorized Avro encoder: byte-exact equality vs the per-row codec,
OCF round trips, and the fused fixed-width→Avro ingest job."""

from __future__ import annotations

import io
import json
import random

import numpy as np
import pyarrow as pa
import pytest

from shredder_spark.sinks.avro_codec import (
    RecordCodec, read_ocf_all, write_ocf)
from shredder_spark.sinks.avro_vec import (
    encode_batch, wire_batch, write_ocf_arrow)

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
    produce."""
    from shredder_spark.sinks.avro import read_avro_ocf, write_avro_ocf
    from shredder_spark.sinks.avro_vec import fixed_width_to_avro_fused
    from tests.fixedwidth_reference import read_fixed_width_reference

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
    from shredder_spark.sinks.avro_vec import encode_batch_rows
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
