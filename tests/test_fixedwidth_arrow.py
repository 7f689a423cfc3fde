"""The fixed-width parse kernel vs the expression reference.

The contract is EQUALITY: ``format("fixedwidth")`` over the kernel
produces the same typed rows as ``tests/fixedwidth_reference.py``, an
independent Spark-expression parse of the same semantics. Edge legs
cover bad numerics → null, integer overflow → null, footer stop, blank
lines, fraction-less timestamps, pre-1970 dates, and ragged lines, each
against the reference's output.
"""

from __future__ import annotations

import json

import pytest

from shredder_spark.sources.fixedwidth_arrow import read_fixed_width_arrow_ds
from tests.fixedwidth_reference import read_fixed_width_reference

SCHEMA = {
    "type": "record",
    "name": "edge",
    "fields": [
        {"name": "id", "type": "long", "len": 6},
        {"name": "qty", "type": "int", "len": 4},
        {"name": "price", "type": "double", "len": 10},
        {"name": "ratio", "type": "float", "len": 8},
        {"name": "flag", "type": "boolean", "len": 1},
        {"name": "name", "type": "string", "len": 8},
        {"name": "ts", "type": {"type": "long",
                                "logicalType": "timestamp-micros",
                                "len": 26}},
        {"name": "d", "type": {"type": "int", "logicalType": "date",
                               "len": 26}},
    ],
}
W = 6 + 4 + 10 + 8 + 1 + 8 + 26 + 26


def _row(id_, qty, price, ratio, flag, name, ts, d) -> str:
    line = (f"{id_:>6}{qty:>4}{price:>10}{ratio:>8}{flag:1}"
            f"{name:<8}{ts:<26}{d:<26}")
    assert len(line) == W, (len(line), W)
    return line


LINES = [
    _row(1, 10, "12.50", "0.25", "J", "alpha", "1995-06-15-10.30.00.123456",
         "1995-06-15-00.00.00"),
    _row(-22, 0, "-99.99", "1e3", "N", "beta  x", "1970-01-01-00.00.00",
         "1970-01-01-00.00.00"),
    # bad numerics + bad bool + bad ts -> nulls everywhere fallible
    _row("xx", "y", "zz", "pp", "Q", "gamma", "not-a-ts-aa.bb.cc",
         "9999-99-99-00.00.00"),
    # pre-1970 and 2038 boundary, fraction-less + fractional
    _row(4, 7, "0.0", "0.5", "Y", "", "1969-12-31-23.59.59",
         "2038-01-19-03.14.07"),
    _row(5, 1, "3.25", "2.5", "j", "padded  ", "2000-02-29-12.00.00.5",
         "2000-02-29-12.00.00"),
]


@pytest.fixture()
def feed(tmp_path):
    p = tmp_path / "feed.txt"
    p.write_bytes(("\r\n".join(LINES) + "\r\n").encode())
    return str(p)


def _assert_equal(a, e):
    assert a.count() == e.count()
    assert a.exceptAll(e).count() == 0
    assert e.exceptAll(a).count() == 0


def test_arrow_datasource_tier_equals_expression_tier(spark, feed):
    a = read_fixed_width_arrow_ds(spark, feed, json.dumps(SCHEMA), cores=3)
    e = read_fixed_width_reference(spark, feed, SCHEMA)
    _assert_equal(a, e)


def test_footer_stops_scan(spark, tmp_path):
    # reference semantics (ColumnBuilder.go:211-214): the footer
    # TERMINATES the scan — rows after it never parse. The byte-range
    # reader implements termination; read_fixed_width approximates it
    # with a filter, which only matches when the footer is the last
    # line (the real-feed shape).
    p = tmp_path / "footer.txt"
    body = [LINES[0], "*" * 12 + " trailer".ljust(W - 20), LINES[1]]
    p.write_bytes(("\r\n".join(body) + "\r\n").encode())
    a = read_fixed_width_arrow_ds(spark, str(p), json.dumps(SCHEMA),
                                  cores=1)
    assert a.count() == 1
    assert a.collect()[0].id == 1


def test_ragged_lines_fallback(spark, tmp_path):
    # short and long lines leave the byte-matrix fast path: each line
    # is sliced by rune, so the range parses as the reference does
    p = tmp_path / "ragged.txt"
    p.write_bytes((LINES[0] + "\r\n" + "short\r\n" + LINES[1] + "xyz\r\n")
                  .encode())
    a = read_fixed_width_arrow_ds(spark, str(p), json.dumps(SCHEMA),
                                  cores=1)
    assert a.count() == 3
    good = a.filter("id = 1").collect()[0]
    assert good.qty == 10 and good.name == "alpha   "
    _assert_equal(a, read_fixed_width_reference(spark, str(p), SCHEMA))


def test_bad_numerics_null_not_throw(spark, feed):
    a = read_fixed_width_arrow_ds(spark, feed, json.dumps(SCHEMA), cores=2)
    bad = [r for r in a.collect() if r.id is None]
    assert len(bad) == 1
    r = bad[0]
    assert r.qty is None and r.price is None and r.flag is None \
        and r.ts is None and r.name == "gamma   "


def test_multifile_directory(spark, tmp_path):
    d = tmp_path / "dir"
    d.mkdir()
    (d / "a.txt").write_bytes(("\r\n".join(LINES[:2]) + "\r\n").encode())
    (d / "b.txt").write_bytes(("\r\n".join(LINES[3:]) + "\r\n").encode())
    (d / "_SUCCESS").write_bytes(b"")
    a = read_fixed_width_arrow_ds(spark, str(d), json.dumps(SCHEMA),
                                  cores=4)
    assert a.count() == 4
    assert {r.id for r in a.collect()} == {1, -22, 4, 5}


def test_integer_overflow_is_null(spark, tmp_path):
    # out-of-range integers: try_cast gives NULL on the expression
    # tier; the numpy fallback must not wrap (int) or raise (long)
    schema = {"type": "record", "name": "ovf",
              "fields": [{"name": "i", "type": "int", "len": 11},
                         {"name": "l", "type": "long", "len": 20}]}
    rows = [("99999999999", "99999999999999999999"),
            ("3000000000", "12"),
            ("-2147483648", "-9223372036854775808"),
            ("xx", "9223372036854775808")]
    p = tmp_path / "ovf.txt"
    p.write_bytes("".join(f"{i:>11}{l:>20}\r\n" for i, l in rows).encode())
    a = read_fixed_width_arrow_ds(spark, str(p), json.dumps(schema))
    e = read_fixed_width_reference(spark, str(p), schema)
    _assert_equal(a, e)
    assert sorted(map(tuple, a.collect()), key=repr) == sorted(
        [(None, None), (None, 12), (-2147483648, -9223372036854775808),
         (None, None)], key=repr)


# -------------------------------------------------- timestamp kernels

# (value, Arrow's ISO cast accepts it): a rejected value sends its
# whole batch to the numpy parse, which defines the semantics
TS_CASES = [
    ("1995-06-15-10.30.00.123456", True),
    ("1995-06-15-10.30.00.5", True),      # '.5' then pad spaces
    ("1995-06-15-10.30.00", True),        # no fraction
    ("1995-06-15-10.30.00Z", True),       # offset 19 is a separator slot
    ("2000-02-29-23.59.59.999999", True),
    ("1969-12-31-23.59.59.1", True),
    ("1995-06-15-10.30.00.5 3", False),   # digits after a pad space
    ("1995-02-30-10.30.00", False),       # Feb 30
    ("1900-02-29-10.30.00", False),       # not a leap year
    ("1995-06-15-25.30.00", False),       # hour 25
    ("1995-06-15-10.60.00", False),       # minute 60
    ("1995-06-15-10.30.60", False),       # second 60 → next minute
    ("1995-06-15-10.30.60.5", False),
    ("1995-06-15-10.30.61", False),
    ("1995-06-15-10.30.00.12Z", False),   # zone suffix
    ("1995-06-15-10.30.00.5\t", False),   # a tab is not pad
    (" 1995-06-15-10.30.00.5", False),    # leading space, trimmed
    ("  1995-06-15-10.30.00", False),
    ("", False),                          # all-space field
    ("not-a-ts-aa.bb.cc", False),
    ("+995-06-15-10.30.00", False),       # a sign is not a digit
    ("1995- 6-15-10.30.00", False),       # a space inside a component
    ("1995-06-15-10.30.0", False),        # seconds cut short at 19 bytes
    ("1995-06-15-10.30.00. 5", False),    # a fraction after a space
    ("1995-06-15-10.30.00.12    X", True),  # past offset 26: ignored
]
TS_LENS = (19, 20, 26, 30)


def _ts_cell(value: str, length: int) -> str:
    # leading spaces that would push the seconds out of the field are
    # dropped (a value cut short is outside this test)
    if len(value.rstrip()) > length:
        value = value.lstrip()
    return value[:length].ljust(length)


def _ts_matrix(values, length):
    import numpy as np
    text = "".join(_ts_cell(v, length) for v in values).encode()
    return np.frombuffer(text, dtype="S1").reshape(-1, length)


@pytest.mark.parametrize("length", TS_LENS)
def test_ts_arrow_first_equals_numpy_parse(length):
    import pyarrow as pa

    from shredder_spark.sources import fixedwidth_arrow as fwa

    mat = _ts_matrix([v for v, _ in TS_CASES], length)
    assert fwa._ts_micros(mat, 0, length).equals(
        fwa._ts_micros_numpy(mat, 0, length))
    accepted = []
    for i, (v, arrow_ok) in enumerate(TS_CASES):
        row = mat[i:i + 1]
        want = fwa._ts_micros_numpy(row, 0, length)
        assert fwa._ts_micros(row, 0, length).equals(want), v
        try:
            got = fwa._ts_micros_arrow(row, 0, length)
        except pa.ArrowInvalid:
            got = None
        else:
            # every value Arrow accepts is the numpy parse's value
            assert got.equals(want) and got.null_count == 0, v
            accepted.append(i)
        if length >= 26:  # the whole value fits: the table holds
            assert (got is not None) == arrow_ok, v
    # a batch Arrow accepts whole takes the Arrow path, same values
    assert fwa._ts_micros_arrow(mat[accepted], 0, length).equals(
        fwa._ts_micros_numpy(mat[accepted], 0, length))


def test_ts_adversarial_feed_equals_expression_tier(spark, tmp_path):
    schema = {"type": "record", "name": "tsx",
              "fields": [{"name": "id", "type": "int", "len": 3}] + [
                  {"name": f"t{n}", "len": n,
                   "type": {"type": "long",
                            "logicalType": "timestamp-micros"}}
                  for n in TS_LENS]}
    p = tmp_path / "ts.txt"
    p.write_bytes("".join(
        f"{i:>3}" + "".join(_ts_cell(v, n) for n in TS_LENS) + "\r\n"
        for i, (v, _) in enumerate(TS_CASES)).encode())
    from shredder_spark.sources.fixedwidth import read_fixed_width

    a = read_fixed_width_arrow_ds(spark, str(p), json.dumps(schema))
    e = read_fixed_width_reference(spark, str(p), schema)
    _assert_equal(a, e)
    _assert_equal(read_fixed_width(spark, str(p), schema), e)
    got = {r.id: r for r in a.collect()}
    assert got[1].t26.microsecond == 500000       # '.5' → 500000 µs
    assert got[11].t26.minute == 31 and got[11].t26.second == 0
    assert got[16].t30 == got[1].t30             # leading space trimmed
    assert all(got[i].t26 is None
               for i in (6, 7, 8, 9, 10, 13, 14, 15, 18, 19,
                         20, 21, 22, 23))
    assert got[24].t30.microsecond == 120000     # not 12 µs


# ------------------------------------------------------ mapped reads

def _reader(path: str, cores: int):
    from shredder_spark.avro_schema import parse_avro_fixed_schema
    from shredder_spark.sources.fixedwidth_arrow import FixedWidthArrowReader
    return FixedWidthArrowReader({"path": path, "cores": str(cores)},
                                 parse_avro_fixed_schema(SCHEMA))


def _rows(reader) -> list:
    return [r for part in reader.partitions() for b in reader.read(part)
            for r in b.to_pylist()]


def test_empty_file(spark, tmp_path):
    p = tmp_path / "empty.txt"
    p.write_bytes(b"")
    assert _rows(_reader(str(p), 3)) == []
    assert read_fixed_width_arrow_ds(spark, str(p), json.dumps(SCHEMA)) \
        .count() == 0


def test_last_line_without_newline(spark, tmp_path):
    p = tmp_path / "nonl.txt"
    p.write_bytes("\r\n".join(LINES).encode())
    assert [r["id"] for r in _rows(_reader(str(p), 3))] == \
        [1, -22, None, 4, 5]
    _assert_equal(
        read_fixed_width_arrow_ds(spark, str(p), json.dumps(SCHEMA), cores=3),
        read_fixed_width_reference(spark, str(p), SCHEMA))


def test_range_owning_no_line(tmp_path):
    # one line, many ranges: only the first range owns it, every other
    # range starts inside it and yields an empty batch
    p = tmp_path / "one.txt"
    p.write_bytes((LINES[0] + "\r\n").encode())
    reader = _reader(str(p), 7)
    parts = reader.partitions()
    assert len(parts) == 7
    counts = [sum(b.num_rows for b in reader.read(part)) for part in parts]
    assert counts == [1, 0, 0, 0, 0, 0, 0]


def test_file_shorter_than_planned_raises(tmp_path):
    p = tmp_path / "shrunk.txt"
    p.write_bytes(("\r\n".join(LINES) + "\r\n").encode())
    reader = _reader(str(p), 2)
    parts = reader.partitions()
    p.write_bytes((LINES[0] + "\r\n").encode())
    with pytest.raises(ValueError, match="shrunk.txt"):
        list(reader.read(parts[0]))


def test_batches_do_not_alias_the_mapping(tmp_path, monkeypatch):
    import mmap
    import types

    from shredder_spark.sources import fixedwidth_arrow as fwa

    made = []

    class Mapping(mmap.mmap):
        def __new__(cls, *args, **kwargs):
            m = super().__new__(cls, *args, **kwargs)
            made.append(m)
            return m

    monkeypatch.setattr(fwa, "mmap", types.SimpleNamespace(
        mmap=Mapping, ACCESS_READ=mmap.ACCESS_READ))
    good = [LINES[0], LINES[1], LINES[3], LINES[4]]
    p = tmp_path / "feed.txt"
    p.write_bytes(("\r\n".join(good) + "\r\n").encode())
    # one row per range, then all rows in one range: single-row column
    # slices are contiguous views, the case a zero-copy slice aliases
    for cores in (len(good), 1):
        made.clear()
        rows = _rows(_reader(str(p), cores))
        assert made and all(m.closed for m in made)
        assert [r["name"] for r in rows] == \
            ["alpha   ", "beta  x ", "        ", "padded  "]


# ------------------------------------------------------ rune slicing

UTF8_SCHEMA = {"type": "record", "name": "u", "fields": [
    {"name": "id", "type": "int", "len": 4},
    {"name": "flag", "type": "boolean", "len": 2},
    {"name": "name", "type": "string", "len": 6},
    {"name": "raw", "type": "bytes", "len": 3},
    {"name": "ts", "len": 30,
     "type": {"type": "long", "logicalType": "timestamp-micros"}},
]}
TS = "1995-06-15-10.30.00.5"
UTF8_LINES = [
    "   1" "J " "名前abcd" "é日1" + TS.ljust(30),
    "   2" "Jé" "åäöxyz" "abc" + "1995-06-15-10.30.00.12".ljust(29) + "ü",
    "  é3" "N " "abcdef" "é  " + "1995é06-15-10.30.00".ljust(30),
    "１２  " "Y " "ab    " "xyz" + (TS + "é").ljust(30),  # full-width digits
    "   5" "  " "asci5 " "ab " + TS.ljust(29),        # a rune short
    "   6" "n " "asci6 " "ab " + TS.ljust(30) + "extra",
]


def test_utf8_feed_equals_reference(spark, tmp_path):
    """Non-ASCII runes anywhere, also in typed fields, and lines of the
    wrong width: the kernel agrees with the reference, quarantine
    included, through both adapters."""
    from shredder_spark.sources.fixedwidth import read_fixed_width

    p = tmp_path / "u.txt"
    p.write_bytes(("\r\n".join(UTF8_LINES) + "\r\n").encode())
    got = read_fixed_width(spark, str(p), UTF8_SCHEMA, with_quarantine=True)
    want = read_fixed_width_reference(spark, str(p), UTF8_SCHEMA,
                                      with_quarantine=True)
    _assert_equal(got.clean, want.clean)
    _assert_equal(got.quarantine, want.quarantine)
    _assert_equal(read_fixed_width_arrow_ds(spark, str(p),
                                            json.dumps(UTF8_SCHEMA), cores=2),
                  read_fixed_width_reference(spark, str(p), UTF8_SCHEMA))
    rows = {r.name: r for r in read_fixed_width(
        spark, str(p), UTF8_SCHEMA).collect()}
    assert rows["名前abcd"].id == 1 and bytes(rows["名前abcd"].raw) == "é日1".encode()
    assert rows["åäöxyz"].flag is True and rows["åäöxyz"].ts.microsecond == 120000
    assert rows["abcdef"].id is None and rows["abcdef"].ts is not None
    assert rows["ab    "].id is None and rows["ab    "].ts is None


def test_parse_never_imports_pandas(tmp_path):
    """Masked arrays are built from buffers: a fresh process that parses
    batches with NULLs in every type, on the byte-matrix path and on the
    rune path with quarantine, never imports pandas."""
    import os
    import subprocess
    import sys

    ascii_feed, utf8_feed = tmp_path / "a.txt", tmp_path / "u.txt"
    ascii_feed.write_bytes(("\r\n".join(LINES) + "\r\n").encode())
    utf8_lines = LINES[1:3] + ["é" + LINES[2][1:], "short"]
    utf8_feed.write_bytes(("\r\n".join(utf8_lines) + "\r\n").encode())
    code = """
import json, sys
import numpy as np
from shredder_spark.avro_schema import parse_avro_fixed_schema
from shredder_spark.sources.fixedwidth_arrow import (
    FixedWidthArrowReader, _split_lines, parse_lines)
schema, ascii_feed, utf8_feed = sys.argv[1:]
fs = parse_avro_fixed_schema(schema)
reader = FixedWidthArrowReader({"path": ascii_feed, "cores": "1"}, fs)
[batch] = [b for part in reader.partitions() for b in reader.read(part)]
checked = parse_lines(_split_lines(np.fromfile(utf8_feed, np.uint8)), fs,
                      quarantine=True)
for b in (batch, checked):
    assert all(b.column(f.name).null_count for f in fs.fields
               if f.type_name != "string"), b
errors = checked.column("_errors").to_pylist()
assert errors[0] == [] and errors[3] == ["row_width:5"], errors
assert "bad_id" in errors[1] and "bad_id" in errors[2], errors
assert "pandas" not in sys.modules
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code, json.dumps(SCHEMA),
                    str(ascii_feed), str(utf8_feed)], check=True, cwd=root)
