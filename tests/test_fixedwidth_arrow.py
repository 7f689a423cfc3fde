"""The numpy fixed-width reader vs the expression tier.

The contract is EQUALITY: on an ASCII feed both tiers produce the same
typed rows (the numpy reader is the throughput path, the expression
tier is the semantics reference — itself golden-tested in
test_fixedwidth.py). Edge legs cover bad numerics → null, integer
overflow → null, footer stop, blank lines, fraction-less timestamps,
pre-1970 dates, and the ragged-line fallback, each against the
expression tier's output.
"""

from __future__ import annotations

import json

import pytest

from shredder_spark.sources.fixedwidth import read_fixed_width
from shredder_spark.sources.fixedwidth_arrow import read_fixed_width_arrow_ds

SCHEMA = {
    "type": "record",
    "name": "edge",
    "encoding": "ascii",
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
    e = read_fixed_width(spark, feed, SCHEMA)
    _assert_equal(a, e)


def test_footer_stops_scan(spark, tmp_path):
    # reference semantics (ColumnBuilder.go:211-214): the footer
    # TERMINATES the scan — rows after it never parse. The numpy
    # reader implements termination; the expression tier approximates it with a filter, which only
    # matches when the footer is the last line (the real-feed shape).
    p = tmp_path / "footer.txt"
    body = [LINES[0], "*" * 12 + " trailer".ljust(W - 20), LINES[1]]
    p.write_bytes(("\r\n".join(body) + "\r\n").encode())
    a = read_fixed_width_arrow_ds(spark, str(p), json.dumps(SCHEMA),
                                  cores=1)
    assert a.count() == 1
    assert a.collect()[0].id == 1


def test_ragged_lines_fallback(spark, tmp_path):
    # short and long lines exercise the pad/truncate fallback; the
    # expression tier handles these via substring semantics, so only
    # row counts and the well-formed row are compared
    p = tmp_path / "ragged.txt"
    p.write_bytes((LINES[0] + "\r\n" + "short\r\n").encode())
    a = read_fixed_width_arrow_ds(spark, str(p), json.dumps(SCHEMA),
                                  cores=1)
    assert a.count() == 2
    good = a.filter("id = 1").collect()[0]
    assert good.qty == 10 and good.name == "alpha   "


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
    schema = {"type": "record", "name": "ovf", "encoding": "ascii",
              "fields": [{"name": "i", "type": "int", "len": 11},
                         {"name": "l", "type": "long", "len": 20}]}
    rows = [("99999999999", "99999999999999999999"),
            ("3000000000", "12"),
            ("-2147483648", "-9223372036854775808"),
            ("xx", "9223372036854775808")]
    p = tmp_path / "ovf.txt"
    p.write_bytes("".join(f"{i:>11}{l:>20}\r\n" for i, l in rows).encode())
    a = read_fixed_width_arrow_ds(spark, str(p), json.dumps(schema))
    e = read_fixed_width(spark, str(p), schema)
    _assert_equal(a, e)
    assert sorted(map(tuple, a.collect()), key=repr) == sorted(
        [(None, None), (None, 12), (-2147483648, -9223372036854775808),
         (None, None)], key=repr)
