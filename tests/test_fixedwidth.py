"""Fixed-width source tests over FIXTURES.md F1–F4."""

from __future__ import annotations

import datetime

import pytest

from shredder_spark.avro_schema import parse_avro_fixed_schema
from shredder_spark.sources.fixedwidth import read_fixed_width
from tests import fixtures


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fw")
    fixtures.write_f1(str(d / "f1.txt"))
    fixtures.write_f2(str(d / "f2.txt"))
    fixtures.write_f3(str(d / "f3.txt"))
    fixtures.write_f4(str(d / "f4.txt"))
    return d


def test_schema_compile():
    fs = parse_avro_fixed_schema(fixtures.F1_WEBLOG_SCHEMA)
    assert [f.name for f in fs.fields] == [
        "Idnr", "Event_time", "Idnr2", "Ok", "Some_text1", "Some_text2"]
    assert fs.row_width == 101
    st = fs.to_struct_type()
    assert st["Event_time"].dataType.typeName() == "timestamp"
    assert st["Idnr"].metadata["len"] == 8


def test_f1_weblog(spark, fixture_dir):
    df = read_fixed_width(spark, str(fixture_dir / "f1.txt"), fixtures.F1_WEBLOG_SCHEMA)
    rows = df.orderBy("Idnr").collect()
    assert len(rows) == 1000
    r0 = rows[0]
    assert r0.Idnr == 0
    assert r0.Ok is True  # 'J'
    assert rows[1].Ok is False  # 'N'
    assert rows[2].Ok is True  # 'y'
    assert r0.Some_text1.rstrip() == "text1-0"  # strings keep padding
    assert len(r0.Some_text1) == 30
    assert r0.Event_time.year == 2020 and r0.Event_time.month == 7


def test_f2_alltypes_golden(spark, fixture_dir):
    df = read_fixed_width(spark, str(fixture_dir / "f2.txt"), fixtures.F2_ALLTYPES_SCHEMA)
    rows = df.collect()
    assert len(rows) == 500  # footer line excluded
    import random
    rng = random.Random(42)
    r = rows[0]
    assert r.B is True
    assert bytes(r.Raw) == b"b000"
    f = rng.uniform(-1000, 1000)
    assert abs(r.F - f) < 1e-2
    d = rng.uniform(-1e6, 1e6)
    assert abs(r.D - d) < 1e-4
    assert r.I == rng.randrange(-99999, 99999)
    assert r.L == rng.randrange(-10**11, 10**11)
    assert r.S == "s0  padded".ljust(16)
    dt_frac = rng.randrange(10**6)
    assert r.Dt == datetime.date(2020, 7, 9)
    ms_frac = rng.randrange(1000)
    # intended semantics: real epoch millis (reference bug returned seconds)
    assert r.Tsm.microsecond == ms_frac * 1000
    us_frac = rng.randrange(10**6)
    assert r.Tsu.microsecond == us_frac
    # null boolean for 'N'? index 4 is 'N' → False; index 2 'Y' → True
    assert rows[4].B is False


def test_f3_utf8_rune_boundaries(spark, fixture_dir):
    df = read_fixed_width(spark, str(fixture_dir / "f3.txt"), fixtures.F3_UTF8_SCHEMA)
    rows = df.orderBy("Id").collect()
    assert len(rows) == 200
    assert rows[0].Name.rstrip() == "åäö-nm"
    assert rows[0].City.rstrip() == "東京"
    assert rows[0].Note.rstrip() == "n0-ééé"
    assert rows[1].Name.rstrip() == "日本語"
    # every field is exactly its rune width
    assert all(len(r.Name) == 8 and len(r.City) == 8 for r in rows)


def test_f4_quarantine(spark, fixture_dir):
    res = read_fixed_width(
        spark, str(fixture_dir / "f4.txt"), fixtures.F1_WEBLOG_SCHEMA,
        with_quarantine=True)
    clean = res.clean.collect()
    bad = res.quarantine.collect()
    # Strict CRLF framing: the stray LF-only terminator at row 3 merges
    # rows 3+4 into one (quarantined) record, and row 99's LF leaves a
    # trailing \n → 99 records total, 10 quarantined (row 4 is collateral
    # of row 3's framing error).
    assert len(clean) + len(bad) == 99
    assert len(bad) == 10
    reasons = {e for r in bad for e in r._errors}
    assert any(e.startswith("row_width:") for e in reasons)
    assert "bad_Idnr" in reasons
    assert "bad_Event_time" in reasons
    # clean side fully typed, no nulls in fallible columns
    assert all(r.Idnr is not None and r.Event_time is not None for r in clean)


def test_observed_ingest_report(spark, tmp_path):
    """A30 parity: in-job metrics via observe() — no second scan —
    match the actual row/char totals, and the report renders."""
    import pyspark.sql.functions as F

    from shredder_spark.metrics import ObservedIngest
    from tests.fixtures import F1_WEBLOG_SCHEMA, write_f1

    p = tmp_path / "f1.txt"
    write_f1(str(p), rows=500)
    df = read_fixed_width(spark, str(p), F1_WEBLOG_SCHEMA)
    obs = ObservedIngest(df, size_col="Some_text1")
    report = obs.time(lambda d: d.write.format("noop").mode("overwrite").save())
    assert report.rows == 500
    exact = df.agg(F.sum(F.length("Some_text1"))).first()[0]
    assert report.chars == exact
    assert report.wall_s > 0 and "MB/s" in report.render()


def test_gzipped_input_equals_plain(spark, fixture_dir, tmp_path):
    """The text source decompresses gzip on the way: a gzipped F1 reads
    as the same rows as the plain file."""
    import gzip
    import shutil

    gz = tmp_path / "f1.txt.gz"
    with open(fixture_dir / "f1.txt", "rb") as src, gzip.open(gz, "wb") as dst:
        shutil.copyfileobj(src, dst)
    plain = read_fixed_width(spark, str(fixture_dir / "f1.txt"),
                             fixtures.F1_WEBLOG_SCHEMA)
    unzipped = read_fixed_width(spark, str(gz), fixtures.F1_WEBLOG_SCHEMA)
    assert unzipped.count() == 1000
    assert unzipped.exceptAll(plain).count() == 0
    assert plain.exceptAll(unzipped).count() == 0


def test_encoding_accepts_only_utf8(spark, fixture_dir):
    """Fields are sliced by rune whatever the bytes: ``encoding`` names
    no other mode."""
    path = str(fixture_dir / "f3.txt")
    assert read_fixed_width(spark, path, fixtures.F3_UTF8_SCHEMA,
                            encoding="utf8").count() == 200
    with pytest.raises(ValueError, match="encoding"):
        read_fixed_width(spark, path, fixtures.F3_UTF8_SCHEMA,
                         encoding="ascii")
