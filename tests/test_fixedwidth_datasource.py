"""``spark.read.format("fixedwidth")`` and ``read_fixed_width`` — two
adapters over the one parse kernel: both must agree row-for-row with
the expression reference on the ASCII, UTF-8 and dirty fixtures, the
reader must plan exactly ``cores`` chunk-aligned partitions and stop
at the footer, and the streaming tier over a landing directory must
agree with it file by file."""

from __future__ import annotations

import pytest

from shredder_spark.sources.fixedwidth import (
    read_fixed_width, read_fixed_width_stream,
)
from shredder_spark.sources.fixedwidth_arrow import (
    FixedWidthDataSource, read_fixed_width_arrow_ds,
    register_fixedwidth_source,
)
from tests.fixedwidth_reference import read_fixed_width_reference
from tests.fixtures import (
    F1_WEBLOG_SCHEMA, F2_ALLTYPES_SCHEMA, F3_UTF8_SCHEMA,
    write_f1, write_f2, write_f3, write_f4,
)


def _assert_same(got, want):
    # nullability differs (the kernel declares every field nullable)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.mark.parametrize("schema,writer,fname", [
    (F1_WEBLOG_SCHEMA, write_f1, "f1.txt"),
    (F2_ALLTYPES_SCHEMA, write_f2, "f2.txt"),
    (F3_UTF8_SCHEMA, write_f3, "f3.txt"),
    (F1_WEBLOG_SCHEMA, write_f4, "f4.txt"),
])
def test_datasource_matches_expression_tier(spark, tmp_path, schema, writer, fname):
    path = str(tmp_path / fname)
    writer(path)
    _assert_same(read_fixed_width(spark, path, schema),
                 read_fixed_width_reference(spark, path, schema))
    # the byte-range reader ends a line at LF and drops its trailing
    # CRs, as the text source does with its default separators (F4 has
    # LF-only rows, which CRLF framing merges into the next row)
    _assert_same(read_fixed_width_arrow_ds(spark, path, schema, cores=5),
                 read_fixed_width_reference(spark, path, schema, line_sep=None))


def test_partition_planning_and_boundary_alignment(spark, tmp_path):
    # Odd core counts force chunk boundaries mid-line; every row must
    # appear exactly once (reference CRLF-alignment semantics,
    # common/fixed.go:150-164).
    path = str(tmp_path / "f1.txt")
    write_f1(path, rows=1000)
    for cores in (1, 3, 7, 16):
        df = read_fixed_width_arrow_ds(spark, path, F1_WEBLOG_SCHEMA,
                                       cores=cores)
        assert df.rdd.getNumPartitions() == cores
        ids = sorted(r[0] for r in df.select(df.columns[0]).collect())
        assert ids == list(range(1000)), f"cores={cores}"


def test_footer_terminates_scan(spark, tmp_path):
    # F2's writer appends a footer line; with cores=1 nothing after the
    # footer may surface (ColumnBuilder.go:211-214 semantics).
    path = str(tmp_path / "f2.txt")
    write_f2(path, rows=100)
    df = read_fixed_width_arrow_ds(spark, path, F2_ALLTYPES_SCHEMA, cores=1)
    assert df.count() == 100


def test_format_name_registered(spark):
    assert FixedWidthDataSource.name() == "fixedwidth"
    register_fixedwidth_source(spark)
    register_fixedwidth_source(spark)  # idempotent re-register


def test_streaming_tier_tails_landing_dir(spark, tmp_path):
    """Streaming tier: read_fixed_width_stream over a landing directory
    ingests each dropped file exactly once; the accumulated stream
    equals a batch parse of the same files."""
    land = tmp_path / "land"
    land.mkdir()
    write_f1(str(land / "a.txt"), rows=40)
    write_f1(str(land / "b.txt"), rows=25)

    stream = read_fixed_width_stream(spark, str(land), F1_WEBLOG_SCHEMA)
    collected: list = []

    def _sink(bdf, _):
        collected.extend(tuple(r) for r in bdf.collect())

    ck = str(tmp_path / "ck")

    def _drain():
        q = (stream.writeStream.outputMode("append")
             .option("checkpointLocation", ck)
             .foreachBatch(_sink).trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert not q.isActive

    _drain()
    expect = sorted(
        tuple(r)
        for name in ("a.txt", "b.txt")
        for r in read_fixed_width_arrow_ds(
            spark, str(land / name), F1_WEBLOG_SCHEMA).collect())
    assert len(expect) == 65
    assert sorted(collected) == expect

    # second drop: only the new file's rows arrive (exactly-once per file)
    write_f1(str(land / "c.txt"), rows=10)
    collected.clear()
    _drain()
    assert sorted(collected) == sorted(
        tuple(r) for r in read_fixed_width_arrow_ds(
            spark, str(land / "c.txt"), F1_WEBLOG_SCHEMA).collect())
    assert len(collected) == 10
