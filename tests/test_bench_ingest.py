"""bench.py's ingest legs: both shipping tiers timed on perfbench's
generator, the fused output checked against the generated row count
and checksums, the temp input removed whatever happens."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

import bench
from perfbench import gen
from shredder_spark.sinks import avro_vec

INGEST_KEYS = {"input_bytes", "input_lines", "cores", "parse_mb_per_s",
               "parse_mb_per_s_per_core", "avro_mb_per_s",
               "avro_mb_per_s_per_core"}


@pytest.fixture
def small_ingest(monkeypatch):
    """One generator block of input; records the temp dirs made and the
    checksum expressions built."""
    monkeypatch.setattr(bench, "INGEST_ROWS", 60_000)
    made, sums = [], []
    real_mkdtemp, real_sql = tempfile.mkdtemp, gen.checksum_sql

    def mkdtemp(*a, **kw):
        made.append(real_mkdtemp(*a, **kw))
        return made[-1]

    def checksum_sql(name, t):
        sums.append(name)
        return real_sql(name, t)

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    monkeypatch.setattr(gen, "checksum_sql", checksum_sql)
    return made, sums


def test_ingest_legs_report_rates_and_clean_up(spark, small_ingest):
    made, sums = small_ingest
    res = bench._bench_ingest(spark)
    assert set(res["timings"]) == {"ingest_parse", "ingest_avro"}
    assert all(v > 0 for v in res["timings"].values())
    assert set(res["ingest"]) == INGEST_KEYS
    assert res["ingest"]["input_lines"] == 60_000
    assert res["ingest"]["input_bytes"] == 60_000 * (gen.ROW_RUNES + 2)
    # the decoded output was compared column by column, once
    assert sorted(sums) == sorted(n for n, _, _ in gen.FIELDS)
    assert len(made) == 1 and not os.path.exists(made[0])


def test_corrupt_fused_output_raises(spark, small_ingest, monkeypatch):
    made, _ = small_ingest
    real = avro_vec.fixed_width_to_avro_fused

    def drop_one_file(spark, path, schema, out_dir, **kw):
        n = real(spark, path, schema, out_dir, **kw)
        os.remove(sorted(glob.glob(os.path.join(out_dir, "*.avro")))[0])
        return n

    monkeypatch.setattr(avro_vec, "fixed_width_to_avro_fused", drop_one_file)
    with pytest.raises(RuntimeError, match="decodes to"):
        bench._bench_ingest(spark)
    assert len(made) == 1 and not os.path.exists(made[0])
