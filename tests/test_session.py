"""The core-count default shared by the session, the fixed-width
reader and the fused ingest kernel."""

from __future__ import annotations

import os

from shredder_spark.session import default_cpus


def test_default_cpus_is_the_affinity_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))


def test_default_cpus_honours_the_variable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_reader_defaults_to_default_cpus(monkeypatch, tmp_path):
    from shredder_spark.avro_schema import parse_avro_fixed_schema
    from shredder_spark.sources.fixedwidth_arrow import FixedWidthArrowReader
    from tests.fixtures import F1_WEBLOG_SCHEMA, write_f1

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    path = str(tmp_path / "f1.txt")
    write_f1(path)
    reader = FixedWidthArrowReader(
        {"path": path}, parse_avro_fixed_schema(F1_WEBLOG_SCHEMA))
    assert reader.cores == len(os.sched_getaffinity(0))
    assert len(reader.partitions()) == reader.cores


def test_control_pin_follows_the_core_count(monkeypatch):
    from shredder_spark.benchcontrol import CONTROL_REF_S, control_ref_s

    assert CONTROL_REF_S[32] == 0.40
    for cores, pin in ((4, CONTROL_REF_S[4]), (2, CONTROL_REF_S[4]),
                       (32, 0.40), (48, 0.40)):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cores))
        assert control_ref_s() == pin, cores
