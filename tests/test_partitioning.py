"""spread_small_input / estimated_scan_splits (r12 optimization: the
operator-library local-parallelism guard probes scan splits from file
sizes instead of a per-call .rdd materialization)."""

from __future__ import annotations

import pyspark.sql.functions as F

from shredder_spark.catalog import load_table
from shredder_spark.partitioning import (
    estimated_scan_splits, spread_small_input)

SF = "/root/testdata/sf0.001"


def test_estimated_splits_small_parquet(spark):
    docs = load_table(spark, SF, "documents")
    est = estimated_scan_splits(docs)
    # single small file → one estimated split
    assert est == 1


def test_spread_small_input_repartitions(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    out = spread_small_input(docs, "doc_id")
    par = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == par
    # row multiset preserved
    assert out.count() == docs.count()
    assert (out.select(F.sum("doc_id")).first()[0]
            == docs.select(F.sum("doc_id")).first()[0])


def test_spread_no_file_backing_falls_back(spark):
    # range() has no input files → .rdd fallback; already ≥ par → no-op
    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, par)
    out = spread_small_input(df)
    assert out.rdd.getNumPartitions() == par

    one = spark.range(0, 1000, 1, 1)
    assert spread_small_input(one).rdd.getNumPartitions() == par


def test_spread_big_scan_is_noop(spark, monkeypatch):
    import shredder_spark.partitioning as P
    docs = load_table(spark, SF, "documents")
    monkeypatch.setattr(P, "estimated_scan_splits", lambda df: 1 << 20)
    assert P.spread_small_input(docs) is docs


def test_remote_input_reads_named_sentinel(spark, monkeypatch):
    import shredder_spark.partitioning as P
    docs = load_table(spark, SF, "documents")
    monkeypatch.setattr(docs, "inputFiles",
                        lambda: ["s3a://bucket/documents.parquet"])
    assert P.estimated_scan_bytes(docs) == P.REMOTE_SCAN_BYTES
    assert estimated_scan_splits(docs) == 1 << 30


def test_scan_estimate_lists_input_files_once(spark, monkeypatch):
    docs = load_table(spark, SF, "documents")
    files = docs.inputFiles()
    calls = []

    def listing():
        calls.append(1)
        return files

    monkeypatch.setattr(docs, "inputFiles", listing)
    assert estimated_scan_splits(docs) == 1
    assert len(calls) == 1
