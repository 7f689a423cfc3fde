"""Streaming behavioral tests (B55–B61): stream result == batch oracle."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from shredder_spark.catalog import load_table
from shredder_spark.streaming.replay import replay_stream
from shredder_spark.streaming.stateful import (
    dedup_stream, running_counts_stateful, stream_static_join,
)
from shredder_spark.streaming.windows import (
    session_counts, sliding_counts, tumbling_counts, with_watermark,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF, "events")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, events):
    batch = tumbling_counts(events)
    stream = replay_stream(spark, events, lambda s: tumbling_counts(with_watermark(s)))
    assert _sorted(stream) == _sorted(batch)


def test_sliding_stream_equals_batch(spark, events):
    batch = sliding_counts(events)
    stream = replay_stream(spark, events, lambda s: sliding_counts(with_watermark(s)))
    assert _sorted(stream) == _sorted(batch)


def test_session_stream_equals_batch(spark, events):
    # No watermark: the replay files interleave event times arbitrarily,
    # so a watermark would (correctly) drop "late" rows and diverge from
    # batch; complete mode keeps all session state instead.
    batch = session_counts(events)
    stream = replay_stream(spark, events, session_counts)
    assert _sorted(stream) == _sorted(batch)


def test_streaming_dedup(spark, events):
    # duplicate every event, stream, dedup by event_id
    doubled = events.unionAll(events)
    got = replay_stream(
        spark, doubled, lambda s: dedup_stream(s, ["event_id"]),
        output_mode="append")
    assert got.count() == events.select("event_id").distinct().count()


def test_watermark_drops_late_rows(spark, events):
    """B58: with watermark W, a row arriving after the watermark passed
    its window is dropped. Construct two files: file A with max ts, file
    B with very old rows — processed after A's watermark advanced."""
    import os, tempfile
    root = tempfile.mkdtemp(prefix="late_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    head = events.orderBy(F.desc("ts")).limit(200)
    late = events.orderBy(F.asc("ts")).limit(50).withColumn(
        "ts", F.expr("ts - INTERVAL 365 DAYS"))
    head.coalesce(1).write.mode("append").parquet(src)
    late.coalesce(1).write.mode("append").parquet(src)

    collected = []

    def _sink(bdf, _):
        collected.clear()
        collected.extend(bdf.collect())

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    agg = tumbling_counts(with_watermark(stream, "10 minutes"))
    q = (agg.writeStream.outputMode("complete")
         .option("checkpointLocation", os.path.join(root, "ckpt"))
         .foreachBatch(_sink).trigger(availableNow=True).start())
    q.awaitTermination(300)
    total = sum(r.c for r in collected)
    # parquet file listing order isn't guaranteed; accept either full
    # drop (late file second) or full inclusion (late file first) but
    # assert the mechanism didn't double-count
    assert total in (200, 250)


def test_stateful_running_counts(spark, events):
    got = replay_stream(
        spark, events, running_counts_stateful, output_mode="update")
    # last emission per user == batch count
    final = {}
    for r in got.collect():
        final[r.user_id] = max(r.n, final.get(r.user_id, 0))
    batch = {r.user_id: r.n for r in
             events.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert final == batch


def test_stream_static_join(spark, events):
    customer = load_table(spark, SF, "customer")
    batch = stream_static_join(events, customer).select("event_id", "c_mktsegment")
    got = replay_stream(
        spark, events,
        lambda s: stream_static_join(s, customer).select("event_id", "c_mktsegment"),
        output_mode="append")
    assert _sorted(got) == _sorted(batch)


def test_streaming_fixedwidth_ingest_to_avro(spark, tmp_path):
    """Continuous reference pipeline: fixed-width landing dir →
    readStream.text → typed columns → foreachBatch Avro OCF sink; the
    materialized output must equal the batch read of the same files."""
    import os

    from shredder_spark.sinks.avro import read_avro_ocf, write_avro_ocf
    from shredder_spark.sources.fixedwidth import (
        read_fixed_width, read_fixed_width_stream)
    from tests.fixtures import F1_WEBLOG_SCHEMA, write_f1

    land = tmp_path / "landing"
    land.mkdir()
    # three files "arriving" before the run; availableNow drains them all
    for i in range(3):
        write_f1(str(land / f"f{i}.txt"), rows=200)

    out = str(tmp_path / "avro_out")
    stream = read_fixed_width_stream(spark, str(land), F1_WEBLOG_SCHEMA,
                                     max_files_per_trigger=1)

    def _sink(bdf, epoch_id):
        write_avro_ocf(bdf, os.path.join(out, f"epoch={epoch_id}"))

    q = (stream.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .foreachBatch(_sink).trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = read_avro_ocf(spark, os.path.join(out, "*"))
    batch = read_fixed_width(spark, str(land), F1_WEBLOG_SCHEMA)
    assert got.count() == batch.count() == 600
    key = [r for r in got.orderBy("Idnr").limit(3).collect()]
    exp = [r for r in batch.orderBy("Idnr").limit(3).collect()]
    assert [tuple(r) for r in key] == [tuple(r) for r in exp]

    # one more file lands; a restart from the checkpoint ingests only
    # that file (the file-source log is exactly-once per file)
    seen = set(os.listdir(out))
    write_f1(str(land / "f3.txt"), rows=50)
    q = (stream.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .foreachBatch(_sink).trigger(availableNow=True).start())
    q.awaitTermination(300)
    new = sorted(set(os.listdir(out)) - seen)
    assert len(new) == 1, new  # maxFilesPerTrigger=1: one new epoch
    got_new = read_avro_ocf(spark, os.path.join(out, new[0]))
    want_new = read_fixed_width(spark, str(land / "f3.txt"), F1_WEBLOG_SCHEMA)
    assert got_new.count() == 50
    assert got_new.exceptAll(want_new).count() == 0
    assert want_new.exceptAll(got_new).count() == 0


def test_stream_stream_interval_join(spark, events, tmp_path):
    """Stream-stream inner interval join == the same batch join
    (signups within 1 day before each purchase, per user)."""
    import os

    from shredder_spark.streaming.joins import interval_join

    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id"), F.col("ts").alias("p_ts"))
    signups = events.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("s_id"), F.col("user_id").alias("s_user"),
        F.col("ts").alias("s_ts"))

    exp = sorted(
        (r.p_id, r.s_id) for r in interval_join(
            purchases, signups.withColumnRenamed("s_user", "user_id"), "user_id",
            left_ts="p_ts", right_ts="s_ts", streaming=False)
        .select("p_id", "s_id").collect())
    assert exp, "fixture must produce joined pairs"

    pdir, sdir = str(tmp_path / "p"), str(tmp_path / "s")
    purchases.repartition(3).write.parquet(pdir)
    signups.withColumnRenamed("s_user", "user_id").repartition(3).write.parquet(sdir)
    ps = spark.readStream.schema(
        purchases.schema).option("maxFilesPerTrigger", 1).parquet(pdir)
    ss = spark.readStream.schema(
        signups.withColumnRenamed("s_user", "user_id").schema
    ).option("maxFilesPerTrigger", 1).parquet(sdir)

    # file replay delivers rows out of event-time order; a watermark
    # wider than the fixture's span keeps state until every match is
    # seen, making streaming == batch exactly (a tight watermark drops
    # late rows BY DESIGN — that behavior is covered by
    # test_watermark_drops_late_rows)
    out = interval_join(ps, ss, "user_id", left_ts="p_ts", right_ts="s_ts",
                        watermark="60 days")
    collected: list = []

    def _sink(bdf, _):
        collected.extend(bdf.select("p_id", "s_id").collect())

    q = (out.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .foreachBatch(_sink).trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = sorted((r.p_id, r.s_id) for r in collected)
    assert got == exp


def test_transform_with_state_gated(spark, events):
    """B60 successor API (transformWithStateInPandas): equivalence with
    the batch sum when the environment can run it; otherwise skip with
    the documented failure signature (the TWS state server needs
    google.protobuf, absent in this container — see
    streaming/stateful.py docstring)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from shredder_spark.streaming.stateful import running_value_sum_tws

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        got = replay_stream(
            spark, events, running_value_sum_tws, output_mode="update")
    except StreamingQueryException as e:
        assert "TransformWithStateInPySpark driver worker" in str(e)
        pytest.skip("transformWithStateInPandas needs google.protobuf "
                    "(not installed in this container)")
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    final: dict = {}
    for r in got.collect():
        final[r.user_id] = r.s  # update mode: later batches overwrite
    batch = {r.user_id: float(r.s) for r in
             events.groupBy("user_id").agg(F.sum("value").alias("s")).collect()}
    assert {k: round(v, 6) for k, v in final.items()} == \
        {k: round(v, 6) for k, v in batch.items()}
