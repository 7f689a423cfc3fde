"""Kafka wire-protocol tier: produce→consume round trip over real
sockets against an in-process broker speaking the public protocol
(tests/kafka_toy_broker.py — a second, independent implementation of
the published encodings, so this is spec conformance, not echoing).

Closes the round-4 "Kafka paths byte-verified offline only" gap to
the extent possible without a real cluster: record-batch v2 bytes,
CRC32C, Produce v3 / Fetch v4 framing, broker offset assignment,
partition pinning, the Metadata v0 probe, and the full
prepare_kafka_batch → wire → de-frame → Avro-decode loop."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from shredder_spark.sinks import kafka_wire as kw
from shredder_spark.sinks.config import TopicsNotFoundError, ensure_topics
from tests.kafka_toy_broker import ToyKafkaBroker


def test_crc32c_known_answers():
    # RFC 3720 B.4 check value
    assert kw.crc32c(b"123456789") == 0xE3069283
    assert kw.crc32c(b"") == 0
    assert kw.crc32c(bytes(32)) == 0x8A9136AA


def test_varint_round_trip():
    for n in (0, 1, -1, 63, -64, 64, 300, -301, 2**31 - 1, -2**31,
              2**62, -2**62):
        buf = kw.write_varint(n)
        got, pos = kw.read_varint(buf, 0)
        assert got == n and pos == len(buf)


def test_record_batch_round_trip():
    records = [(b"k0", b"v0"), (None, b"null-key"), (b"", b""),
               (b"k3", bytes(range(256)))]
    batch = kw.encode_record_batch(records)
    got = list(kw.decode_record_batches(batch))
    assert [(o, k, v) for o, (k, v) in zip(range(4), records)] == got


def test_record_batch_crc_detects_corruption():
    batch = bytearray(kw.encode_record_batch([(b"k", b"v")]))
    batch[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        list(kw.decode_record_batches(bytes(batch)))


def test_produce_fetch_round_trip_and_offsets():
    with ToyKafkaBroker() as broker:
        p = kw.KafkaWireProducer(broker.bootstrap)
        for i in range(5):
            p.send("t1", 0, f"k{i}".encode(), f"v{i}".encode())
        p.send("t1", 1, None, b"other-partition")
        bases = p.flush()
        assert bases[("t1", 0)] == 0 and bases[("t1", 1)] == 0
        # second flush: broker assigns continuing offsets
        p.send("t1", 0, b"k5", b"v5")
        assert p.flush()[("t1", 0)] == 5

        got = kw.consume_all(broker.bootstrap, "t1", 0)
        assert [(o, k.decode(), v.decode()) for o, k, v in got] == [
            (i, f"k{i}", f"v{i}") for i in range(6)]
        assert kw.consume_all(broker.bootstrap, "t1", 1) == [
            (0, None, b"other-partition")]
        # offset seek: start mid-log
        assert [o for o, _, _ in
                kw.consume_all(broker.bootstrap, "t1", 0,
                               from_offset=4)] == [4, 5]


def test_metadata_probe_against_broker():
    with ToyKafkaBroker() as broker:
        p = kw.KafkaWireProducer(broker.bootstrap)
        p.send("known", 0, None, b"x")
        p.flush()
        ensure_topics(["known"], broker.bootstrap)  # no raise
        with pytest.raises(TopicsNotFoundError):
            ensure_topics(["known", "missing"], broker.bootstrap)


def test_distributed_read_matches_driver_consume(spark):
    """read_kafka_wire (one Spark task per partition) returns exactly
    what driver-side consume_all sees, de-framed identically."""
    with ToyKafkaBroker() as broker:
        p = kw.KafkaWireProducer(broker.bootstrap)
        for part in range(3):
            for i in range(7):
                p.send("rt", part, f"{part}:{i}".encode(),
                       f"payload-{part}-{i}".encode())
        p.flush()
        df = kw.read_kafka_wire(spark, "rt", broker.bootstrap, [0, 1, 2])
        got = {(r.partition, r.offset, bytes(r.key), bytes(r.value))
               for r in df.collect()}
        want = {(part, off, key, value)
                for part in range(3)
                for off, key, value in kw.consume_all(
                    broker.bootstrap, "rt", part)}
        assert got == want and len(got) == 21


def test_end_to_end_framed_avro_through_broker(spark):
    """The reference pipeline A22/A23/A26/A27 shape over real sockets:
    typed rows → Avro + Confluent framing + partition pinning
    (prepare_kafka_batch) → wire produce from executors → fetch →
    de-frame → Avro-decode → original values, partitions preserved."""
    from shredder_spark.sinks.avro import spark_schema_to_avro
    from shredder_spark.sinks.avro_codec import RecordCodec
    from shredder_spark.sinks.kafka import prepare_kafka_batch

    src = (spark.range(40)
           .select(F.col("id").alias("k"),
                   (F.col("id") * 7 % 13).alias("v"),
                   F.concat(F.lit("row-"), F.col("id")).alias("s"))
           .repartition(3))
    batch = prepare_kafka_batch(src, schema_id=7, key_col="k")
    avro_schema = spark_schema_to_avro(src.select("k", "v", "s").schema)

    with ToyKafkaBroker() as broker:
        kw.write_kafka_wire(batch, "docs", broker.bootstrap)
        rows = {}
        for part in range(3):
            for off, key, value in kw.consume_all(
                    broker.bootstrap, "docs", part):
                # Confluent frame: magic 0 + big-endian schema id 7
                assert value[0] == 0
                assert int.from_bytes(value[1:5], "big") == 7
                rec = RecordCodec(avro_schema).decode(value[5:])
                rows[int(key.decode())] = (rec, part)
    assert len(rows) == 40
    want = {r.k: (r.v, r.s) for r in src.collect()}
    for k, ((kk, vv, ss), _part) in rows.items():
        assert kk == k and (vv, ss) == want[k]
    # partition pinning: each spark partition landed wholly in one
    # kafka partition
    by_part = {}
    for k, (_rec, part) in rows.items():
        by_part.setdefault(part, set()).add(k)
    assert len(by_part) == 3


def _compacted_batch(offset_deltas, last_offset_delta, base=0):
    """Hand-craft a v2 batch whose records sit at the given offset
    deltas but whose lastOffsetDelta claims a wider span — exactly
    what log compaction leaves behind (removed records keep their
    offsets reserved; KIP-98 preserves lastOffsetDelta)."""
    import struct

    body = bytearray()
    for d in offset_deltas:
        rec = bytearray()
        rec += b"\x00"
        rec += kw.write_varint(0)
        rec += kw.write_varint(d)
        rec += kw.write_varint(-1)                   # null key
        val = f"v{d}".encode()
        rec += kw.write_varint(len(val))
        rec += val
        rec += kw.write_varint(0)
        body += kw.write_varint(len(rec))
        body += rec
    after_crc = bytearray()
    after_crc += struct.pack(">h", 0)
    after_crc += struct.pack(">i", last_offset_delta)
    after_crc += struct.pack(">qq", 0, 0)
    after_crc += struct.pack(">qhi", -1, -1, -1)
    after_crc += struct.pack(">i", len(offset_deltas))
    after_crc += body
    batch = bytearray()
    batch += struct.pack(">q", base)
    batch += struct.pack(">i", 4 + 1 + 4 + len(after_crc))
    batch += struct.pack(">i", -1)
    batch += struct.pack(">b", 2)
    batch += struct.pack(">I", kw.crc32c(bytes(after_crc)))
    batch += after_crc
    return bytes(batch)


def test_decode_reports_batch_end_offsets():
    batch = _compacted_batch([0, 1], last_offset_delta=5, base=10)
    ends: list[int] = []
    got = list(kw.decode_record_batches(batch, ends))
    assert [o for o, _, _ in got] == [10, 11]
    assert ends == [16]                              # base + lastDelta + 1


def test_consume_all_advances_past_compacted_batches():
    """A fetch whose batches contain only records below from_offset
    (compacted log) must advance the offset to the batch end and keep
    reading — not silently truncate (round-5 ADVICE, kafka_wire:365)."""
    import struct

    class OneBatchBroker(ToyKafkaBroker):
        """Real brokers bound each fetch response; returning one batch
        per fetch forces the multi-fetch resume path."""

        def _fetch_v4(self, req, pos, corr):
            pos += 4 + 4 + 4 + 4 + 1
            (n_topics,) = struct.unpack_from(">i", req, pos)
            pos += 4
            assert n_topics == 1
            from tests.kafka_toy_broker import _read_str, _str
            topic, pos = _read_str(req, pos)
            pos += 4                                  # n_parts == 1
            part, offset, _maxb = struct.unpack_from(">iqi", req, pos)
            with self._lock:
                key = (topic, part)
                hwm = self._hwm.get(key, 0)
                batches = [b for bb, n, b in self._log.get(key, [])
                           if bb + n > offset][:1]
            record_set = b"".join(batches)
            out = bytearray(struct.pack(">i", corr))
            out += struct.pack(">i", 0)
            out += struct.pack(">i", 1)
            out += _str(topic)
            out += struct.pack(">i", 1)
            out += struct.pack(">ihqq", part, 0, hwm, hwm)
            out += struct.pack(">i", 0)
            out += struct.pack(">i", len(record_set)) + record_set
            return bytes(out)

    with OneBatchBroker() as broker:
        # log: batch A holds offsets {0,1} of span [0,5] (2..5
        # compacted away); batch B holds offsets {6,7}.
        with broker._lock:
            broker._log[("c", 0)] = [
                (0, 6, _compacted_batch([0, 1], 5, base=0)),
                (6, 2, _compacted_batch([0, 1], 1, base=6)),
            ]
            broker._hwm[("c", 0)] = 8
        # from_offset=2: first fetch returns batch A whose surviving
        # records are all < 2 → must advance to 6 and fetch batch B.
        got = kw.consume_all(broker.bootstrap, "c", 0, from_offset=2)
        assert [o for o, _, _ in got] == [6, 7]


def test_write_kafka_wire_null_partition_falls_back(spark):
    """A NULL partition column routes to the task partition id instead
    of crashing the task (round-5 ADVICE, kafka_wire:403)."""
    df = (spark.range(4)
          .select(F.col("id").cast("string").cast("binary").alias("key"),
                  F.concat(F.lit("p-"), F.col("id")).cast("binary")
                   .alias("value"),
                  F.lit(None).cast("int").alias("partition"))
          .coalesce(1))
    with ToyKafkaBroker() as broker:
        kw.write_kafka_wire(df, "nullpart", broker.bootstrap)
        got = kw.consume_all(broker.bootstrap, "nullpart", 0)
        assert sorted(bytes(v).decode() for _, _, v in got) == [
            "p-0", "p-1", "p-2", "p-3"]


def test_kafkawire_format_batch(spark):
    """spark.read.format('kafkawire'): one task per Kafka partition,
    executor-side sockets, same rows as driver consume_all."""
    from shredder_spark.sources.kafka_wire_datasource import (
        register_kafkawire_source)

    with ToyKafkaBroker() as broker:
        p = kw.KafkaWireProducer(broker.bootstrap)
        for part in range(3):
            for i in range(5):
                p.send("fmt", part, f"{part}:{i}".encode(),
                       f"v-{part}-{i}".encode())
        p.flush()
        register_kafkawire_source(spark)
        df = (spark.read.format("kafkawire")
              .option("bootstrap", broker.bootstrap)
              .option("topic", "fmt").option("partitions", "0,1,2")
              .load())
        got = {(r.partition, r.offset, bytes(r.key), bytes(r.value))
               for r in df.collect()}
        want = {(part, off, key, value) for part in range(3)
                for off, key, value in kw.consume_all(
                    broker.bootstrap, "fmt", part)}
        assert got == want and len(got) == 15
        # starting_offsets skips the committed prefix
        df2 = (spark.read.format("kafkawire")
               .option("bootstrap", broker.bootstrap)
               .option("topic", "fmt").option("partitions", "0,1,2")
               .option("starting_offsets", '{"0": 3, "1": 5}')
               .load())
        assert df2.count() == 2 + 0 + 5


import pytest


@pytest.mark.parametrize("partitions", ["0,1"], ids=["partitioned"])
def test_kafkawire_format_streaming_across_restarts(spark, tmp_path,
                                                    partitions):
    """Streaming reader (executor-side, one offset-range split per
    Kafka partition): accumulated stream output == batch consume_all,
    across a produce → stream → produce more → RESTART stream (same
    checkpoint) cycle, no duplicates."""
    from shredder_spark.sources.kafka_wire_datasource import (
        register_kafkawire_source)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    with ToyKafkaBroker() as broker:
        register_kafkawire_source(spark)
        p = kw.KafkaWireProducer(broker.bootstrap)
        for part in (0, 1):
            for i in range(4):
                p.send("st", part, None, f"a-{part}-{i}".encode())
        p.flush()

        def run_once():
            stream = (spark.readStream.format("kafkawire")
                      .option("bootstrap", broker.bootstrap)
                      .option("topic", "st").option("partitions", partitions)
                      .load())
            q = (stream.writeStream.format("parquet")
                 .option("path", out_dir)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination(60)

        run_once()
        # second wave, then restart from the same checkpoint
        for part in (0, 1):
            for i in range(3):
                p.send("st", part, None, f"b-{part}-{i}".encode())
        p.flush()
        run_once()

        got = {(r.partition, r.offset, bytes(r.value))
               for r in spark.read.parquet(out_dir).collect()}
        want = {(part, off, value) for part in (0, 1)
                for off, _k, value in kw.consume_all(
                    broker.bootstrap, "st", part)}
        assert got == want and len(got) == 14


def test_partition_stream_reader_planner_contract():
    """Planner-side semantics of the executor-side streaming tier
    (round-8 verdict task 1), no Spark needed: one offset-range split
    per Kafka partition with data, empty plan when start == end, and
    latestOffset == per-partition high watermarks (never below a
    checkpointed position)."""
    from shredder_spark.sources.kafka_wire_datasource import (
        KafkaWirePartitionStreamReader)

    with ToyKafkaBroker() as broker:
        p = kw.KafkaWireProducer(broker.bootstrap)
        for part, n in ((0, 4), (1, 2)):
            for i in range(n):
                p.send("plan", part, None, f"{part}-{i}".encode())
        p.flush()
        rdr = KafkaWirePartitionStreamReader({
            "bootstrap": broker.bootstrap, "topic": "plan",
            "partitions": "0,1,2"})
        assert rdr.initialOffset() == {"0": 0, "1": 0, "2": 0}
        latest = rdr.latestOffset()
        assert latest == {"0": 4, "1": 2, "2": 0}
        splits = rdr.partitions(rdr.initialOffset(), latest)
        assert {(sp.partition, sp.start, sp.end) for sp in splits} == {
            (0, 0, 4), (1, 0, 2)}  # partition 2 is empty: no split
        assert rdr.partitions(latest, latest) == []
        # read() is executor-shaped: pure function of the split
        rows = sorted(r for sp in splits for r in rdr.read(sp))
        assert [(pt, off, v) for pt, off, _k, v in rows] == [
            (0, 0, b"0-0"), (0, 1, b"0-1"), (0, 2, b"0-2"),
            (0, 3, b"0-3"), (1, 0, b"1-0"), (1, 1, b"1-1")]
        # bounded replay of a committed window re-reads exactly [s, e)
        mid = {"0": 2, "1": 1, "2": 0}
        replay = [r for sp in rdr.partitions(rdr.initialOffset(), mid)
                  for r in rdr.read(sp)]
        assert [(pt, off) for pt, off, _k, _v in replay] == [
            (0, 0), (0, 1), (1, 0)]


def test_partition_stream_reader_max_per_trigger():
    """r12: the maxOffsetsPerTrigger analog — latestOffset admits at
    most max_per_trigger records per microbatch, split evenly across
    partitions, and successive calls walk the backlog in bounded
    steps until the high watermarks are reached (the soak-leg knob:
    a deep backlog replays as steady bounded batches)."""
    from shredder_spark.sources.kafka_wire_datasource import (
        KafkaWirePartitionStreamReader)

    with ToyKafkaBroker() as broker:
        p = kw.KafkaWireProducer(broker.bootstrap)
        for part, n in ((0, 25), (1, 7)):
            for i in range(n):
                p.send("capped", part, None, b"x")
        p.flush()
        rdr = KafkaWirePartitionStreamReader({
            "bootstrap": broker.bootstrap, "topic": "capped",
            "partitions": "0,1", "max_per_trigger": "20"})  # 10/part
        assert rdr.latestOffset() == {"0": 10, "1": 7}
        assert rdr.latestOffset() == {"0": 20, "1": 7}
        assert rdr.latestOffset() == {"0": 25, "1": 7}  # caught up
        assert rdr.latestOffset() == {"0": 25, "1": 7}  # stable
        # unlimited (default) still jumps straight to the watermark
        rdr2 = KafkaWirePartitionStreamReader({
            "bootstrap": broker.bootstrap, "topic": "capped",
            "partitions": "0,1"})
        assert rdr2.latestOffset() == {"0": 25, "1": 7}


def test_list_offsets_multi_partition_round_trip():
    """One batched ListOffsets v1 RPC covers many partitions (the
    planner's per-microbatch probe shape — r10): watermarks for every
    asked partition come back in a single round-trip, including
    never-written partitions (0), and the single-partition helper
    stays byte-compatible as the degenerate case."""
    import socket

    from shredder_spark.sinks.kafka_wire import (
        KafkaWireProducer, _send_request, high_watermark,
        list_offsets_request_multi, parse_list_offsets_response_multi)

    with ToyKafkaBroker() as broker:
        p = KafkaWireProducer(broker.bootstrap)
        for i in range(5):
            p.send("multi", 0, None, b"a")
        for i in range(3):
            p.send("multi", 2, None, b"b")
        p.flush()
        host, _, port = broker.bootstrap.partition(":")
        with socket.create_connection((host, int(port)), 10.0) as sock:
            got = parse_list_offsets_response_multi(_send_request(
                sock, list_offsets_request_multi("multi", [0, 1, 2, 3])))
        assert got == {0: (0, 5), 1: (0, 0), 2: (0, 3), 3: (0, 0)}
        # degenerate single-partition path agrees
        assert high_watermark(broker.bootstrap, "multi", 0) == 5
        assert high_watermark(broker.bootstrap, "multi", 2) == 3
