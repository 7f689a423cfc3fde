"""The Kafka round trip, measured layer by layer inside every traced
``ingest_avro`` run: fixed-width rows → Confluent-framed Avro records on
a Kafka topic, then read back by a streaming query. (A whole run of it
as an end-to-end workload does not fit the benchmark's time budget.)

The produce side is the program's rune-correct expression tier
(``sources.fixedwidth.read_fixed_width``), ``sinks.kafka.prepare_kafka_batch``
and ``write_kafka``; with no Kafka connector on the classpath the records
travel through the pure-Python wire tier to an in-process toy broker
(``tests/kafka_toy_broker.py``) over TCP, one topic of ``cores``
partitions per pass. The consume side is ``read_kafka_stream`` under an
``availableNow`` trigger into a memory sink, and ends when the sink
holds every record.

Checks, every round trip: the sink holds exactly the generated row count;
every value starts with magic byte 0 and the pass's schema id; the
payloads, decoded by Spark's Avro reader, carry the generator's column
checksums; every key is its record's ``order_key``.
"""

from __future__ import annotations

import json
import os
import struct
import sys
import time

from perfbench import gen, ocf
from perfbench.common import Run
from perfbench.ingest import verify_decoded

ROWS = 32_000            # ~17 MB: four input splits, so four partitions
SMOKE_ROWS = 2_000
SCHEMA_ID = 42


def _broker_class(root: str):
    sys.path.insert(0, os.path.join(root, "tests"))
    from kafka_toy_broker import ToyKafkaBroker

    class CountingBroker(ToyKafkaBroker):
        """The toy broker, with its busy time and requests per API
        counted: its CRC checks call the program's own ``crc32c``, so
        part of any CRC speed-up lands here and not in the program."""

        def __init__(self) -> None:
            super().__init__()
            self.busy_s = 0.0
            self.requests: dict[int, int] = {}

        def _dispatch(self, req: bytes) -> bytes:
            t0 = time.perf_counter()
            try:
                return super()._dispatch(req)
            finally:
                api = struct.unpack_from(">h", req, 0)[0]
                with self._lock:
                    self.busy_s += time.perf_counter() - t0
                    self.requests[api] = self.requests.get(api, 0) + 1

        def wire_bytes(self, topic: str) -> int:
            return sum(len(b) for (t, _), log in self._log.items() if t == topic
                       for _, _, b in log)

    return CountingBroker


class Roundtrip:
    def __init__(self, r: Run) -> None:
        self.r = r
        self.rows = SMOKE_ROWS if r.smoke else ROWS
        self.schema = gen.avro_fixed_schema()
        self.input = ""
        self.truth: dict = {}
        self.broker = None
        self.n_pass = 0
        self.value_bytes = 0
        self.last_progress: list = []
        self.avro_schema = ""
        self.records: list[tuple[bytes, bytes]] = []

    def setup(self) -> float:
        """The input file and a broker; returns seconds."""
        self.input = self.r.path("kafka-input.txt")
        t0 = time.perf_counter()
        self.truth = gen.write_fixed_width(self.input, self.r.seed, self.rows,
                                           unicode=True)
        self.broker = _broker_class(self.r.root)().__enter__()
        return time.perf_counter() - t0

    def close(self) -> None:
        if self.broker is not None:
            self.broker.__exit__(None, None, None)
            self.broker = None

    def frame(self):
        """The prepared (key, value, partition) DataFrame."""
        from shredder_spark.sinks.kafka import prepare_kafka_batch
        from shredder_spark.sources.fixedwidth import read_fixed_width

        df = read_fixed_width(self.r.spark, self.input, self.schema,
                              encoding="utf8")
        return prepare_kafka_batch(df, SCHEMA_ID, key_col="order_key")

    def produce(self, topic: str) -> float:
        from shredder_spark.sinks.kafka import write_kafka

        t0 = time.perf_counter()
        write_kafka(self.frame(), topic, self.broker.bootstrap)
        return time.perf_counter() - t0

    def consume(self, topic: str) -> tuple[float, str]:
        from shredder_spark.sinks.kafka import read_kafka_stream

        r = self.r
        name = f"perfbench_{topic}"
        t0 = time.perf_counter()
        q = (read_kafka_stream(r.spark, topic, self.broker.bootstrap,
                               partitions=list(range(r.cores)))
             .writeStream.format("memory").queryName(name)
             .option("checkpointLocation", r.path("ckpt", topic))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        n = r.spark.table(name).count()
        dt = time.perf_counter() - t0
        self.last_progress = [json.loads(p.json) for p in q.recentProgress]
        r.check(q.exception() is None, f"stream failed: {q.exception()}")
        r.check(n == self.rows, f"stream delivered {n} of {self.rows} records")
        return dt, name

    def check(self, table: str) -> None:
        r = self.r
        df = r.spark.table(table)
        bad = df.selectExpr(
            "count_if(substring(value, 1, 1) != X'00') AS magic",
            f"count_if(substring(value, 2, 4) != X'{SCHEMA_ID:08x}') AS sid",
            "count_if(key IS NULL) AS nokey").first().asDict()
        r.check(not any(bad.values()), f"bad framing: {bad}")
        rows = df.selectExpr("key", "value", "substring(value, 6) AS payload",
                             "partition").collect()
        payloads = [bytes(x.payload) for x in rows]
        self.records = [(bytes(x.key), bytes(x.value)) for x in rows if x.partition == 0]
        if r.corrupt and self.n_pass == 1:
            payloads[0] = bytes([payloads[0][0] ^ 0x01]) + payloads[0][1:]
        self.value_bytes = sum(5 + len(p) for p in payloads)
        from shredder_spark.sinks.avro import AVRO_FORMAT, spark_schema_to_avro
        from shredder_spark.sources.fixedwidth import read_fixed_width

        if not self.avro_schema:
            self.avro_schema = spark_schema_to_avro(read_fixed_width(
                r.spark, self.input, self.schema, encoding="utf8").schema)
        path = r.path(f"{table}.avro")
        ocf.write_plain(path, self.avro_schema, payloads)
        try:
            verify_decoded(r, path, self.truth)
            keys = (r.spark.read.format(AVRO_FORMAT).load(path)
                    .selectExpr("CAST(order_key AS STRING) AS k").collect())
            r.check(sorted(k.k for k in keys) == sorted(bytes(x.key).decode() for x in rows),
                    "record keys differ from their order_key")
        finally:
            os.remove(path)
        r.spark.sql(f"DROP VIEW IF EXISTS {table}")

    def one_pass(self) -> tuple[float, float]:
        self.n_pass += 1
        topic = f"rt{self.n_pass}"
        p = self.produce(topic)
        c, table = self.consume(topic)
        self.check(table)
        return p, c

    def checked_pass(self):
        return self.r.op("kafka round trip", self.one_pass)


def layers(r: Run) -> None:
    """Kafka per-layer numbers from one traced round trip after a
    warm-up round trip: the produce side timed step by step (parse
    only, then + prepare, then + wire produce, each drained), the
    consume side split by the stream's own progress reports, broker
    busy time, and single-thread wire-codec rates over this run's own
    record bytes."""
    w = Roundtrip(r)
    try:
        w.setup()
        if w.checked_pass() is None:
            return
        r.op("kafka layers", _layers, r, w)
    finally:
        w.close()


def _layers(r: Run, w: Roundtrip) -> None:
    from shredder_spark.benchcontrol import drain
    from shredder_spark.sinks import kafka_wire
    from shredder_spark.sources.fixedwidth import read_fixed_width

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    parse = timed(lambda: drain(read_fixed_width(
        r.spark, w.input, w.schema, encoding="utf8")))
    prepare = timed(lambda: drain(w.frame()))
    b = w.broker
    busy0, req0 = b.busy_s, dict(b.requests)
    w.n_pass += 1
    topic = f"rt{w.n_pass}"
    produce = w.produce(topic)
    consume, table = w.consume(topic)
    busy, req = b.busy_s - busy0, {k: v - req0.get(k, 0) for k, v in b.requests.items()}
    progress = w.last_progress
    w.check(table)

    def duration(key: str) -> float:
        return sum(p.get("durationMs", {}).get(key, 0) for p in progress) / 1e3

    r.metric("sources.fixedwidth.parse_s", parse, "s")
    r.metric("sinks.kafka.prepare_s", prepare - parse, "s")
    r.metric("sinks.kafka_wire.produce_s", produce - prepare, "s")
    r.metric("kafka.produce_mb_s", w.value_bytes / 1e6 / produce, "MB/s")
    r.metric("kafka.consume_mb_s", w.value_bytes / 1e6 / consume, "MB/s")
    r.metric("broker.busy_s", busy, "s")
    r.metric("broker.produce_requests", req.get(0, 0), "count")
    r.metric("broker.fetch_requests", req.get(1, 0), "count")
    r.metric("broker.list_offsets_requests", req.get(2, 0), "count")
    r.metric("stream.microbatches",
             sum(1 for p in progress if p.get("numInputRows", 0) > 0), "count")
    r.metric("stream.add_batch_s", duration("addBatch"), "s")
    r.metric("stream.query_planning_s", duration("queryPlanning"), "s")
    r.metric("stream.latest_offset_s", duration("latestOffset"), "s")
    r.metric("stream.wal_commit_s", duration("walCommit"), "s")
    r.metric("stream.commit_offsets_s", duration("commitOffsets"), "s")
    r.metric("kafka.records", w.rows, "count")
    r.metric("kafka.value_bytes", w.value_bytes, "bytes")
    r.metric("kafka.wire_bytes", b.wire_bytes(topic), "bytes")
    r.log("kafka partitions written", str(sorted({p for t, p in b._log if t == topic})))

    # single-thread wire-codec rates over partition 0's own records
    records = w.records
    t0 = time.perf_counter()
    batches = [kafka_wire.encode_record_batch(records[i:i + 500])
               for i in range(0, len(records), 500)]
    enc = time.perf_counter() - t0
    data = b"".join(batches)
    t0 = time.perf_counter()
    for batch in batches:
        kafka_wire.crc32c(batch[21:])
    crc = time.perf_counter() - t0
    t0 = time.perf_counter()
    n = sum(1 for _ in kafka_wire.decode_record_batches(data))
    dec = time.perf_counter() - t0
    r.check(n == len(records), f"decoded {n} of {len(records)} records")
    mb = len(data) / 1e6
    r.metric("sinks.kafka_wire.encode_record_batch_mb_s", mb / enc, "MB/s")
    r.metric("sinks.kafka_wire.crc32c_mb_s", mb / crc, "MB/s")
    r.metric("sinks.kafka_wire.decode_record_batches_mb_s", mb / dec, "MB/s")
