#!/usr/bin/env python
"""Kafka-SOURCE throughput measurement → committed artifact.

First committed r7 (task 8); round 9 added the executor-side
partitioned streaming tier and this tool's steady/empty/marginal
decomposition. Measures batch and streaming consume against the
in-process toy broker over real TCP sockets, beside the r6 sink-side
numbers (KAFKA_BENCH_r6.json):

1. **batch consume** — ``spark.read.format("kafkawire")`` at 4 and 32
   Kafka partitions (one executor task + one socket per partition,
   the librdkafka per-handle shape). Executor-side fetch: this is the
   distributed tier.
2. **streaming consume** — ``spark.readStream.format("kafkawire")``
   with ``trigger(availableNow=True)`` and a fresh checkpoint per rep
   (full-log replay), through the executor-side
   ``DataSourceStreamReader`` (one offset-range split per Kafka
   partition — the 100 TB shape). The bar: streaming ≥ the batch
   tier's rate at 4 tasks. The 32-partition empty run attributes the
   gap (stream32_empty → stream32 marginal rate): the stream32 vs
   batch32 gap is the fixed
   availableNow machinery, a measured constant, and the planner's
   latestOffset probe is now ONE batched multi-partition ListOffsets
   RPC per microbatch instead of a per-partition round-trip loop.

Both legs are per-row Python framing + CRC32C over the public wire
protocol; the connector jar (absent here) is the production path.
Stamped with the frozen session-speed control like every artifact.

Usage: python tools/kafka_source_bench.py [reps] [out.json]
(defaults: 3 reps, KAFKA_BENCH_r10.json)

Round 12 adds a SOAK mode (r11 verdict stretch 7):

    python tools/kafka_source_bench.py --soak [seconds] [out.json]

One long-lived 32-partition streaming query under a continuous
trigger walking a deep pre-produced backlog in bounded microbatches
(``max_per_trigger`` — the maxOffsetsPerTrigger analog added this
round), ≥ the requested wall seconds. The artifact records the
per-microbatch StreamingQueryProgress durations (latestOffset probe,
addBatch, offset-WAL + commit log writes) — i.e. sustained marginal
rate AND the checkpoint overhead split the availableNow replay legs
can't see.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

PAYLOAD = bytes(256)
N_MSGS = 100_000


def soak(seconds: int, out_path: str) -> int:
    """32-partition continuous-trigger soak: sustained rate + per-
    microbatch checkpoint-overhead attribution over a deep backlog."""
    import tempfile

    from kafka_toy_broker import ToyKafkaBroker

    from shredder_spark.benchcontrol import control_stats
    from shredder_spark.session import get_spark
    from shredder_spark.sinks.kafka_wire import KafkaWireProducer
    from shredder_spark.sources.kafka_wire_datasource import (
        register_kafkawire_source)

    n_parts = 32
    caps = (100_000, 400_000)  # records admitted per microbatch
    backlog = 8_000_000        # deep enough that no leg runs dry

    spark = get_spark("kafka-soak")
    spark.sparkContext.setLogLevel("ERROR")
    register_kafkawire_source(spark)

    out = {
        "metric": "kafka_source_soak32",
        "payload_bytes": len(PAYLOAD),
        "partitions": n_parts,
        "backlog_messages": backlog,
        "soak_wall_s": seconds,
        "method": ("continuous trigger (processingTime=0) over a "
                   f"pre-produced {backlog}-message 32-partition "
                   "backlog, one leg per max_per_trigger cap, fresh "
                   "checkpoint each; steady window = non-empty "
                   "microbatches after the first two; sustained rate "
                   "= rows / triggerExecution time; checkpoint "
                   "overhead = walCommit + commitOffsets per batch"),
        "legs": {},
    }

    with ToyKafkaBroker() as broker:
        p = KafkaWireProducer(broker.bootstrap)
        t0 = time.perf_counter()
        for i in range(backlog):
            p.send("soak32", i % n_parts, None, PAYLOAD)
            if (i + 1) % 50_000 == 0:
                p.flush()
        p.flush()
        out["produce_rate_msgs_per_s"] = round(
            backlog / (time.perf_counter() - t0))

        for cap in caps:
            ckpt = tempfile.mkdtemp()
            q = (spark.readStream.format("kafkawire")
                 .option("bootstrap", broker.bootstrap)
                 .option("topic", "soak32")
                 .option("partitions",
                         ",".join(str(i) for i in range(n_parts)))
                 .option("max_per_trigger", str(cap))
                 .load()
                 .writeStream.format("noop")
                 .option("checkpointLocation", ckpt)
                 .trigger(processingTime="0 seconds").start())
            t0 = time.perf_counter()
            while time.perf_counter() - t0 < seconds and q.isActive:
                time.sleep(1.0)
            # PySpark 4: recentProgress yields StreamingQueryProgress
            # objects (.json is the serialized form); older APIs
            # returned plain JSON strings
            progress = [
                json.loads(pr if isinstance(pr, str) else pr.json)
                for pr in q.recentProgress]
            q.stop()
            q.awaitTermination(60)

            # steady window: drop the first two batches (stream
            # start, plan warm-up) and any zero-row tail
            rows = [pr for pr in progress
                    if pr.get("numInputRows", 0) > 0][2:]
            assert rows, f"cap={cap}: no steady microbatches"
            total_rows = sum(pr["numInputRows"] for pr in rows)
            total_trigger_ms = sum(pr["durationMs"]["triggerExecution"]
                                   for pr in rows)

            def mean_ms(key: str) -> float:
                vals = [pr["durationMs"].get(key, 0) for pr in rows]
                return round(sum(vals) / len(vals), 1)

            out["legs"][str(cap)] = {
                "max_per_trigger": cap,
                "microbatches_steady": len(rows),
                "sustained_msgs_per_s": round(
                    total_rows / (total_trigger_ms / 1000.0)),
                "sustained_mb_per_s": round(
                    total_rows * len(PAYLOAD) / 1e6
                    / (total_trigger_ms / 1000.0), 2),
                "mean_batch_ms": {
                    "triggerExecution": mean_ms("triggerExecution"),
                    "latestOffset": mean_ms("latestOffset"),
                    "addBatch": mean_ms("addBatch"),
                    "walCommit": mean_ms("walCommit"),
                    "commitOffsets": mean_ms("commitOffsets"),
                    "queryPlanning": mean_ms("queryPlanning"),
                },
                "per_batch_rows": [pr["numInputRows"] for pr in rows],
                "per_batch_trigger_ms": [
                    pr["durationMs"]["triggerExecution"] for pr in rows],
            }
    out["control"] = control_stats(spark)
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({
        "legs": {c: {k: v for k, v in leg.items()
                     if not k.startswith("per_batch")}
                 for c, leg in out["legs"].items()},
        "control": out["control"]}, default=str))
    print("written:", out_path)
    return 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--soak":
        seconds = int(sys.argv[2]) if len(sys.argv) > 2 else 75
        out_path = sys.argv[3] if len(sys.argv) > 3 \
            else "KAFKA_BENCH_r12_soak.json"
        return soak(seconds, out_path)
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    out_path = sys.argv[2] if len(sys.argv) > 2 else "KAFKA_BENCH_r10.json"

    from kafka_toy_broker import ToyKafkaBroker

    from shredder_spark.benchcontrol import control_stats
    from shredder_spark.session import get_spark
    from shredder_spark.sinks.kafka_wire import KafkaWireProducer
    from shredder_spark.sources.kafka_wire_datasource import (
        register_kafkawire_source)

    spark = get_spark("kafka-source-bench")
    spark.sparkContext.setLogLevel("ERROR")
    register_kafkawire_source(spark)

    out: dict = {
        "metric": "kafka_source_consume_rate",
        "payload_bytes": len(PAYLOAD),
        "messages": N_MSGS,
        "method": (f"in-process toy broker over real TCP; {reps} reps "
                   "after warm-up; batch = one task+socket per Kafka "
                   "partition (executor-side), streaming = availableNow "
                   "full-log replay with a fresh checkpoint per rep; "
                   "stream4/stream32 = executor-side partitioned "
                   "stream reader"),
        "sink_side": "KAFKA_BENCH_r6.json",
    }
    mb = N_MSGS * len(PAYLOAD) / 1e6

    with ToyKafkaBroker() as broker:
        # ---- produce the fixture logs once per partition layout
        for n_parts, topic in ((4, "bench4"), (32, "bench32")):
            p = KafkaWireProducer(broker.bootstrap)
            for i in range(N_MSGS):
                p.send(topic, i % n_parts, None, PAYLOAD)
                if (i + 1) % 20_000 == 0:
                    p.flush()
            p.flush()

        def batch(topic: str, n_parts: int) -> None:
            df = (spark.read.format("kafkawire")
                  .option("bootstrap", broker.bootstrap)
                  .option("topic", topic)
                  .option("partitions",
                          ",".join(str(i) for i in range(n_parts)))
                  .load())
            df.write.format("noop").mode("overwrite").save()

        import tempfile

        def stream(topic: str, n_parts: int) -> None:
            with tempfile.TemporaryDirectory() as ckpt:
                q = (spark.readStream.format("kafkawire")
                     .option("bootstrap", broker.bootstrap)
                     .option("topic", topic)
                     .option("partitions",
                             ",".join(str(i) for i in range(n_parts)))
                     .load()
                     .writeStream.format("noop")
                     .option("checkpointLocation", ckpt)
                     .trigger(availableNow=True).start())
                q.awaitTermination(300)

        # steady-state leg: a 3x log amortizes the per-query fixed
        # cost (stream start, offset WAL, commit) that dominates a
        # 100k-message availableNow run
        N_STEADY = 3 * N_MSGS
        p = KafkaWireProducer(broker.bootstrap)
        for i in range(N_STEADY):
            p.send("bench4s", i % 4, None, PAYLOAD)
            if (i + 1) % 20_000 == 0:
                p.flush()
        p.flush()

        # empty leg: availableNow over an already-caught-up checkpoint
        # = the fixed microbatch machinery alone (plans zero splits)
        empty_ckpt = tempfile.mkdtemp()

        def stream_caught_up() -> None:
            q = (spark.readStream.format("kafkawire")
                 .option("bootstrap", broker.bootstrap)
                 .option("topic", "bench4").option(
                     "partitions", "0,1,2,3")
                 .load()
                 .writeStream.format("noop")
                 .option("checkpointLocation", empty_ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination(300)

        stream_caught_up()               # catch the checkpoint up once

        # r10 (r9 verdict task 8): same empty-run attribution at 32
        # partitions — stream32's gap to batch32 is the fixed
        # availableNow machinery, measured here, not an open question
        empty32_ckpt = tempfile.mkdtemp()

        def stream32_caught_up() -> None:
            q = (spark.readStream.format("kafkawire")
                 .option("bootstrap", broker.bootstrap)
                 .option("topic", "bench32").option(
                     "partitions", ",".join(str(i) for i in range(32)))
                 .load()
                 .writeStream.format("noop")
                 .option("checkpointLocation", empty32_ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination(300)

        stream32_caught_up()             # catch the checkpoint up once

        stages = [("batch4", lambda: batch("bench4", 4), 4, N_MSGS),
                  ("batch32", lambda: batch("bench32", 32), 32, N_MSGS),
                  ("stream4", lambda: stream("bench4", 4), 4, N_MSGS),
                  ("stream32", lambda: stream("bench32", 32), 32, N_MSGS),
                  ("stream4_steady",
                   lambda: stream("bench4s", 4), 4, N_STEADY),
                  ("stream4_empty", stream_caught_up, 4, 0),
                  ("stream32_empty", stream32_caught_up, 32, 0)]

        for _name, fn, _c, _n in stages:     # warm-up
            fn()
        times: dict[str, list[float]] = {n: [] for n, _, _, _ in stages}
        for _ in range(reps):
            for name, fn, _c, _n in stages:  # interleaved
                t0 = time.perf_counter()
                fn()
                times[name].append(round(time.perf_counter() - t0, 4))

        for name, _fn, cores, n_msgs in stages:
            med = statistics.median(times[name])
            best = min(times[name])
            out[name] = {
                "reps_s": times[name],
                "median_s": round(med, 4),
                "msgs_per_s_median": round(n_msgs / med),
                "msgs_per_s_best": round(n_msgs / best),
                "mb_per_s_median": round(n_msgs * len(PAYLOAD) / 1e6 / med,
                                         2),
                "mb_per_s_best": round(n_msgs * len(PAYLOAD) / 1e6 / best,
                                       2),
                "tasks": cores,
            }
        # marginal rate: (full - empty) isolates the per-record read
        # path from the fixed per-query machinery — the number that
        # scales to long-lived microbatches
        fixed = out["stream4_empty"]["median_s"]
        for name, n_msgs in (("stream4", N_MSGS),
                             ("stream4_steady", N_STEADY)):
            net = max(out[name]["median_s"] - fixed, 1e-9)
            out[name]["msgs_per_s_marginal"] = round(n_msgs / net)
        fixed32 = out["stream32_empty"]["median_s"]
        net32 = max(out["stream32"]["median_s"] - fixed32, 1e-9)
        out["stream32"]["msgs_per_s_marginal"] = round(N_MSGS / net32)
        out["stream32"]["marginal_vs_batch32"] = round(
            out["stream32"]["msgs_per_s_marginal"]
            / out["batch32"]["msgs_per_s_median"], 3)

    out["control"] = control_stats(spark)
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: out[k] for k in
                      ("batch4", "batch32", "stream4", "stream32",
                       "stream4_steady", "stream4_empty",
                       "stream32_empty", "control")},
                     default=str)[:2000])
    print("written:", out_path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
