#!/usr/bin/env python
"""Round-13 session-conf sweep in a quiet window (r12 verdict item 8,
guide §1.2 "configuration last").

Two shuffle-heavy sf10 workloads give the signal (sf0.1 legs are
0.2-0.6 s of fixed cost — conf deltas drown):

  minhash   q110's operator over the 500k-doc derived corpus
            (banding explode -> bucket groupBy -> pair joins)
  q249      the r13 single-scan bigram-LM shape (dcnt exchange +
            broadcast score join)

Phase 1 — runtime-settable SQL confs, one JVM, interleaved reps with
control gaps (every leg rebuilds its DataFrame after setting confs so
planning sees them; confs reset to baseline after each rep):

  base          session defaults (shuffle.partitions=32, AQE on)
  smj_off       spark.sql.join.preferSortMergeJoin=false +
                adaptive.maxShuffledHashJoinLocalMapThreshold=64m
                (guide §3.1 / §9: allow shuffled-hash where it fits)
  advisory_256m spark.sql.adaptive.advisoryPartitionSizeInBytes=256m
                (guide §2.2: fewer, larger reduce partitions)

Phase 2 — spark.io.compression.codec (shuffle/spill codec, fixed at
SparkEnv creation): A/B/A JVM blocks lz4 -> zstd -> lz4, each block
its own SparkSession lifecycle with control gaps inside, 2 reps per
workload per block. The A/A pair bounds the block-level noise floor;
zstd must beat BOTH A blocks' normalized medians to count.

Ship rule (stated in the artifact): a conf ships only if its
normalized delta exceeds the control cv AND the direction is
justifiable at cluster scale, not just on local[32].

Usage: python tools/conf_sweep_r13.py [out.json]
  Needs /tmp/shredder_sf10docs/documents.parquet and
  /tmp/shredder_sf10rel/lineitem.parquet (see tools/make_sf1.py).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DOCS = os.environ.get("SF10_DOCS_DIR", "/tmp/shredder_sf10docs")

RUNTIME_LEGS = {
    "base": {},
    "smj_off": {
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold":
            str(64 * 1024 * 1024),
    },
    "advisory_256m": {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            str(256 * 1024 * 1024),
    },
}

BASELINE_VALUES = {
    "spark.sql.join.preferSortMergeJoin": "true",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes":
        str(64 * 1024 * 1024),
}


def build_workloads(spark):
    from shredder_spark.catalog import load_table
    from shredder_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, DOCS, "documents")

    def minhash():
        return minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)

    q249 = None
    from shredder_spark import queries as qm
    reg = qm.registry()

    def q249_run():
        docs.createOrReplaceTempView("documents")
        return spark.sql(reg["q249_bigram_lm_score"].engine_sql)

    return {"minhash": minhash, "q249": q249_run}


def timed_block(spark, legs, reps, apply_conf):
    """Interleaved (leg x workload) reps with gap controls."""
    from shredder_spark.benchcontrol import GapControl, drain

    workloads = build_workloads(spark)
    gc = GapControl(spark, per_gap=2)
    # warm-up: one untimed drain per workload at baseline
    for wname, build in workloads.items():
        drain(build())
    times: dict[str, list[float]] = {}
    gis: dict[str, list[int]] = {}
    for _ in range(reps):
        for leg, conf in legs.items():
            for wname, build in workloads.items():
                key = f"{leg}:{wname}"
                apply_conf(spark, conf)
                try:
                    df = build()
                    gc.gap()
                    gi = gc.gap_index()
                    spark.sparkContext.setJobDescription(key)
                    t0 = time.perf_counter()
                    drain(df)
                    dt = round(time.perf_counter() - t0, 4)
                finally:
                    apply_conf(spark, {})  # reset
                times.setdefault(key, []).append(dt)
                gis.setdefault(key, []).append(gi)
    gc.gap()

    def st(key: str) -> dict:
        norm = [round(t / gc.local_vs_ref(gi), 4)
                for t, gi in zip(times[key], gis[key])]
        return {"reps_s": times[key],
                "median_s": round(statistics.median(times[key]), 4),
                "normalized_reps_s": norm,
                "normalized_median_s": round(statistics.median(norm), 4)}

    return {k: st(k) for k in times}, gc.stamp()


def apply_runtime_conf(spark, conf: dict) -> None:
    for k, v in BASELINE_VALUES.items():
        spark.conf.set(k, conf.get(k, v))


def fresh_session(codec: str):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
        time.sleep(2)
    from shredder_spark.session import default_cpus

    cpus = default_cpus()
    return (SparkSession.builder.appName(f"conf-sweep-{codec}")
            .master(f"local[{cpus}]")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.default.parallelism", str(cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.autoBroadcastJoinThreshold",
                    str(64 * 1024 * 1024))
            .config("spark.driver.memory",
                    os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
            .config("spark.io.compression.codec", codec)
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "CONF_SWEEP_r13.json"

    # Phase 1: runtime confs in one JVM.
    spark = fresh_session("lz4")
    spark.sparkContext.setLogLevel("ERROR")
    p1, p1_control = timed_block(spark, RUNTIME_LEGS, reps=3,
                                 apply_conf=apply_runtime_conf)
    print(json.dumps({"phase1": p1, "control": p1_control}))

    # Phase 2: shuffle codec A/B/A blocks (needs a fresh SparkEnv).
    p2: dict = {}
    p2_controls: dict = {}
    for block, codec in (("lz4_a", "lz4"), ("zstd", "zstd"),
                         ("lz4_b", "lz4")):
        spark = fresh_session(codec)
        spark.sparkContext.setLogLevel("ERROR")
        stats, ctl = timed_block(spark, {"codec": {}}, reps=2,
                                 apply_conf=lambda s, c: None)
        p2[block] = stats
        p2_controls[block] = ctl
        print(json.dumps({block: stats, "control": ctl}))
    spark.stop()

    out = {
        "metric": "conf_sweep_r13",
        "docs_dir": DOCS,
        "phase1_runtime_confs": p1,
        "phase1_control": p1_control,
        "phase2_codec_blocks": p2,
        "phase2_controls": p2_controls,
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print("written:", out_path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
