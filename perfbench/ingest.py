"""``ingest_avro``: fixed-width text → snappy Avro OCF, the reference's
headline job, through the program's fused kernel at one task per core.

Every pass's output is checked: the kernel must run exactly one Spark
task per core, the first pass's OCF framing must hold the generated row
count, and Spark's own Avro reader must decode it to that row count and
to the generated per-column checksums; every later pass must be
byte-identical to it.

``setup_s`` is the program's own set-up for an ingest: a fresh session
from ``get_spark`` (in the already launched JVM) and a first fused pass
over a small input, which ships the package to the executors and starts
the Python workers. Generating the inputs is the benchmark's work and
stays untimed.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import time
import zlib

from perfbench import gen, ocf
from perfbench.common import (ActiveTaskSampler, Run, control_s, group_stages,
                              median, timed_passes)

# × 530 bytes = 636 MB: ~3 s passes at 4 cores. Five of them, not
# three longer ones: a pass lasts as long as its slowest task, and
# the median of five leaves out two passes slowed by contention.
ROWS = 1_200_000
SMOKE_ROWS = 6_000
COLD_ROWS = 60_000        # the set-up input: 32 MB
SETUPS = 3
REPLAYS = 2               # untraced and traced single-task replays each


def verify_decoded(r: Run, path: str, truth: dict) -> None:
    """Decode ``path`` (OCF file or directory) with Spark's Avro reader
    and compare row count and column checksums with the generator's."""
    from shredder_spark.sinks.avro import AVRO_FORMAT

    got = (r.spark.read.format(AVRO_FORMAT).load(path)
           .selectExpr("count(*) AS `_rows`",
                       *[gen.checksum_sql(n, t) for n, t, _ in gen.FIELDS])
           .first().asDict())
    r.check(got.pop("_rows") == truth["rows"],
            f"decoded row count differs from the {truth['rows']} generated")
    bad = sorted(k for k, v in truth["sums"].items() if got[k] != v)
    r.check(not bad, f"decoded checksums differ in columns {bad}")


class Ingest:
    def __init__(self, r: Run) -> None:
        self.r = r
        self.rows = SMOKE_ROWS if r.smoke else ROWS
        self.schema = gen.avro_fixed_schema()
        self.input = r.path("input.txt")
        self.cold_input = r.path("cold.txt")
        self.truth: dict = {}
        self.ref_crc = None
        self.ocf_rows = self.ocf_bytes = self.avro_bytes = 0
        self.n_pass = self.tasks = 0

    def generate(self) -> None:
        """Write the inputs from the seed and flush them to disk now,
        untimed, so the kernel's delayed writeback of them cannot land
        inside a timed step."""
        self.truth = gen.write_fixed_width(self.input, self.r.seed, self.rows)
        gen.write_fixed_width(self.cold_input, self.r.seed + 1,
                              min(self.rows, COLD_ROWS))
        for f in (self.input, self.cold_input):
            with open(f, "rb+") as fh:
                os.fsync(fh.fileno())

    def _fused(self, path: str, out: str) -> int:
        """One fused-kernel call in its own job group; checks that it
        ran exactly one task per core."""
        from shredder_spark.sinks.avro_vec import fixed_width_to_avro_fused

        r = self.r
        sc = r.spark.sparkContext
        self.n_pass += 1
        group = f"perfbench-ingest-{self.n_pass}"
        sc.setJobGroup(group, "ingest pass")
        try:
            n = fixed_width_to_avro_fused(r.spark, path, self.schema, out,
                                          tasks=r.cores)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.tasks = sum(i.numTasks for i in group_stages(sc, group))
        r.check(self.tasks == r.cores,
                f"the kernel ran {self.tasks} tasks, not one per core ({r.cores})")
        return n

    def cold_start(self) -> float:
        """The program's set-up: a fresh session, then the first fused
        pass over the small input; returns its seconds."""
        r = self.r
        r.spark.stop()
        r.spark = None
        out = r.path("ocf-cold")
        t0 = time.perf_counter()
        r.start_spark()
        n = self._fused(self.cold_input, out)
        dt = time.perf_counter() - t0
        shutil.rmtree(out, ignore_errors=True)
        r.check(n == min(self.rows, COLD_ROWS), f"kernel reported {n} rows")
        return dt

    def one_pass(self) -> float:
        r = self.r
        out = r.path("ocf")
        t0 = time.perf_counter()
        n = self._fused(self.input, out)
        dt = time.perf_counter() - t0
        try:
            r.check(n == self.rows, f"kernel reported {n} rows")
            self._check_output(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return dt

    def _check_output(self, out: str) -> None:
        r = self.r
        files = sorted(glob.glob(os.path.join(out, "*.avro")))
        crc, rows, ocf_bytes, avro_bytes = 0, 0, 0, 0
        for i, f in enumerate(files):
            with open(f, "rb") as fh:
                data = fh.read()
            if r.corrupt and i == 0 and self.ref_crc is None:
                data = data[:len(data) // 2] + bytes([data[len(data) // 2] ^ 0xFF]) \
                    + data[len(data) // 2 + 1:]
                with open(f, "wb") as fh:
                    fh.write(data)
            crc = zlib.crc32(data, crc)
            if self.ref_crc is None:
                n, payload = ocf.walk(data)
                rows += n
                ocf_bytes += len(data)
                avro_bytes += payload
        if self.ref_crc is None:
            r.check(rows == self.rows, f"OCF blocks hold {rows} rows, not {self.rows}")
            verify_decoded(r, out, self.truth)
            self.ref_crc = crc
            self.ocf_rows, self.ocf_bytes, self.avro_bytes = rows, ocf_bytes, avro_bytes
        else:
            r.check(crc == self.ref_crc, "output differs from the verified pass")

    def checked_pass(self):
        return self.r.op("ingest pass", self.one_pass)


def run(r: Run) -> None:
    w = Ingest(r)
    t0 = time.perf_counter()
    w.generate()
    r.log("generate", [time.perf_counter() - t0])
    setups = [s for s in (r.op("cold start", w.cold_start)
                          for _ in range(1 if r.smoke else SETUPS))
              if s is not None]
    r.log("setup", setups)
    # measured: after the cold starts, the first full pass (which is
    # the one decoded and checked in full) is already within the spread
    # of the later ones, so it is the only warm-up
    w.checked_pass()
    if r.trace:
        layers(r, w)
        return
    passes = timed_passes(w.checked_pass, r.seconds,
                          min_passes=1 if r.smoke else 5)
    r.log("passes", passes)
    if not passes or not setups:
        return
    pass_s = median(passes)
    r.metric("setup_s", median(setups), "s")
    r.metric("pass_s", pass_s, "s")
    r.metric("op_geomean_s", pass_s, "s")
    r.metric("mb_s_per_core", w.truth["bytes"] / 1e6 / pass_s / r.cores, "MB/s")


def layers(r: Run, w: Ingest) -> None:
    """Per-layer numbers: the task count and peak concurrency of one
    checked pass, then one task's share replayed on this thread,
    alternately untraced and with spans around read+parse, encode and
    snappy. The tracing overhead is the traced replays' median minus
    the untraced ones'; the frozen control brackets every step."""
    from shredder_spark.avro_schema import parse_avro_fixed_schema
    from shredder_spark.sinks import avro_vec
    from shredder_spark.sinks.avro import spark_schema_to_avro
    from shredder_spark.sinks.avro_codec import RecordCodec
    from shredder_spark.sources.fixedwidth_arrow import FixedWidthArrowReader

    t = r.tracer
    sc = r.spark.sparkContext
    control = [control_s(r.spark)]
    with ActiveTaskSampler(sc, f"perfbench-ingest-{w.n_pass + 1}") as sampler:
        dt = w.checked_pass()
    control.append(control_s(r.spark))
    if dt is None:
        return

    fs = parse_avro_fixed_schema(w.schema)
    rc = RecordCodec(spark_schema_to_avro(fs.to_struct_type()))
    planner = FixedWidthArrowReader({"path": w.input, "cores": str(r.cores)}, fs)
    parts = planner.partitions()
    share = parts[:max(1, len(parts) // r.cores)]  # parallelize's first slice
    share_bytes = sum(p.end - p.start for p in share)
    replay = r.path("replay.avro")

    def reads(traced: bool):
        for part in share:
            it = planner.read(part)
            while True:
                with t.span("read") if traced else contextlib.nullcontext():
                    batch = next(it, None)
                if batch is None:
                    break
                yield avro_vec.wire_batch(batch)

    def one_replay(traced: bool) -> float:
        t.enabled = traced
        t.wrap(avro_vec, "encode_batch", "encode")
        t.wrap(avro_vec, "compress_block", "snappy")
        try:
            t0 = time.perf_counter()
            with open(replay, "wb") as fh:
                avro_vec.write_ocf_arrow(fh, rc, reads(traced), codec="snappy")
            return time.perf_counter() - t0
        finally:
            t.restore()
            t.enabled = r.trace

    mark = len(t.spans)
    plain, traced = [], []
    # untraced, traced, traced, untraced: a drift over the replays
    # cancels out of the difference of the medians
    for i in range(1 if r.smoke else REPLAYS):
        for traced_replay in ((False, True) if i % 2 == 0 else (True, False)):
            (traced if traced_replay else plain).append(one_replay(traced_replay))
        control.append(control_s(r.spark))
    r.log("replays untraced", plain)
    r.log("replays traced", traced)
    with open(replay, "rb") as fh:
        mb = ocf.walk(fh.read())[1] / 1e6   # Avro bytes encoded and compressed
    os.remove(replay)
    n = len(traced)

    r.metric("sources.fixedwidth_arrow.read_parse_mb_s",
             n * share_bytes / 1e6 / t.total("read", mark), "MB/s")
    r.metric("sinks.avro_vec.encode_mb_s", n * mb / t.total("encode", mark), "MB/s")
    r.metric("sinks.avro_codec.snappy_mb_s", n * mb / t.total("snappy", mark), "MB/s")
    r.metric("ingest.single_task_s", median(plain), "s")
    r.metric("ingest.tasks", w.tasks, "count")
    r.metric("ingest.peak_active_tasks", sampler.peak, "count")
    r.metric("ingest.rows", w.ocf_rows, "count")
    r.metric("ingest.avro_bytes", w.avro_bytes, "bytes")
    r.metric("ingest.ocf_bytes", w.ocf_bytes, "bytes")
    r.metric("control.s", median(control), "s")
    r.metric("tracing.overhead_s", median(traced) - median(plain), "s")
