"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set mirrors SURVEY.md §5.2 bench tier (Q15 agg, Q21 windows,
Q43 vector similarity) plus scan/join/text representatives, and two
ingest legs over perfbench's fixed-width feed at BASELINE.md's shape
(30 columns, 528 runes, ~1.27 GB), one task per core:
``ingest_parse`` reads it through ``format("fixedwidth")`` into a noop
sink and ``ingest_avro`` runs the fused fixed-width → snappy Avro
kernel.

Round 6 adds the IN-SESSION CONTROL the round-5 verdict asked for
(interleaved A/B/A, applied to the query bench): a PINNED
synthetic workload — independent of sf_dir, the registry, and any
engine code that evolves between rounds — interleaved A/B/A between
every headline rep. Each headline query runs CYCLES (3) timed reps
with a control rep immediately before it, and the output reports:

- ``queries``: per-query MEDIAN seconds (the cross-round comparable);
- ``control``: the control's reps/median/cv, its pinned reference
  median (``ref_s``, measured when the control was introduced) and
  ``vs_ref`` = median/ref_s — the VM speed factor of THIS session;
- ``queries_normalized``: median / vs_ref — what the query would have
  cost at reference VM speed. Cross-round drift that disappears under
  normalization is a VM phase; drift that survives is a regression.

The control body is FROZEN — never edit it, or cross-round
normalization breaks. It deliberately exercises the same machinery as
the headliners (range scan → shuffle agg → running-sum window, all
whole-stage-codegen JVM) without touching parquet, so storage-cache
state cannot leak into it.

Round 8 instrument fix (round-7 verdict "What's wrong #1"): the r7
control ran at cv 0.32 (30 reps, one control per query rep, one
global median), and the global-median normalization then manufactured
phantom regressions (q43 "+33%", q05 "+12%") that the raw min series
contradicted (q43 −12%, q05 −23%). Back-check: the r7 control reps
were bimodal — a slow VM phase covered part of the run; a query rep
inside a fast phase divided by the phase-blind GLOBAL control median
reads as "slower at reference speed" even though nothing regressed.
The fix is structural, not more averaging: (a) ~62 control reps
(gap of 2 at every query boundary, so each query rep is bracketed);
(b) per-rep LOCAL normalization — each query rep divides by the speed
factor of its own bracketing controls (the 4 reps around it), so a
mid-run VM phase hits a query and its divisor together and cancels;
(c) the reported control median/cv use a 20%-trimmed core so a few
phase-transition outliers can't dominate the stamp. ``ref_s`` stays
pinned at the round-6 value — re-pinning would erase the very drift
the control exists to expose.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from shredder_spark import queries as queries_mod
from shredder_spark.session import default_cpus, get_spark

HEADLINE = [
    "q01_scan_count",
    "q05_inner_join",
    "q15_pricing_summary",
    "q21_ranking_windows",
    "q43_cosine_topk",
    "q50_term_frequency",
    "q53_quality_score",
    "q76_asof_union_trick",
    "q110_minhash_dedup_full",
    "q140_bm25_search",
]

CYCLES = 3          # timed reps per headline query (median reported)
# Ingest input rows: the old lineitem-derived fixture's size at sf0.1
# (4 × 600,572 rows) rounded to the generator's 60 k-row block;
# × 530 bytes ≈ 1.27 GB.
INGEST_ROWS = 2_400_000
# Versioned full-artifact name. Derived, not hardcoded (the r9/r10
# stale-tag bug overwrote committed BENCH_r09_full.json twice; the
# r11 max+1 rule then labeled the driver's bench one round AHEAD —
# the driver writes CORRECTNESS_r{N}.json BEFORE benching, so max+1
# stamped round 11's bench "BENCH_r12_full.json"; the r12 existence-
# check rule then labeled the driver's SECOND same-round run — the
# 8-core scaling rep — one round ahead again). Rule now (r12 verdict
# item 2): the tag is ALWAYS the highest CORRECTNESS round — the
# driver writes CORRECTNESS_r{N}.json before benching, so max IS the
# current round, and two runs in one round can never disagree on the
# tag. Filename collisions between same-round runs are resolved by
# suffix, never by bumping the round: the second run at a non-default
# core count lands as BENCH_r{N}_c{cpus}_full.json (and a further
# collision appends _2, _3, ...). BENCH_ROUND env still overrides the
# tag; BENCH_FULL_OUT overrides the whole path (in-session builder
# runs must use it so the driver's bare name stays free).
def _round_tag(here: str | None = None) -> str:
    import glob as _glob
    import re as _re

    if here is None:
        here = os.path.dirname(os.path.abspath(__file__))
    ns = [int(m.group(1)) for p in _glob.glob(
        os.path.join(here, "CORRECTNESS_r*.json"))
        if (m := _re.search(r"CORRECTNESS_r(\d+)\.json$", p))]
    if not ns:
        return "r01"
    return f"r{max(ns):02d}"


def _default_full_name(here: str, round_tag: str, cpus: str) -> str:
    """Collision-free default artifact name for this round's run.

    First run of the round takes the bare name; later runs (e.g. the
    driver's low-core scaling rep) get a _c{cpus} suffix instead of a
    wrong round number, and never overwrite an earlier artifact.
    """
    bare = os.path.join(here, f"BENCH_{round_tag}_full.json")
    if not os.path.exists(bare):
        return bare
    suffixed = os.path.join(
        here, f"BENCH_{round_tag}_c{cpus}_full.json")
    if not os.path.exists(suffixed):
        return suffixed
    k = 2
    while True:
        cand = os.path.join(
            here, f"BENCH_{round_tag}_c{cpus}_{k}_full.json")
        if not os.path.exists(cand):
            return cand
        k += 1


ROUND_TAG = _round_tag()

# Control workload + pinned reference shared with the sweep tools so
# every committed artifact carries the same session-speed stamp
# (shredder_spark/benchcontrol.py holds the do-not-re-pin warning).
from shredder_spark.benchcontrol import (  # noqa: E402
    GapControl, control_once as _control, drain as _drain)


def _bench_ingest(spark) -> dict:
    """Time the two shipping ingest tiers on ``INGEST_ROWS`` rows of
    perfbench's fixed-width feed: one untimed warm pass per leg, then
    the min of 2 timed passes. Every fused pass must report the
    generated row count, and Spark's Avro reader decodes the first
    fused output once against the generator's checksums; a mismatch
    raises. The input lives in a temp dir on tmpfs when there is one."""
    from perfbench import gen
    from shredder_spark.sinks.avro import AVRO_FORMAT
    from shredder_spark.sinks.avro_vec import fixed_width_to_avro_fused
    from shredder_spark.sources.fixedwidth_arrow import (
        read_fixed_width_arrow_ds)

    cores = spark.sparkContext.defaultParallelism
    schema = gen.avro_fixed_schema()
    tmp = tempfile.mkdtemp(prefix="shredder_ingest_", dir=(
        "/dev/shm" if os.path.isdir("/dev/shm") else None))
    try:
        path, out = os.path.join(tmp, "input.txt"), os.path.join(tmp, "avro")
        truth = gen.write_fixed_width(path, seed=0, rows=INGEST_ROWS)

        def parse() -> None:
            _drain(read_fixed_width_arrow_ds(spark, path, schema, cores=cores))

        def avro() -> None:
            n = fixed_width_to_avro_fused(spark, path, schema, out, tasks=cores)
            if n != truth["rows"]:
                raise RuntimeError(f"fused ingest wrote {n} rows, "
                                   f"not {truth['rows']}")

        def verify() -> None:
            got = (spark.read.format(AVRO_FORMAT).load(out)
                   .selectExpr("count(*) AS `_rows`", *[
                       gen.checksum_sql(n, t) for n, t, _ in gen.FIELDS])
                   .first().asDict())
            bad = sorted(k for k, v in truth["sums"].items() if got[k] != v)
            if got["_rows"] != truth["rows"] or bad:
                raise RuntimeError(f"fused Avro output decodes to "
                                   f"{got['_rows']} rows, bad columns {bad}")

        def timed(leg) -> float:
            t0 = time.perf_counter()
            leg()
            return time.perf_counter() - t0

        parse()  # untimed warm passes; the first fused output is checked
        parse_s = min(timed(parse) for _ in range(2))
        avro()
        verify()
        avro_s = min(timed(avro) for _ in range(2))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    mb = truth["bytes"] / 1e6
    return {
        "timings": {"ingest_parse": round(parse_s, 4),
                    "ingest_avro": round(avro_s, 4)},
        "ingest": {
            "input_bytes": truth["bytes"],
            "input_lines": truth["rows"],
            "cores": cores,
            "parse_mb_per_s": round(mb / parse_s, 2),
            "parse_mb_per_s_per_core": round(mb / parse_s / cores, 2),
            "avro_mb_per_s": round(mb / avro_s, 2),
            "avro_mb_per_s_per_core": round(mb / avro_s / cores, 2),
        },
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("shredder-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    reg = queries_mod.registry()

    # Untimed warm-up pass: parquet footers, view registration, and the
    # per-plan whole-stage-codegen compile — so the timed passes measure
    # steady-state execution (same convention as the ingest stages).
    _control(spark)
    for name in HEADLINE:
        _drain(reg[name].run(spark, sf_dir))

    # Interleaved timed passes with BRACKETING control gaps: a gap of
    # control reps runs at every query boundary, so each query rep is
    # bracketed by the gap before and the gap after it. Each rep then
    # normalizes by its LOCAL bracketing controls — a VM speed phase
    # mid-run hits a query and its divisor together and cancels,
    # instead of skewing one side of a global median.
    gc = GapControl(spark)
    qreps: dict[str, list[float]] = {name: [] for name in HEADLINE}
    qgap: dict[str, list[int]] = {name: [] for name in HEADLINE}
    gc.gap()
    for _ in range(CYCLES):
        for name in HEADLINE:
            qgap[name].append(gc.gap_index())
            t0 = time.perf_counter()
            _drain(reg[name].run(spark, sf_dir))
            qreps[name].append(round(time.perf_counter() - t0, 4))
            gc.gap()

    timings = {name: round(statistics.median(reps), 4)
               for name, reps in qreps.items()}
    # min-of-reps continuity metric: rounds 1-5 reported min-of-2, so
    # cross-round tables need the min series too (medians read ~5-10%
    # higher than mins by construction, not by regression)
    timings_min = {name: min(reps) for name, reps in qreps.items()}
    control_reps = [t for gap in gc.gaps for t in gap]
    stamp = gc.stamp()

    # Per-rep local normalization: rep / local speed factor of its two
    # bracketing gaps; per-query value = median across cycles.
    normalized = {
        name: round(statistics.median(
            rep / gc.local_vs_ref(g)
            for rep, g in zip(qreps[name], qgap[name])), 4)
        for name in HEADLINE}

    # Ingest legs: fixed-width text → snappy Avro (BASELINE.md shape).
    ingest_rates: dict = {}
    try:
        ingest = _bench_ingest(spark)
        timings.update(ingest["timings"])
        ingest_rates = ingest["ingest"]
    except Exception as e:  # never fail the whole bench on the ingest leg
        print(f"ingest bench skipped: {e!r}", file=sys.stderr)

    total = round(sum(timings.values()), 4)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "control": {"reps": control_reps, "gaps": gc.gaps, **stamp},
        # headline reps at reference VM speed, each rep divided by the
        # speed factor of its own bracketing controls (median over
        # cycles). Compare THESE across rounds; raw medians conflate
        # engine changes with VM phases.
        "queries_normalized": normalized,
        "queries_min": timings_min,
        "reps": qreps,
        "method": ("bracketed control gaps (x{g} per boundary, ~{n} "
                   "reps), per-rep local normalization, {t:.0%}-trimmed "
                   "control stamp, median of {c} reps; control frozen "
                   "at ref_s={r}s (round 6)").format(
                       g=gc.per_gap, n=len(control_reps),
                       t=gc.trim_frac, c=CYCLES, r=stamp["ref_s"]),
    }
    if ingest_rates:
        out["ingest"] = ingest_rates

    # Transport contract (round-6 lesson): the driver captures a
    # bounded TAIL of stdout and JSON-parses the last line — round 6's
    # single rich ~2.9 KB line got its head cut off and BENCH_r06.json
    # recorded "parsed": null. So: the FULL artifact goes to a
    # committed file (BENCH_full.json, also $BENCH_FULL_OUT), and the
    # last stdout line is a compact summary budgeted well under 1.5 KB
    # (metric/value/per-query medians/control median+vs_ref/sf only).
    # Versioned artifact name (round-7 verdict "What's wrong #4"):
    # BENCH_r<N>_full.json per round so history survives without git
    # archaeology; BENCH_full.json stays as a pointer for old readers.
    round_tag = os.environ.get("BENCH_ROUND", ROUND_TAG)
    # a non-default sf (smoke run) must not clobber the committed
    # sf0.1 artifact — divert it unless BENCH_FULL_OUT says otherwise
    cpus = str(default_cpus())
    here = os.path.dirname(os.path.abspath(__file__))
    default_full = (_default_full_name(here, round_tag, cpus)
                    if sf == "0.1"
                    else f"/tmp/BENCH_{round_tag}_sf{sf}.json")
    full_path = os.environ.get("BENCH_FULL_OUT", default_full)
    try:
        with open(full_path, "w") as fh:
            json.dump(out, fh)
        if os.path.basename(full_path) != "BENCH_full.json":
            link = os.path.join(os.path.dirname(full_path) or ".",
                                "BENCH_full.json")
            try:
                if os.path.islink(link) or os.path.exists(link):
                    os.remove(link)
                os.symlink(os.path.basename(full_path), link)
            except OSError:
                pass
    except OSError as e:
        print(f"full-artifact write skipped: {e!r}", file=sys.stderr)
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": out["sf"],
        "control": {"median": round(stamp["median"], 3),
                    "vs_ref": round(stamp["vs_ref"], 3)},
        "full": full_path,
    }
    line = json.dumps(compact)
    if len(line) > 1500:  # hard budget: drop per-query detail first
        compact["queries"] = {k: round(v, 2) for k, v in timings.items()
                              if not k.startswith("ingest")}
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
