"""Frozen in-session VM-speed control, shared by every artifact tool.

Cloud-VM throughput drifts between sessions (the round-4→5 "+9%
regression" was a VM phase, proven by the round-6 control). Any
committed number is only interpretable with the speed of the session
that produced it, so `bench.py`, `tools/oracle_sweep_full.py`, and
`tools/scale_sweep.py` all stamp their artifacts with the same
control: a FROZEN synthetic workload (range scan → modular projection
→ 97-group agg → running-sum window; one shuffle + one window, all
codegen, no parquet, no registry — immune to engine changes by
construction) and its pinned reference median.

`vs_ref = session control median / control_ref_s()` is the session's
speed factor; divide raw timings by it for cross-round comparison. The
control's time depends on the core count as well as on VM speed, so
each core count has its own pin. DO NOT re-pin a CONTROL_REF_S value
when a VM feels slow — that is exactly the drift this exists to expose.
"""

from __future__ import annotations

import statistics
import time

# Pinned medians by core count, steady state inside bench.py: local[32]
# at the control's introduction (round 6, 2026-08-14, sf0.1); local[4]
# on a 4-vCPU VM (2026-10-19, sf0.01, trimmed gap median, cv 0.065).
CONTROL_REF_S = {32: 0.40, 4: 0.463}


def control_ref_s() -> float:
    """The pin for ``session.default_cpus()`` cores; a core count
    without a pin takes the nearest pinned one."""
    from shredder_spark.session import default_cpus

    cores = default_cpus()
    return CONTROL_REF_S[min(CONTROL_REF_S, key=lambda c: abs(c - cores))]


def drain(df) -> None:
    """Execute the full plan (no column-pruning shortcut, nothing
    collected to the driver)."""
    df.write.format("noop").mode("overwrite").save()


def control_once(spark) -> None:
    """One run of the frozen control workload."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    df = (spark.range(0, 20_000_000, 1, 32)
          .select((F.col("id") % 97).alias("k"),
                  (F.col("id") * 2654435761 % 1000003).alias("v")))
    agg = df.groupBy("k").agg(F.sum("v").alias("s"), F.avg("v").alias("a"),
                              F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    drain(agg.select("k", "s", "a", "c", F.sum("s").over(w).alias("rs")))


class GapControl:
    """Bracketing control gaps for long multi-query tools: one control
    at the end of a multi-hour run misses a VM phase inside it.

    Usage: call ``maybe_gap()`` at every query boundary (it runs a
    control gap every ``every``-th call, so a 688-query profile pays
    ~2·⌈688/25⌉ control reps, not 1376); record ``gap_index()`` next
    to each timing; normalize with ``local_vs_ref(gi)`` (the median of
    the gap before and the gap after, over the pinned reference);
    stamp the artifact with ``stamp()`` — a 20 %-trimmed core over ALL
    gap reps, the same instrument bench.py ships."""

    def __init__(self, spark, per_gap: int = 2, trim_frac: float = 0.2,
                 every: int = 1):
        self.spark = spark
        self.per_gap = per_gap
        self.trim_frac = trim_frac
        self.every = every
        self.gaps: list[list[float]] = []
        self._calls = 0

    def gap(self) -> None:
        g = []
        for _ in range(self.per_gap):
            t0 = time.perf_counter()
            control_once(self.spark)
            g.append(round(time.perf_counter() - t0, 4))
        self.gaps.append(g)

    def maybe_gap(self) -> None:
        if self._calls % self.every == 0:
            self.gap()
        self._calls += 1

    def gap_index(self) -> int:
        return len(self.gaps) - 1

    def local_vs_ref(self, gi: int) -> float:
        """Session-speed factor local to a timing bracketed by gap
        ``gi`` (before) and gap ``gi+1`` (after, when it exists)."""
        local = list(self.gaps[gi])
        if gi + 1 < len(self.gaps):
            local += self.gaps[gi + 1]
        med = statistics.median(local)
        return med / control_ref_s() if med else 1.0

    def stamp(self) -> dict:
        reps = [t for g in self.gaps for t in g]
        out = {"reps_n": len(reps), "gaps_n": len(self.gaps),
               "per_gap": self.per_gap, "every": self.every,
               "trim_frac": self.trim_frac}
        if not reps:
            # same key set as the populated branch: artifact consumers
            # keying on reps_n / vs_ref must not see a shape change
            # when no gaps ran (r9 advice)
            return {**out, "median": None, "cv": None, "cv_raw": None,
                    "ref_s": control_ref_s(), "vs_ref": None}
        s = sorted(reps)
        k = int(len(s) * self.trim_frac)
        return {**out, **_speed(s[k:len(s) - k] or s),
                "cv_raw": _speed(reps)["cv"]}


def _speed(times: list[float]) -> dict:
    """Median, cv and speed factor of control times."""
    med, mean, ref = (statistics.median(times), statistics.fmean(times),
                      control_ref_s())
    return {"median": round(med, 4),
            "cv": round(statistics.pstdev(times) / mean if mean else 0.0, 4),
            "ref_s": ref, "vs_ref": round(med / ref, 4)}


def control_stats(spark, reps: int = 5, warmup: int = 1) -> dict:
    """Timed control reps → artifact-stampable session-speed record."""
    for _ in range(warmup):
        control_once(spark)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        control_once(spark)
        times.append(round(time.perf_counter() - t0, 4))
    return {"reps": times, **_speed(times)}
