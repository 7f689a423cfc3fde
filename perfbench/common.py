"""Shared run machinery: the run context, pass loops, spans and stats."""

from __future__ import annotations

import contextlib
import math
import os
import random
import statistics
import sys
import threading
import time
import traceback


def median(xs) -> float:
    return float(statistics.median(xs))


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


class Tracer:
    """In-memory spans around calls into the program's modules.

    ``wrap`` swaps a module function for a timing wrapper until
    ``restore``; each call records one span (name, start, end). A
    disabled tracer wraps nothing and records nothing, so the untraced
    run pays no cost."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []
        self._saved: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter()))

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span around every call of ``module.attr``."""
        if not self.enabled:
            return
        func = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return func(*args, **kwargs)

        setattr(module, attr, traced)
        self._saved.append((module, attr, func))

    def restore(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def total(self, name: str, since: int = 0) -> float:
        return sum(t1 - t0 for n, t0, t1 in self.spans[since:] if n == name)


class Run:
    """One benchmark run: its inputs, its Spark session and its result.

    Workload modules call ``op`` around every checked operation, so an
    exception or a failed check counts as a failed op instead of ending
    the run; ``metric`` records a named value with its unit."""

    def __init__(self, *, workload: str, seed: int, seconds: float,
                 trace: bool, smoke: bool, corrupt: bool, root: str,
                 work: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.smoke = smoke        # tiny inputs, one pass
        self.corrupt = corrupt    # flip a byte of the first checked output
        self.root = root
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.rng = random.Random(seed)
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, dict] = {}
        self.spark = None

    def start_spark(self):
        """A session from the program's own ``get_spark`` on
        ``local[<cores>]``. After the caller stopped the previous one it
        is a new session in the same JVM, which is launched only once."""
        from shredder_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def log(self, what: str, values) -> None:
        """Diagnostics go to stderr; stdout carries only the result."""
        if isinstance(values, (list, tuple)):
            values = " ".join(f"{v:.3f}" for v in values)
        print(f"[{self.workload}] {what}: {values}", file=sys.stderr, flush=True)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            raise CheckFailed(what)

    def op(self, label: str, fn, *args, **kwargs):
        """Run one checked operation; returns its result, or None when
        it raised or a check in it failed (counted in ``failed``)."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # the run reports the failure and goes on
            self.failed += 1
            print(f"op {label} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None

    def result(self) -> dict:
        return {"correct": self.failed == 0 and self.attempted > 0,
                "attempted": self.attempted, "failed": self.failed,
                "metrics": self.metrics}


class CheckFailed(AssertionError):
    """An output of the program differs from what the input implies."""


def timed_passes(fn, seconds: float, *, min_passes: int = 3) -> list[float]:
    """Run ``fn`` until ``seconds`` have passed and at least
    ``min_passes`` succeeded, giving up after ``min_passes`` failures;
    returns the successful pass times."""
    times: list[float] = []
    failures = 0
    t_end = time.perf_counter() + seconds
    while ((time.perf_counter() < t_end or len(times) < min_passes)
           and failures < min_passes):
        t = fn()
        if t is None:
            failures += 1
        else:
            times.append(t)
    return times


def control_s(spark) -> float:
    """Seconds of one run of the program's frozen control workload: the
    speed of the machine at that moment, for diagnosis only."""
    from shredder_spark.benchcontrol import control_once

    t0 = time.perf_counter()
    control_once(spark)
    return time.perf_counter() - t0


def group_stages(sc, group: str) -> list:
    """The stage infos of every job Spark ran under job group ``group``,
    read through its public status tracker."""
    st = sc.statusTracker()
    infos = []
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        infos += [st.getStageInfo(sid) for sid in (job.stageIds if job else [])]
    return [i for i in infos if i is not None]


class ActiveTaskSampler:
    """Samples the peak number of concurrently running tasks of one
    job group through Spark's public status tracker."""

    def __init__(self, sc, group: str, every_s: float = 0.01) -> None:
        self.sc, self.group, self.every_s = sc, group, every_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            active = sum(i.numActiveTasks for i in group_stages(self.sc, self.group))
            self.peak = max(self.peak, active)
            self._stop.wait(self.every_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(10)
