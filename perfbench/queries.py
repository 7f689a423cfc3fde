"""``queries``: the ten ``bench.py`` headline registry queries over
seeded tables with the value distributions of the repository's sf0.1
test tables at a quarter of their row counts, in a per-pass order drawn
from the seed.

``setup_s`` is the program's own set-up: ``catalog.register_views``
over a fresh copy of the tables. Generating them is the benchmark's
work and stays untimed.

Correctness is checked once per run, outside timing: every query's rows
must equal DuckDB's answer to its oracle text under the comparison
rules of ``tests/oracle_utils.py`` (order-insensitive, column names
sorted, floats within 1e-9). q110 has no oracle (MinHash recall is
approximate), so it must return its one row with at least one pair.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from perfbench import gen
from perfbench.common import (Run, control_s, geomean, group_stages, median,
                              timed_passes)

HEADLINE = [
    "q01_scan_count", "q05_inner_join", "q15_pricing_summary",
    "q21_ranking_windows", "q43_cosine_topk", "q50_term_frequency",
    "q53_quality_score", "q76_asof_union_trick", "q110_minhash_dedup_full",
    "q140_bm25_search",
]
SETUPS = 3
# × sf0.1 row counts: a pass stays ~6 s, so set-up, the oracle check,
# warm-up and three timed passes fit one run of about a minute
SCALE = 0.25
SMOKE_SCALE = 0.02


def short(name: str) -> str:
    return name.split("_", 1)[0]


def _oracle(r: Run, sf_dir: str):
    import duckdb

    from shredder_spark.catalog import TABLES

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=%d" % r.cores)
    con.execute(f"SET temp_directory='{r.path('duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(engine_cols: list[str], engine_tbl, con, oracle_sql: str) -> list[str]:
    """Mismatches between the engine's rows and DuckDB's, under the
    repository's oracle comparison rules."""
    import oracle_utils as ou

    res = con.execute(oracle_sql)
    oracle_cols = [d[0] for d in res.description]
    oracle_tbl = res.fetch_arrow_table()
    if (engine_tbl.num_rows > ou.ARROW_COMPARE_THRESHOLD
            and oracle_tbl.num_rows > ou.ARROW_COMPARE_THRESHOLD):
        return ou._compare_arrow(engine_cols, engine_tbl, oracle_cols, oracle_tbl)
    ec, er = ou._rows_canon(engine_cols, ou._arrow_to_tuples(engine_tbl))
    oc, orows = ou._rows_canon(oracle_cols, ou._arrow_to_tuples(oracle_tbl))
    if ec != oc:
        return [f"columns differ: engine={ec} oracle={oc}"]
    if not er:
        return ["empty result: the query checks nothing"]
    if len(er) != len(orows):
        return [f"row count differs: engine={len(er)} oracle={len(orows)}"]
    bad = [i for i, (a, b) in enumerate(zip(sorted(er, key=repr),
                                            sorted(orows, key=repr)))
           if not all(ou._values_equal(x, y) for x, y in zip(a, b))]
    return [f"{len(bad)} rows differ, first at sorted index {bad[0]}"] if bad else []


def _flip_first_value(tbl):
    """The table with its first cell changed: a corrupted output."""
    import pyarrow as pa

    col = tbl.column(0).to_pylist()
    col[0] = None if col[0] is not None else 0
    return tbl.set_column(0, tbl.schema.field(0), pa.array(col, tbl.column(0).type))


class Queries:
    def __init__(self, r: Run) -> None:
        self.r = r
        from shredder_spark import queries as registry

        reg = registry.registry()
        self.queries = [reg[n] for n in HEADLINE]
        self.sf_dir = ""
        self.rows: dict[str, int] = {}

    def generate(self) -> None:
        """Write the tables from the seed; untimed, it is the
        benchmark's work."""
        gen.write_tables(self.r.path("tables"), self.r.seed,
                         SMOKE_SCALE if self.r.smoke else SCALE)

    def setup(self) -> float:
        """The program's set-up: it registers its views over a fresh
        copy of the tables, so no schema it cached for an earlier path
        applies; returns the seconds of registering."""
        from shredder_spark.catalog import register_views

        if self.sf_dir:
            shutil.rmtree(self.sf_dir)
        self.sf_dir = self.r.path(f"sf-{time.monotonic_ns()}")
        shutil.copytree(self.r.path("tables"), self.sf_dir)
        t0 = time.perf_counter()
        register_views(self.r.spark, self.sf_dir)
        return time.perf_counter() - t0

    def check(self) -> None:
        """One untimed pass that collects every result and compares it
        with the oracle; each query is one op."""
        r = self.r
        sys.path.insert(0, os.path.join(r.root, "tests"))
        con = _oracle(r, self.sf_dir)
        try:
            for i, q in enumerate(self.queries):
                r.op(f"{q.name} oracle", self._check_one, q, con,
                     r.corrupt and i == 0)
        finally:
            con.close()

    def _check_one(self, q, con, corrupt: bool) -> None:
        df = q.run(self.r.spark, self.sf_dir)
        tbl = df.toArrow()
        if corrupt:
            tbl = _flip_first_value(tbl)
        self.rows[q.name] = tbl.num_rows
        if q.oracle is None:
            ok = tbl.num_rows == 1 and (tbl.column(0)[0].as_py() or 0) > 0
            bad = [] if ok else [f"expected one row with a positive count: {tbl}"]
        else:
            bad = compare(df.columns, tbl, con, q.oracle)
        self.r.check(not bad, f"{q.name}: " + "; ".join(bad))

    def one_pass(self, per_query: dict[str, list[float]] | None = None,
                 spans: bool = False) -> float | None:
        """All ten queries in a seeded order, each drained to the noop
        sink; returns the pass seconds, or None if any query failed."""
        r = self.r
        order = list(self.queries)
        r.rng.shuffle(order)
        total, ok = 0.0, True
        for q in order:
            dt = r.op(q.name, self._run_one, q, spans)
            if dt is None:
                ok = False
                continue
            total += dt
            if per_query is not None:
                per_query.setdefault(q.name, []).append(dt)
        return total if ok else None

    def _run_one(self, q, spans: bool) -> float:
        from shredder_spark.benchcontrol import drain

        r, t = self.r, self.r.tracer
        sc = r.spark.sparkContext
        if spans:
            sc.setJobGroup(f"perfbench-{q.name}", q.name)
        t0 = time.perf_counter()
        with t.span(f"queries.{short(q.name)}.build"):
            df = q.run(r.spark, self.sf_dir)
        with t.span(f"queries.{short(q.name)}.exec"):
            drain(df)
        dt = time.perf_counter() - t0
        if spans:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return dt


def run(r: Run) -> None:
    w = Queries(r)
    t0 = time.perf_counter()
    w.generate()
    r.log("generate", [time.perf_counter() - t0])
    setups = [w.setup() for _ in range(1 if r.smoke else SETUPS)]
    r.log("setup", setups)
    t0 = time.perf_counter()
    w.check()
    r.log("check", [time.perf_counter() - t0])
    # The check pass is the warm-up. Measured: the first drain pass
    # after it still runs ~15% slower than the later ones; the median
    # of at least five timed passes leaves it and one more slow one out.
    if r.trace:
        layers(r, w, setups)
        return
    per_query: dict[str, list[float]] = {}
    passes = timed_passes(lambda: w.one_pass(per_query), r.seconds,
                          min_passes=1 if r.smoke else 5)
    r.log("passes", passes)
    for name, xs in per_query.items():
        r.log(name, xs)
    if not passes or len(per_query) < len(HEADLINE):
        return
    nbytes = sum(os.path.getsize(os.path.join(w.sf_dir, f))
                 for f in os.listdir(w.sf_dir))
    r.metric("setup_s", median(setups), "s")
    r.metric("pass_s", median(passes), "s")
    r.metric("op_geomean_s", geomean(median(v) for v in per_query.values()), "s")
    r.metric("mb_s_per_core", nbytes / 1e6 / median(passes) / r.cores, "MB/s")


def layers(r: Run, w: Queries, setups) -> None:
    """Per-query build and execution spans, jobs and tasks from two
    traced passes, beside two untraced ones for the tracing overhead;
    the frozen control brackets every pass."""
    t = r.tracer
    plain, traced = [], []
    for _ in range(1 if r.smoke else 2):
        w.one_pass()   # measured: still slower and falling, untimed
    control = [control_s(r.spark)]
    mark = len(t.spans)
    # untraced, traced, traced, untraced: a drift over the passes
    # cancels out of the difference of the medians
    for i in range(1 if r.smoke else 2):
        for spans in ((False, True) if i % 2 == 0 else (True, False)):
            t.enabled = spans
            dt = w.one_pass(spans=spans)
            control.append(control_s(r.spark))
            if dt is None:
                return
            (traced if spans else plain).append(dt)
    r.log("passes untraced", plain)
    r.log("passes traced", traced)
    sc = r.spark.sparkContext
    st = sc.statusTracker()
    n = len(traced)   # every per-query figure is a mean over the traced passes
    for q in w.queries:
        s = short(q.name)
        jobs = st.getJobIdsForGroup(f"perfbench-{q.name}")
        stages = group_stages(sc, f"perfbench-{q.name}")
        r.metric(f"queries.{s}.build_s", t.total(f"queries.{s}.build", mark) / n, "s")
        r.metric(f"queries.{s}.exec_s", t.total(f"queries.{s}.exec", mark) / n, "s")
        r.metric(f"queries.{s}.jobs", len(jobs) / n, "count")
        r.metric(f"queries.{s}.tasks",
                 sum(x.numCompletedTasks for x in stages) / n, "count")
        r.metric(f"queries.{s}.rows", w.rows.get(q.name, 0), "count")
    r.metric("catalog.register_s", median(setups), "s")
    r.metric("control.s", median(control), "s")
    r.metric("tracing.overhead_s", median(traced) - median(plain), "s")
