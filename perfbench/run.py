"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_avro --seed 1 --seconds 20 --trace 0

Runs one workload on ``local[<cores>]`` from this single process, checks
every output, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` makes a separate traced run that
reports the per-layer metrics instead. ``--smoke`` shrinks every input
to a few thousand rows and runs one pass; ``--corrupt`` flips a byte in
the first checked output, which must then count as a failed op.

Inputs are generated from ``--seed`` into a fresh directory under
``.perfbench_run/`` at the checkout root and deleted on exit; Spark's
scratch space and temporary files stay inside it too. The program is
imported from the checkout root, whatever the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _args(argv, contract: dict):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in contract["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--corrupt", action="store_true")
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark at
    ``work``, and make the checkout importable by Spark's Python
    workers, which do not inherit this process's sys.path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # -XX:-UsePerfData: no hsperfdata file in the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    sys.path.insert(0, ROOT)
    os.chdir(work)


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the JVM
    exits when its stdin closes, and takes its Python workers with it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(60)


def _finish(result: dict, declared: list[dict], trace: bool) -> dict:
    """Hold the printed metrics to the declared set. A traced run
    reports a layer its workload bypasses as 0; an untraced run that
    could not measure a metric is not correct."""
    got = result["metrics"]
    out = {}
    for m in declared:
        if m["name"] in got:
            out[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif trace:
            out[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            result["correct"] = False
    result["metrics"] = out
    return result


def main(argv=None) -> int:
    contract = _contract()
    args = _args(argv, contract)
    if not os.path.isfile(os.path.join(ROOT, "shredder_spark", "session.py")):
        print(f"perfbench: no shredder_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    r = None
    try:
        _isolate(work)
        from perfbench.common import Run

        r = Run(workload=args.workload, seed=args.seed, seconds=args.seconds,
                trace=bool(args.trace), smoke=args.smoke, corrupt=args.corrupt,
                root=ROOT, work=work)

        r.start_spark()
        if args.workload == "ingest_avro":
            from perfbench import ingest, kafka

            ingest.run(r)
            if r.trace:
                kafka.layers(r)
        else:
            from perfbench import queries

            queries.run(r)
        result = _finish(r.result(), contract["per_layer" if r.trace else "end_to_end"],
                         r.trace)
    finally:
        if "pyspark" in sys.modules:
            _stop_spark(r.spark if r is not None else None)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
