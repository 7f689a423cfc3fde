"""Local-parallelism guard shared by the operator library.

A tiny local fixture arrives as ONE scan split (single-row-group
parquet), so a heavy per-row projection would run single-task (guide
§2.5 "input skew — one huge unsplittable file … repartition
immediately after the read"). Operators spread such inputs across the
session's cores before their heavy projections; on a real cluster the
scan already has thousands of splits and the guard is a no-op.

r12: the split-count probe is ESTIMATED from the plan's input files
(``df.inputFiles()`` + a local stat — no job, no RDD conversion)
because the previous ``df.rdd.getNumPartitions()`` probe paid a full
analysis → optimization → physical-planning → RDD-conversion pass per
call (~50 ms of driver latency per operator invocation, measured in
OPTIMIZATION_r12.md). ``.rdd.getNumPartitions()`` remains the exact
fallback for non-file-backed plans; remote-storage paths skip the
spread outright (remote storage ⇒ a real cluster scan).
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import DataFrame

_OPEN_COST = 4 << 20  # spark.sql.files.openCostInBytes default

_UNIT = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10,
         "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30}


def _max_partition_bytes(df: DataFrame) -> int:
    raw = str(df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728"))
    m = re.fullmatch(r"(\d+)\s*([a-zA-Z]*)", raw.strip())
    if not m:
        return 128 << 20
    return int(m.group(1)) * _UNIT.get(m.group(2).lower(), 1)


# estimated_scan_bytes of a plan that reads remote storage: a real
# cluster scan, so at least any size threshold a caller may set —
# "bytes >= threshold" then means "big input", the scale-safe branch.
# Never add to it: it is a marker, not a size.
REMOTE_SCAN_BYTES = 1 << 60


def _scan_files(df: DataFrame) -> tuple[list[str], int] | None:
    """``(files, total_bytes)`` of the plan's file scans, listing
    ``df.inputFiles()`` once (one Py4J round trip). None when the plan
    is not (statable) file-backed; total ``REMOTE_SCAN_BYTES`` when
    any file is on remote storage."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        if f.startswith("file:"):
            p = f[len("file:"):]
        elif "://" not in f:
            p = f
        else:
            return files, REMOTE_SCAN_BYTES
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return files, total


def estimated_scan_bytes(df: DataFrame) -> int | None:
    """Total bytes of the plan's file scans from local stats. None
    when the plan is not (statable) file-backed; ``REMOTE_SCAN_BYTES``
    for remote storage."""
    scan = _scan_files(df)
    return None if scan is None else scan[1]


def estimated_scan_splits(df: DataFrame) -> int | None:
    """Rough split count of the plan's file scans, from file sizes and
    the session's ``maxPartitionBytes``/``openCostInBytes`` packing
    rule. None when the plan is not (statable) file-backed."""
    scan = _scan_files(df)
    if scan is None:
        return None
    files, total = scan
    if total == REMOTE_SCAN_BYTES:
        return 1 << 30  # remote storage => real cluster scan
    total += _OPEN_COST * max(len(files) - 1, 0)
    return max(1, math.ceil(total / _max_partition_bytes(df)))


def spread_small_input(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism when its
    scan would arrive in fewer splits than that (hash on ``keys`` when
    given, round-robin otherwise). No-op on scans that are already
    parallel enough — i.e. on any real cluster input."""
    par = df.sparkSession.sparkContext.defaultParallelism
    est = estimated_scan_splits(df)
    if est is None:
        est = df.rdd.getNumPartitions()
    if est >= par:
        return df
    return df.repartition(par, *keys) if keys else df.repartition(par)
