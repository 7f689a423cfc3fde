"""``utils.skip_unchanged_zip_rereads``: ``invalidate_caches`` re-reads a
zip's central directory only when the archive changed on disk, and a
reused Python worker re-reads none between tasks."""

from __future__ import annotations

import importlib
import sys
import time
import zipfile
import zipimport

import pytest

from shredder_spark.utils import skip_unchanged_zip_rereads

ON_311 = sys.version_info < (3, 12)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.mark.skipif(not ON_311, reason="CPython 3.12 re-reads lazily")
def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    # the package's import installed it already; again is a no-op
    installed = zipimport.zipimporter.invalidate_caches
    skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is installed

    archive = tmp_path / "zipped.zip"
    _write_zip(archive, {"zipped_a": "X = 1"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "zipped_a", raising=False)
    monkeypatch.delitem(sys.modules, "zipped_b", raising=False)
    assert importlib.import_module("zipped_a").X == 1

    reads = []
    stock_read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)

    def reads_per_invalidate(times: int) -> list[int]:
        counts = []
        for _ in range(times):
            before = reads.count(str(archive))
            importlib.invalidate_caches()
            counts.append(reads.count(str(archive)) - before)
        return counts

    first, *rest = reads_per_invalidate(4)
    assert first <= 1 and rest == [0, 0, 0]

    skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is installed
    assert reads_per_invalidate(2) == [0, 0]

    # rewritten in place (same inode, new size): re-read, new module found
    time.sleep(0.01)
    _write_zip(archive, {"zipped_a": "X = 1", "zipped_b": "Y = 2"})
    assert reads_per_invalidate(2) == [1, 0]
    assert importlib.import_module("zipped_b").Y == 2
    sys.path_importer_cache.pop(str(archive), None)


def test_nothing_installed_on_312(monkeypatch):
    """On CPython >= 3.12 the stock method stays."""
    stock = object()
    fresh = type("zipimporter", (), {"invalidate_caches": stock})
    monkeypatch.setattr(zipimport, "zipimporter", fresh)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    skip_unchanged_zip_rereads()
    assert fresh.invalidate_caches is stock
    assert not hasattr(fresh, "_stock_invalidate")


@pytest.mark.skipif(not ON_311, reason="CPython 3.12 re-reads lazily")
def test_reused_worker_rereads_no_zip_directory(spark):
    """Three jobs of one task per core. A worker that had the package
    imported before a task's own ``invalidate_caches`` counts the
    directory reads from then on; in the third job each such worker
    reports the reads since its task in the second: none."""
    from shredder_spark.utils import ensure_package_on_executors

    ensure_package_on_executors(spark)
    sc = spark.sparkContext
    slots = sc.defaultParallelism

    def probe(_it):
        import time
        import zipimport

        armed = hasattr(zipimport.zipimporter, "_stock_invalidate")
        import shredder_spark  # noqa: F401  (installs the wrapper)

        since = getattr(zipimport, "_probe_reads", None)
        if armed:
            if since is None:
                stock_read = zipimport._read_directory

                def counted(path):
                    zipimport._probe_reads += 1
                    return stock_read(path)

                zipimport._read_directory = counted
            zipimport._probe_reads = 0
        time.sleep(0.3)  # hold this worker: one worker per task
        yield since

    def job():
        return sc.parallelize(range(slots), slots).mapPartitions(probe).collect()

    job()
    job()
    since_second = [n for n in job() if n is not None]
    assert since_second, "no worker was reused across the jobs"
    assert since_second == [0] * len(since_second)
