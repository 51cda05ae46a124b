"""Python workers start through ``outboxx_spark.pyworker_daemon``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; the daemon's wrapper makes a ``zipimporter`` re-read its
archive's index only when the archive changed. Checked here:

- an unchanged archive is never re-read, however often caches are
  invalidated;
- an archive rewritten in place, replaced by a same-size file, or changed
  too recently to trust its stamp is re-read, and a module added to it
  imports through the existing importer;
- on a live session the workers run the wrapper, every ``pyspark.zip``
  importer was stamped by the daemon, the package's parent directory is on
  the executors' ``PYTHONPATH`` (so the daemon imports from any working
  directory), and a zip added mid-session with ``addPyFile`` imports inside
  a UDF.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import outboxx_spark
from outboxx_spark import pyworker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def zip_reads(monkeypatch):
    """Install the wrapper and count the original re-reads per archive."""
    reads: dict[str, int] = {}
    original = pyworker_daemon._read_index

    def counting(importer):
        reads[importer.archive] = reads.get(importer.archive, 0) + 1
        original(importer)

    monkeypatch.setattr(pyworker_daemon, "_read_index", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker_daemon.invalidate_caches)
    return reads


def _import_from_zip(monkeypatch, archive, name):
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, name, raising=False)
    return importlib.import_module(name)


def test_unchanged_archive_is_never_reread(tmp_path, monkeypatch, zip_reads):
    # Trust stamps at once; the test archive was written a moment ago.
    monkeypatch.setattr(pyworker_daemon, "RACY_NS", 0)
    archive = tmp_path / "same.zip"
    _write_zip(archive, {"pyw_same_a": "V = 1\n"})
    assert _import_from_zip(monkeypatch, archive, "pyw_same_a").V == 1
    importlib.invalidate_caches()  # first sight: read once and stamp
    assert zip_reads[str(archive)] == 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert zip_reads[str(archive)] == 1


def test_rewritten_archive_is_reread_and_serves_new_modules(tmp_path, monkeypatch, zip_reads):
    monkeypatch.setattr(pyworker_daemon, "RACY_NS", 0)
    archive = tmp_path / "grow.zip"
    _write_zip(archive, {"pyw_grow_a": "V = 1\n"})
    _import_from_zip(monkeypatch, archive, "pyw_grow_a")
    importer = sys.path_importer_cache[str(archive)]
    importlib.invalidate_caches()
    assert zip_reads[str(archive)] == 1

    _write_zip(archive, {"pyw_grow_a": "V = 1\n", "pyw_grow_b": "V = 2\n"})
    importlib.invalidate_caches()
    assert zip_reads[str(archive)] == 2
    monkeypatch.delitem(sys.modules, "pyw_grow_b", raising=False)
    assert importlib.import_module("pyw_grow_b").V == 2
    assert sys.path_importer_cache[str(archive)] is importer


def test_same_size_replacement_is_reread(tmp_path, monkeypatch, zip_reads):
    """Equal size and mtime: the inode and ctime still move the stamp."""
    monkeypatch.setattr(pyworker_daemon, "RACY_NS", 0)
    archive = tmp_path / "swap.zip"
    _write_zip(archive, {"pyw_swap_a": "V = 1\n"})
    _import_from_zip(monkeypatch, archive, "pyw_swap_a")
    importlib.invalidate_caches()
    before = os.stat(archive)

    _write_zip(tmp_path / "next.zip", {"pyw_swap_a": "V = 7\n"})
    os.utime(tmp_path / "next.zip", ns=(before.st_atime_ns, before.st_mtime_ns))
    os.replace(tmp_path / "next.zip", archive)
    assert os.stat(archive).st_size == before.st_size
    importlib.invalidate_caches()
    assert zip_reads[str(archive)] == 2


def test_recently_changed_archive_is_reread_every_time(tmp_path, monkeypatch, zip_reads):
    """Inside RACY_NS of a change a stamp is not trusted: a second rewrite in
    the same filesystem timestamp tick could leave it equal."""
    archive = tmp_path / "fresh.zip"
    _write_zip(archive, {"pyw_fresh_a": "V = 1\n"})
    _import_from_zip(monkeypatch, archive, "pyw_fresh_a")
    for _ in range(3):
        importlib.invalidate_caches()
    assert zip_reads[str(archive)] == 3


def test_workers_run_the_wrapper(spark):
    # Nested so the UDF pickles by value: tests/ is not on the workers' path.
    def report(batches):
        import sys
        import zipimport

        stamped = [
            getattr(imp, "_index_stamp", None) is not None
            for imp in list(sys.path_importer_cache.values())
            if isinstance(imp, zipimport.zipimporter) and imp.archive.endswith("pyspark.zip")
        ]
        for _ in batches:
            yield pa.RecordBatch.from_pylist(
                [
                    {
                        "wrapper": zipimport.zipimporter.invalidate_caches.__code__.co_filename,
                        "pyspark_importers": len(stamped),
                        "stamped": sum(stamped),
                    }
                ]
            )

    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInArrow(report, "wrapper string, pyspark_importers long, stamped long")
        .collect()
    )
    assert row.wrapper.endswith(os.path.join("outboxx_spark", "pyworker_daemon.py"))
    assert row.pyspark_importers > 0
    assert row.stamped == row.pyspark_importers


def test_daemon_is_on_the_executor_path(spark):
    parent = os.path.dirname(os.path.dirname(os.path.abspath(outboxx_spark.__file__)))
    assert spark.conf.get("spark.python.daemon.module") == "outboxx_spark.pyworker_daemon"
    assert parent in spark.conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)


def test_add_py_file_mid_session_imports_in_a_udf(spark, tmp_path):
    archive = tmp_path / "pyw_added.zip"
    _write_zip(archive, {"pyw_added_mod": "V = 41\n"})
    spark.sparkContext.addPyFile(str(archive))

    def use(batches):
        import pyw_added_mod

        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"v": pyw_added_mod.V + 1}])

    assert [r.v for r in spark.range(1, numPartitions=1).mapInArrow(use, "v long").collect()] == [42]
