"""The Python workers' zipimport guard (gdal2mbtiles_spark._zipcache).

PySpark calls importlib.invalidate_caches() before every task, and
before Python 3.13 every zipimporter re-reads its archive's directory
there.  The guard re-reads an archive only when its stat changed, once
for all importers of it, and is installed only inside a Spark task.
"""

import json
import os
import subprocess
import sys
import zipimport

import pytest

from gdal2mbtiles_spark import _zipcache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python >= 3.13 re-reads zip archives lazily; no guard")

# Imports zpkg.mod from a zip with the guard installed ("guard") or
# not ("stdlib"), rewrites and then deletes the zip, and prints what
# each step observed as JSON.
DRIVE = r"""
import importlib, json, os, sys, zipfile, zipimport

mode, zip_path = sys.argv[1], sys.argv[2]

def write_zip(value):
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/mod.py", f"VALUE = {value!r}\n")

def reimport():
    sys.modules.pop("zpkg.mod", None)
    try:
        return importlib.import_module("zpkg.mod").VALUE
    except ImportError as e:
        return type(e).__name__

reads = []
real_read = zipimport._read_directory
zipimport._read_directory = lambda a: (reads.append(a), real_read(a))[1]

def invalidate_reads():
    del reads[:]
    importlib.invalidate_caches()
    return reads.count(zip_path)

write_zip("v1")
sys.path.insert(0, zip_path)
out = {"first": reimport()}
if mode == "guard":
    from pyspark.taskcontext import TaskContext
    TaskContext._getOrCreate()          # as in a worker running a task
    from gdal2mbtiles_spark import _zipcache
    out["installed"] = _zipcache.install()
out["importers"] = sum(
    isinstance(f, zipimport.zipimporter) and f.archive == zip_path
    for f in sys.path_importer_cache.values())
out["reads_first"] = invalidate_reads()
out["reads_unchanged"] = [invalidate_reads() for _ in range(3)]
write_zip("version two")
out["reads_rewritten"] = invalidate_reads()
out["reads_after_rewrite"] = invalidate_reads()
out["rewritten"] = reimport()
os.remove(zip_path)
out["reads_deleted"] = invalidate_reads()
out["deleted"] = reimport()
print(json.dumps(out))
"""


def _drive(mode, tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", DRIVE, mode, str(tmp_path / "z.zip")],
        cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_guard_reads_only_changed_archives(tmp_path):
    got = _drive("guard", tmp_path)
    assert got["installed"] is True
    assert got["importers"] >= 2          # zip root and zpkg/
    assert got["first"] == "v1"
    # one read shared by every importer of the archive, then none
    assert got["reads_first"] == 1
    assert got["reads_unchanged"] == [0, 0, 0]
    # a rewrite is read exactly once, and its new source imports
    assert got["reads_rewritten"] == 1
    assert got["reads_after_rewrite"] == 0
    assert got["rewritten"] == "version two"


def test_deleted_archive_behaves_as_stdlib(tmp_path):
    (tmp_path / "g").mkdir()
    (tmp_path / "s").mkdir()
    guard = _drive("guard", tmp_path / "g")
    stdlib = _drive("stdlib", tmp_path / "s")
    # the stdlib re-reads once per importer on every invalidation
    assert stdlib["reads_unchanged"] == [stdlib["importers"]] * 3
    for key in ("first", "rewritten", "deleted", "reads_deleted"):
        assert guard[key] == stdlib[key], key
    assert guard["deleted"] == "ModuleNotFoundError"


def test_not_installed_outside_a_task():
    # this process is a driver: importing the package left the stdlib
    # method in place, and install() refuses without a running task
    assert (zipimport.zipimporter.invalidate_caches
            is _zipcache._stdlib_invalidate)
    assert _zipcache.install() is False
    assert (zipimport.zipimporter.invalidate_caches
            is _zipcache._stdlib_invalidate)


def test_reused_worker_does_no_archive_reads(spark):
    """Inside a task, count _read_directory calls around the task's own
    importlib.invalidate_caches().  A worker that already ran a guarded
    per-task set-up (PySpark's own invalidation) reads nothing."""

    def count_reads(batches):
        import importlib
        import zipimport

        import pandas as pd

        from gdal2mbtiles_spark import _zipcache

        primed = bool(_zipcache._read_at)
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = (
            lambda a: (reads.append(a), real(a))[1])
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()], "primed": [primed],
            "reads": [len(reads)],
            "guarded": [zipimport.zipimporter.invalidate_caches
                        is _zipcache._invalidate_caches]})

    rows = (spark.range(32, numPartitions=16)
            .mapInPandas(count_reads, schema="pid long, primed boolean, "
                                             "reads long, guarded boolean")
            .collect())
    assert len(rows) == 16
    assert all(r.guarded for r in rows)
    # 16 tasks on a 4-core session: workers are reused
    assert len({r.pid for r in rows}) < len(rows)
    primed = [r.reads for r in rows if r.primed]
    assert primed and primed == [0] * len(primed), rows
    # the driver's import system is untouched
    assert (zipimport.zipimporter.invalidate_caches
            is _zipcache._stdlib_invalidate)
