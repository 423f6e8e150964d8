"""The worker daemon's zip directory cache, without Spark; its effect
in the fixture session's Python workers; and workers that import the
package from a foreign cwd."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from kinesis_s3_data_shipper_spark import worker_daemon


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in members.items():
            z.writestr(name, source)


@pytest.fixture()
def reads(monkeypatch):
    """Spy on ``zipimport._read_directory``; yields the archives it read.
    The shim a test installs, its stamps and the spy are undone after
    the test."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    seen: list[str] = []
    real = zipimport._read_directory

    def spy(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    yield seen


@pytest.fixture()
def probe_zip(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding one module, imported once before
    the shim is installed, as the daemon's own archives are."""
    name = f"wd_probe_{uuid.uuid4().hex}"
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {f"{name}.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(name).VALUE == 1
    yield archive, name
    for mod in [m for m in sys.modules if m.startswith("wd_probe_")]:
        del sys.modules[mod]
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def _importer(archive):
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)
    return importer


def test_unchanged_archive_is_not_reread(probe_zip, reads):
    archive, _ = probe_zip
    worker_daemon.install()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads
    assert _importer(archive)._files


def test_rewritten_archive_is_reread(probe_zip, reads):
    archive, name = probe_zip
    worker_daemon.install()
    _write_zip(archive + ".new", {f"{name}.py": "VALUE = 1\n",
                                  f"{name}_new.py": "VALUE = 2\n"})
    os.replace(archive + ".new", archive)
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module(f"{name}_new").VALUE == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_deleted_archive_falls_back_to_cpython(probe_zip, reads):
    archive, _ = probe_zip
    worker_daemon.install()
    os.remove(archive)
    importlib.invalidate_caches()
    assert _importer(archive)._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_python_tasks_reread_no_archive(spark):
    """A second task re-reads no archive, though its worker holds zip
    importers (CPython alone re-reads every one of them, 16)."""

    def count_rereads(_):
        # One task's importlib.invalidate_caches(): the archives it
        # re-reads and the zip importers its worker holds.
        import importlib
        import sys
        import zipimport

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: (reads.append(a), real(a))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        held = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        return len(reads), held

    rdd = spark.sparkContext.parallelize([0], 1)
    rdd.map(count_rereads).collect()
    ((reads, held),) = rdd.map(count_rereads).collect()
    assert held > 0
    assert reads == 0


def test_pyfile_added_after_first_task_is_importable(spark, tmp_path):
    sc = spark.sparkContext
    rdd = sc.parallelize([0], 1)
    assert rdd.map(lambda x: x + 1).collect() == [1]
    name = f"wd_pyfile_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {f"{name}.py": "VALUE = 7\n"})
    sc.addPyFile(archive)
    assert rdd.map(
        lambda _: importlib.import_module(name).VALUE).collect() == [7]


_FOREIGN_CWD_SCRIPT = """
import os, sys
sys.path.insert(0, {root!r})
from kinesis_s3_data_shipper_spark.ingest.fixture import make_raw_file
from kinesis_s3_data_shipper_spark.ingest.splitter import split_blocks
from kinesis_s3_data_shipper_spark.plans import all_queries
from kinesis_s3_data_shipper_spark.session import get_session

spark = get_session("ksds-foreign-cwd", cpus=2)
assert spark.sparkContext.parallelize([1, 2], 2).map(
    lambda x: x * 10).collect() == [10, 20]
with open("raw.dat", "wb") as f:
    f.write(make_raw_file(n_blocks=3, events_per_block=2, gzip_depth=1))
raw = spark.read.format("binaryFile").load(os.path.abspath("raw.dat"))
assert split_blocks(raw).count() == 3
assert all_queries()["ann_ivfpq_refine"](spark, {sf!r}).collect()
spark.stop()
print("ok")
"""


def test_get_session_workers_run_from_a_foreign_cwd(tmp_path, sf_small):
    """Python tasks of a ``get_session`` session import the package
    although the cwd is elsewhere, no ``PYTHONPATH`` is set and the
    driver found the package through ``sys.path`` alone."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    done = subprocess.run(
        [sys.executable, "-c",
         _FOREIGN_CWD_SCRIPT.format(root=root, sf=sf_small)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-4000:]
    assert done.stdout.strip().endswith("ok")


_PLAIN_SESSION_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
from kinesis_s3_data_shipper_spark.plans import all_queries

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
assert all_queries()["ann_ivfpq_refine"](spark, {sf!r}).collect()
spark.stop()
print("ok")
"""


def test_plain_session_workers_run_from_a_foreign_cwd(tmp_path, sf_small):
    """A session built elsewhere (no package confs, so no worker
    ``PYTHONPATH``) runs a Python UDF query from a foreign cwd with
    ``PYTHONPATH`` unset: the query's first table load ships the
    package to the workers."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "-c",
         _PLAIN_SESSION_SCRIPT.format(root=root, sf=sf_small)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-4000:]
    assert done.stdout.strip().endswith("ok")
