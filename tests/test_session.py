"""Session defaults that change how every query runs."""

from __future__ import annotations

import os
import uuid
import zipfile
import zipimport

import pandas as pd

from gdal_spark import worker_daemon
from gdal_spark.session import _default_master, worker_conf

REPO = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))


def test_codegen_cache_outlives_a_round_of_distinct_plans(spark):
    """Whole-stage codegen caches compiled classes by their source, and
    Spark's default cache holds 100. A second round over the same 150
    distinct plans must compile nothing: with the default, every class
    of the round is evicted before it comes back, and Janino compiles
    each one again."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    queries = [f"SELECT id * {i} + {i} AS v FROM range(3)" for i in range(150)]
    for q in queries:
        spark.sql(q).collect()
    before = compiles.getCount()
    for q in queries:
        spark.sql(q).collect()
    assert compiles.getCount() - before == 0


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_gate_rereads_only_a_changed_archive(tmp_path):
    """The daemon's gate skips the re-read of an unchanged archive,
    re-reads a rewritten one in every importer of it, and survives a
    deleted one."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["a"])
    first, second = zipimport.zipimporter(str(archive)), zipimport.zipimporter(str(archive))
    reread, saved = worker_daemon._reread, zipimport.zipimporter.invalidate_caches
    calls = []

    def counted(imp):
        calls.append(imp)
        reread(imp)

    worker_daemon._reread = counted
    worker_daemon.install()
    try:
        first.invalidate_caches()
        second.invalidate_caches()
        calls.clear()
        first.invalidate_caches()
        first.invalidate_caches()
        second.invalidate_caches()
        assert calls == []

        mtime = archive.stat().st_mtime_ns
        _write_zip(archive, ["a", "b"])
        os.utime(archive, ns=(mtime + 10**9, mtime + 10**9))
        first.invalidate_caches()
        first.invalidate_caches()
        second.invalidate_caches()
        assert calls == [first, second]
        assert first.find_spec("b") is not None and second.find_spec("b") is not None

        archive.unlink()
        first.invalidate_caches()
        assert first.find_spec("a") is None
    finally:
        worker_daemon._reread = reread
        zipimport.zipimporter.invalidate_caches = saved


def test_workers_run_the_zip_gate(spark):
    def gate_name(batches):
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame({"name": [zipimport.zipimporter.invalidate_caches.__qualname__]})

    rows = spark.range(0, 4, 1, 4).mapInPandas(gate_name, "name string").collect()
    assert {r.name for r in rows} == {worker_daemon.invalidate_if_changed.__qualname__}


def test_added_py_file_is_importable_in_warm_workers(spark, tmp_path):
    """PySpark invalidates import caches at each task so that a zip added
    with addPyFile is importable; the gate must keep that."""
    spark.range(0, 4, 1, 4).mapInPandas(lambda it: it, "id long").count()
    name = f"added_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, [name])
    spark.sparkContext.addPyFile(str(archive))

    def load(batches):
        import importlib

        for _ in batches:
            pass
        yield pd.DataFrame({"name": [importlib.import_module(name).NAME]})

    rows = spark.range(0, 4, 1, 4).mapInPandas(load, "name string").collect()
    assert [r.name for r in rows] == [name] * 4


def test_only_local_masters_get_the_worker_daemon(monkeypatch):
    monkeypatch.chdir(REPO)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert worker_conf("local[4]")["spark.python.daemon.module"] == "gdal_spark.worker_daemon"
    assert "spark.python.daemon.module" not in worker_conf("spark://h:7077")


def test_no_worker_daemon_when_workers_cannot_import_it(monkeypatch, tmp_path):
    """A local spark-submit --py-files run from outside the checkout puts
    gdal_spark on the path only per task: the daemon would fail to start."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert worker_conf("local[4]") == {}
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), REPO]))
    assert worker_conf("local[4]")["spark.python.daemon.module"] == "gdal_spark.worker_daemon"


def test_default_master_uses_the_cpus_this_process_may_use(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _default_master() == f"local[{len(os.sched_getaffinity(0))}]"
