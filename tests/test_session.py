"""Session defaults that change how every query runs."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from gdal_spark import worker_daemon
from gdal_spark.session import _default_master, _private_socket_dir, worker_conf

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


def test_column_building_skips_call_site_capture(spark, monkeypatch):
    """PySpark's DataFrame debugging records the Python call site of
    every classic Column method in the JVM: F.col("a") + F.lit(1.0)
    took 27 py4j round trips with it and takes 7 without."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counted(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):  # py4j freeing proxies collected elsewhere
            sent.append(command)
        return send(command, *args, **kwargs)

    F.col("a") + F.lit(1.0)  # resolves the JVM classes once
    monkeypatch.setattr(client, "send_command", counted)
    F.col("a") + F.lit(1.0)
    assert len(sent) <= 10, sent


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
    assert "spark.python.daemon.module" not in worker_conf("local[4]")
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), REPO]))
    assert worker_conf("local[4]")["spark.python.daemon.module"] == "gdal_spark.worker_daemon"


def test_default_master_uses_the_cpus_this_process_may_use(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _default_master() == f"local[{len(os.sched_getaffinity(0))}]"


def test_only_local_masters_get_unix_sockets():
    conf = worker_conf("local[4]")
    assert conf["spark.python.unix.domain.socket.enabled"] == "true"
    sock_dir = conf["spark.python.unix.domain.socket.dir"]
    assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700
    assert len(os.fsencode(os.path.join(sock_dir, f".{uuid.uuid4()}.sock"))) <= 107
    assert worker_conf("local[2]")["spark.python.unix.domain.socket.dir"] == sock_dir
    assert worker_conf("spark://h:7077") == {}


def test_workers_use_unix_sockets(spark):
    """The JVM tells its workers with PYTHON_UNIX_DOMAIN_ENABLED, which
    it sets to "True"; PySpark compares it lowercased."""

    def transport(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")]})

    rows = spark.range(0, 4, 1, 4).mapInPandas(transport, "uds string").collect()
    assert {r.uds.lower() for r in rows} == {"true"}


def test_socket_dir_skips_a_base_too_long_for_a_socket_path(tmp_path):
    long_base = tmp_path / ("d" * 60)
    long_base.mkdir()
    assert _private_socket_dir([str(long_base)]) is None
    sock_dir = _private_socket_dir([str(long_base), "/tmp"])
    try:
        assert os.path.dirname(sock_dir) == "/tmp"
    finally:
        os.rmdir(sock_dir)


_RUN_A_TASK = """
import json, sys
from gdal_spark import session
if sys.argv[1] == "tcp":
    session._socket_dir = lambda: None
spark = session.get_spark("uds", master="local[2]", extra_conf={
    "spark.driver.memory": "512m",
    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + sys.argv[2]})
conf = spark.sparkContext.getConf()
n = spark.range(0, 2, 1, 2).mapInPandas(lambda it: it, "id long").count()
print(json.dumps({"n": n, "uds": conf.get("spark.python.unix.domain.socket.enabled", "false"),
                  "dir": conf.get("spark.python.unix.domain.socket.dir", None)}))
"""


@pytest.mark.parametrize("transport", ["uds", "tcp"])
def test_long_temp_dir_still_runs_python_tasks(tmp_path, transport):
    """A TMPDIR and java.io.tmpdir too long for a socket path (perfbench
    puts both inside its checkout) must not stop the session: it puts
    its sockets under /tmp, or stays on TCP when it cannot, and leaves
    no socket directory behind."""
    long_tmp = tmp_path / ("t" * 40) / ("u" * 40)
    long_tmp.mkdir(parents=True)
    env = {**os.environ, "TMPDIR": str(long_tmp),
           "PYTHONPATH": os.pathsep.join([REPO, os.environ.get("PYTHONPATH", "")])}
    out = subprocess.run([sys.executable, "-c", _RUN_A_TASK, transport, str(long_tmp)],
                         env=env, cwd=REPO, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["n"] == 2
    if transport == "tcp":
        assert res["uds"] == "false" and res["dir"] is None
    else:
        assert res["uds"] == "true" and os.path.dirname(res["dir"]) == "/tmp"
        assert not os.path.exists(res["dir"])
