"""SparkSession factory tuned for the engine.

Arrow execution on (the reference itself streams features as Arrow
batches of 65,536 — ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp:2079 —
so columnar batch execution is the semantically-endorsed path), AQE on
for runtime skew handling and partition coalescing (of cached and
persisted plans too, so their task count follows their data), shuffle
partitions sized for local testing but overridable for cluster runs
via env. On a local master the Python workers fork from
``gdal_spark.worker_daemon``, which skips the per-task re-read of
``pyspark.zip``'s directory while the archive is unchanged, and the
JVM talks to Python (workers, accumulators, ``toPandas``,
``toLocalIterator``) over Unix domain sockets instead of loopback
TCP, which took ~40 ms more per Python task (see ``worker_conf``).
"""

from __future__ import annotations

import atexit
import functools
import os
import re
import shutil
import site
import tempfile

from pyspark.sql import SparkSession

# Arrow batch size matches the reference's default feature batch
# (ogrlayerarrow.cpp:2079: 65,536 features per batch).
ARROW_BATCH_SIZE = 65_536


def worker_conf(master: str) -> dict[str, str]:
    """The Python worker conf for ``master``; empty unless it is local.

    Every Python task calls importlib.invalidate_caches(), which on
    Python 3.11 re-reads pyspark.zip's directory once per zip importer:
    81-159 ms a task (median 91) inside a live worker on a 4-CPU host,
    0.09-0.12 ms with the gdal_spark.worker_daemon gate (CPython 3.13
    makes the call lazy itself). Local masters only: their workers start from this
    process's environment and already import gdal_spark to unpickle
    every UDF, while on a cluster --py-files reach the path only per
    task, after the daemon has had to be imported. Cluster users can
    pass the same conf when gdal_spark is installed on the executors.
    A local spark-submit --py-files run outside the checkout has the
    cluster's problem (every Python task would fail to start), so the
    daemon is also left out when a worker could not import it.

    Over loopback TCP a worker delays its ACK of each JVM write while
    the JVM, whose socket keeps Nagle on, holds back its next small
    write for that ACK: ~40 ms a task. An identity mapInPandas task
    took 61-65 ms from launch to finish on TCP and 19-27 ms over Unix
    domain sockets (medians of 40 tasks in each of three warm local[4]
    sessions, 4-CPU host).
    The sockets live in one private directory per process
    (``_socket_dir``); when no directory short enough for an AF_UNIX
    path can be made, the session stays on TCP. Cluster executors
    keep TCP: their socket directory would be their own temp
    directory, whose length this process cannot know.
    """
    if not re.fullmatch(r"local(\[.*\])?", master):
        return {}
    conf = {}
    if _importable_at_worker_start():
        conf["spark.python.daemon.module"] = "gdal_spark.worker_daemon"
    if (sock_dir := _socket_dir()) is not None:
        conf["spark.python.unix.domain.socket.enabled"] = "true"
        conf["spark.python.unix.domain.socket.dir"] = sock_dir
    return conf


# Linux holds an AF_UNIX path in 108 bytes with its NUL. PySpark and
# the JVM name each socket "/.<uuid4>.sock" inside the socket
# directory, and mkdtemp names that directory _SOCKET_PREFIX plus 8
# characters.
_UNIX_PATH_MAX = 107
_SOCKET_NAME = len("/.00000000-0000-0000-0000-000000000000.sock")
_SOCKET_PREFIX = "gdal_spark-"


@functools.cache
def _socket_dir() -> str | None:
    """This process's socket directory, made on first use: under the
    temp directory, or /tmp when that path is too long."""
    return _private_socket_dir((tempfile.gettempdir(), "/tmp"))


def _private_socket_dir(bases) -> str | None:
    """A new 0700 directory under the first of ``bases`` whose socket
    paths fit in an AF_UNIX address, removed when this process exits;
    None when no base is short enough and writable."""
    for base in bases:
        longest = os.path.join(os.path.abspath(base), _SOCKET_PREFIX + "x" * 8)
        if len(os.fsencode(longest)) + _SOCKET_NAME > _UNIX_PATH_MAX:
            continue
        try:
            path = tempfile.mkdtemp(prefix=_SOCKET_PREFIX, dir=base)
        except OSError:
            continue
        atexit.register(_remove_socket_dir, path, os.getpid())
        return path
    return None


def _remove_socket_dir(path: str, pid: int) -> None:
    if os.getpid() == pid:  # a forked child inherits the hook, not the directory
        shutil.rmtree(path, ignore_errors=True)


def _importable_at_worker_start() -> bool:
    """Whether this gdal_spark is found by a Python worker started from
    this process's working directory and PYTHONPATH, or installed. A
    package imported from a zip counts as not found: spark-submit puts
    --py-files zips on the driver's PYTHONPATH only."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
            *site.getsitepackages(), site.getusersitepackages()]
    return os.path.isdir(root) and any(os.path.realpath(d) == root for d in dirs if d)


def _default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"


def get_spark(
    app_name: str = "gdal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster this is driven by spark-submit; master/conf here
    only apply when no session exists yet (local dev / tests / bench).
    Without a master it runs ``local[n]`` over the CPUs this process may
    use, unless SPARK_GRAFT_MASTER or SPARK_GRAFT_CPUS say otherwise.
    """
    master = master or _default_master()
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_SIZE))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Without this, AQE leaves a persisted plan's output at
        # spark.sql.shuffle.partitions, and every later stage over it runs
        # one task (one Python worker round trip, ~60 ms) per partition,
        # empty or not: the 4-tile persisted burn table of perfbench's
        # tile_raster sat in 32 partitions, and cog_write ran 289 tasks
        # for a 6 KB file (7 with this on, 1 partition; 4-CPU host).
        # Coalescing only merges adjacent small partitions, to a target
        # size of at most total / defaultParallelism (parallelismFirst),
        # so large cached tables keep their parallelism, and it
        # concatenates partitions in order, so row order holds.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # 100 TB scale: files are split into ~128MB tasks by default;
        # keep the default but make it explicit and overridable.
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Constraint propagation re-derives extra predicates from every
        # filter conjunct; on this engine's envelope-math filters (the
        # 4-corner inverse-geotransform trees in rasterize/tile_keys,
        # duplicated through least/greatest) the inferred predicates
        # re-evaluate each corner tree per row without CSE — measured
        # 16x slower on the rasterize explode filter (5.8 s -> 0.35 s
        # for the same stage over 2M cached rows, local[8]). The
        # inference exists to push IsNotNull toward scans; every query
        # here filters its null/bounds conditions explicitly, so the
        # lost inference changes no result (the 190+-query DuckDB gate
        # pins that) and no pushdown this engine relies on.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # Whole-stage codegen caches compiled classes by source, 100 by
        # default. The engine's plans need more than that: in perfbench's
        # tile_raster loop the default cache recompiled 21 classes with
        # Janino on every pass, 0 with this (4-CPU host). A class is a
        # few KB of metaspace.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # PySpark records the Python call site of every classic Column
        # method and F.col in the JVM, for the "== DataFrame ==" context
        # of ANSI errors: four py4j calls and a stack walk each.
        # F.col("a") + F.lit(1.0) takes 7 py4j round trips without it
        # and 27 with it, and building spatial_join_cells' plan 222 ms
        # instead of 277 ms (4-CPU host). Without it such an error names
        # a JVM frame instead of the Python file:line; pass
        # extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
        # "true"} to get the call sites back.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in {**worker_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
