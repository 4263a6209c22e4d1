"""The traced run's layer numbers, taken from outside the engine.

* ``session``: Spark's event log (uncompressed JSON lines, parsed with
  the stdlib), one job group per op. Task run time, JVM CPU time and
  shuffle bytes come from task-end events; rows and bytes across the
  Arrow crossing come from the SQL metrics of the Python plan nodes.
* ``operators.*`` / ``geom.*``: timed calls into the layers' public
  functions, in this process, on 65,536-row batches
  (``session.ARROW_BATCH_SIZE``) from the seeded generator.
* Python UDF call counts: a separate pass with
  ``spark.sql.pyspark.udf.profiler=perf`` (cProfile), for ranking only.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import time
from collections import defaultdict

import numpy as np

from gdal_spark.datagen import ZONE_WKTS
from gdal_spark.geom import s2
from gdal_spark.geom.predicates import batch_intersects_rings
from gdal_spark.geom.wkt import parse_wkt
from gdal_spark.operators.spatial import ZoneIndex
from gdal_spark.session import ARROW_BATCH_SIZE

import oracle

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
ROWS = "number of output rows"
MB = 1e6

# -- event log ---------------------------------------------------------------


def _union(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _clip(spans, lo: float, hi: float):
    return [(max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi]


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application logged under ``log_dir``, in order
    (Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>`` files)."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    events = []
    for p in files:
        with open(p) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def _rows_in(node: dict) -> list[int]:
    """Accumulator ids of the 'number of output rows' metric nearest
    below ``node`` on each input path: the rows a Python node reads."""
    out = []
    for child in node.get("children", []):
        ids = [m["accumulatorId"] for m in child.get("metrics", []) if m["name"] == ROWS]
        out.extend(ids[:1] if ids else _rows_in(child))
    return out


def session_layer(events: list[dict], groups: dict[str, dict], cpus: int) -> dict[str, dict]:
    """Per job group: task, CPU, shuffle and scheduling numbers, the
    wall-time attribution, and the Arrow crossing of its Python nodes.
    The attributed share is the part of the op's wall time covered by
    its jobs, its SQL executions or a timed layer call.

    ``groups[g]`` holds the op's ``wall`` (start, end) and its timed
    layer-call ``spans`` (epoch seconds)."""
    job_group, job_span, job_exec = {}, {}, {}
    stage_group = {}
    plans, exec_span = {}, {}
    # SQL metric updates per job group: a cached relation's scan metrics
    # are shared by every query that reads it
    accum = defaultdict(lambda: defaultdict(float))
    driver_updates = []
    stage_tasks = defaultdict(list)
    task_accums = defaultdict(set)  # stage -> accumulator ids it updated
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            jid = e["Job ID"]
            job_group[jid] = g
            job_span[jid] = [e["Submission Time"] / 1000.0, None]
            job_exec[jid] = props.get("spark.sql.execution.id")
            for s in e["Stage IDs"]:
                stage_group.setdefault(s, g)
        elif kind == "SparkListenerJobEnd":
            job_span[e["Job ID"]][1] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            if e["Task End Reason"]["Reason"] != "Success":
                continue
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            stage_tasks[e["Stage ID"]].append({
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            })
            g = stage_group.get(e["Stage ID"])
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Metadata") == "sql" and a.get("Update") is not None:
                    accum[g][a["ID"]] += float(a["Update"])
                    task_accums[e["Stage ID"]].add(a["ID"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append(e)
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            plans[str(e["executionId"])] = e["sparkPlanInfo"]
            if kind.endswith("Start"):
                exec_span[str(e["executionId"])] = [e["time"] / 1000.0, None]
        elif kind.endswith("SparkListenerSQLExecutionEnd") and str(e["executionId"]) in exec_span:
            exec_span[str(e["executionId"])][1] = e["time"] / 1000.0

    exec_group = {str(x): job_group[j] for j, x in job_exec.items() if x is not None}
    for e in driver_updates:
        for aid, v in e["accumUpdates"]:
            accum[exec_group.get(str(e["executionId"]))][aid] += float(v)

    out = {}
    for g, info in groups.items():
        acc = accum[g]
        lo, hi = info["wall"]
        wall = hi - lo
        jobs = [j for j, jg in job_group.items() if jg == g and job_span[j][1] is not None]
        spans = _clip([tuple(job_span[j]) for j in jobs], lo, hi)
        busy = _union(spans)
        # Spark's driver side of a query (AQE re-planning between stages,
        # codegen, result collection) lies inside its SQL execution span
        execs = {job_exec[j] for j in jobs if job_exec[j] is not None}
        sql = _clip([tuple(exec_span[x]) for x in execs if x in exec_span and exec_span[x][1]], lo, hi)
        layer = _clip(list(info.get("spans", {}).values()), lo, hi)
        tasks = [t for s, tl in stage_tasks.items() if stage_group.get(s) == g for t in tl]
        task_s = sum(t["run_s"] for t in tasks)
        cpu_s = sum(t["cpu_s"] for t in tasks)
        r = {
            "wall_s": wall,
            "tasks": len(tasks),
            "task_s": task_s,
            "jvm_cpu_s": cpu_s,
            "python_wait_s": max(task_s - cpu_s, 0.0),
            "max_task_s": max((t["run_s"] for t in tasks), default=0.0),
            "idle_core_s": max(cpus * busy - task_s, 0.0),
            "driver_only_s": max(wall - busy, 0.0),
            "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / MB,
            "spill_mb": sum(t["spill"] for t in tasks) / MB,
            "attributed_share": _union(spans + sql + layer) / wall if wall > 0 else 0.0,
        }
        # Arrow crossing: every Python node of the group's SQL plans
        sent = returned = rows_in = 0.0
        verify = None  # (rows in, node) of the Python node reading the most rows
        for ex in execs:
            for node in _walk(plans.get(ex, {})):
                names = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
                if PY_SENT not in names:
                    continue
                sent += acc[names[PY_SENT]]
                returned += acc.get(names.get(PY_RETURNED), 0.0)
                n_in = sum(acc[a] for a in _rows_in(node))
                rows_in += n_in
                if verify is None or n_in > verify[0]:
                    verify = (n_in, names[PY_SENT])
        r["arrow_mb_to_py"] = sent / MB
        r["arrow_mb_from_py"] = returned / MB
        r["py_rows_in"] = rows_in
        if verify is not None:
            r["py_node_rows_in"] = verify[0]
            r["py_node_tasks"] = sum(
                len(stage_tasks[s]) for s, ids in task_accums.items() if verify[1] in ids
            )
        out[g] = r
    return out


# -- Python UDF profile --------------------------------------------------------


def _repo_functions() -> set[tuple[str, int, str]]:
    """(file basename, first line, name) of every function defined in
    the gdal_spark package. The UDF profiler strips directories from
    file names, so a profile entry is matched on all three."""
    import ast

    import gdal_spark

    out = set()
    for path in glob.glob(os.path.join(os.path.dirname(gdal_spark.__file__), "**", "*.py"), recursive=True):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        base = os.path.basename(path)
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                out.add((base, node.lineno, getattr(node, "name", "<lambda>")))
                for d in getattr(node, "decorator_list", []):
                    out.add((base, d.lineno, node.name))
    return out


def max_repo_ncalls(dump_dir: str) -> int:
    """ncalls of the most-called gdal_spark function over every UDF
    profile dumped to ``dump_dir``."""
    repo = _repo_functions()
    best = 0
    for p in glob.glob(os.path.join(dump_dir, "*.pstats")):
        for key, (_cc, nc, *_rest) in pstats.Stats(p).stats.items():
            if key in repo:
                best = max(best, nc)
    return best


# -- in-process kernel probes ----------------------------------------------------


def _rate(n: int, fn, min_s: float = 0.3, max_reps: int = 5) -> tuple[float, int]:
    """rows/s of ``fn`` (one call handles ``n`` rows): median over
    repeats that together take at least ``min_s``."""
    times = []
    while len(times) < max_reps and (not times or sum(times) < min_s):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return n / float(np.median(times)), len(times)


def kernel_probes(seed: int) -> tuple[dict, dict]:
    """(metrics, details): rows/s of the geometry kernels the join
    workloads lean on, and the input bytes each call reads."""
    n = ARROW_BATCH_SIZE
    pts = oracle.wkt_sample("default", seed, n, "valid AND half = 0")
    polys = oracle.wkt_sample("polygons", seed, n, "valid AND is_poly")
    mixed = oracle.wkt_sample("default", seed, n)
    zidx = ZoneIndex(np.arange(len(ZONE_WKTS)), ZONE_WKTS)

    pbatch = parse_wkt(polys)
    mbatch = parse_wkt(mixed)
    envs = pbatch.envelopes()
    # the first 8,192 candidate pairs of the batch: one pairwise call
    # each, so the full batch would dominate the traced run
    pairs = [(i, int(z)) for i in range(len(pbatch)) for z in zidx.tree.query_rect(*envs[i])][:8192]

    def _verify():
        for i, z in pairs:
            batch_intersects_rings(pbatch, i, zidx.rings[z], zidx.edges[z])

    pair_bytes = sum(pbatch.coords.nbytes / len(pbatch) + 32 * len(zidx.edges[z][0]) for _, z in pairs)
    rng = np.random.default_rng(seed)
    xyz = rng.normal(size=(3, n))

    metrics, details = {}, {}
    for name, rows, fn, nbytes in (
        ("geom.wkt.parse_points_rows_per_s", n, lambda: parse_wkt(pts), sum(map(len, pts))),
        ("geom.wkt.parse_polygons_rows_per_s", n, lambda: parse_wkt(polys), sum(map(len, polys))),
        ("geom.predicates.verify_pairs_per_s", len(pairs), _verify, pair_bytes),
        ("operators.spatial.zone_probe_rows_per_s", n, lambda: zidx.probe_batch(mbatch), mbatch.coords.nbytes),
        ("geom.s2.encode_rows_per_s", n, lambda: s2.cell_from_xyz(*xyz, 30), xyz.nbytes),
    ):
        rate, reps = _rate(rows, fn)
        metrics[name] = rate
        details[name] = {"rows": rows, "reps": reps, "input_bytes": int(nbytes)}
    return metrics, details
