"""Seeded benchmark of gdal_spark's public operators.

    python3 perfbench/run.py --workload join_polygons --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. One closed loop with one client: a
single Python process on ``local[<cpus>]`` calls one operator at a time
(``workloads.OPS``) and waits for its result. Inputs come from
``--seed``; every output is checked against an oracle computed outside
the timers (``oracle.py``).

``--trace 0`` prints the end-to-end metrics of untraced passes.
``--trace 1`` runs the same passes, then one traced pass (Spark event
log, one job group per op) and one profiled pass, and prints the
per-layer metrics (``layers.py``).

The last line of stdout is the result object; the line before it holds
the per-op medians, sample counts and run facts (cpus, Spark version,
seed). Everything the run writes goes under ``.bench_build/perfbench``
in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
PROFILED_OPS = ("extract_geom", "spatial_join", "spatial_join_cells")
SESSION_KEYS = ("tasks", "task_s", "jvm_cpu_s", "python_wait_s", "max_task_s", "idle_core_s",
                "driver_only_s", "shuffle_read_mb", "attributed_share")
KERNELS = ("geom.wkt.parse_points_rows_per_s", "geom.wkt.parse_polygons_rows_per_s",
           "geom.predicates.verify_pairs_per_s", "operators.spatial.zone_probe_rows_per_s",
           "geom.s2.encode_rows_per_s")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. An op a workload does not
    run reports 0 for its own metrics."""
    from workloads import OPS

    units = {"tasks": "count", "shuffle_read_mb": "MB", "attributed_share": "ratio"}
    out = {}
    for op in OPS:
        out[f"{op}.wall_s"] = "s"
        for k in SESSION_KEYS:
            out[f"{op}.{k}"] = units.get(k, "s")
    for op in PROFILED_OPS:
        out[f"{op}.arrow_mb_to_py"] = "MB"
        out[f"{op}.arrow_mb_from_py"] = "MB"
        out[f"{op}.py_rows_in"] = "rows"
    out.update({
        "spatial_join.plan_s": "s", "spatial_join_cells.plan_s": "s",
        "spatial_join_cells.candidate_pairs": "count", "spatial_join_cells.verify_yield": "ratio",
        "spatial_join_cells.verify_stage_tasks": "count",
    })
    for k in KERNELS:
        out[k] = "pairs/s" if "pairs" in k else "rows/s"
    for op in PROFILED_OPS:
        out[f"{op}.py_max_ncalls"] = "count"
    out.update({"cog_write.file_mb": "MB", "host.jvm_control_s": "s", "trace.overhead_s": "s"})
    return out


def summarize(xs: list[float]) -> dict:
    """Median, plus the highest percentile that has at least ten
    samples beyond it when the count allows, and the sample count."""
    out = {"median": statistics.median(xs), "n": len(xs)}
    for p in (99, 95, 90, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(xs, n=100)[p - 1]
            break
    return out


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM (which runs the executors in
    local mode) plus this driver Python process."""
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def jvm_control_s(spark) -> float:
    """Pure-JVM control job (no Python worker, no shuffle): a throttled
    host window shows up here as well as in the ops."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 2_000_000, 1, 8).select(
        F.sum(F.length(F.sha2(F.col("id").cast("string"), 256)))
    ).collect()
    return time.perf_counter() - t0


class Runner:
    def __init__(self, ctx, ops: list[str]):
        self.ctx, self.ops = ctx, ops
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def call(self, op: str) -> tuple[float, bool, dict, tuple[float, float]]:
        """Time one op, then check its output outside the timer.
        Returns (seconds, output correct, layer spans, wall span)."""
        from workloads import OPS, check

        spans: dict = {}
        self.attempted += 1
        t_wall = time.time()
        t0 = time.perf_counter()
        try:
            out = OPS[op](self.ctx, spans)
            dt = time.perf_counter() - t0
            wall = (t_wall, time.time())
            err = check(self.ctx, op, out)
        except Exception:  # an op that raises is a failed op, and the run goes on
            traceback.print_exc()
            dt, wall, err = time.perf_counter() - t0, (t_wall, time.time()), "raised"
        if err is not None:
            self.failed += 1
            self.failures.append(f"{op}: {err}")
            print(f"perfbench: {op} failed: {err}", file=sys.stderr)
        return dt, err is None, spans, wall

    def passes(self, seconds: float) -> tuple[list[float], dict[str, list[float]]]:
        """Untraced passes until ``seconds`` have been spent: (pass
        times, per-op times of the ops whose output was correct)."""
        iters, per_op = [], {op: [] for op in self.ops}
        t_end = time.perf_counter() + seconds
        while not iters or time.perf_counter() < t_end:
            total = 0.0
            for op in self.ops:
                dt, ok, _, _ = self.call(op)
                total += dt
                if ok:
                    per_op[op].append(dt)
            iters.append(total)
        return iters, per_op


def traced_pass(runner: Runner, spark) -> tuple[float, dict]:
    """One pass with a job group per op. Returns (pass seconds, the
    per-group wall and layer spans)."""
    sc = spark.sparkContext
    groups, total = {}, 0.0
    for op in runner.ops:
        sc.setJobGroup(f"perfbench.{op}", op)
        dt, _, spans, wall = runner.call(op)
        groups[f"perfbench.{op}"] = {"wall": wall, "spans": spans}
        total += dt
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    return total, groups


def profiled_ncalls(runner: Runner, spark, dump_root: str) -> dict[str, int]:
    """Re-run the Python-heavy ops under the UDF perf profiler."""
    from layers import max_repo_ncalls

    out = {}
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        for op in PROFILED_OPS:
            if op not in runner.ops:
                continue
            spark.profile.clear(type="perf")
            runner.call(op)
            d = os.path.join(dump_root, op)
            spark.profile.dump(d, type="perf")
            out[op] = max_repo_ncalls(d)
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import duckdb  # noqa: F401
        import gdal_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"perfbench: cannot import the engine or its dependencies under {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import oracle
    import workloads as wl
    from layers import kernel_probes, read_event_log, session_layer

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_build", "perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp, evlog = os.path.join(work, "tmp"), os.path.join(work, "eventlog")
    for d in (tmp, evlog):
        os.makedirs(d, exist_ok=True)
    # Python workers import the engine and the op table from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit's launcher JVM would otherwise write under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        # A fixed, pre-touched heap: how far G1 grows a lazily committed
        # heap depends on GC timing, which made peak RSS vary by +-15%
        # between identical runs. Peak RSS then moves with memory held
        # outside the JVM heap (Arrow buffers, metaspace, the driver).
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch"),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evlog,
            # Spark 4 compresses the log with zstd, which the stdlib cannot read
            "spark.eventLog.compress": "false",
        })

    from gdal_spark.session import get_spark

    spark = gateway = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
        gateway = spark.sparkContext._gateway.proc
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        ctx = wl.Ctx(spark=spark, workload=args.workload, seed=args.seed, work=work,
                     n_docs=wl.N_DOCS[args.workload])
        reps = []
        for rep in range(1 if args.trace else SETUP_REPS):
            t0 = time.perf_counter()
            wl.set_up(ctx, rep)
            wl.warm_workers(spark, cpus)
            reps.append(time.perf_counter() - t0)

        ctx.expect = oracle.expected(args.workload, args.seed, ctx.n_docs)
        runner = Runner(ctx, wl.WORKLOADS[args.workload])
        setup_err = wl.check_setup(ctx)
        if setup_err:
            runner.failed += 1
            runner.failures.append(f"setup: {setup_err}")
            print(f"perfbench: setup check failed: {setup_err}", file=sys.stderr)

        t0 = time.perf_counter()
        for op in runner.ops:  # warm-up pass: JIT, caches, worker pools
            runner.call(op)
        warm_s = time.perf_counter() - t0

        if args.trace:
            # untraced passes before and after the traced one, so warm-up
            # drift cancels out of trace.overhead_s
            iters, per_op = runner.passes(args.seconds / 2)
            traced_s, groups = traced_pass(runner, spark)
            after, after_op = runner.passes(args.seconds / 2)
            iters += after
            for op, v in after_op.items():
                per_op[op] += v
        else:
            iters, per_op = runner.passes(args.seconds)
        control = jvm_control_s(spark)
        iter_s = statistics.median(iters)
        facts = {
            "workload": args.workload, "seed": args.seed, "cpus": cpus,
            "spark_version": pyspark.__version__, "n_docs": ctx.n_docs, "ops": runner.ops,
            "session_start_s": session_s, "setup_reps_s": reps, "warmup_pass_s": warm_s,
            "passes": len(iters), "iter_s": summarize(iters),
            "op_s": {f"{op}_s": {"unit": "s", **summarize(v)} for op, v in per_op.items() if v},
            "host.jvm_control_s": control,
        }

        if args.trace:
            ncalls = profiled_ncalls(runner, spark, os.path.join(work, "profile"))
            kern, kern_facts = kernel_probes(args.seed)
            cog_mb = ctx.seen.get("cog_bytes", 0) / 1e6
            spark.stop()  # flushes the event log
            spark = None
            layers = session_layer(read_event_log(evlog), groups, cpus)
            metrics = {k: 0.0 for k in per_layer_units()}
            for g, r in layers.items():
                op = g.split(".", 1)[1]
                metrics[f"{op}.wall_s"] = statistics.median(per_op[op]) if per_op[op] else r["wall_s"]
                for k in SESSION_KEYS:
                    metrics[f"{op}.{k}"] = r[k]
                if op in PROFILED_OPS:
                    metrics[f"{op}.arrow_mb_to_py"] = r["arrow_mb_to_py"]
                    metrics[f"{op}.arrow_mb_from_py"] = r["arrow_mb_from_py"]
                    metrics[f"{op}.py_rows_in"] = r["py_rows_in"]
                if op in ("spatial_join", "spatial_join_cells"):
                    plan = groups[g]["spans"].get("plan")
                    metrics[f"{op}.plan_s"] = plan[1] - plan[0] if plan else 0.0
                if op == "spatial_join_cells":
                    pairs = r.get("py_node_rows_in", 0.0)
                    metrics["spatial_join_cells.candidate_pairs"] = pairs
                    matched = sum(ctx.expect["zone_counts"].values())
                    metrics["spatial_join_cells.verify_yield"] = matched / pairs if pairs else 0.0
                    metrics["spatial_join_cells.verify_stage_tasks"] = r.get("py_node_tasks", 0)
            metrics.update(kern)
            for op, n in ncalls.items():
                metrics[f"{op}.py_max_ncalls"] = n
            metrics["cog_write.file_mb"] = cog_mb if "cog_write" in runner.ops else 0.0
            metrics["host.jvm_control_s"] = control
            metrics["trace.overhead_s"] = traced_s - iter_s
            units = per_layer_units()
            facts.update({"traced_pass_s": traced_s, "kernels": kern_facts,
                          "spill_mb": {g: r["spill_mb"] for g, r in layers.items()}})
            short = {op: metrics[f"{op}.attributed_share"] for op in runner.ops
                     if metrics[f"{op}.attributed_share"] < 0.8}
            if short:
                facts["attributed_below_0.8"] = short
        else:
            metrics = {
                "setup_s": session_s + statistics.median(reps),
                "iter_s": iter_s,
                "docs_per_s": ctx.n_docs / iter_s,
                "peak_rss_mb": peak_rss_mb(spark),
            }
            units = {"setup_s": "s", "iter_s": "s", "docs_per_s": "docs/s", "peak_rss_mb": "MB"}
        facts["failed_op_share"] = {"value": runner.failed / runner.attempted, "unit": "ratio"}
        facts["failures"] = runner.failures
    finally:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            # the JVM exits when its stdin closes; wait for it
            gateway.stdin.close()
            try:
                gateway.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.kill()
                gateway.wait()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(facts))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
