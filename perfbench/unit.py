"""One measured unit of a workload, in a fresh Python process and JVM.

Started by ``run.py``; prints one JSON line on stdout. Not meant to be run
by hand: its inputs are the ones ``run.py`` generated in the work dir.

    python3 perfbench/unit.py --workload W --work DIR --trace 0|1
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import procacct  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SLOTS = min(4, os.cpu_count() or 1)


def spark_confs(work: Path, trace: bool) -> dict[str, str]:
    tmp = work / "tmp"
    # SPARK_DRIVER_MEMORY sets the maximum heap; the minimum is pinned to it
    # too, or heap resizing makes peak RSS bimodal (1.13 vs 1.26 GB)
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    confs = {
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the session factory's collector, plus temp files kept in the
        # work dir and no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -XX:-UsePerfData -Xms{heap} "
            f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job, stage and SQL execution for attribution
        confs.update({"spark.ui.retainedJobs": "100000",
                      "spark.ui.retainedStages": "100000",
                      "spark.sql.ui.retainedExecutions": "100000"})
    return confs


def shutdown(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for both."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()          # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True, type=Path)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    work: Path = args.work
    trace = bool(args.trace)
    out_root = work / "out"
    res: dict = {"ok": False, "fails": []}

    from pii_redactor_spark.session import get_spark, ship_package
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{SLOTS}]",
                      extra_confs=spark_confs(work, trace))
    t1 = time.perf_counter()
    ship_package(spark)
    t2 = time.perf_counter()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        me = os.getpid()
        jvm = procacct.find_child(me, "java")

        def py_cpu() -> float:
            """CPU of the Python daemon and workers under the JVM."""
            if jvm is None:
                return 0.0
            return sum(procacct.proc_cpu_s(p)
                       for p in procacct.tree_pids(jvm) if p != jvm)

        tracer = tracing.Tracer(enabled=trace, sc=spark.sparkContext)
        unit = workloads.UNITS[args.workload](
            spark, tracer, work / "inputs", out_root, py_cpu)
        unit.setup()
        t3 = time.perf_counter()
        res["setup_s"] = t3 - t0
        res["session.get_spark_s"] = t1 - t0
        res["session.ship_package_s"] = t2 - t1

        sampler = procacct.ThreadSampler(jvm) if trace and jvm else None
        c0, w0, e0 = procacct.tree_cpu_s(me), time.perf_counter(), \
            time.time()
        try:
            with sampler or contextlib.nullcontext():
                unit.run()
        finally:
            wall = time.perf_counter() - w0
            cpu = procacct.tree_cpu_s(me) - c0
            e1 = time.time()
            tracer.unpatch_all()
        res.update({
            "wall_s": wall, "cpu_s": cpu,
            "peak_rss_mb": (procacct.vm_hwm_mb(jvm) if jvm else 0.0)
            + procacct.vm_hwm_mb(me),
            "stored_bytes_per_input_byte":
                workloads.dir_bytes(out_root)
                / json.loads((work / "inputs" / "planted.json")
                             .read_text())["input_bytes"],
        })
        res["fails"] = unit.check()
        if trace:
            jobs = tracing.spark_jobs(spark.sparkContext)
            res["layers"] = layers(spark, unit, tracer, sampler, jobs,
                                   e0, e1, wall, out_root)
            res["layers"].update({
                "session.get_spark_s": res["session.get_spark_s"],
                "session.ship_package_s": res["session.ship_package_s"]})
            res["spans"] = [
                {"id": sp.sid, "name": sp.name, "parent": sp.parent,
                 "start_s": sp.start - w0, "end_s": sp.end - w0}
                for sp in tracer.spans]
            res["self_s"] = tracer.self_time()
            res["span_task_cpu_s"] = span_task_cpu(jobs, tracer)
        res["ok"] = not res["fails"]
    except Exception:
        res["fails"].append(traceback.format_exc(limit=8))
    finally:
        shutdown(spark)
    print(json.dumps(res), flush=True)
    return 0


def span_task_cpu(jobs, tracer) -> dict[str, float]:
    """Executor CPU seconds per span name, from the job group each span
    set (jobs run inside a span belong to the innermost one)."""
    names = {str(s.sid): s.name for s in tracer.spans}
    out: dict[str, float] = {}
    for j in jobs:
        if j.group in names:
            out[names[j.group]] = out.get(names[j.group], 0.0) + j.cpu_s
    return out


def layers(spark, unit, tracer, sampler, all_jobs, e0: float, e1: float,
           wall: float, out_root: Path) -> dict:
    """Per-layer metrics of the traced unit."""
    jobs = [j for j in all_jobs if e0 - 1e-3 <= j.submitted <= e1]
    py = tracing.python_udf_metrics(spark, e0, e1)
    task_run = sum(j.run_s for j in jobs)
    out = {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.task_run_s": task_run,
        "spark.task_cpu_s": sum(j.cpu_s for j in jobs),
        "spark.gc_s": sum(j.gc_s for j in jobs),
        "spark.jit_cpu_s": sampler.jit_cpu_s() if sampler else 0.0,
        "spark.gc_thread_cpu_s": sampler.gc_cpu_s() if sampler else 0.0,
        "spark.shuffle_write_mb": sum(j.shuffle_write_b for j in jobs)
        / 2 ** 20,
        "spark.slot_util": task_run / (wall * SLOTS),
        "kernels.arrow_mb_to_py": py["bytes_to_py"] / 2 ** 20,
        "kernels.arrow_mb_from_py": py["bytes_from_py"] / 2 ** 20,
        "kernels.py_worker_start_s": py["start_s"],
        "kernels.py_worker_run_s": py["run_s"],
        "kernels.py_workers_started":
            max(0, len(sampler.python_pids) - 1) if sampler else 0,
        "tables.commits": tracer.counts.get("tables.commits", 0),
        "tables.commit_s": tracer.total_time("tables.commit"),
        "tables.metrics_log_calls":
            tracer.counts.get("tables.metrics_log_calls", 0),
        "tables.metrics_log_s": tracer.total_time("tables.metrics_log"),
        "tables.files_written": workloads.file_count(out_root),
        "trace.wall_s": wall,
        "trace.overhead_s": tracer.overhead_s,
    }
    out.update(unit.layers(jobs))
    return out


if __name__ == "__main__":
    sys.exit(main())
