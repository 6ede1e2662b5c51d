"""Corpus-build benchmark: end-to-end and per-layer metrics of the engine's
batch jobs.

    python3 perfbench/run.py --workload build_cold --seed 1 --seconds 30 \\
        --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under ``.perfbench_work/`` (removed at the end), then runs units of the
workload back to back until ``--seconds`` have passed (at least one). A unit
is one fresh ``unit.py`` process with its own JVM, so every unit pays
session start and JIT warm-up as a user's job does. Its outputs are checked
and then deleted before the next unit starts.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones (medians
over the units); with ``--trace 1`` the per-layer ones, from a traced unit.
Lines before it describe the inputs, the noise controls and every unit.

Workloads: ``build_cold`` and ``select_embed`` are in BENCHMARK.json;
``build_increment`` runs the same way but is left out of the scheduled set
(see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("build_cold", "build_increment", "select_embed")
HEAP = "2g"                  # pinned JVM heap (SPARK_DRIVER_MEMORY)
RUN_BUDGET_S = 170           # a run ends (units killed) within this

END_TO_END = {               # name -> unit
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MiB",
    "stored_bytes_per_input_byte": "ratio",
}
PER_LAYER = {
    "session.get_spark_s": "s", "session.ship_package_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.jit_cpu_s": "s",
    "spark.gc_thread_cpu_s": "s",
    "spark.shuffle_write_mb": "MiB", "spark.slot_util": "ratio",
    **{f"build.{st}.{m}": u
       for st in ("urlfilter", "decontaminate", "dedup", "quality",
                  "select", "pack")
       for m, u in (("wall_s", "s"), ("task_cpu_s", "s"),
                    ("rows_in", "count"), ("rows_out", "count"))},
    "kernels.py_cpu_s": "s", "kernels.arrow_mb_to_py": "MiB",
    "kernels.arrow_mb_from_py": "MiB", "kernels.py_workers_started": "count",
    "kernels.py_worker_start_s": "s", "kernels.py_worker_run_s": "s",
    "kernels.langid_s": "s", "kernels.ppl_s": "s", "kernels.scrub_s": "s",
    "kernels.entities": "count",
    "functions.rules_s": "s",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio", "dedup.against_s": "s",
    "dsir.select_s": "s",
    "tables.commits": "count", "tables.commit_s": "s",
    "tables.metrics_log_calls": "count", "tables.metrics_log_s": "s",
    "tables.read_incremental_s": "s", "tables.files_written": "count",
    "clustering.kmeans_fit_s": "s", "clustering.semdedup_s": "s",
    "clustering.proto_prune_s": "s", "clustering.max_cluster_rows": "count",
    "clustering.pairs_scored": "count", "clustering.dups_flagged": "count",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}

NOISE_CONTROLS = {
    "master": "local[min(4, nproc)]: one task slot per core; more slots "
              "oversubscribe the host and time the scheduler, not the job",
    "heap": f"SPARK_DRIVER_MEMORY={HEAP} and -Xms{HEAP}: the session "
            "default (24g) is larger than many hosts' RAM, and a growing "
            "heap makes peak RSS depend on GC timing",
    "process": "one fresh Python process and JVM per unit: every unit pays "
               "the same session start and JIT warm-up, nothing is cached",
    "cleanup": "each unit's outputs and Spark temp files are deleted before "
               "the next unit; the run's work dir is deleted at exit",
    "inputs": "generated from --seed only; the program sees only them",
}


def program_present() -> bool:
    return (ROOT / "pii_redactor_spark" / "session.py").is_file()


def unit_env(work: Path) -> dict[str, str]:
    env = dict(os.environ)
    tmp = work / "tmp"
    env.update({
        "TMPDIR": str(tmp),
        "SPARK_DRIVER_MEMORY": HEAP,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH")
                           else [])),
    })
    env.pop("SPARK_GRAFT_CPUS", None)
    return env


def run_unit(workload: str, work: Path, trace: bool,
             timeout: float) -> dict:
    """One unit in its own process group; killed whole on timeout."""
    for d in ("out", "tmp", "warehouse"):
        shutil.rmtree(work / d, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = work / "unit.log"
    cmd = [sys.executable, str(HERE / "unit.py"), "--workload", workload,
           "--work", str(work), "--trace", str(int(trace))]
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                cwd=str(work), env=unit_env(work),
                                start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            return {"ok": False, "fails": ["unit timed out"]}
        finally:
            # nothing the unit started may outlive it
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = log.read_text()[-2000:]
        return {"ok": False,
                "fails": [f"unit exited {proc.returncode}: {tail}"]}
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not program_present():
        print(f"perfbench: no pii_redactor_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    import workloads
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        info = workloads.prepare(args.workload, args.seed, work / "inputs")
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "inputs": info, "heap": HEAP,
                          "noise_controls": NOISE_CONTROLS}))
        units: list[dict] = []
        t0 = time.perf_counter()
        longest = 0.0
        while True:
            u0 = time.perf_counter()
            res = run_unit(args.workload, work, bool(args.trace),
                           timeout=RUN_BUDGET_S - (u0 - t0))
            longest = max(longest, time.perf_counter() - u0)
            units.append(res)
            print(json.dumps({"unit": len(units), **{
                k: v for k, v in res.items() if k != "layers"}}))
            elapsed = time.perf_counter() - t0
            if elapsed >= args.seconds or elapsed + longest > RUN_BUDGET_S:
                break
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass

    good = [u for u in units if u.get("ok")]
    names = PER_LAYER if args.trace else END_TO_END
    metrics = {}
    if good:
        if args.trace:
            # build_increment's own stages (prefilter, scrub) come extra
            names = {**names, **{k: "s" if k.endswith("_s") else "count"
                                 for k in good[0]["layers"]
                                 if k not in names}}
        for name, unit in names.items():
            vals = [(u["layers"] if args.trace else u).get(name, 0.0)
                    for u in good]
            metrics[name] = {"value": statistics.median(vals), "unit": unit}
    failed = len(units) - len(good)
    # failed_frac reads 0 on every healthy run, so it is reported here and
    # through attempted/failed, not among the metrics
    print(json.dumps({"failed_frac": {"value": failed / len(units),
                                      "unit": "ratio"},
                      "check": "pass" if not failed else "fail"}))
    result = {"correct": failed == 0, "attempted": len(units),
              "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0 if good else 1


if __name__ == "__main__":
    sys.exit(main())
