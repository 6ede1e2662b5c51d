"""SparkSession factory with configs pinned for determinism and Arrow UDFs.

The reference configures its runtime per-process via dotenv/env vars
(reference: main.py:14-20); our equivalent is a single session factory so
every job and test runs with identical, scale-aware settings:

- AQE on (runtime coalescing + skew-join splitting — the 100 TB path),
- Arrow on (all Python kernels are Arrow-batched pandas UDFs),
- fixed shuffle partitions in tests for plan determinism,
- UTC session timezone.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executors via ``addPyFile`` (the in-process
    equivalent of ``spark-submit --py-files``, SURVEY §1.3 D9 mapping).

    Cloudpickled pandas UDFs reference this module by name, so Python
    workers must be able to import it regardless of the driver's cwd.
    Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_root = Path(__file__).resolve().parent
    zpath = Path(tempfile.gettempdir()) / f"pii_redactor_spark-{os.getpid()}.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for py in sorted(pkg_root.rglob("*.py")):
            zf.write(py, arcname=str(Path("pii_redactor_spark") / py.relative_to(pkg_root)))
    sc.addPyFile(str(zpath))
    _SHIPPED.add(key)


def _memory_limit_bytes() -> int | None:
    """The memory this process may use: the smaller of the cgroup v2
    ``memory.max`` (when set) and the host's ``MemTotal``; None when
    neither can be read."""
    limits = []
    try:
        raw = Path("/sys/fs/cgroup/memory.max").read_text().strip()
        if raw != "max":
            limits.append(int(raw))
    except (OSError, ValueError):
        pass
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                limits.append(int(line.split()[1]) * 1024)
    except (OSError, ValueError):
        pass
    return min(limits) if limits else None


def default_driver_memory() -> str:
    """``spark.driver.memory`` when SPARK_DRIVER_MEMORY is unset:
    min(24g, half the memory limit). Local mode runs every task in this
    one heap and the JVM grows toward Xmx, so an Xmx above the host's
    memory starves whatever else runs there."""
    mib = 24 * 1024
    limit = _memory_limit_bytes()
    if limit is not None:
        mib = min(mib, limit // 2 // 2**20)
    return f"{mib}m"


DEFAULT_SHUFFLE_PARTITIONS = 32
# Text documents average a few KB; keep Arrow batches ~tens of MB so a
# 1000-executor cluster streams them without Python-worker memory spikes.
ARROW_MAX_RECORDS = 2_000


def get_spark(
    app_name: str = "pii_redactor_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's pinned configs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster it is supplied by spark-submit and must be left None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    return (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # local mode runs every task thread in ONE JVM heap; the HOF-heavy
        # quality rules allocate per-document arrays, and at 8 GB the GC
        # becomes the scaling bottleneck (measured: rules-stage 2→8-core
        # efficiency 0.72 at 8 GB vs 0.94 at 24 GB). Real clusters give
        # each executor its own heap; locally we size the one heap for
        # the parallelism, capped by the host (default_driver_memory).
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY")
                or default_driver_memory())
        # throughput collector for the same reason: this is a batch
        # engine (no latency SLO) and ParallelGC cut the rules stage's
        # wall time ~17% at every parallelism vs default G1
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # streaming state off-heap: the default HDFS-backed store keeps
        # all state rows on the JVM heap — at 10^12-key dedup state that
        # is an executor OOM; RocksDB spills to local disk and is the
        # production choice for large stateful streams
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider")
        .config("spark.ui.enabled", "false")
        .config(map=dict(extra_confs or {}))
        .getOrCreate()
    )
