"""Iceberg-semantics table layer over partitioned Parquet + JSON manifests.

The north rule requires Iceberg tables (snapshots, appends, per-partition
lineage, mid-corpus resume), but no Iceberg runtime jar exists in this
sandbox (SURVEY.md sandbox constraints), so this is an explicit, documented
EMULATION of the subset the pipeline needs:

- **Snapshots**: every commit writes an immutable ``snap-N.json`` manifest
  listing the data directories that constitute the table at that version,
  then atomically flips the ``CURRENT`` pointer (``os.replace`` — atomic on
  POSIX). Readers resolve CURRENT → manifest → explicit file list, so a
  concurrent append never tears a read (snapshot isolation for one writer,
  exactly Iceberg's single-table commit model).
- **Append / overwrite**: append adds a new data dir + manifest chaining
  ``parent_id``; overwrite starts a new lineage root. Old snapshots stay
  readable → time travel via ``read_at``.
- **Partition layout**: data dirs are written ``partitionBy(bucket)`` so
  scans prune buckets (Spark's partition discovery works per-dir; the
  manifest records the bucket values present per data dir as Iceberg
  records partition summaries in manifests).
- **Table facts from manifests**: each snapshot records the rows it
  added and the table's total (Iceberg's ``added-records`` /
  ``total-records`` snapshot summary) and the Spark read schema of each
  data dir, all taken on the driver from the written Parquet footers.
  ``count()`` and every read use them, so bookkeeping starts no Spark
  job: a ``spark.read.parquet`` without a schema runs a one-task job to
  read a footer. Manifests written before these fields existed read and
  count through Spark as before.
- **Delete snapshots**: a stage that only drops rows commits what it
  drops, not a copy of what it keeps (Iceberg v2's row-level equality
  deletes). The snapshot's one data dir is a single Parquet file of the
  dropped keys, sorted (a sorted id column is the best case for
  Parquet's RLE and delta encodings), and its ``base`` names the base
  table by a path relative to this one and pins the base snapshot, so a
  later overwrite of the base leaves the delete snapshot's rows intact.
  A read is the pinned base read less the keys (a left-anti join; Spark
  broadcasts the small key file by its size statistics); a base may be
  a delete snapshot itself, and a chain reads as one anti-join against
  the union of its keys. The count is the base's minus the keys', both
  from manifests.
- **Codec**: every data file is written with ``PARQUET_CODEC`` (zstd):
  the table text is the bulk of what a build stores, and zstd keeps it
  in about two thirds of snappy's bytes.
- **Resume**: the reference resumes by a cache-existence check
  (reference: optimizer.py:33-35); here each bucket group commits its
  data and a ``{run_id, stage, buckets}`` lineage record in one snapshot,
  and a restarted run anti-joins the buckets recorded in the live
  lineage away (``remaining_buckets``) — resumable mid-corpus. A run_id
  with no live lineage starts the table over: its first commit is an
  overwrite (a new lineage root), so a new run never stacks on an old
  one. The groups' data writes run concurrently (the write half of a
  commit, ``DataDir``); the caller commits them in group order. Metrics
  rows are observability only.

On a real cluster this module is replaced by the Iceberg catalog +
``writeTo(...).append()``; the pipeline code paths (bucket column, commit
per bucket-group, metrics rows) are unchanged.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType
from pyspark.util import inheritable_thread_target

CURRENT = "CURRENT"
PARQUET_CODEC = "zstd"
# the footer key Spark's Parquet writer stores its row schema under
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    op: str                       # "append" | "overwrite" | "delete"
    data_dirs: list[str]          # dirs valid at this snapshot (cumulative)
    partitions: dict[str, list]   # data_dir -> bucket values present
    ts: float
    # optional lineage record committed ATOMICALLY with the data (Iceberg
    # snapshot-summary analogue): {"run_id", "stage", "buckets"}. Resume
    # derives done-ness from this, so a crash between the data commit and
    # the metrics row can never cause a bucket group to be re-appended.
    lineage: dict | None = None
    # rows this snapshot's data dir holds and rows in the whole table at
    # this snapshot; None on manifests that predate them
    added_rows: int | None = None
    total_rows: int | None = None
    # Spark read schema (DDL) -> the data dirs written with it, each
    # schema stored once; a dir in no list is read by inference
    schemas: dict[str, list[str]] | None = None
    # a delete snapshot's base, {"table": path relative to this table,
    # "snapshot_id": pinned base snapshot, "key": key column}; its one
    # data dir holds the deleted keys
    base: dict | None = None

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "op": self.op,
            "data_dirs": self.data_dirs,
            "partitions": self.partitions,
            "ts": self.ts,
            "lineage": self.lineage,
            "added_rows": self.added_rows,
            "total_rows": self.total_rows,
            "schemas": self.schemas,
            "base": self.base,
        }


@dataclass
class DataDir:
    """A data dir written under ``data/`` that no snapshot lists yet: the
    write half of a commit. ``append``/``overwrite`` take one in place of
    a frame and commit it as is."""
    name: str
    partitions: list              # partition values present, sorted
    rows: int
    schema: str | None            # Spark read schema DDL, if it round-trips


def _data_files(path: Path) -> list[Path]:
    """The Parquet part files under a data dir (partition subdirs
    included); Spark's hidden ``.crc``/``_SUCCESS`` files are skipped."""
    return sorted(p for p in path.rglob("*.parquet")
                  if not p.name.startswith((".", "_")))


class IcebergishTable:
    """One table rooted at ``base_path`` (``data/`` + ``_manifests/``)."""

    def __init__(self, base_path: str | Path):
        self.base = Path(base_path)
        self.manifest_dir = self.base / "_manifests"
        self.data_root = self.base / "data"
        self.manifest_dir.mkdir(parents=True, exist_ok=True)
        self.data_root.mkdir(parents=True, exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------
    def _snap_path(self, snapshot_id: int) -> Path:
        return self.manifest_dir / f"snap-{snapshot_id}.json"

    def current_snapshot_id(self) -> int | None:
        p = self.manifest_dir / CURRENT
        if not p.exists():
            return None
        return int(p.read_text().strip())

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot | None:
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
        if snapshot_id is None:
            return None
        d = json.loads(self._snap_path(snapshot_id).read_text())
        return Snapshot(**d)

    def snapshots(self) -> list[Snapshot]:
        out = []
        for p in sorted(self.manifest_dir.glob("snap-*.json"),
                        key=lambda p: int(p.stem.split("-")[1])):
            out.append(Snapshot(**json.loads(p.read_text())))
        return out

    def _commit(self, snap: Snapshot) -> None:
        """Write manifest, then atomically flip CURRENT (os.replace)."""
        sp = self._snap_path(snap.snapshot_id)
        tmp = sp.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(snap.to_json(), indent=1))
        os.replace(tmp, sp)
        cur_tmp = self.manifest_dir / (CURRENT + ".tmp")
        cur_tmp.write_text(str(snap.snapshot_id))
        os.replace(cur_tmp, self.manifest_dir / CURRENT)

    # -- writes ---------------------------------------------------------------
    def _new_dir(self) -> tuple[str, Path]:
        dir_name = f"d-{uuid.uuid4().hex[:12]}"
        return dir_name, self.data_root / dir_name

    def _write_data_dir(self, df: DataFrame,
                        partition_by: str | None) -> DataDir:
        dir_name, out = self._new_dir()
        w = df.write.mode("overwrite").option("compression", PARQUET_CODEC)
        if partition_by is not None:
            w = w.partitionBy(partition_by)
        try:
            w.parquet(str(out))
        except BaseException:
            # a failed write leaves no half-written dir behind
            shutil.rmtree(out, ignore_errors=True)
            raise
        # partition summary from the WRITTEN directory names (what Iceberg
        # reads from its manifests) — no extra distinct().collect() job
        # recomputing the input just to list bucket values
        buckets: list = []
        if partition_by is not None:
            from urllib.parse import unquote
            raws = [unquote(p.name.split("=", 1)[1])
                    for p in out.glob(f"{partition_by}=*")]
            # int-coerce only when EVERY value parses (the bucket column
            # case); a mixed or string-valued partition column keeps its
            # values as strings — never a mixed-type list (unsortable)
            try:
                buckets = [int(r) for r in raws]
            except ValueError:
                buckets = raws
        rows, schema = self._footer_facts(df, out, partition_by)
        return DataDir(dir_name, sorted(buckets), rows, schema)

    def discard(self, data: DataDir) -> None:
        """Delete a data dir that was written but will not be committed."""
        shutil.rmtree(self.data_root / data.name, ignore_errors=True)

    def _footer_facts(self, df: DataFrame, out: Path,
                      partition_by: str | None) -> tuple[int, str | None]:
        """(rows, read schema DDL) of a written data dir, from the Parquet
        footers on the driver. Partition columns get the type Spark's
        directory-name inference gives them: a read given only the data
        schema lists the directory (no job) and appends them. (A read
        makes every column nullable, so the footer's NOT NULLs are
        harmless in the stored schema.) An empty frame writes no Parquet
        file, so its dir records the frame's own schema, partition column
        last as a read appends it: inferring a schema from no file fails
        the table's next read."""
        metas = [pq.read_metadata(p) for p in _data_files(out)]
        rows = sum(m.num_rows for m in metas)
        footer = next((m.metadata[SPARK_SCHEMA_KEY] for m in metas
                       if m.metadata and SPARK_SCHEMA_KEY in m.metadata),
                      None)
        if footer is None:
            schema = StructType(
                [f for f in df.schema if f.name != partition_by]
                + [f for f in df.schema if f.name == partition_by])
        else:
            schema = StructType.fromJson(json.loads(footer))
            if partition_by is not None:
                schema = self._reader(df.sparkSession, out).schema(schema) \
                    .parquet(str(out)).schema
        ddl = schema.toDDL()
        # DDL drops field metadata: keep it only when it round-trips
        return rows, ddl if DataType.fromDDL(ddl) == schema else None

    def _commit_dir(self, op: str, data: DataFrame | DataDir,
                    partition_by: str | None, lineage: dict | None,
                    base: dict | None = None,
                    total_rows: int | None = None) -> Snapshot:
        """Commit one new data dir, writing ``data`` first when it is a
        frame: ``append`` keeps the parent's dirs, ``overwrite`` starts a
        new lineage root, ``delete`` starts one holding the deleted keys
        of ``base`` (``total_rows`` is then the rows it reads as)."""
        if isinstance(data, DataFrame):
            data = self._write_data_dir(data, partition_by)
        parent = self.snapshot()
        prev = parent if op == "append" else None
        schemas = dict((prev.schemas or {}) if prev else {})
        if data.schema is not None:
            schemas[data.schema] = schemas.get(data.schema, []) + [data.name]
        if op != "delete":
            total_rows = (data.rows if prev is None
                          else None if prev.total_rows is None
                          else prev.total_rows + data.rows)
        snap = Snapshot(
            snapshot_id=(parent.snapshot_id + 1) if parent else 0,
            parent_id=parent.snapshot_id if parent else None,
            op=op,
            data_dirs=(prev.data_dirs if prev else []) + [data.name],
            partitions={**(prev.partitions if prev else {}),
                        data.name: data.partitions},
            ts=time.time(),
            lineage=lineage,
            added_rows=data.rows,
            total_rows=total_rows,
            schemas=schemas,
            base=base,
        )
        self._commit(snap)
        return snap

    def append(self, df: DataFrame | DataDir,
               partition_by: str | None = None,
               lineage: dict | None = None) -> Snapshot:
        return self._commit_dir("append", df, partition_by, lineage)

    def overwrite(self, df: DataFrame | DataDir,
                  partition_by: str | None = None,
                  lineage: dict | None = None) -> Snapshot:
        return self._commit_dir("overwrite", df, partition_by, lineage)

    def commit_deletes(self, base: IcebergishTable, keys: DataFrame,
                       key: str, lineage: dict | None = None) -> Snapshot:
        """Commit ``base`` at its current snapshot less the rows whose
        ``key`` is in ``keys``, as a new lineage root that stores only
        the keys: one Parquet file sorted by key. ``keys`` must hold
        distinct keys of ``base``'s rows, so the manifest count is the
        base's less the file's. ``repartition(1)``, not ``coalesce(1)``:
        a coalesce would run the plan that computes the keys in one
        task."""
        pinned = base.snapshot()
        data = self._write_data_dir(
            keys.select(key).repartition(1).sortWithinPartitions(key), None)
        return self._commit_dir(
            "delete", data, None, lineage,
            base={"table": os.path.relpath(base.base, self.base),
                  "snapshot_id": pinned.snapshot_id, "key": key},
            total_rows=None if pinned.total_rows is None
            else pinned.total_rows - data.rows)

    def lineage_done_buckets(self, run_id: str, stage: str) -> list[int]:
        """Buckets recorded as committed for (run_id, stage) in snapshot
        lineage — the atomic source of truth for resume (manifest reads
        only, no Spark job). Only snapshots reachable from CURRENT count:
        an overwrite starts a new lineage root."""
        snap = self.snapshot()
        live: set[str] = set(snap.data_dirs) if snap else set()
        done: set[int] = set()
        for s in self.snapshots():
            committed_dir = s.data_dirs[-1] if s.data_dirs else None
            if (s.lineage and s.lineage.get("run_id") == run_id
                    and s.lineage.get("stage") == stage
                    and committed_dir in live):
                done.update(s.lineage.get("buckets", ()))
        return sorted(done)

    # -- reads ----------------------------------------------------------------
    def _reader(self, spark: SparkSession, path: Path):
        # each data dir is its own partition-discovery root (the dirs are
        # commit units, not partition values)
        return spark.read.option("basePath", str(path))

    def _read_dirs(self, spark: SparkSession, snap: Snapshot,
                   dirs: list[str]) -> DataFrame | None:
        if not dirs:
            return None
        schemas = {d: ddl for ddl, ds in (snap.schemas or {}).items()
                   for d in ds}
        dfs = []
        for d in dirs:
            r = self._reader(spark, self.data_root / d)
            if d in schemas:
                r = r.schema(schemas[d])  # no footer-inference job
            dfs.append(r.parquet(str(self.data_root / d)))
        out = dfs[0]
        for df in dfs[1:]:
            # allowMissingColumns: a table's schema may widen between
            # commits (e.g. the metrics table gained per-kernel timing
            # columns in round 2); older commits read as NULL for the
            # new columns instead of failing the whole read
            out = out.unionByName(df, allowMissingColumns=True)
        return out

    def count(self, spark: SparkSession) -> int:
        """Row count from the manifest; a table with commits from before
        manifests recorded rows is counted by a Spark job."""
        snap = self.snapshot()
        if snap is None:
            return 0
        if snap.total_rows is not None:
            return snap.total_rows
        return self.read(spark).count()

    def base_table(self, snap: Snapshot) -> IcebergishTable:
        """The table a delete snapshot's keys are deleted from."""
        return IcebergishTable(self.base / snap.base["table"])

    @staticmethod
    def without_keys(rows: DataFrame, keys: DataFrame,
                     key: str) -> DataFrame:
        """``rows`` less those whose ``key`` is in ``keys``, in ``rows``'
        column order (a USING join would move the key first)."""
        gone = keys.select(F.col(key).alias("_deleted"))
        return rows.join(gone, rows[key] == gone["_deleted"], "left_anti")

    def read(self, spark: SparkSession,
             snapshot_id: int | None = None) -> DataFrame | None:
        """Snapshot-isolated read: only dirs listed in the manifest; a
        delete snapshot reads its pinned base less its keys. A chain of
        delete snapshots reads its first full base less the union of
        the chain's keys: one anti-join (one broadcast) per key column,
        not one per link."""
        snap = self.snapshot(snapshot_id)
        if snap is None:
            return None
        tbl, gone = self, {}
        while snap.base is not None:
            key = snap.base["key"]
            gone.setdefault(key, []).append(
                tbl._read_dirs(spark, snap, snap.data_dirs).select(key))
            base = tbl.base_table(snap)
            tbl, snap = base, base.snapshot(snap.base["snapshot_id"])
        rows = tbl._read_dirs(spark, snap, snap.data_dirs)
        for key, keys in gone.items():
            rows = self.without_keys(
                rows, functools.reduce(DataFrame.union, keys), key)
        return rows

    def read_incremental(self, spark: SparkSession,
                         since_snapshot_id: int | None) -> DataFrame | None:
        """Rows committed strictly AFTER ``since_snapshot_id`` — the
        Iceberg incremental-read emulation: the manifest diff of data
        dirs (CURRENT minus the old snapshot's list), no row-level
        bookkeeping and no re-scan of already-processed commits. After
        an overwrite (new lineage root) every current dir counts as
        new; ``None`` means nothing new. ``since_snapshot_id=None``
        reads everything (first incremental pass)."""
        cur = self.snapshot()
        if cur is None:
            return None
        if cur.base is not None:
            raise ValueError(f"{self.base}: a delete snapshot has no "
                             "incremental read")
        old = self.snapshot(since_snapshot_id) \
            if since_snapshot_id is not None else None
        old_dirs = set(old.data_dirs) if old else set()
        return self._read_dirs(
            spark, cur, [d for d in cur.data_dirs if d not in old_dirs])

    def read_at(self, spark: SparkSession, snapshot_id: int) -> DataFrame | None:
        """Time travel to an older snapshot."""
        return self.read(spark, snapshot_id)

    def exists(self) -> bool:
        return self.current_snapshot_id() is not None


# ---------------------------------------------------------------------------
# Bucketing + resumable runs
# ---------------------------------------------------------------------------

def with_bucket(df: DataFrame, key_col: str, n_buckets: int,
                bucket_col: str = "bucket") -> DataFrame:
    """Explicit hash partitioning on the corpus key (north rule: hash
    partitioning on url): bucket = pmod(xxhash64(key), n)."""
    return df.withColumn(
        bucket_col, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)))


METRICS_DDL = ("run_id string, stage string, bucket long, n_docs long, "
               "kept long, dropped long, scrubbed long, elapsed_s double, "
               "ts double, langid_s double, ppl_s double, scrub_s double")


@functools.cache
def _metrics_arrow_schema() -> pa.Schema:
    # DataType.fromDDL parses on the JVM, so this runs on the first log()
    schema = DataType.fromDDL(METRICS_DDL)
    return to_arrow_schema(schema).with_metadata(
        {SPARK_SCHEMA_KEY: schema.json()})


class MetricsTable(IcebergishTable):
    """Append-only lineage + metrics sink (the emulated-Iceberg version of
    the reference's timestamped eval log, reference: evaluator.py:125-161).
    One row per (run, stage, bucket) commit; since round 2 the ATOMIC done
    record lives in the output table's snapshot lineage — these rows are
    observability (including the per-kernel cost breakdown, the analogue
    of the reference's student/reflection cost split,
    optimizer.py:300-308).

    The rows are already on the driver, so ``log`` writes them with
    pyarrow as one Parquet file carrying Spark's row-schema footer key
    (Spark reads it with the same column types) and commits the manifest
    — no Spark job."""

    def log(self, spark: SparkSession, rows: list[dict]) -> None:
        schema = _metrics_arrow_schema()
        table = pa.Table.from_pylist(
            [{c: r.get(c) for c in schema.names} for r in rows],
            schema=schema)
        dir_name, out = self._new_dir()
        out.mkdir()
        # store_schema=False: the Arrow schema copy is only for Arrow
        # readers and would double the file
        pq.write_table(table, out / f"part-00000-{dir_name}.parquet",
                       compression=PARQUET_CODEC, store_schema=False)
        self._commit_dir("append", DataDir(dir_name, [], table.num_rows,
                                           METRICS_DDL), None, None)


def remaining_buckets(all_buckets: list[int], done: list[int]) -> list[int]:
    """Anti-join of bucket ids (driver-side: bucket count is small —
    the corpus rows themselves are never collected)."""
    done_set = set(done)
    return [b for b in all_buckets if b not in done_set]


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    output: IcebergishTable,
    metrics: MetricsTable,
    run_id: str,
    stage: str = "scrub",
    key_col: str = "url",
    n_buckets: int = 8,
    buckets_per_commit: int = 2,
    transform=None,
    fail_after_commits: int | None = None,
    timers=None,
) -> int:
    """Process the corpus bucket-group by bucket-group; each group's data
    AND its lineage record commit in ONE snapshot (atomic manifest flip),
    so a restart with the same ``run_id`` skips exactly the buckets the
    output's live lineage records — a crash anywhere between commits can
    never duplicate rows. A ``run_id`` with no bucket in that lineage
    (a new run) OVERWRITES the table on its first commit, starting a new
    lineage root, so it rebuilds rather than appending to another run's
    rows. ``fail_after_commits`` injects a crash for tests.

    ``transform`` is applied ONCE, to the whole bucketed corpus; each
    group commits that plan filtered to its buckets. The bucket filter is
    pushed below the kernels' ArrowEvalPython, so they still see only
    the group's rows, and the plan is built once instead of per group.

    The groups' data writes run concurrently, at most
    ``min(defaultParallelism, groups)`` at once: one group's job runs a
    task per input partition, which on a small corpus leaves most slots
    idle. Each write runs on a pool thread that carries the caller's
    local properties (job group, scheduler pool, description). The
    commits stay on the calling thread, in group order, through
    ``output.overwrite``/``append``, so snapshots, lineage and resume
    are those of one group after another.

    On failure — a write raising, a commit raising, the injected crash —
    no later group commits: queued writes are cancelled, every write
    in flight is awaited, the data dirs written but not committed are
    deleted, and the first error is raised once no pool thread is left.
    The groups committed before it stay committed, so a rerun with the
    same ``run_id`` resumes after them.

    Metrics rows are logged after each data commit, purely for
    observability: they may name buckets whose data an overwrite has
    since dropped, so resume never reads them. A group's rows share the
    wall time and the ``KernelTimers`` delta (when ``timers`` is passed)
    since the previous logged commit, or since the call began: under
    concurrent writes a group's own span overlaps the others', and these
    intervals tile the call, so the rows of a run sum to at most its
    wall time and to exactly its kernel time.

    Returns the number of bucket-groups processed in THIS invocation.
    """
    t_mark = time.time()
    k_mark = timers.snapshot() if timers is not None else None
    bucketed = with_bucket(pages, key_col, n_buckets)
    done = output.lineage_done_buckets(run_id, stage)
    todo = remaining_buckets(list(range(n_buckets)), done)
    if not todo:
        return 0
    full = transform(bucketed) if transform is not None else bucketed
    has_keep = "keep" in full.columns
    bucket = F.col("bucket")
    groups = [todo[i:i + buckets_per_commit]
              for i in range(0, len(todo), buckets_per_commit)]

    def write(group: list[int]) -> tuple[DataDir, dict]:
        # the write's own job counts each bucket's rows (observe), so no
        # second aggregation job and no persist to share the kernel pass
        obs = Observation()
        counts = [F.count_if(bucket == b).alias(f"n_{b}") for b in group]
        if has_keep:
            counts += [F.count_if((bucket == b) & F.col("keep"))
                       .alias(f"kept_{b}") for b in group]
        data = output._write_data_dir(
            full.filter(bucket.isin(group)).observe(obs, *counts), "bucket")
        return data, obs.get

    commits = 0
    width = min(spark.sparkContext.defaultParallelism, len(groups))
    with ThreadPoolExecutor(width, thread_name_prefix="run_resumable") as pool:
        # wrapped per group: the wrapper copies the caller's local
        # properties when it is made, and each thread gets its own copy
        futures = [pool.submit(inheritable_thread_target(spark)(write), g)
                   for g in groups]
        try:
            for group, fut in zip(groups, futures):
                data, got = fut.result()
                commit = output.append if done or commits else output.overwrite
                commit(data, lineage={
                    "run_id": run_id, "stage": stage, "buckets": group})
                commits += 1
                stats = [{"bucket": b, "n_docs": got[f"n_{b}"],
                          "kept": got.get(f"kept_{b}")}
                         for b in group if got[f"n_{b}"]]
                if stats:
                    n = len(stats)
                    now = time.time()
                    share = {"elapsed_s": (now - t_mark) / n}
                    t_mark = now
                    if timers is not None:
                        k_now = timers.snapshot()
                        share.update({k: round((v - k_mark[k]) / n, 6)
                                      for k, v in k_now.items()})
                        k_mark = k_now
                    metrics.log(spark, [
                        {
                            "run_id": run_id, "stage": stage,
                            "bucket": r["bucket"], "n_docs": r["n_docs"],
                            "kept": r["kept"],
                            "dropped": (r["n_docs"] - r["kept"])
                            if r["kept"] is not None else None,
                            "scrubbed": r["n_docs"], "ts": time.time(),
                            **share,
                        }
                        for r in stats
                    ])
                if fail_after_commits is not None \
                        and commits >= fail_after_commits:
                    raise RuntimeError(f"injected failure after {commits} "
                                       "commits (test hook)")
        except BaseException:
            for f in futures:
                f.cancel()
            for f in futures[commits:]:
                # exception() waits for a write still in flight
                if not f.cancelled() and f.exception() is None:
                    output.discard(f.result()[0])
            raise
    return commits
