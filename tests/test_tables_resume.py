"""Iceberg-emulation table layer: snapshots, time travel, atomic commits,
and the kill-restart resume contract (SURVEY §5.2 item 6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from pii_redactor_spark.plans.pipeline import run_pipeline
from pii_redactor_spark.tables import (
    IcebergishTable,
    MetricsTable,
    remaining_buckets,
    run_resumable,
    with_bucket,
)


@pytest.fixture()
def docs(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
                "doc_id", "text", "lang")
    )


def test_snapshot_append_overwrite_timetravel(spark, tmp_path):
    t = IcebergishTable(tmp_path / "t")
    assert not t.exists() and t.read(spark) is None

    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    s0 = t.append(df1)
    assert s0.snapshot_id == 0 and s0.parent_id is None
    assert t.read(spark).count() == 2

    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    s1 = t.append(df2)
    assert s1.parent_id == 0
    assert t.read(spark).count() == 3
    # time travel: snapshot 0 still reads the pre-append state
    assert t.read_at(spark, 0).count() == 2

    s2 = t.overwrite(spark.createDataFrame([(9, "z")], "id long, v string"))
    assert t.read(spark).count() == 1
    assert t.read_at(spark, s1.snapshot_id).count() == 3
    assert [s.snapshot_id for s in t.snapshots()] == [0, 1, s2.snapshot_id]


def test_bucketing_is_stable_and_total(spark, docs):
    b = with_bucket(docs, "url", 8)
    assert b.filter((F.col("bucket") < 0) | (F.col("bucket") >= 8)).count() == 0
    # deterministic: same input -> same bucket assignment
    a1 = {r["url"]: r["bucket"] for r in b.select("url", "bucket").collect()}
    a2 = {r["url"]: r["bucket"] for r in b.select("url", "bucket").collect()}
    assert a1 == a2


def test_remaining_buckets():
    assert remaining_buckets([0, 1, 2, 3], [1, 3]) == [0, 2]
    assert remaining_buckets([0, 1], []) == [0, 1]
    assert remaining_buckets([], [1]) == []


def _run(spark, docs, base, run_id, **kw):
    out = IcebergishTable(base / "out")
    met = MetricsTable(base / "metrics")
    n = run_resumable(
        spark, docs, out, met, run_id=run_id,
        transform=lambda df: run_pipeline(df, allowed_langs=("en",),
                                          max_ppl=50.0)
        .select("url", "doc_id", "keep", "bucket"),
        n_buckets=8, buckets_per_commit=2, **kw)
    return out, met, n


def test_resume_after_crash_no_reprocess_and_identical_output(
        spark, docs, tmp_path):
    # single-shot reference run
    ref_out, _, ref_commits = _run(spark, docs, tmp_path / "ref", "ref")
    assert ref_commits == 4  # 8 buckets / 2 per commit
    ref_rows = {(r["url"], r["keep"]) for r in ref_out.read(spark).collect()}

    # crashed run: dies after 2 commits (4 of 8 buckets)
    with pytest.raises(RuntimeError, match="injected failure"):
        _run(spark, docs, tmp_path / "r2", "run2", fail_after_commits=2)

    out2 = IcebergishTable(tmp_path / "r2" / "out")
    met2 = MetricsTable(tmp_path / "r2" / "metrics")
    done_after_crash = out2.lineage_done_buckets("run2", "scrub")
    assert len(done_after_crash) == 4
    partial = out2.read(spark).count()

    # restart with same run_id: processes ONLY the remaining 4 buckets
    n2 = run_resumable(
        spark, docs, out2, met2, run_id="run2",
        transform=lambda df: run_pipeline(df, allowed_langs=("en",),
                                          max_ppl=50.0)
        .select("url", "doc_id", "keep", "bucket"),
        n_buckets=8, buckets_per_commit=2)
    assert n2 == 2  # 4 remaining buckets / 2 per commit
    assert out2.lineage_done_buckets("run2", "scrub") == list(range(8))

    rows2 = {(r["url"], r["keep"]) for r in out2.read(spark).collect()}
    assert rows2 == ref_rows               # identical final output
    assert out2.read(spark).count() > partial  # crash state was partial


def test_host_salting_splits_hot_hosts(spark):
    from pii_redactor_spark.operators.ranking import (
        hot_hosts, with_salted_host_key)
    # deliberately skewed synthetic corpus: 90% of urls on one host
    rows = [(f"https://bighost.example/page/{i}",) for i in range(900)]
    rows += [(f"https://site{i % 50}.example/p/{i}",) for i in range(100)]
    df = spark.createDataFrame(rows, "url string")

    hot = hot_hosts(df, threshold=500)
    assert hot == ["bighost.example"]

    keyed = with_salted_host_key(df, hot=hot, salt_k=16)
    sizes = {r["host_key"]: r["count"]
             for r in keyed.groupBy("host_key").count().collect()}
    hot_keys = [k for k in sizes if k.startswith("bighost.example#")]
    cold_keys = [k for k in sizes if "#" not in k]
    assert 2 <= len(hot_keys) <= 16          # hot host split across salts
    assert max(sizes[k] for k in hot_keys) < 900 / 2  # no mega-partition
    assert sum(sizes[k] for k in hot_keys) == 900     # nothing lost
    assert all("example" in k for k in cold_keys)     # cold hosts unsalted


def test_crash_between_data_commit_and_metrics_log_no_duplicates(
        spark, docs, tmp_path):
    """The round-2 advice crash window: data snapshot committed, process
    dies BEFORE the metrics row lands. The lineage record rides the data
    snapshot atomically, so resume must skip the group — previously the
    group was absent from done_buckets and got re-appended."""
    out = IcebergishTable(tmp_path / "out")
    met = MetricsTable(tmp_path / "metrics")
    bucketed = with_bucket(docs, "url", 8)
    group = [0, 1]
    part = bucketed.filter(F.col("bucket").isin(group))
    # simulate run_resumable's data commit, then "crash" (no metrics.log)
    out.append(part, partition_by="bucket",
               lineage={"run_id": "cw", "stage": "scrub",
                        "buckets": group})
    assert out.lineage_done_buckets("cw", "scrub") == group

    n = run_resumable(spark, docs, out, met, run_id="cw",
                      n_buckets=8, buckets_per_commit=2)
    assert n == 3  # only the 6 remaining buckets, in groups of 2
    dupes = (out.read(spark).groupBy("url").count()
             .filter(F.col("count") > 1).count())
    assert dupes == 0
    assert out.read(spark).count() == docs.count()


def test_overwrite_resets_lineage_done_buckets(spark, tmp_path):
    t = IcebergishTable(tmp_path / "t")
    df = spark.createDataFrame([(1, 0)], "id long, bucket long")
    t.append(df, partition_by="bucket",
             lineage={"run_id": "r", "stage": "s", "buckets": [0]})
    assert t.lineage_done_buckets("r", "s") == [0]
    t.overwrite(df.withColumn("bucket", F.lit(1)), partition_by="bucket")
    # the append's data dir is no longer live -> its lineage is void
    assert t.lineage_done_buckets("r", "s") == []


def test_read_survives_schema_widening_across_commits(spark, tmp_path):
    # review finding: widening a table's schema between commits (e.g.
    # the metrics table gaining timing columns) broke read() — the
    # union across commit dirs must tolerate missing columns as NULL
    t = IcebergishTable(tmp_path / "t")
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.append(spark.createDataFrame([(2, "b", 0.5)],
                                   "id long, v string, w double"))
    rows = {r["id"]: r for r in t.read(spark).collect()}
    assert rows[1]["w"] is None and rows[2]["w"] == 0.5


def test_string_partition_values_keep_type(spark, tmp_path):
    # review finding: mixed int/str coercion of partition dir names made
    # the summary unsortable; numeric-looking strings must not flip type
    # when any sibling value is non-numeric
    t = IcebergishTable(tmp_path / "t")
    df = spark.createDataFrame([(1, "12"), (2, "en")],
                               "id long, part string")
    snap = t.append(df, partition_by="part")
    (d,) = snap.data_dirs
    assert snap.partitions[d] == ["12", "en"]


def test_partition_summary_from_written_dirs(spark, tmp_path):
    t = IcebergishTable(tmp_path / "t")
    df = spark.createDataFrame([(1, 3), (2, 5), (3, 3)],
                               "id long, bucket long")
    snap = t.append(df, partition_by="bucket")
    (dir_name,) = snap.data_dirs
    assert snap.partitions[dir_name] == [3, 5]


def test_kernel_timers_breakdown_in_metrics(spark, docs, tmp_path):
    """Each group's rows share the wall and kernel time since the
    previous commit, so a run's rows sum to at most the call's wall time
    and to exactly its kernel-timer delta."""
    import time

    from pii_redactor_spark.plans.pipeline import KernelTimers
    out = IcebergishTable(tmp_path / "out")
    met = MetricsTable(tmp_path / "metrics")
    timers = KernelTimers(spark)
    k0, t0 = timers.snapshot(), time.time()
    run_resumable(
        spark, docs, out, met, run_id="kt", n_buckets=8,
        buckets_per_commit=2, timers=timers,
        transform=lambda df: run_pipeline(df, allowed_langs=("en",),
                                          max_ppl=50.0, timers=timers)
        .select("url", "doc_id", "keep", "bucket"))
    wall, k1 = time.time() - t0, timers.snapshot()
    rows = met.read(spark).filter(F.col("run_id") == "kt").collect()
    assert len(rows) == 8
    for r in rows:
        assert r["langid_s"] is not None and r["langid_s"] >= 0.0
        assert r["ppl_s"] is not None and r["ppl_s"] >= 0.0
        assert r["scrub_s"] is not None and r["scrub_s"] >= 0.0
    assert 0 < sum(r["elapsed_s"] for r in rows) <= wall
    for k in KernelTimers.KEYS:
        assert k1[k] - k0[k] > 0            # the kernels did measurable work
        assert sum(r[k] for r in rows) == pytest.approx(k1[k] - k0[k],
                                                        abs=1e-5)


def test_metrics_lineage_rows(spark, docs, tmp_path):
    _, met, _ = _run(spark, docs, tmp_path / "m", "mrun")
    mdf = met.read(spark)
    rows = mdf.filter(F.col("run_id") == "mrun").collect()
    assert {r["bucket"] for r in rows} == set(range(8))
    assert all(r["stage"] == "scrub" for r in rows)
    total = sum(r["n_docs"] for r in rows)
    assert total == docs.count()
    assert all(r["kept"] is not None and r["kept"] <= r["n_docs"]
               for r in rows)


def test_read_incremental_is_manifest_diff(spark, tmp_path):
    """Iceberg incremental-read emulation: only rows committed after the
    given snapshot come back (a manifest data-dir diff, no re-scan of
    processed commits); overwrite resets the diff base."""
    from pii_redactor_spark.tables import IcebergishTable
    t = IcebergishTable(tmp_path / "t")
    df1 = spark.createDataFrame([(1,), (2,)], "v long")
    df2 = spark.createDataFrame([(3,)], "v long")
    df3 = spark.createDataFrame([(4,), (5,)], "v long")
    s1 = t.append(df1).snapshot_id
    assert {r["v"] for r in t.read_incremental(spark, None).collect()} \
        == {1, 2}
    t.append(df2)
    s2 = t.current_snapshot_id()
    assert {r["v"] for r in t.read_incremental(spark, s1).collect()} == {3}
    t.append(df3)
    assert {r["v"] for r in t.read_incremental(spark, s1).collect()} \
        == {3, 4, 5}
    assert {r["v"] for r in t.read_incremental(spark, s2).collect()} \
        == {4, 5}
    # nothing new after the latest snapshot
    assert t.read_incremental(spark, t.current_snapshot_id()) is None
    # overwrite starts a new lineage root: everything is new again
    t.overwrite(spark.createDataFrame([(9,)], "v long"))
    assert {r["v"] for r in t.read_incremental(spark, s2).collect()} == {9}


def test_quality_increment_processes_only_new_snapshots(spark, tmp_path):
    """Incremental scrub over a growing input table (the build's
    append-through step with the scrub transform): first pass scrubs
    everything, a second pass after an append scrubs ONLY the drop, a
    third pass with no growth is a no-op."""
    from pii_redactor_spark.plans.build import (
        append_through, scrub_projection, with_doc_url)
    from pii_redactor_spark.tables import IcebergishTable

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = IcebergishTable(tmp_path / "src")
    out = IcebergishTable(tmp_path / "out")

    def scrub_increment():
        return append_through(
            spark, src, out, "i1", "scrub",
            lambda diff: scrub_projection(with_doc_url(diff)))

    src.append(docs.filter("doc_id < 60"))
    assert scrub_increment() == (60, 60)     # read 60, appended 60
    assert out.read(spark).count() == 60

    src.append(docs.filter("doc_id >= 60 AND doc_id < 85"))
    assert scrub_increment() == (25, 25)
    got = out.read(spark)
    assert got.count() == 85
    assert got.select("doc_id").distinct().count() == 85  # no re-scrubs

    assert scrub_increment() is None         # up to date: appends nothing
    assert out.read(spark).count() == 85
    # output rows carry the scrubbed text as `text`
    assert "text" in got.columns and "scrubbed_text" not in got.columns


# ---------------------------------------------------------------------------
# table facts from manifests: counts and read schemas without Spark jobs
# ---------------------------------------------------------------------------

def _jobs_started(spark, fn):
    """(fn's result, ids of the Spark jobs fn started)."""
    import uuid
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _inferred(spark, tbl, snapshot_id=None):
    """The table read as before manifests recorded schemas: every data
    dir's schema inferred from its footers. A delete snapshot reads its
    pinned base the same way, less its keys, and its key file's stored
    schema must equal the inferred one."""
    import dataclasses
    stored = tbl.snapshot(snapshot_id)
    snap = dataclasses.replace(stored, schemas=None)
    df = tbl._read_dirs(spark, snap, snap.data_dirs)
    if snap.base is None:
        return df
    assert tbl._read_dirs(spark, stored, snap.data_dirs).schema \
        == df.schema, tbl.base.name
    rows = _inferred(spark, tbl.base_table(snap), snap.base["snapshot_id"])
    return tbl.without_keys(rows, df, snap.base["key"])


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_manifest_count_matches_spark_count(spark, docs, tmp_path):
    t = IcebergishTable(tmp_path / "t")
    assert t.count(spark) == 0
    s0 = t.append(docs.filter("doc_id < 40"))
    s1 = t.append(docs.filter("doc_id >= 40 AND doc_id < 100"))
    assert (s0.added_rows, s1.added_rows, s1.total_rows) == (40, 60, 100)
    assert t.count(spark) == t.read(spark).count() == 100
    t.overwrite(docs.filter("doc_id < 7"))
    assert t.count(spark) == t.read(spark).count() == 7
    # partitioned appends: int bucket and string partition values
    p = IcebergishTable(tmp_path / "p")
    p.append(with_bucket(docs, "url", 8), partition_by="bucket")
    p.append(docs.filter("doc_id < 30"), partition_by="lang")
    assert p.count(spark) == p.read(spark).count() == docs.count() + 30
    # an empty write adds zero rows
    e = IcebergishTable(tmp_path / "e")
    assert e.append(docs.filter("doc_id < 0")).added_rows == 0
    assert e.count(spark) == e.read(spark).count() == 0


def test_stored_schema_matches_inference(spark, docs, tmp_path):
    t = IcebergishTable(tmp_path / "t")
    t.append(with_bucket(docs, "url", 4), partition_by="bucket")
    t.append(with_bucket(docs.filter("doc_id < 9"), "url", 4)
             .withColumn("extra", F.lit(1.5)), partition_by="bucket")
    s = IcebergishTable(tmp_path / "s")
    s.append(spark.createDataFrame([(1, "12"), (2, "en")],
                                   "id long not null, part string"),
             partition_by="part")
    for tbl in (t, s):
        got, want = tbl.read(spark), _inferred(spark, tbl)
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)
    assert dict(t.read(spark).dtypes)["bucket"] == "int"
    assert dict(s.read(spark).dtypes)["part"] == "string"


def test_build_stage_tables_read_as_inferred(spark, tmp_path):
    """Every build_job stage table (and the metrics table) reads with
    its stored schema exactly as footer inference reads it."""
    from pii_redactor_spark.operators.cache import release_caches
    from pii_redactor_spark.plans.build import (
        STAGE_ORDER, build_job, stage_table)
    pages = spark.read.parquet(
        f"{SF_DIR}/documents.parquet").filter("doc_id < 120")
    out = build_job(spark, pages, tmp_path / "b", run_id="sch")
    release_caches()
    tables = [stage_table(tmp_path / "b", n) for n in STAGE_ORDER]
    tables.append(MetricsTable(tmp_path / "b" / "metrics"))
    for tbl in tables:
        got, want = tbl.read(spark), _inferred(spark, tbl)
        assert got.schema == want.schema, tbl.base.name
        assert _rows(got) == _rows(want), tbl.base.name
        assert tbl.count(spark) == want.count(), tbl.base.name
    assert dict(tables[3].read(spark).dtypes)["bucket"] == "int"
    by = {s["stage"]: s for s in out["stages"]}
    for prev, st in zip(STAGE_ORDER[:3], STAGE_ORDER[1:4]):
        assert by[st]["n_in"] == by[prev]["n_out"]
    assert out["metrics_rows"] == tables[-1].read(spark).count()


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_delete_snapshot_chain_reads_and_counts(spark, docs, tmp_path):
    """A delete snapshot reads its base less its keys, in the base's
    column order; its base may be a delete snapshot itself; an empty key
    set reads the whole base; and the manifest count, which starts no
    Spark job, equals a Spark count of the read."""
    base = IcebergishTable(tmp_path / "base")
    base.overwrite(with_bucket(docs, "url", 4), partition_by="bucket")
    all_ids = _ids(base.read(spark))
    first = IcebergishTable(tmp_path / "first")
    s = first.commit_deletes(base, docs.filter("doc_id % 3 = 0"), "doc_id")
    assert (s.op, s.base) == ("delete", {
        "table": "../base", "snapshot_id": 0, "key": "doc_id"})
    chained = IcebergishTable(tmp_path / "chained")
    chained.commit_deletes(
        first, docs.filter("doc_id % 5 = 0 AND doc_id % 3 != 0"), "doc_id")
    empty = IcebergishTable(tmp_path / "empty")
    empty.commit_deletes(chained, docs.filter("doc_id < 0"), "doc_id")
    want = [i for i in all_ids if i % 3 and i % 5]
    for tbl in (chained, empty):
        got = tbl.read(spark)
        assert got.columns == base.read(spark).columns
        assert _ids(got) == want
        n, jobs = _jobs_started(spark, lambda: tbl.count(spark))
        assert n == got.count() == len(want) and jobs == []
    assert empty.snapshot().added_rows == 0
    assert _ids(first.read(spark)) == [i for i in all_ids if i % 3]
    with pytest.raises(ValueError, match="no incremental read"):
        chained.read_incremental(spark, None)


def test_delete_snapshot_pins_its_base(spark, docs, tmp_path):
    """After a new run overwrites the base, the old delete snapshot
    still reads the base rows it was committed against, and a new one
    reads the new base."""
    base = IcebergishTable(tmp_path / "base")
    base.overwrite(docs.filter("doc_id < 60"))
    dels = IcebergishTable(tmp_path / "dels")
    old = dels.commit_deletes(base, docs.filter("doc_id < 10"), "doc_id")
    base.overwrite(docs.filter("doc_id >= 40"))
    dels.commit_deletes(base, docs.filter("doc_id >= 90"), "doc_id")
    assert _ids(dels.read_at(spark, old.snapshot_id)) == _ids(docs.filter(
        "doc_id >= 10 AND doc_id < 60"))
    assert _ids(dels.read(spark)) == _ids(docs.filter(
        "doc_id >= 40 AND doc_id < 90"))
    assert dels.count(spark) == dels.read(spark).count()
    # a manifest from before delete snapshots existed still loads
    import json
    p = base.manifest_dir / "snap-0.json"
    d = json.loads(p.read_text())
    d.pop("base")
    p.write_text(json.dumps(d))
    assert base.snapshot(0).base is None
    assert dels.read_at(spark, old.snapshot_id).count() == 50


def test_manifest_without_facts_reads_and_counts(spark, docs, tmp_path):
    """Manifests written before snapshots recorded rows and schemas
    still read and count (through Spark), also after a new append."""
    import json
    t = IcebergishTable(tmp_path / "t")
    t.append(with_bucket(docs, "url", 4), partition_by="bucket")
    t.append(docs.filter("doc_id < 10").select("doc_id", "text"))
    want = _rows(t.read(spark))
    for p in t.manifest_dir.glob("snap-*.json"):
        d = json.loads(p.read_text())
        for k in ("added_rows", "total_rows", "schemas"):
            d.pop(k)
        p.write_text(json.dumps(d))
    snap = t.snapshot()
    assert snap.total_rows is None and snap.schemas is None
    assert _rows(t.read(spark)) == want
    assert t.count(spark) == docs.count() + 10
    t.append(docs.filter("doc_id < 5").select("doc_id", "text"))
    assert t.snapshot().total_rows is None      # unknown base stays unknown
    assert t.count(spark) == t.read(spark).count() == docs.count() + 15


def test_metrics_log_and_count_start_no_spark_jobs(spark, docs, tmp_path):
    met = MetricsTable(tmp_path / "met")
    rows = [{"run_id": "r", "stage": "scrub", "bucket": b, "n_docs": 10,
             "kept": 9, "dropped": 1, "elapsed_s": 0.5, "ts": 1.0}
            for b in (0, 1)]
    _, jobs = _jobs_started(spark, lambda: met.log(spark, rows))
    assert jobs == []
    _, jobs = _jobs_started(spark, lambda: met.log(spark, [
        {"run_id": "r", "stage": "other", "bucket": 5}]))
    assert jobs == []
    n, jobs = _jobs_started(spark, lambda: met.count(spark))
    assert n == 3 and jobs == []
    t = IcebergishTable(tmp_path / "t")
    t.append(with_bucket(docs, "url", 4), partition_by="bucket")
    (n, df), jobs = _jobs_started(
        spark, lambda: (t.count(spark), t.read(spark)))
    assert n == docs.count() and jobs == []    # no footer-inference job
    # Spark reads the driver-written rows with the metrics column types
    got = met.read(spark)
    assert dict(got.dtypes) == {
        "run_id": "string", "stage": "string", "bucket": "bigint",
        "n_docs": "bigint", "kept": "bigint", "dropped": "bigint",
        "scrubbed": "bigint", "elapsed_s": "double", "ts": "double",
        "langid_s": "double", "ppl_s": "double", "scrub_s": "double"}
    assert sorted((r["stage"], r["bucket"], r["kept"])
                  for r in got.collect()) == [
        ("other", 5, None), ("scrub", 0, 9), ("scrub", 1, 9)]


def test_resumable_builds_transform_once_and_filters_below_udf(
        spark, docs, tmp_path):
    """run_resumable plans the transform once; each group's committed
    plan has the bucket Filter BELOW the kernels' ArrowEvalPython, so
    the kernels only see the group's rows."""
    plans: list[str] = []

    class Capture(IcebergishTable):
        def _write_data_dir(self, df, partition_by):
            plans.append(df._jdf.queryExecution().executedPlan()
                         .toString())
            return super()._write_data_dir(df, partition_by)

    calls = []

    def transform(df):
        calls.append(1)
        return (run_pipeline(df, allowed_langs=("en",), max_ppl=50.0)
                .select("url", "doc_id", "keep", "bucket"))

    out = Capture(tmp_path / "out")
    n = run_resumable(spark, docs, out, MetricsTable(tmp_path / "m"),
                      run_id="once", n_buckets=8, buckets_per_commit=2,
                      transform=transform)
    assert n == 4 and len(calls) == 1 and len(plans) == 4
    for plan in plans:
        lines = plan.splitlines()
        udf = next(i for i, l in enumerate(lines)
                   if "ArrowEvalPython" in l)
        filt = [i for i, l in enumerate(lines)
                if "Filter" in l and "xxhash64" in l]
        assert filt and all(i > udf for i in filt), plan
        depth = len(lines[udf]) - len(lines[udf].lstrip(" :+-"))
        assert all(len(lines[i]) - len(lines[i].lstrip(" :+-")) > depth
                   for i in filt), plan
    assert out.count(spark) == docs.count()


def _sql_intervals(spark, after: int) -> list[tuple[int, str, int, int]]:
    """(execution id, description, start ms, end ms) of every finished SQL
    execution with an id above ``after`` that started a Spark job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    out, it = [], store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.executionId() > after and e.jobs().size() > 0:
            out.append((e.executionId(), e.description(), e.submissionTime(),
                        e.completionTime().get().getTime()))
    return sorted(out)


def _last_execution(spark) -> int:
    ids = [i for i, *_ in _sql_intervals(spark, -1)]
    return max(ids, default=-1)


def test_group_writes_overlap_and_commit_in_order(spark, docs, tmp_path):
    """The four group writes of a quality-shaped run are in flight
    together on the local[4] session, carry the caller's job group, and
    still commit one snapshot per group in group order."""
    import threading
    first = _last_execution(spark)
    (out, _, n), jobs = _jobs_started(
        spark, lambda: _run(spark, docs, tmp_path / "ov", "ov"))
    assert n == 4
    writes = _sql_intervals(spark, first)
    # the pool threads carried the caller's job group (and with it the
    # job description) to every write, and the writes are the only jobs
    assert len(jobs) == 4
    assert [d for _, d, _, _ in writes] == ["job probe"] * 4, writes
    # every write starts before any write ends: all four overlap
    assert max(s for *_, s, _ in writes) < min(e for *_, e in writes), writes
    assert not [t for t in threading.enumerate()
                if t.name.startswith("run_resumable")]
    snaps = out.snapshots()
    assert [s.snapshot_id for s in snaps] == [0, 1, 2, 3]
    assert [s.op for s in snaps] == ["overwrite", "append", "append",
                                     "append"]
    assert [s.lineage["buckets"] for s in snaps] == [
        [0, 1], [2, 3], [4, 5], [6, 7]]
    assert [snaps[-1].partitions[d] for d in snaps[-1].data_dirs] == [
        [0, 1], [2, 3], [4, 5], [6, 7]]


def test_failed_group_write_commits_prefix_and_cleans_up(
        spark, docs, tmp_path):
    """A transform whose UDF raises on buckets 4-5 only: groups [0,1]
    and [2,3] commit and nothing after them does; the call raises only
    once every write has finished, with no pool thread or Spark job left
    and no uncommitted data dir on disk; a rerun with the same run_id
    completes the table."""
    import threading

    def good(df):
        return df.select("url", "doc_id", "bucket",
                         (F.col("doc_id") % 3 > 0).alias("keep"))

    def bad(df):
        @F.udf("boolean")
        def keep(doc_id, b):
            if b in (4, 5):
                raise ValueError(f"poisoned bucket {b}")
            return doc_id % 3 > 0

        return df.select("url", "doc_id", "bucket",
                         keep("doc_id", "bucket").alias("keep"))

    def run(base, transform):
        return run_resumable(
            spark, docs, IcebergishTable(base), MetricsTable(tmp_path / "m"),
            run_id="poison", n_buckets=8, buckets_per_commit=2,
            transform=transform)

    with pytest.raises(Exception, match="poisoned bucket"):
        run(tmp_path / "out", bad)
    assert not [t for t in threading.enumerate()
                if t.name.startswith("run_resumable")]
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    out = IcebergishTable(tmp_path / "out")
    assert [s.lineage["buckets"] for s in out.snapshots()] == [[0, 1], [2, 3]]
    assert out.lineage_done_buckets("poison", "scrub") == [0, 1, 2, 3]
    assert {p.name for p in out.data_root.iterdir()} \
        == set(out.snapshot().data_dirs)

    assert run(tmp_path / "out", good) == 2
    assert run(tmp_path / "ref", good) == 4
    ref = IcebergishTable(tmp_path / "ref")
    rows = [sorted(tuple(r) for r in t.read(spark).collect())
            for t in (out, ref)]
    assert rows[0] == rows[1] and len(rows[0]) == docs.count()
