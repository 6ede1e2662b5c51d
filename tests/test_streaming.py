"""Structured Streaming slices: incremental scrub + windowed event agg."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pii_redactor_spark.streaming.stream import (
    events_windowed_stream,
    scrub_stream,
)
from pii_redactor_spark.tables import IcebergishTable, MetricsTable

DOC_SCHEMA = "url string, doc_id long, text string, lang string"


def _write_docs(spark, path, lo, hi):
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .select(F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
                "doc_id", "text", "lang")
    )
    docs.coalesce(2).write.mode("append").parquet(path)
    return docs.count()


def test_scrub_stream_incremental(spark, tmp_path):
    src = str(tmp_path / "incoming")
    out = IcebergishTable(tmp_path / "out")
    met = MetricsTable(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")

    n1 = _write_docs(spark, src, 0, 100)
    q = scrub_stream(spark, src, DOC_SCHEMA, out, met, ckpt)
    q.awaitTermination(120)
    assert out.read(spark).count() == n1

    # second drop: only NEW files are processed (source offsets in ckpt)
    n2 = _write_docs(spark, src, 100, 150)
    q = scrub_stream(spark, src, DOC_SCHEMA, out, met, ckpt)
    q.awaitTermination(120)
    total = out.read(spark).count()
    assert total == n1 + n2
    # no duplicates: every url exactly once
    assert out.read(spark).select("url").distinct().count() == total
    # lineage rows recorded per micro-batch
    assert met.read(spark).count() >= 2


def test_stateful_dedup_stream_across_batches(spark, tmp_path):
    from pii_redactor_spark.streaming.stream import dedup_stream
    src = str(tmp_path / "dd_in")
    outd = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    schema = "url string, text string"

    b1 = [("u://1", "alpha text"), ("u://2", "beta text"),
          ("u://3", "alpha text")]                     # in-batch dup
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    q = dedup_stream(spark, src, schema, outd, ckpt)
    q.awaitTermination(120)
    got1 = {r["url"] for r in spark.read.parquet(outd).collect()}
    assert got1 == {"u://1", "u://2"}                  # first occurrence only

    b2 = [("u://4", "alpha text"),                     # cross-batch dup
          ("u://5", "gamma text")]                     # new content
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    q = dedup_stream(spark, src, schema, outd, ckpt)
    q.awaitTermination(120)
    got2 = {r["url"] for r in spark.read.parquet(outd).collect()}
    # state survived the restart: alpha was NOT re-emitted for u://4
    assert got2 == {"u://1", "u://2", "u://5"}


def test_events_windowed_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "ev_in")
    outd = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.coalesce(2).write.mode("append").parquet(src)

    q = events_windowed_stream(spark, src, ckpt, outd)
    q.awaitTermination(120)

    got = spark.read.parquet(outd)
    # append mode only emits windows the watermark has passed; every
    # emitted window must match the batch aggregation exactly
    batch = (
        events.groupBy(F.date_trunc("hour", "ts").alias("window_start"),
                       "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
    )
    g = {(r["window_start"], r["event_type"]): (r["n_events"],)
         for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): (r["n_events"],)
         for r in batch.collect()}
    assert len(g) > 0
    for k, v in g.items():
        assert b[k] == v
    # all but the final (un-closed) windows should have been emitted
    assert len(g) >= len(b) - len({r["event_type"] for r in batch.collect()}) * 3


def test_watermark_drops_late_rows_and_metrics_record_them(spark, tmp_path):
    from pii_redactor_spark.streaming.stream import (
        log_stream_progress, stream_progress_summary)
    src = str(tmp_path / "late_in")
    outd = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")
    met = MetricsTable(tmp_path / "late_met")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")

    # drop 1: on-time events — advances the (checkpointed) watermark
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.coalesce(1).write.mode("append").parquet(src)
    q = events_windowed_stream(spark, src, ckpt, outd, watermark="1 hour")
    q.awaitTermination(120)
    emitted_1 = spark.read.parquet(outd).count()
    assert emitted_1 > 0

    # drop 2: events 100 hours BEFORE the stream's max ts — far past the
    # watermark, so Spark must exclude them from window state
    late = (
        events.orderBy(F.desc("ts")).limit(20)
        .withColumn("ts", F.col("ts") - F.expr("INTERVAL 100 HOURS"))
    )
    late.coalesce(1).write.mode("append").parquet(src)
    q = events_windowed_stream(spark, src, ckpt, outd, watermark="1 hour")
    q.awaitTermination(120)

    s = stream_progress_summary(q)
    assert s["input_rows"] == 20
    assert s["rows_dropped_by_watermark"] == 20

    got = log_stream_progress(spark, met, q, run_id="late-run")
    assert got == s
    row = met.read(spark).filter(F.col("run_id") == "late-run").first()
    assert row["dropped"] == 20 and row["n_docs"] == 20


def test_rate_scrub_demo_continuous(spark, tmp_path):
    """Round-3 roadmap item: the continuous (processing-time) trigger
    path — micro-batches keep firing from the rate source until stopped;
    planted PII is redacted in-stream."""
    import time

    from pii_redactor_spark.streaming.stream import rate_scrub_demo
    q = rate_scrub_demo(spark, str(tmp_path / "ckpt"),
                        rows_per_second=200, trigger_seconds=1,
                        table_name="rate_demo_t")
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) FROM rate_demo_t").first()[0]
            if n >= 100 and len(q.recentProgress) >= 2:
                break
            time.sleep(1)
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT * FROM rate_demo_t ORDER BY url LIMIT 500").collect()
    assert len(rows) >= 100          # multiple live micro-batches drained
    for r in rows:
        assert "[TEL]" in r["scrubbed_text"]
        assert "[EMAIL]" in r["scrubbed_text"]
        assert "555-" not in r["scrubbed_text"]
        assert r["n_redactions"] >= 2


def test_neardup_stream_bounded_state_candidates(spark, tmp_path):
    """Streaming MinHash-LSH: exact/near dups collide in-stream across
    micro-batch drops; per-bucket state is capped so a flood of
    identical docs emits pairs only against <= reps_per_bucket
    representatives (bounded state AND bounded emission)."""
    from pii_redactor_spark.streaming.stream import neardup_stream

    BASE = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the warm stone wall near the old garden gate")
    NEAR = BASE.replace("warm stone wall", "warm brick wall")
    OTHER = ("completely different content about spark query planning "
             "and adaptive execution with shuffle partitions coalesced")
    src = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "cands")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    # drop 1: the original + an unrelated doc
    spark.createDataFrame([(0, BASE), (3, OTHER)], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    q = neardup_stream(spark, src, schema, out_dir, ckpt,
                       reps_per_bucket=2)
    q.awaitTermination(120)

    # drop 2: an exact dup, a near dup, and a FLOOD of identical docs
    flood = [(100 + i, OTHER) for i in range(10)]
    spark.createDataFrame([(1, BASE), (2, NEAR)] + flood, schema) \
        .coalesce(1).write.mode("append").parquet(src)
    q = neardup_stream(spark, src, schema, out_dir, ckpt,
                       reps_per_bucket=2)
    q.awaitTermination(120)

    cand = spark.read.parquet(out_dir)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (0, 1) in pairs                  # exact dup found across drops
    assert any(a == 0 and b == 2 or a == 2 for a, b in pairs) \
        or (0, 2) in pairs                  # near dup collides somewhere
    # bounded emission: each flood doc pairs with at most
    # reps_per_bucket members per band bucket — doc 109 (last) must NOT
    # pair with every earlier flood doc
    partners_109 = {a for a, b in pairs if b == 109}
    from pii_redactor_spark.operators.dedup import LSH_BANDS
    assert partners_109  # it did collide
    assert len(partners_109) <= 2 * LSH_BANDS
    assert not {(a, b) for a, b in pairs
                if a >= 104 and b >= 105}   # late flood never inter-pairs


def test_semdedup_stream_flags_cross_drop_duplicates(spark, tmp_path):
    """Streaming SemDeDup: representatives persist across drops (an
    exact copy arriving in drop 2 of a drop-1 vector flags), state per
    cluster stays capped, and a genuinely novel vector passes."""
    from pii_redactor_spark.operators.clustering import kmeans_fit
    from pii_redactor_spark.streaming.stream import semdedup_stream

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_fit(emb)
    schema = "vec_id long, embedding array<float>, label int"
    src = str(tmp_path / "in")
    out_dir = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ck")

    d1 = emb.filter("vec_id < 300")
    d1.coalesce(1).write.mode("append").parquet(src)
    q = semdedup_stream(spark, src, schema, out_dir, ckpt, cents)
    q.awaitTermination(120)

    # drop 2: new vectors + exact COPIES of three drop-1 vectors
    copies = emb.filter("vec_id IN (10, 20, 30)") \
        .selectExpr("vec_id + 100000 AS vec_id", "embedding", "label")
    emb.filter("vec_id >= 300").unionByName(copies) \
        .coalesce(1).write.mode("append").parquet(src)
    q = semdedup_stream(spark, src, schema, out_dir, ckpt, cents)
    q.awaitTermination(120)

    flags = {r["vec_id"]: r["is_dup"]
             for r in spark.read.parquet(out_dir).collect()}
    assert len(flags) == 503
    assert flags[100010] and flags[100020] and flags[100030]
    # drop-1 originals were first-seen in their cluster: never flagged
    assert not flags[10] and not flags[20] and not flags[30]


def test_neardup_stream_equals_batch_replay(spark, tmp_path):
    """Round-4 verdict item 6: one id-ordered drop through the
    STREAMING selector produces exactly the rows of the oracle-gated
    batch replay (dedup.neardup_stream_replay == q_neardup_stream_twin
    semantics) — the hash gate therefore pins the streaming operator."""
    from pii_redactor_spark.operators.cache import release_caches
    from pii_redactor_spark.operators.dedup import neardup_stream_replay
    from pii_redactor_spark.streaming.stream import neardup_stream

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id",
                                                           "text")
    src = str(tmp_path / "in")
    docs.orderBy("doc_id").coalesce(1).write.parquet(src)
    q = neardup_stream(spark, src, "doc_id long, text string",
                       str(tmp_path / "out"), str(tmp_path / "ck"))
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.read.parquet(
        str(tmp_path / "out")).collect()}
    want = {tuple(r) for r in neardup_stream_replay(docs).collect()}
    release_caches()
    assert got == want and want


def _stream_flags(spark, tmp_path, drops, cents, **kw):
    """Run semdedup_stream once per drop (one availableNow query each,
    one checkpoint), returning the set of emitted (vec_id, cid, is_dup)."""
    from pii_redactor_spark.streaming.stream import semdedup_stream
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    for drop in drops:
        drop.orderBy("vec_id").coalesce(1).write.mode("append").parquet(src)
        q = semdedup_stream(spark, src,
                            "vec_id long, embedding array<float>, label int",
                            out, str(tmp_path / "ck"), cents, **kw)
        q.awaitTermination(180)
    return {tuple(r) for r in spark.read.parquet(out).collect()}


def test_semdedup_stream_equals_batch_replay(spark, tmp_path):
    """Same pin for the semantic selector: an id-ordered drop through
    semdedup_stream matches clustering.semdedup_stream_replay (the
    q_semdedup_stream_twin surface) row for row."""
    from pii_redactor_spark.operators.cache import release_caches
    from pii_redactor_spark.operators.clustering import (
        kmeans_fit, semdedup_stream_replay)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_fit(emb)
    got = _stream_flags(spark, tmp_path, [emb], cents)
    want = {tuple(r) for r in
            semdedup_stream_replay(emb, cents=cents).collect()}
    release_caches()
    assert got == want and want


def test_semdedup_stream_equals_replay_at_tau(spark, tmp_path):
    """A two-vector cluster with tau set to the pair's cosine under the
    oracle's arithmetic (left-to-right folds of the dot and both norms):
    the second vector is a dup in the replay, and the stream must flag
    it too. A BLAS dot over pairwise-summed norms lands just below tau
    on this seeded pair."""
    import numpy as np

    from pii_redactor_spark.operators.clustering import (
        semdedup_stream_replay)

    rng = np.random.default_rng(0)
    a = rng.normal(size=64).astype(np.float32)
    b = (a + 0.5 * rng.normal(size=64)).astype(np.float32)
    sa = sb = dot = 0.0
    for x, y in zip(a.tolist(), b.tolist()):
        sa, sb, dot = sa + x * x, sb + y * y, dot + x * y
    tau = dot / (np.sqrt(sa) * np.sqrt(sb))
    cents = [(0, [0.0] * 64)]
    emb = spark.createDataFrame(
        [(0, a.tolist(), 0), (1, b.tolist(), 0)],
        "vec_id long, embedding array<float>, label int")
    got = _stream_flags(spark, tmp_path, [emb], cents, tau=tau)
    want = {tuple(r) for r in
            semdedup_stream_replay(emb, tau=tau, cents=cents).collect()}
    assert want == {(0, 0, False), (1, 0, True)}
    assert got == want


def test_semdedup_stream_equals_replay_across_drops(spark, tmp_path):
    """Three id-ordered drops, each its own availableNow query on one
    checkpoint, with Arrow batches of 7 rows so every cluster's
    micro-batch reaches the state function in several chunks: the later
    drops start from stored representatives, and the union of the flags
    is the replay's."""
    from pii_redactor_spark.operators.cache import release_caches
    from pii_redactor_spark.operators.clustering import (
        kmeans_fit, semdedup_stream_replay)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_fit(emb)
    drops = [emb.filter("vec_id < 150"),
             emb.filter("vec_id >= 150 AND vec_id < 330"),
             emb.filter("vec_id >= 330")]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = _stream_flags(spark, tmp_path, drops, cents)
    finally:
        spark.conf.set(key, old)
    want = {tuple(r) for r in
            semdedup_stream_replay(emb, cents=cents).collect()}
    release_caches()
    assert len(want) == 500 and any(r[2] for r in want)
    assert got == want
