"""Structured Streaming slices of the engine.

The reference is strictly batch (SURVEY §2.9) — the closest analogues are
its cache-existence resume and its 20-thread fan-out. This module carries
the engine's two streaming-shaped capabilities:

- **Streaming scrub** (`scrub_stream`): the batch quality pipeline is
  embarrassingly parallel, so it runs unchanged under ``foreachBatch`` —
  a file-source ``readStream`` over corpus drops, each micro-batch scrubbed
  and appended to the Iceberg-style output table with its lineage row. With
  ``Trigger.AvailableNow`` this doubles as an incremental backfill runner:
  restart it and only new files are processed (checkpointed source offsets —
  the streaming twin of the bucket-resume path in tables.py).
- **Windowed event aggregation** (`events_windowed_stream`): watermarked
  tumbling-window counts/sums over a late-arriving event stream —
  ``withWatermark`` + ``window()`` state, append-mode emission when the
  watermark passes window end.

At 100 TB the same topology holds: the scrub stream is stateless per-doc
work (scales with partitions), the window agg keys state by (window,
event_type) which AQE-independent state-store partitioning shards by
``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pii_redactor_spark.plans.pipeline import run_pipeline
from pii_redactor_spark.tables import IcebergishTable, MetricsTable


def scrub_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    output: IcebergishTable,
    metrics: MetricsTable,
    checkpoint_dir: str,
    run_id: str = "stream",
    max_files_per_trigger: int = 8,
):
    """File-source readStream → quality pipeline per micro-batch →
    Iceberg-style append + lineage row. Returns the StreamingQuery
    (caller awaits termination; AvailableNow drains current files)."""
    pages = (
        spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = run_pipeline(batch_df).select(
            "url", "doc_id", "lang_pred", "ppl", "n_redactions", "keep")
        # persist: the fused kernel pass runs ONCE per micro-batch; the
        # stats aggregation and the table append both read the cache
        # (previously count + filter.count + append = 3 kernel passes)
        out = out.persist()
        try:
            n, kept = out.agg(
                F.count("*"),
                F.sum(F.when(F.col("keep"), 1).otherwise(0)),
            ).first()
            if not n:
                return
            output.append(out)
            metrics.log(batch_df.sparkSession, [{
                "run_id": run_id, "stage": f"stream-batch-{batch_id}",
                "bucket": batch_id, "n_docs": n, "kept": kept,
                "dropped": n - kept, "scrubbed": n,
                "elapsed_s": None, "ts": None,
            }])
        finally:
            out.unpersist()

    return (
        pages.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Custom stateful streaming operator: cross-micro-batch exact dedup
    via ``applyInPandasWithState`` — the streaming twin of
    ``operators.dedup.exact_dedup``.

    State is keyed by the content hash; the first document of a group
    (across the stream's entire lifetime, checkpointed) is emitted,
    every later duplicate is dropped and counted. Demonstrates the
    engine's arbitrary-stateful-op surface: per-key GroupState,
    Arrow-batched user code, append-mode emission.
    """
    import pandas as pd

    pages = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .withColumn("text_hash", F.md5("text"))
    )

    out_type = "text_hash string, url string, n_dups_so_far long"
    state_type = "seen long"

    def first_only(key, pdfs, state):
        seen = state.get[0] if state.exists else 0
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("url")
            if seen == 0 and len(pdf) > 0:
                first = pdf.iloc[0]
                out.append(pd.DataFrame({
                    "text_hash": [key[0]],
                    "url": [first["url"]],
                    "n_dups_so_far": [0],
                }))
            seen += len(pdf)
        state.update((seen,))
        if out:
            yield from out

    deduped = pages.groupBy("text_hash").applyInPandasWithState(
        first_only, out_type, state_type, "append",
        "NoTimeout",
    )
    return (
        deduped.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def neardup_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    out_dir: str,
    checkpoint_dir: str,
    reps_per_bucket: int = 4,
):
    """Streaming NEAR-duplicate candidate detection — the batch
    MinHash-LSH self-join (operators/dedup.py lsh_candidate_pairs) as a
    stateful streaming operator (round-4; the batch selectors' ingest-
    time twin).

    Every arriving document is projected to its LSH band buckets
    (signatures via the same Arrow XOR-min twin, md5 JVM-side — the
    batch code path verbatim, stateless so it runs under readStream
    unchanged); per (band_idx, band_hash) key, ``GroupState`` holds at
    most ``reps_per_bucket`` representative doc ids — BOUNDED state per
    key, so a hot bucket (the all-identical-docs case) can never grow
    state or emission quadratically: each later arrival emits candidate
    pairs against the stored representatives only, exactly the cap a
    production stream applies before the exact-Jaccard verify (the
    batch operator) runs on the emitted candidates.

    Output rows: (band_idx, band_hash, id_a, id_b) with id_a < id_b.
    """
    import pandas as pd

    from pii_redactor_spark.operators.dedup import minhash_bands

    pages = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
    )
    bands = minhash_bands(pages)

    out_type = ("band_idx int, band_hash string, id_a long, id_b long")
    state_type = "ids string"

    def emit_pairs(key, pdfs, state):
        reps: list[int] = (
            [int(x) for x in state.get[0].split(",") if x]
            if state.exists else [])
        rows_a, rows_b = [], []
        for pdf in pdfs:
            for doc_id in sorted(int(v) for v in pdf["doc_id"]):
                for r in reps:
                    lo, hi = (r, doc_id) if r < doc_id else (doc_id, r)
                    if lo != hi:
                        rows_a.append(lo)
                        rows_b.append(hi)
                if len(reps) < reps_per_bucket:
                    reps.append(doc_id)
        state.update((",".join(str(r) for r in reps),))
        if rows_a:
            yield pd.DataFrame({
                "band_idx": [int(key[0])] * len(rows_a),
                "band_hash": [key[1]] * len(rows_a),
                "id_a": rows_a, "id_b": rows_b,
            })

    cand = bands.groupBy("band_idx", "band_hash").applyInPandasWithState(
        emit_pairs, out_type, state_type, "append", "NoTimeout")
    return (
        cand.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def semdedup_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    out_dir: str,
    checkpoint_dir: str,
    cents: list,
    tau: float | None = None,
    reps_per_cluster: int = 64,
):
    """Streaming SemDeDup — the batch operator
    (operators/clustering.semdedup) at ingest time, completing the
    batch-selector streaming twins (exact dedup, LSH near-dup, now
    semantic dedup).

    Cluster assignment is the batch projection against the literal
    centroid ARTIFACT (``cents`` = kmeans_fit output or
    artifacts.load_centroids — the fit happens offline, serving is
    stateless so it runs under readStream unchanged). Per-cluster
    ``GroupState`` holds at most ``reps_per_cluster`` representative
    vectors: an arriving vector is flagged ``is_dup`` when its cosine
    to ANY stored representative clears ``tau`` (keep-FIRST-SEEN — the
    ingest-order analogue of the batch keep-lowest-id), otherwise it
    joins the representatives until the cap. State per cluster is a
    fixed-size float block — bounded regardless of stream length; past
    the cap, novel vectors pass through unflagged (the documented
    recall trade of capped streaming dedup; size the cap or k like the
    batch operator sizes clusters).

    Output rows: (vec_id, cid, is_dup).
    """
    import numpy as np
    import pandas as pd

    from pii_redactor_spark.operators.clustering import (
        SEM_TAU, _assign, _cents_literal, _vecs)

    t = SEM_TAU if tau is None else tau
    emb = spark.readStream.schema(schema).parquet(source_dir)
    assigned = _assign(_vecs(emb), _cents_literal(cents)).select(
        "vec_id", F.col("cid").cast("int").alias("cid"), "v")

    out_type = "vec_id long, cid int, is_dup boolean"
    state_type = "flat array<double>, nreps int, dim int"

    def flag(key, pdfs, state):
        if state.exists:
            flat, nreps, dim = state.get
            reps = (np.asarray(flat, dtype=np.float64)
                    .reshape(nreps, dim) if nreps else
                    np.zeros((0, max(dim, 1))))
        else:
            reps, dim = np.zeros((0, 1)), 0
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("vec_id")
            for vec_id, v in zip(pdf["vec_id"], pdf["v"]):
                x = np.asarray(v, dtype=np.float64)
                if reps.shape[0] == 0:
                    dim = len(x)
                    reps = np.zeros((0, dim))
                xn = float(np.sqrt((x * x).sum()))
                dup = False
                if reps.shape[0]:
                    dots = reps @ x
                    norms = np.sqrt((reps * reps).sum(axis=1)) * xn
                    with np.errstate(invalid="ignore",
                                     divide="ignore"):
                        cos = dots / norms
                    # zero-norm cosine is NaN; the batch operator's
                    # expression/oracle order NaN above every number,
                    # i.e. >= tau — mirror it
                    dup = bool(np.any((cos >= t) | np.isnan(cos)))
                if not dup and reps.shape[0] < reps_per_cluster:
                    reps = np.vstack([reps, x[None, :]])
                out.append((int(vec_id), int(key[0]), dup))
        # plain Python floats: numpy scalars don't unpickle JVM-side
        state.update(([float(x) for x in reps.reshape(-1)],
                      int(reps.shape[0]), int(dim)))
        if out:
            yield pd.DataFrame(out,
                               columns=["vec_id", "cid", "is_dup"])

    flagged = assigned.groupBy("cid").applyInPandasWithState(
        flag, out_type, state_type, "append", "NoTimeout")
    return (
        flagged.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def rate_scrub_demo(
    spark: SparkSession,
    checkpoint_dir: str,
    rows_per_second: int = 50,
    trigger_seconds: int = 1,
    table_name: str = "rate_scrub_demo",
):
    """Continuous (processing-time-triggered) scrub over the built-in
    ``rate`` source — the non-AvailableNow path: micro-batches keep
    firing until the caller stops the query. Each synthetic row carries
    planted PII (phone + email) derived from its offset; the scrub
    kernel redacts it in-stream; results land in a memory sink for
    inspection. Demonstrates the engine's live-ingest topology (rate →
    stateless Arrow-batched scrub → sink) — at 100 TB/day the same plan
    runs with a Kafka source and an Iceberg sink; nothing in the middle
    changes."""
    from pii_redactor_spark.kernels.scrub import make_scrub_udf

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    docs = rate.select(
        F.concat(F.lit("stream://"), F.col("value")).alias("url"),
        F.format_string(
            "Call 555-123-%04d or mail user%d@example.com today.",
            F.pmod(F.col("value"), F.lit(10000)).cast("int"),
            F.col("value"),
        ).alias("text"),
    )
    scrub = make_scrub_udf(enable_regex=True)
    out = docs.withColumn("_s", scrub("url", "text")).select(
        "url", F.col("_s.scrubbed_text").alias("scrubbed_text"),
        F.col("_s.n_redactions").alias("n_redactions"),
    )
    return (
        out.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(table_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def stream_progress_summary(query) -> dict:
    """Late-data observability: aggregate the query's recent
    StreamingQueryProgress into {n_batches, input_rows,
    rows_dropped_by_watermark, state_rows}. ``numRowsDroppedByWatermark``
    is Spark's own count of rows that arrived too late for their window
    (past the watermark) and were excluded from state — the quantity a
    production pipeline alerts on (late-arrival rate)."""
    out = {"n_batches": 0, "input_rows": 0,
           "rows_dropped_by_watermark": 0, "state_rows": 0}
    for p in query.recentProgress:
        if isinstance(p, str):
            import json as _json
            p = _json.loads(p)
        out["n_batches"] += 1
        out["input_rows"] += int(p.get("numInputRows") or 0)
        for so in (p.get("stateOperators") or []):
            out["rows_dropped_by_watermark"] += int(
                so.get("numRowsDroppedByWatermark") or 0)
            out["state_rows"] = max(out["state_rows"],
                                    int(so.get("numRowsTotal") or 0))
    return out


def log_stream_progress(spark: SparkSession, metrics: MetricsTable,
                        query, run_id: str = "stream") -> dict:
    """Commit the progress summary as a lineage/metrics row (dropped =
    late rows excluded by the watermark)."""
    s = stream_progress_summary(query)
    metrics.log(spark, [{
        "run_id": run_id, "stage": "stream-progress", "bucket": None,
        "n_docs": s["input_rows"],
        "kept": s["input_rows"] - s["rows_dropped_by_watermark"],
        "dropped": s["rows_dropped_by_watermark"],
        "scrubbed": None, "elapsed_s": None, "ts": None,
    }])
    return s


def events_windowed_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    watermark: str = "2 hours",
    window: str = "1 hour",
):
    """Watermarked tumbling-window aggregation over a late-data event
    stream (schema: the driver's events table). Append mode — a window
    emits once, when the watermark passes its end."""
    events = (
        spark.readStream
        .schema("event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")
        .parquet(source_dir)
    )
    agg = (
        events
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"),
                "event_type", "n_events", "total_value")
    )
    return (
        agg.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
