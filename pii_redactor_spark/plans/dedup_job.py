"""End-to-end corpus deduplication job: components → keep-one → rewrite.

The full dedup path a training-data pipeline runs before training:

1. LSH near-dup candidate pairs → connected components
   (operators/dedup.py) — every document labeled with its duplicate
   cluster's min id;
2. keep exactly the representative (component == id) of each cluster,
   drop the rest;
3. write the deduplicated corpus as a new Iceberg-style snapshot with a
   metrics/lineage row (docs in, docs kept, dups removed) — the rewrite
   is a snapshot commit, so the pre-dedup corpus remains time-travelable.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pii_redactor_spark.operators.dedup import dedup_components
from pii_redactor_spark.tables import IcebergishTable, MetricsTable


def dedup_corpus(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 verify_threshold: float | None = 0.8) -> DataFrame:
    """Drop near-duplicates, keeping each cluster's min-id representative.
    Broadcast-joins the (small) non-representative id set against the
    corpus as a left-anti join — the corpus itself never shuffles.

    Components are built over Jaccard-VERIFIED edges by default
    (round-2 advice): raw LSH band collisions include false positives,
    and an unverified merge would permanently drop non-duplicates from
    the rewritten corpus. Pass ``verify_threshold=None`` only for
    candidate-graph analysis."""
    comp = dedup_components(docs, text_col, id_col,
                            verify_threshold=verify_threshold)
    dups = (
        comp.filter(F.col("component") != F.col(id_col))
        .select(id_col)
    )
    return docs.join(F.broadcast(dups), id_col, "left_anti")


def run_dedup_job(
    spark: SparkSession,
    docs: DataFrame,
    output: IcebergishTable,
    metrics: MetricsTable,
    run_id: str = "dedup",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Execute the rewrite + commit + lineage row. Returns a summary."""
    from pii_redactor_spark.operators.cache import release_caches
    t0 = time.time()
    try:
        n_in = docs.count()
        kept = dedup_corpus(docs, text_col, id_col)
        snap = output.append(kept)
        n_kept = snap.added_rows  # this run's rows, not the whole table
    finally:
        release_caches()  # band/shingle/CC-label persists from the operators
    metrics.log(spark, [{
        "run_id": run_id, "stage": "dedup_rewrite", "bucket": None,
        "n_docs": n_in, "kept": n_kept, "dropped": n_in - n_kept,
        "scrubbed": None, "elapsed_s": time.time() - t0, "ts": time.time(),
    }])
    return {"n_in": n_in, "n_kept": n_kept,
            "n_dups_removed": n_in - n_kept,
            "snapshot_id": snap.snapshot_id}
