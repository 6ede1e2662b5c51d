"""Corpus deduplication: components → keep-one.

The dedup path a training-data pipeline runs before training:

1. LSH near-dup candidate pairs → connected components
   (operators/dedup.py) — every document labeled with its duplicate
   cluster's min id;
2. keep exactly the representative (component == id) of each cluster,
   drop the rest.

The build chain's dedup stage (plans/build.py) commits the result as a
snapshot with its metrics/lineage row, so the pre-dedup corpus remains
time-travelable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pii_redactor_spark.operators.dedup import dedup_components


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
