"""Corpus deduplication: components → keep-one.

The dedup path a training-data pipeline runs before training:

1. LSH near-dup candidate pairs → connected components
   (operators/dedup.py) — every edge endpoint labeled with its
   duplicate cluster's min id;
2. keep exactly the representative (component == id) of each cluster,
   drop the rest.

The build chain's dedup stage (plans/build.py) commits the dropped ids
as a delete snapshot against its input table, with its metrics/lineage
row, so the pre-dedup corpus remains time-travelable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pii_redactor_spark.operators.dedup import (
    components_from_edges, dedup_edges)


def duplicate_ids(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  verify_threshold: float | None = 0.8) -> DataFrame:
    """The ids of the near-duplicates to drop: every doc but its
    cluster's min-id representative. Only edge endpoints can be
    duplicates, so they come from the components' endpoint labels alone
    (no second scan of the corpus ids).

    Components are built over Jaccard-VERIFIED edges by default
    (round-2 advice): raw LSH band collisions include false positives,
    and an unverified merge would permanently drop non-duplicates from
    the rewritten corpus. Pass ``verify_threshold=None`` only for
    candidate-graph analysis."""
    labels = components_from_edges(
        dedup_edges(docs, text_col, id_col, verify_threshold))
    return (labels.filter(F.col("component") != F.col("node"))
            .select(F.col("node").alias(id_col)))


def dedup_corpus(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 verify_threshold: float | None = 0.8) -> DataFrame:
    """``docs`` less its ``duplicate_ids``, broadcast-joined as a
    left-anti join: the corpus itself never shuffles."""
    dups = duplicate_ids(docs, text_col, id_col, verify_threshold)
    return docs.join(F.broadcast(dups), id_col, "left_anti")
