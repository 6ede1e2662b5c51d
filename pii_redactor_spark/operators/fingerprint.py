"""Document fingerprinting: content hash + winnowing shingle fingerprints.

Rolling-hash document fingerprints in the winnowing style (Schleimer,
Wilkerson, Aiken, SIGMOD 2003): hash every word k-shingle, slide a window
of ``w`` consecutive shingle hashes, keep each window's minimum — the
selected set is position-robust and overlap-preserving, the standard
near-dup/plagiarism fingerprint for web corpora.

Projection-only Column expressions (no UDF, no shuffle); md5-based hashes
so the DuckDB oracle reproduces fingerprints bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pii_redactor_spark.functions import text_hash
from pii_redactor_spark.operators.dedup import (
    SHINGLE_K,
    _shingles_sql,
    shingles_expr,
)

WINNOW_WINDOW = 4


def normalized_text(text: Column) -> Column:
    """Whitespace-collapsed, lowercased content normalization."""
    return F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))


def winnow_expr(shingle_hashes: Column, w: int = WINNOW_WINDOW) -> Column:
    """Sorted distinct non-NULL window-minimum hashes. Short docs (< w
    shingles) use one whole-array window; NULL shingles (NULL text) give
    an empty array — DuckDB's ``list_distinct`` drops the NULL window
    minimum that Spark's ``array_distinct`` keeps."""
    n = F.size(shingle_hashes)
    mins = F.transform(
        F.sequence(F.lit(0), n - w),
        lambda i: F.array_min(F.slice(shingle_hashes, i + 1, w)),
    )
    picked = F.when(n >= w, mins).otherwise(
        F.array(F.array_min(shingle_hashes)))
    return F.array_sort(F.filter(F.array_distinct(picked),
                                 lambda h: h.isNotNull()))


def fingerprints(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(id, content_fp, n_fps, winnow_fps) — winnow_fps serialized to a
    comma-joined string so value-hash comparison is array-layout-proof;
    NULL text gives ``(NULL, 0, NULL)`` like the oracle (DuckDB's
    ``array_to_string([])`` is NULL)."""
    pre = (
        docs
        .withColumn("_words", text_hash.words(F.col(text_col)))
        .withColumn("_sh",
                    F.transform(shingles_expr(F.col("_words")), F.md5))
    )
    winnow = winnow_expr(F.col("_sh"))
    return pre.select(
        id_col,
        F.md5(normalized_text(F.col(text_col))).alias("content_fp"),
        F.size(winnow).cast("int").alias("n_fps"),
        F.nullif(F.array_join(winnow, ","), F.lit("")).alias("winnow_fps"),
    )


def fingerprints_oracle_sql(table: str = "documents",
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            w: int = WINNOW_WINDOW) -> str:
    words = text_hash.WORDS_SQL.format(t=text_col)
    return f"""
WITH base AS (
  SELECT {id_col}, {text_col},
         list_transform({_shingles_sql('words', SHINGLE_K)}, s -> md5(s)) AS sh
  FROM (SELECT {id_col}, {text_col}, {words} AS words FROM {table})),
winnowed AS (
  SELECT {id_col}, {text_col},
    list_sort(list_distinct(
      CASE WHEN len(sh) >= {w} THEN
        list_transform(range(len(sh) - {w} + 1), i ->
          list_min(list_slice(sh, CAST(i+1 AS INT), CAST(i+{w} AS INT))))
      ELSE [list_min(sh)] END)) AS fps
  FROM base)
SELECT {id_col},
       md5(lower(regexp_replace(trim({text_col}), '\\s+', ' ', 'g'))) AS content_fp,
       CAST(len(fps) AS INT) AS n_fps,
       array_to_string(fps, ',') AS winnow_fps
FROM winnowed
"""
