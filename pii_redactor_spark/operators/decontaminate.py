"""Benchmark decontamination: flag corpus documents that share n-gram
content with an evaluation/benchmark set.

The reference has no notion of eval contamination (its corpus is a
pre-cleaned HuggingFace pull, reference: optimizer.py:38-53); a
training-data pipeline cannot ship without this stage — the GPT-3
appendix-C / PaLM methodology: a training document sharing at least
``min_shared`` distinct n-grams (n≈8..13) with any benchmark item is
flagged (and usually dropped) so eval scores aren't inflated by
memorization.

Scale shape (the part that matters at 100 TB):

- benchmark sets are tiny (10^3..10^5 items) — their distinct gram-hash
  set BROADCASTS; the corpus is NEVER shuffled for the membership test,
  only its (rare) hit rows reach the per-doc aggregation;
- n-grams reuse the quality rules' hashed form (functions/text_hash.py):
  one md5 pass per word, integer rot-xor combination — the gram join
  key is a bigint, not a string;
- the left join back to the corpus broadcasts the hit table (bounded by
  benchmark-adjacent docs, not corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pii_redactor_spark.functions import text_hash

DECONTAM_N = 8  # GPT-3 used 13-grams; 8 suits the short synthetic docs


def contamination(corpus: DataFrame, benchmark: DataFrame,
                  n: int = DECONTAM_N, min_shared: int = 1,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str = "text") -> DataFrame:
    """Corpus plus (shared_ngrams: bigint, contaminated: boolean).

    ``shared_ngrams`` counts DISTINCT hashed n-grams a document shares
    with the union of all benchmark items; ``contaminated`` is the
    ``>= min_shared`` decision. Documents shorter than ``n`` words can
    never be flagged (their gram set is empty) — at n=8+ that matches
    the published methodology (too-short overlaps are noise).

    The benchmark gram set and the (rare) hit rows broadcast, so the
    corpus NEVER shuffles — right while the benchmark suite is
    10^3..10^6 items (the common case; GPT-3 decontaminated against
    eval sets).
    """
    # explode_outer + null filter, NOT explode: Spark's
    # InferFiltersFromGenerate infers `size(_g) > 0` from a plain
    # explode and pushes it to the scan with the WHOLE gram expression
    # inlined — every md5 computed twice, interpreted (measured 2-30x;
    # the rule skips outer generates, and the null filter on the OUTPUT
    # column is equivalent and cheap)
    bench_grams = (
        text_hash.distinct_ngrams(benchmark, bench_text_col, n)
        .select(F.explode_outer("_g").alias("g"))
        .where(F.col("g").isNotNull()).distinct()
    )
    corpus_grams = (
        text_hash.distinct_ngrams(corpus, text_col, n)
        .select(id_col, F.explode_outer("_g").alias("g"))
        .where(F.col("g").isNotNull())
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.countDistinct("g").alias("shared_ngrams"))
    )
    return (
        corpus.join(F.broadcast(hits), id_col, "left")
        .withColumn("shared_ngrams",
                    F.coalesce(F.col("shared_ngrams"), F.lit(0).cast("bigint")))
        .withColumn("contaminated",
                    F.col("shared_ngrams") >= F.lit(min_shared))
    )


def contamination_sql(corpus: str, benchmark: str, n: int = DECONTAM_N,
                      min_shared: int = 1, text_col: str = "text",
                      id_col: str = "doc_id",
                      bench_text_col: str = "text") -> str:
    """DuckDB twin of ``contamination`` over the tables (or parenthesized
    queries) ``corpus`` and ``benchmark``."""
    grams = text_hash.distinct_ngrams_sql
    return f"""
WITH bg AS (SELECT DISTINCT g FROM
              (SELECT unnest(_g) AS g
               FROM ({grams(benchmark, bench_text_col, n)}))),
cg AS (SELECT {id_col}, unnest(_g) AS g
       FROM ({grams(corpus, text_col, n)})),
hits AS (SELECT c.{id_col}, COUNT(DISTINCT c.g) AS shared_ngrams
         FROM cg c JOIN bg b ON c.g = b.g GROUP BY c.{id_col})
SELECT d.*,
       COALESCE(h.shared_ngrams, 0) AS shared_ngrams,
       COALESCE(h.shared_ngrams, 0) >= {min_shared} AS contaminated
FROM {corpus} d LEFT JOIN hits h ON d.{id_col} = h.{id_col}
"""
