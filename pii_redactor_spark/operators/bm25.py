"""BM25 seed-relevance selection (Robertson & Zaragoza 2009, "The
Probabilistic Relevance Framework: BM25 and Beyond").

A web-scale training pipeline selects "documents like my seed set" not
only by distribution match (DSIR, operators/dsir.py) but by RETRIEVAL
relevance: score every candidate against a fixed seed query with BM25
and keep the top-k. The reference selects its few-shot set by
hand-picked ids (reference: examples.py:5-31); this is the
retrieval-based generalization of that selection step.

Engine-reproducible formulation (same discipline as DSIR/quality_clf):

- **Corpus statistics** (N, total words, per-term document frequency)
  are ONE aggregation pass over the corpus — map-side partials, output
  exactly one row, collected at plan-construction time like every
  other model fit in this repo (ann_ivf centroids, DSIR LMs, BPE
  merges). Nothing driver-side grows with corpus size.
- **idf** is quantized driver-side: ``floor(ln(1 + (N - df + 0.5) /
  (df + 0.5)) * 1e6 + 0.5)`` as a BIGINT literal. Python ``math.log``
  and DuckDB ``ln`` bind the same libm (the DSIR-established parity
  pair); the JVM's ``Math.log`` is only 1-ulp-accurate and is NOT in
  the proven pair, so the Spark plan never calls ``ln`` at all.
- **Saturation term** is exact integer arithmetic: with k1 = 6/5 and
  b = 3/4, multiplying BM25's per-term numerator and denominator by
  ``10 * total`` clears every rational::

      contrib = idf_q * 22 * tf * total
                DIV (10 * tf * total + 3 * total + 9 * dl * N)

  (``avgdl`` never appears as a float — ``b * dl / avgdl`` becomes
  ``9 * dl * N`` over ``10 * total``.) The floor DIV is applied
  per term identically on both engines; the document score is the
  exact BIGINT sum of term contributions — zero float accumulation,
  no rounded doubles in the oracle-gated output (CLAUDE.md rule).
  Magnitude bound: ``idf_q * 22 * tf * total`` needs
  ``tf * total < ~4e11`` to stay in int64 (idf_q <= ~22e6 at any N);
  at larger corpora scale idf to 1e3 or lift the product to
  DECIMAL(38,0) — both engines keep exact semantics.

Serving plan shape: parquet scan -> one projection (word array
materialized once, per-term ``size(filter(...))`` tf counts, literal
idf/N/total constants) -> TakeOrderedAndProject(topk). ZERO shuffles,
zero Python, no window — the stats pass is the only full-corpus
aggregate and it amortizes over the corpus scan at 10^12 docs.

Ties broken by (score DESC, doc_id ASC) so the top-k SET is
deterministic on both engines.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pii_redactor_spark.functions import text_hash

# Fixed seed query: "how do I make a hash join scan fast" against the
# synthetic systems-vocabulary corpus — two high-df terms (join, hash),
# one mid (scan), one rare (vector) so the idf spread is exercised.
BM25_TERMS = ("join", "hash", "scan", "vector")
BM25_TOPK = 50
_SCALE = 1_000_000


def _term_eq(term: str):
    # closure factory — a default-arg lambda would change the HOF arity
    # (CLAUDE.md rule)
    return lambda w: w == term


def _idf_q(n: int, df: int) -> int:
    """Quantized BM25 idf — Python math.log == DuckDB ln (libm pair)."""
    r = (n - df + 0.5) / (df + 0.5)
    return int(math.floor(math.log(1.0 + r) * _SCALE + 0.5))


def _contrib_sql(idf_q: int, tf: str, dl: str, n: int, total: int,
                 div: str) -> str:
    """One term's integer BM25 contribution; ``div`` is the engine's
    floor-division token (Spark ``div``, DuckDB ``//``)."""
    return (
        f"CASE WHEN {tf} > 0 THEN "
        f"(CAST({idf_q} AS BIGINT) * 22 * {tf} * {total}) {div} "
        f"(10 * {tf} * {total} + 3 * {total} + 9 * {dl} * {n}) "
        f"ELSE CAST(0 AS BIGINT) END"
    )


def _corpus_stats(docs: DataFrame, text_col: str,
                  terms: tuple[str, ...]) -> tuple[int, int, list[int]]:
    """One aggregation pass -> (N, total_words, df per term). Output is
    a single row regardless of corpus size (the bounded-collect rule)."""
    w = text_hash.words(F.coalesce(F.col(text_col), F.lit("")))
    base = docs.select(w.alias("_w")).select(
        F.col("_w"), F.size("_w").cast("bigint").alias("_dl"))
    aggs = [F.count(F.lit(1)).alias("_n"),
            F.coalesce(F.sum("_dl"), F.lit(0)).alias("_total")]
    for i, t in enumerate(terms):
        aggs.append(F.coalesce(
            F.sum(F.array_contains("_w", t).cast("bigint")),
            F.lit(0)).alias(f"_df_{i}"))
    row = base.agg(*aggs).first()
    return int(row["_n"]), int(row["_total"]), [
        int(row[f"_df_{i}"]) for i in range(len(terms))]


def bm25_topk(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id",
              terms: tuple[str, ...] = BM25_TERMS,
              topk: int = BM25_TOPK) -> DataFrame:
    """Top-``topk`` documents by integer BM25 relevance to the fixed
    seed query. Returns ``(doc_id, n_words, bm25_q)``."""
    n, total, dfs = _corpus_stats(docs, text_col, terms)
    w = text_hash.words(F.coalesce(F.col(text_col), F.lit("")))
    scored = docs.select(F.col(id_col), w.alias("_w"))
    scored = scored.withColumn("n_words",
                               F.size("_w").cast("bigint"))
    for i, t in enumerate(terms):
        scored = scored.withColumn(
            f"_tf_{i}",
            F.size(F.filter(F.col("_w"), _term_eq(t))).cast("bigint"))
    score = " + ".join(
        _contrib_sql(_idf_q(n, dfs[i]), f"_tf_{i}", "n_words", n, total,
                     "div")
        for i in range(len(terms)))
    return (
        scored.select(F.col(id_col), "n_words",
                      F.expr(score).cast("bigint").alias("bm25_q"))
        .orderBy(F.col("bm25_q").desc(), F.col(id_col).asc())
        .limit(topk)
    )


def bm25_oracle_sql(table: str = "documents", text_col: str = "text",
                    id_col: str = "doc_id",
                    terms: tuple[str, ...] = BM25_TERMS,
                    topk: int = BM25_TOPK) -> str:
    """DuckDB twin: recomputes N/total/df IN SQL and quantizes idf with
    DuckDB's own ``ln`` (libm — the parity pair of the Python
    ``math.log`` the Spark plan's literals came from), then the same
    integer contribution arithmetic with ``//``."""
    words = text_hash.WORDS_SQL.format(t=f"coalesce({text_col}, '')")
    df_cols = ",\n    ".join(
        f"CAST(sum(CASE WHEN list_contains(_w, '{t}') THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS _df_{i}" for i, t in enumerate(terms))
    tf_cols = ",\n    ".join(
        f"CAST(len(list_filter(_w, x -> x = '{t}')) AS BIGINT) AS _tf_{i}"
        for i, t in enumerate(terms))
    idf = {
        i: (f"CAST(floor(ln(1.0 + (CAST(_n AS DOUBLE) - _df_{i} + 0.5)"
            f" / (_df_{i} + 0.5)) * {_SCALE} + 0.5) AS BIGINT)")
        for i in range(len(terms))}
    score = " + ".join(
        f"CASE WHEN _tf_{i} > 0 THEN "
        f"({idf[i]} * 22 * _tf_{i} * _total) // "
        f"(10 * _tf_{i} * _total + 3 * _total + 9 * n_words * _n) "
        f"ELSE CAST(0 AS BIGINT) END"
        for i in range(len(terms)))
    return f"""
WITH base AS (
  SELECT {id_col}, {words} AS _w FROM {table}),
sized AS (
  SELECT {id_col}, _w, CAST(len(_w) AS BIGINT) AS n_words FROM base),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS _n,
         CAST(coalesce(sum(n_words), 0) AS BIGINT) AS _total,
    {df_cols}
  FROM sized),
tf AS (
  SELECT {id_col}, n_words,
    {tf_cols}
  FROM sized)
SELECT {id_col}, n_words, CAST({score} AS BIGINT) AS bm25_q
FROM tf, stats
ORDER BY bm25_q DESC, {id_col} ASC
LIMIT {topk}
"""
