"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

The reference repo selects its few-shot training set by hand-picked ids
(reference: examples.py:5-31); a web-scale pretraining pipeline selects
by DISTRIBUTION MATCH: score every candidate document with the
log-likelihood ratio between a hashed n-gram LM of the TARGET domain
(curated seed text) and one of the RAW corpus, then keep the
top-weighted fraction. This is the standard published recipe for
"make Common Crawl look like Wikipedia/books" selection.

Engine-reproducible formulation (the same discipline as the quality
classifier, kernels/quality_clf.py):

- **Target LM** = hashed-unigram counts over the embedded seed corpora,
  computed driver-side once and shipped as a 6-decimal-quantized BIGINT
  log-prob literal — a model artifact, embedded identically in the
  Spark plan and the DuckDB oracle (VALUES table).
- **Raw LM** = the distributed part: ONE aggregation over the corpus
  (explode words -> md5 bucket -> count), map-side partials, state
  bounded by the hash dimension; collected as a <= dim-row table. Its
  quantized log-probs use ``floor(ln(q) * 1e6 + 0.5)`` with the SAME
  double arithmetic on both engines (Python ``math.log`` and DuckDB
  ``ln`` both bind libm; the smoothed ratio is built with the same
  casts), so the per-bucket BIGINT log-ratio matrix is identical.
- **Score** = per-document SUM of bucket log-ratios — an exact BIGINT
  fold (zero float accumulation), i.e. log of the importance weight,
  unnormalized by length exactly as in the paper.
- **Selection** = top ``DSIR_FRAC`` by (score DESC, doc_id ASC): the
  boundary is ONE TakeOrderedAndProject over a two-field struct (the
  ``kth_smallest`` pattern, ranking.py) and the keep flag a pure literal
  comparison — no global window, zero shuffles in the main plan.

The paper perturbs scores with Gumbel noise to sample WITHOUT
replacement instead of taking the deterministic top-k; that variant
plugs a per-doc md5-seeded ``-ln(-ln(u))`` column into the same
threshold cut. The deterministic top-k is what's oracle-gated here.

Scale: the scoring pass is projection + one dim-bounded aggregate; at
10^12 docs the raw-LM fit amortizes over the corpus scan and the
selection needs only the boundary value — nothing driver-side grows
with corpus size.
"""

from __future__ import annotations

import math
from collections import Counter
from functools import lru_cache

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pii_redactor_spark.functions import text_hash
from pii_redactor_spark.kernels.quality_clf import (
    CLF_DIM, _positive_docs, bucket_of, scored_words_sql, word_bucket,
    word_bucket_rows_sql, word_buckets)
from pii_redactor_spark.operators.cache import registered_persist

DSIR_DIM = CLF_DIM       # share the hashed feature space (512 buckets)
DSIR_ALPHA = 0.5         # Lidstone smoothing, both LMs
DSIR_FRAC = 0.25         # keep fraction
_SCALE = 1_000_000


def _qlog(num: float, den: float) -> int:
    """floor(ln(num/den) * 1e6 + 0.5) — the one float step, mirrored
    bit-for-bit by DuckDB's ln/floor on the same doubles."""
    return int(math.floor(math.log(num / den) * _SCALE + 0.5))


def _lm_logprobs(counts: dict[int, int], dim: int) -> list[int]:
    """Quantized Lidstone-smoothed log-probs of per-bucket counts."""
    den = float(sum(counts.values())) + DSIR_ALPHA * dim
    return [_qlog(float(counts.get(b, 0)) + DSIR_ALPHA, den)
            for b in range(dim)]


@lru_cache(maxsize=1)
def target_logprobs(dim: int = DSIR_DIM) -> tuple[int, ...]:
    """Quantized BIGINT log-probs of the target LM (seed corpora) —
    the shipped model artifact."""
    return tuple(_lm_logprobs(Counter(
        bucket_of(w, dim) for doc in _positive_docs() for w in doc.split()),
        dim))


def raw_logprobs(docs: DataFrame, text_col: str = "text",
                 dim: int = DSIR_DIM) -> tuple[list[int], int]:
    """(quantized log-probs of the RAW corpus LM, number of documents):
    the distributed fit — one explode + groupBy(bucket) count (map-side
    partials, <= dim groups), collected as a tiny table; quantization
    driver-side with the same arithmetic the oracle runs in SQL. The
    document count is observed on the same pass (no count job)."""
    obs = Observation()
    rows = (
        docs.observe(obs, F.count(F.lit(1)).alias("n"))
        .select(F.explode_outer(text_hash.words(F.col(text_col)))
                .alias("w"))
        .where(F.col("w").isNotNull())
        .select(word_bucket(F.col("w"), dim).alias("bucket"))
        .groupBy("bucket").count()
        .collect()
    )
    counts = {int(r["bucket"]): int(r["count"]) for r in rows}
    return _lm_logprobs(counts, dim), obs.get["n"]


def _scored_df(docs: DataFrame, text_col: str, id_col: str,
               dim: int) -> tuple[DataFrame, int]:
    """(persisted (id, n_words, _s:BIGINT) scoring projection, number of
    documents) — the per-word md5 fold (the expensive part of the plan)
    runs once; the threshold job and the final projection both read the
    materialized scores (quality_tiers precedent; released per query by
    check_contract/bench via release_caches)."""
    lt = target_logprobs(dim)
    lq, n = raw_logprobs(docs, text_col, dim)
    lr = [lt[b] - lq[b] for b in range(dim)]
    # NULL text scores 0 (the oracle's COALESCE(c.s, 0)) and gets a real
    # `selected` boolean
    return registered_persist(
        text_hash.weighted_bucket_sum(
            docs, word_buckets(F.col(text_col), dim), lr)
        .select(id_col, F.col("_n").alias("n_words"), "_s")
    ), n


def _top_frac_cut(scored: DataFrame, key_col: str, key_type: str,
                  id_col: str, k: int):
    """Keep flag for the top-``k`` rows by (key DESC, id ASC): the
    boundary is ONE TakeOrderedAndProject on the negated-key struct
    (kth_smallest pattern, ranking.py), the flag a pure literal
    comparison — no global window, zero shuffles in the main plan.
    The id keeps its own type (numeric or string); (key, id) must be a
    total order, which unique ids guarantee."""
    if k <= 0:
        return F.lit(False)
    thr = (
        scored.select(F.struct(
            (-F.col(key_col)).alias("nk"),
            F.col(id_col).alias("id")).alias("o"))
        .orderBy("o").limit(k)
        .agg(F.max("o").alias("o")).first()["o"]
    )
    if thr is None:
        return F.lit(False)
    return (
        F.struct((-F.col(key_col)).alias("nk"), F.col(id_col).alias("id"))
        <= F.struct(F.lit(thr["nk"]).cast(key_type).alias("nk"),
                    F.lit(thr["id"]).alias("id"))
    )


def dsir_select(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", frac: float = DSIR_FRAC,
                dim: int = DSIR_DIM) -> DataFrame:
    """(doc_id, n_words, dsir_logw, selected): exact BIGINT log-ratio
    score per document + deterministic top-``frac`` cut."""
    scored, n = _scored_df(docs, text_col, id_col, dim)
    k = (n * int(round(frac * 100))) // 100
    sel = _top_frac_cut(scored, "_s", "bigint", id_col, k)
    return scored.select(
        id_col, "n_words",
        F.round(F.col("_s").cast("double") / _SCALE, 6).alias("dsir_logw"),
        sel.alias("selected"),
    )


def _scored_cte(table: str, text_col: str, id_col: str, dim: int) -> str:
    """WITH-prefix ending in `scored` = (id, n_words, s:BIGINT) —
    shared by the deterministic and Gumbel oracles."""
    lt = target_logprobs(dim)
    lt_rows = ", ".join(f"({b}, {v})" for b, v in enumerate(lt))
    words = text_hash.WORDS_SQL.format(t=text_col)
    return f"""
WITH lt(bucket, lp) AS (VALUES {lt_rows}),
base AS (
  SELECT {id_col}, {words} AS ws FROM {table}),
perword AS ({word_bucket_rows_sql('base', id_col, 'ws', dim)}),
rawc AS (
  SELECT bucket, COUNT(*) AS c FROM perword GROUP BY bucket),
tot AS (SELECT COUNT(*) AS t FROM perword),
lq AS (
  SELECT bucket,
         CAST(floor(ln((CAST(c AS DOUBLE) + {DSIR_ALPHA!r}) /
                       (CAST(t AS DOUBLE) + {DSIR_ALPHA * dim!r}))
                    * {_SCALE} + 0.5) AS BIGINT) AS lp
  FROM rawc, tot),
lr AS (SELECT bucket, lt.lp - lq.lp AS w FROM lt JOIN lq USING (bucket)),
scored AS ({scored_words_sql(table, text_col, id_col, 'lr', dim)})"""


def dsir_oracle_sql(table: str = "documents", text_col: str = "text",
                    id_col: str = "doc_id", frac: float = DSIR_FRAC,
                    dim: int = DSIR_DIM) -> str:
    """DuckDB twin: target log-probs as a VALUES artifact, raw LM
    re-fitted IN SQL with the same smoothing/quantization arithmetic,
    exact BIGINT sum per doc, ROW_NUMBER top-frac (equivalent to the
    struct-threshold cut under the (score, id) total order)."""
    pct = int(round(frac * 100))
    return f"""
{_scored_cte(table, text_col, id_col, dim)},
ranked AS (
  SELECT {id_col}, n_words, s,
         ROW_NUMBER() OVER (ORDER BY s DESC, {id_col} ASC) AS rn,
         COUNT(*) OVER () AS n
  FROM scored)
SELECT {id_col}, CAST(n_words AS INT) AS n_words,
       round(CAST(s AS DOUBLE) / {_SCALE}, 6) AS dsir_logw,
       rn <= (n * {pct}) // 100 AS selected
FROM ranked
"""




# ---------------------------------------------------------------------------
# Gumbel-perturbed variant: the paper's actual sample-WITHOUT-replacement
# (top-k of logw + Gumbel noise == Gumbel-top-k sampling, Vieira 2014).
# ---------------------------------------------------------------------------
_U_DENOM = float(1 << 52)  # 13 hex digits of md5 = 52 uniform bits


def _gumbel_col(id_col: str):
    """Deterministic per-doc Gumbel draw: u from 13 md5 hex digits of
    the id ((v + 0.5) / 2^52 — exact in doubles, never 0 or 1), then
    g = -ln(-ln(u)). The two ln calls run in-engine on BOTH sides
    (same doubles in; the final key is rounded to 6 decimals before
    ranking so a last-ulp libm difference cannot flip the cut except
    exactly on a rounding boundary — the same tolerance class as every
    round(...,6) output in the contract)."""
    v = text_hash.md5_int(
        F.concat(F.lit("g:"), F.col(id_col).cast("string")), 13)
    u = (v.cast("double") + F.lit(0.5)) / F.lit(_U_DENOM)
    return -F.log(-F.log(u))


def dsir_gumbel_select(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", frac: float = DSIR_FRAC,
                       dim: int = DSIR_DIM) -> DataFrame:
    """(doc_id, n_words, gumbel_key, selected): Gumbel-top-frac —
    exactly ``dsir_select``'s plan with the perturbed, 6-rounded key
    swapped into the same TakeOrdered struct-threshold cut."""
    raw, n = _scored_df(docs, text_col, id_col, dim)
    scored = registered_persist(
        raw.select(id_col, "n_words",
                   F.round(F.col("_s").cast("double") / _SCALE
                           + _gumbel_col(id_col), 6).alias("gumbel_key"))
    )
    k = (n * int(round(frac * 100))) // 100
    sel = _top_frac_cut(scored, "gumbel_key", "double", id_col, k)
    return scored.select(id_col, "n_words", "gumbel_key",
                         sel.alias("selected"))


def dsir_gumbel_oracle_sql(table: str = "documents",
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           frac: float = DSIR_FRAC,
                           dim: int = DSIR_DIM) -> str:
    pct = int(round(frac * 100))
    ufold = text_hash.md5_int_sql(f"'g:' || CAST({id_col} AS VARCHAR)", 13)
    return f"""
{_scored_cte(table, text_col, id_col, dim)},
keyed AS (
  SELECT {id_col}, n_words,
         round(CAST(s AS DOUBLE) / {_SCALE}
               + (-ln(-ln((CAST({ufold} AS DOUBLE) + 0.5) / {_U_DENOM!r}))),
               6) AS gumbel_key
  FROM scored),
ranked AS (
  SELECT {id_col}, n_words, gumbel_key,
         ROW_NUMBER() OVER (ORDER BY gumbel_key DESC, {id_col} ASC) AS rn,
         COUNT(*) OVER () AS n
  FROM keyed)
SELECT {id_col}, CAST(n_words AS INT) AS n_words, gumbel_key,
       rn <= (n * {pct}) // 100 AS selected
FROM ranked
"""
