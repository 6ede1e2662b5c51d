"""Model-based quality classifier: hashed-BoW logistic regression.

The reference's keep/drop decision is one LLM call per document
(reference: redactor.py via main.py); modern LLM-data pipelines put a
cheap supervised classifier in front of (or instead of) the expensive
scorer — fastText's supervised mode over hashed bag-of-words, as used
by the GPT-3 / CCNet / DCLM quality filters. This kernel is that
component, built to this repo's constraints:

- **Fit** is deterministic and driver-side (numpy full-batch gradient
  descent, fixed iterations, no RNG): positives are sentences from the
  embedded seed corpora (kernels/corpora.py), negatives come from a
  deterministic junk generator (boilerplate nav bars, repeated tokens,
  symbol soup, number dumps — the classic web-junk modes). Real
  deployments swap in labeled CC samples through the same functions.
- **Weights are quantized to 6 decimal places and scaled to integers**
  (w * 1e6 as bigint), so both Spark and DuckDB sum per-word
  contributions in exact integer arithmetic — summation order cannot
  perturb the result, and the oracle hash is bit-identical.
- **Serving is pure column expressions** — ``text_hash``'s hashed word
  bucket and its exact BIGINT ``weighted_bucket_sum`` over a
  constant-folded literal weight array. Zero Python, zero shuffle in
  the hot path; the plan is a projection over the scan.

The linear score (logit) is emitted instead of sigmoid(logit): sigmoid
is monotone, so thresholding the logit is the same decision, and it
avoids cross-engine libm `exp` last-ulp differences in the oracle hash.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pii_redactor_spark.functions import text_hash
from pii_redactor_spark.kernels.corpora import SEED_CORPORA

CLF_DIM = 512          # hash buckets
QC_PREFIX = "qc:"      # md5 domain of the lower-cased word features
_SCALE = 1_000_000     # 6-decimal quantization of weights
_ITERS = 5000
_LR = 2.0
_L2 = 1e-5
CLF_THRESHOLD = 0.0    # logit threshold == sigmoid 0.5
# The fitted bias lands negative (~-1.5): a document whose vocabulary
# the model has never seen scores below threshold and is DROPPED — the
# conservative default for a quality gate (junk modes are open-ended;
# clean prose is what the positives pin down).


# ---------------------------------------------------------------------------
# deterministic training data
# ---------------------------------------------------------------------------

def _positive_docs() -> list[str]:
    """Sentences from the embedded seed corpora — clean prose in every
    supported language (quality is language-agnostic here)."""
    docs: list[str] = []
    for lang in sorted(SEED_CORPORA):
        for sent in SEED_CORPORA[lang].replace("。", ". ").split(". "):
            sent = sent.strip()
            if len(sent.split()) >= 4 or len(sent) >= 12:
                docs.append(sent)
    return docs


_JUNK_SYMBOLS = "!@#$%^&*()_+-=[]{};:,.<>/?|~`"


def _junk_docs() -> list[str]:
    """Deterministic web-junk negatives covering the classic modes a
    quality classifier must reject (no RNG — md5-driven choices)."""
    docs: list[str] = []
    # 1. single-token repetition (spam keywords)
    for w in ("click", "cookie", "buy", "free", "winner", "subscribe",
              "download", "casino"):
        docs.append((w + " ") * 50)
    # 2. nav / footer boilerplate
    docs.append("home | about | contact | login | register | privacy "
                "policy | terms of service | sitemap | faq | help")
    docs.append("copyright 2024 all rights reserved cookie settings "
                "accept decline manage preferences newsletter signup")
    docs.append("next page previous page 1 2 3 4 5 6 7 8 9 10 last "
                "first sort by price sort by rating filter results")
    docs.append("add to cart checkout wishlist compare share tweet "
                "pin it email this product sku in stock out of stock")
    # 3. symbol soup (md5-driven pseudo-tokens)
    for s in range(6):
        toks = []
        for i in range(40):
            h = text_hash.md5_int_py(f"junk:{s}:{i}", 12)
            ln = 2 + h % 6
            toks.append("".join(
                _JUNK_SYMBOLS[(h >> (3 * j + 4)) % len(_JUNK_SYMBOLS)]
                for j in range(ln)))
        docs.append(" ".join(toks))
    # 4. number dumps (ids, prices, tables without prose)
    for s in range(4):
        docs.append(" ".join(
            str((i * 7919 + s * 104729) % 100000) for i in range(60)))
    # 5. keyboard mash
    mash = "asdf qwer zxcv hjkl uiop vbnm ghjk tyui qazx wsxc plmn okij"
    docs.append((mash + " ") * 5)
    for s in range(4):
        toks = []
        for i in range(35):
            h = text_hash.md5_int_py(f"mash:{s}:{i}", 12)
            ln = 3 + h % 5
            toks.append("".join(
                "qwertyuiopasdfghjklzxcvbnm"[(h >> (2 * j + 3)) % 26]
                for j in range(ln)))
        docs.append(" ".join(toks))
    # 6. mixed symbol/number and letter mash (widens junk bucket
    # coverage so more of the hash space carries negative weight)
    for s in range(10):
        toks = []
        alph = ("!@#$%^&*()[]{}<>/?|0123456789" if s % 2
                else "qwertyuiopasdfghjklzxcvbnm")
        for i in range(40):
            h = text_hash.md5_int_py(f"xjunk:{s}:{i}", 12)
            ln = 2 + h % 7
            toks.append("".join(
                alph[(h >> (2 * j + 3)) % len(alph)] for j in range(ln)))
        docs.append(" ".join(toks))
    return docs


# ---------------------------------------------------------------------------
# hashing + features (must mirror the Spark/DuckDB serving fold exactly)
# ---------------------------------------------------------------------------

def bucket_of(word: str, dim: int = CLF_DIM) -> int:
    """Python twin of ``word_bucket``, for this model's and DSIR's fits."""
    return text_hash.hashed_bucket_py(word.lower(), QC_PREFIX, dim)


def _features(doc: str, dim: int = CLF_DIM) -> np.ndarray:
    """L1-normalized hashed BoW — mean pooling, so serving's
    mean-of-per-word-weights equals w . x exactly."""
    words = doc.split()
    x = np.zeros(dim)
    for w in words:
        x[bucket_of(w, dim)] += 1.0
    if words:
        x /= len(words)
    return x


@lru_cache(maxsize=1)
def fit_quality_clf() -> tuple[np.ndarray, int]:
    """Deterministic logistic-regression fit. Returns
    (scaled_weights: int64[CLF_DIM], scaled_bias: int) — both already
    quantized to 6 decimals * 1e6."""
    pos, neg = _positive_docs(), _junk_docs()
    X = np.stack([_features(d) for d in pos + neg])
    y = np.concatenate([np.ones(len(pos)), np.zeros(len(neg))])
    w = np.zeros(CLF_DIM)
    b = 0.0
    n = len(y)
    for _ in range(_ITERS):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= _LR * (X.T @ g / n + _L2 * w)
        b -= _LR * float(g.mean())
    w_scaled = np.rint(w * _SCALE).astype(np.int64)
    b_scaled = int(np.rint(b * _SCALE))
    return w_scaled, b_scaled


_PRELOADED: "tuple[np.ndarray, int] | None" = None


def preload(tables: tuple[np.ndarray, int]) -> None:
    """Install fitted weights (e.g. from a shipped artifact) so serving
    wins over refitting — same contract as langid.preload."""
    global _PRELOADED
    _PRELOADED = (np.asarray(tables[0], dtype=np.int64), int(tables[1]))


def clf_weights() -> tuple[np.ndarray, int]:
    if _PRELOADED is not None:
        return _PRELOADED
    return fit_quality_clf()


# ---------------------------------------------------------------------------
# Spark serving (expression-only)
# ---------------------------------------------------------------------------

def word_bucket(word: Column, dim: int) -> Column:
    """The feature bucket of one word (DSIR scores in the same space)."""
    return text_hash.hashed_bucket(F.lower(word), QC_PREFIX, dim)


def word_buckets(text: Column, dim: int) -> Column:
    """array<int>: ``word_bucket`` of every word of ``text``."""
    return F.transform(text_hash.words(text), lambda w: word_bucket(w, dim))


def word_bucket_rows_sql(src: str, keys: str, ws: str, dim: int) -> str:
    """DuckDB twin of ``word_bucket``: a (``keys``, bucket) row per word
    of the list column ``ws`` of ``src``."""
    return text_hash.bucket_rows_sql(
        src, keys, f"list_transform({ws}, w -> lower(w))", QC_PREFIX, dim)


def scored_words_sql(table: str, text_col: str, id_col: str, wt: str,
                     dim: int) -> str:
    """(id, n_words, s): the DuckDB twin of ``weighted_bucket_sum`` over
    ``word_buckets``, weights in ``wt``, a (bucket, w) relation."""
    words = text_hash.WORDS_SQL.format(t=text_col)
    return f"""
WITH base AS (SELECT {id_col}, {words} AS ws FROM {table}),
contrib AS (
  SELECT p.{id_col}, SUM(wt.w) AS s
  FROM ({word_bucket_rows_sql('base', id_col, 'ws', dim)}) p
  JOIN {wt} wt USING (bucket) GROUP BY p.{id_col})
SELECT b.{id_col}, len(b.ws) AS n_words, COALESCE(c.s, 0) AS s
FROM base b LEFT JOIN contrib c USING ({id_col})"""


def quality_clf_columns(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        threshold: float = CLF_THRESHOLD,
                        weights: tuple[np.ndarray, int] | None = None,
                        extra_cols: tuple[str, ...] = (),
                        ) -> DataFrame:
    """(id, *extra_cols, n_words, q_logit, clf_keep) — the model-based
    quality decision as a pure projection. The weight array is a
    constant-folded literal (F.expr('array(...)') — the py4j-fast
    literal path); the per-word sum is an exact bigint fold, divided
    once in doubles. ``extra_cols`` pass through so composite rollups
    (q_datacard) stay ONE projection instead of a corpus-sized
    self-join."""
    w_scaled, b_scaled = weights if weights is not None else clf_weights()
    bias = b_scaled / _SCALE
    logit = F.when(
        F.col("_n") > 0,
        F.col("_s").cast("double") / F.lit(float(_SCALE))
        / F.col("_n").cast("double") + F.lit(bias),
    ).otherwise(F.lit(bias))
    scored = text_hash.weighted_bucket_sum(
        docs, word_buckets(F.col(text_col), len(w_scaled)), w_scaled)
    return scored.select(
        id_col,
        *extra_cols,
        F.col("_n").alias("n_words"),
        (F.round(logit, 6) + F.lit(0.0)).alias("q_logit"),
        ((F.round(logit, 6) + F.lit(0.0)) >= F.lit(threshold))
        .alias("clf_keep"),
    )


# ---------------------------------------------------------------------------
# Distributed one-pass fit: hashed complement Naive Bayes.
#
# The gradient-descent fit above is driver-side over embedded seed data
# — honest about the sandbox, but not the 100 TB story. NB *is*: its
# sufficient statistics are per-(bucket, class) word counts, ONE
# DataFrame aggregation over the labeled corpus (map-side partial agg,
# CLF_DIM-bounded state per task, one dim-sized shuffle), collected as
# a <= CLF_DIM-row table. The classic one-pass distributed text
# classifier; fastText's supervised mode is the iterated refinement of
# the same hashed-BoW feature space.
# ---------------------------------------------------------------------------

NB_ALPHA = 0.5  # Lidstone smoothing


def nb_bucket_counts(docs: DataFrame, label_col: str,
                     text_col: str = "text",
                     dim: int = CLF_DIM) -> DataFrame:
    """(bucket, n_pos, n_neg): per-hash-bucket word counts by class —
    the NB fit's sufficient statistics in one aggregation pass.
    count-FILTER form on both engines so the outputs stay BIGINT.
    Explode hygiene per CLAUDE.md: explode_outer + null-filter."""
    per_word = (
        docs
        .withColumn("_buckets", word_buckets(F.col(text_col), dim))
        .select(F.col(label_col).alias("_y"),
                F.explode_outer("_buckets").alias("bucket"))
        .where(F.col("bucket").isNotNull())
    )
    return per_word.groupBy("bucket").agg(
        F.count(F.when(F.col("_y"), 1)).alias("n_pos"),
        F.count(F.when(~F.col("_y"), 1)).alias("n_neg"),
    )


def fit_quality_nb(docs: DataFrame, label_col: str,
                   text_col: str = "text", dim: int = CLF_DIM,
                   alpha: float = NB_ALPHA) -> tuple[np.ndarray, int]:
    """Corpus-scale NB fit: one aggregation job + a <= dim-row collect,
    then driver-side log-odds (deterministic numpy on exact integer
    counts). Returns the same (scaled int64 weights, scaled bias)
    contract as ``fit_quality_clf`` — serving via
    ``quality_clf_columns(weights=...)`` is unchanged.

    bias is 0: serving mean-pools (divides the word sum by n_words), so
    the score is the per-word AVERAGE log-odds — class priors do not
    survive length normalization (the same normalization CCNet applies
    to its LM scores), and the keep decision is "words on average favor
    the positive class".

    No served query fits with it yet (q_quality_clf serves
    ``fit_quality_clf``'s driver-side fit); tests/test_quality_clf.py
    pins the corpus-scale path: weights from one aggregation separate
    >= 90% of the training docs and serve through
    ``quality_clf_columns`` unchanged."""
    rows = nb_bucket_counts(docs, label_col, text_col, dim).collect()
    pos = np.zeros(dim)
    neg = np.zeros(dim)
    for r in rows:
        pos[r["bucket"]] = r["n_pos"]
        neg[r["bucket"]] = r["n_neg"]
    w = (np.log((pos + alpha) / (pos.sum() + alpha * dim))
         - np.log((neg + alpha) / (neg.sum() + alpha * dim)))
    return np.rint(w * _SCALE).astype(np.int64), 0


# ---------------------------------------------------------------------------
# CCNet-style quality tiers (head / middle / tail)
# ---------------------------------------------------------------------------

def quality_tiers(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(id, q_logit, rn, tier): exact global rank-terciles of the model
    quality score — CCNet buckets its corpus into head/middle/tail by
    LM perplexity terciles and trains on the head; this is the same cut
    driven by the classifier logit. Rank is the bounded two-phase
    global_row_number (never Exchange SinglePartition; ties broken by
    id for a total order); tier = ((rn-1)*3) div n in exact integer
    arithmetic on both engines. The scored projection is persisted —
    the rank primitive runs two tiny auxiliary jobs over it."""
    from pii_redactor_spark.operators.cache import registered_persist
    from pii_redactor_spark.operators.ranking import global_row_number
    scored = registered_persist(
        quality_clf_columns(docs, text_col=text_col, id_col=id_col)
        .select(id_col, "q_logit"))
    n = scored.count()
    ranked = global_row_number(scored, "q_logit",
                               extra_order_cols=(id_col,), rn_name="rn")
    tier_idx = F.expr(f"((rn - 1) * 3) div {n}")
    return ranked.select(
        id_col,
        "q_logit",
        F.col("rn").cast("int").alias("rn"),
        F.element_at(
            F.array(F.lit("tail"), F.lit("middle"), F.lit("head")),
            tier_idx.cast("int") + 1).alias("tier"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twin
# ---------------------------------------------------------------------------

def quality_clf_oracle_sql(table: str = "documents",
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           threshold: float = CLF_THRESHOLD) -> str:
    """Same arithmetic in DuckDB: unnest words, md5-prefix bucket,
    join a VALUES weight table, exact BIGINT sum per doc, one double
    division chain, round 6 (+0.0 canonicalizes -0.0)."""
    w_scaled, b_scaled = clf_weights()
    bias = b_scaled / _SCALE
    wt_rows = ", ".join(f"({i}, {int(v)})" for i, v in enumerate(w_scaled))
    sums = scored_words_sql(table, text_col, id_col, "wt", len(w_scaled))
    return f"""
WITH wt(bucket, w) AS (VALUES {wt_rows}),
scored AS (
  SELECT {id_col}, n_words,
         CASE WHEN n_words > 0 THEN
           CAST(s AS DOUBLE) / {float(_SCALE)} /
           CAST(n_words AS DOUBLE) + {bias!r}
         ELSE {bias!r} END AS logit
  FROM ({sums}))
SELECT {id_col}, n_words,
       round(logit, 6) + 0.0 AS q_logit,
       (round(logit, 6) + 0.0) >= {threshold!r} AS clf_keep
FROM scored
"""


def nb_counts_oracle_sql(label_sql: str, table: str = "documents",
                         text_col: str = "text",
                         dim: int = CLF_DIM) -> str:
    """DuckDB twin of ``nb_bucket_counts``: same word split, same md5
    bucket fold, COUNT-FILTER per class (stays BIGINT on both engines).
    ``label_sql`` is a boolean expression over ``table``'s columns."""
    words = text_hash.WORDS_SQL.format(t=text_col)
    return f"""
WITH base AS (
  SELECT ({label_sql}) AS y, {words} AS ws FROM {table}),
perword AS ({word_bucket_rows_sql('base', 'y', 'ws', dim)})
SELECT bucket,
       COUNT(*) FILTER (WHERE y) AS n_pos,
       COUNT(*) FILTER (WHERE NOT y) AS n_neg
FROM perword GROUP BY bucket
"""


def quality_tiers_oracle_sql(table: str = "documents",
                             text_col: str = "text",
                             id_col: str = "doc_id") -> str:
    """DuckDB twin of ``quality_tiers``: the single-window ROW_NUMBER
    formulation over the scored CTE; tier via exact integer division."""
    scored = quality_clf_oracle_sql(table, text_col, id_col)
    return f"""
WITH clf AS ({scored}),
ranked AS (
  SELECT {id_col}, q_logit,
         CAST(ROW_NUMBER() OVER (ORDER BY q_logit, {id_col}) AS INT) AS rn,
         COUNT(*) OVER () AS n
  FROM clf)
SELECT {id_col}, q_logit, rn,
       CASE ((rn - 1) * 3) // n
         WHEN 0 THEN 'tail' WHEN 1 THEN 'middle' ELSE 'head'
       END AS tier
FROM ranked
"""
