"""Neural-encoder slot: a deterministic 2-layer MLP over hashed BoW.

The reference pipes text through a hosted LLM; a training-data pipeline
embeds text with a local neural encoder and feeds the vectors to ANN /
SemDeDup / clustering. The sandbox has no model binaries (SURVEY §0), so
this module proves the SURFACE with a real multi-layer network whose
weights are deterministic md5-derived integers — the same
fit-elsewhere/serve-here shape as langid/perplexity, artifact-swappable
via kernels/artifacts.py (a production run ships fitted weights through
the same .npz hook).

Architecture (all integer arithmetic until the caller converts):

    x      = signed hashed-BoW counts (text_hash.signed_buckets, the
             signed feature the BoW embedder also reads, 'ml:' domain)
    h_j    = relu(sum_w sign(w) * W1[bucket(w), j] + b1_j)
    e_k    = sum_j h_j * W2[j, k]

Exact BIGINT everywhere, so the numpy iterator-Arrow-UDF serving form
and the DuckDB oracle agree bit-for-bit — the engine-reproducibility
discipline of kernels/quality_clf.py applied to a nonlinear model: relu
is ``greatest(0, .)`` in both engines, and a linear layer is a sum of
per-word integer contributions, so the only order-sensitive step
(float accumulation) never occurs.

Scale shape: zero shuffle; the per-word md5 bucketing is a JVM
projection over the scan and the network crosses one Arrow batch per
task. Layer widths are artifact constants — a fitted replacement only
changes the weight arrays.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pii_redactor_spark.functions import arrow_lists, text_hash

MLP_IN = 64    # hashed-BoW buckets
MLP_HID = 16
MLP_OUT = 16
ML_PREFIX = "ml:"


@lru_cache(maxsize=1)
def mlp_weights() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(W1 int64[IN, HID], b1 int64[HID], W2 int64[HID, OUT]) — small
    deterministic integers in [-9, 9] (md5-derived; a random-projection
    stack in the Johnson-Lindenstrauss sense). Replaced wholesale by a
    fitted artifact via ``preload``."""
    if _PRELOADED is not None:
        return _PRELOADED
    def small(key: str) -> int:
        return text_hash.md5_int_py(key, 12) % 19 - 9

    w1 = np.array([[small(f"mlp1:{i}:{j}") for j in range(MLP_HID)]
                   for i in range(MLP_IN)], dtype=np.int64)
    b1 = np.array([small(f"mlpb:{j}") for j in range(MLP_HID)],
                  dtype=np.int64)
    w2 = np.array([[small(f"mlp2:{j}:{k}") for k in range(MLP_OUT)]
                   for j in range(MLP_HID)], dtype=np.int64)
    return w1, b1, w2


_PRELOADED: "tuple[np.ndarray, np.ndarray, np.ndarray] | None" = None


def preload(tables: tuple[np.ndarray, np.ndarray, np.ndarray]) -> None:
    """Install fitted (W1, b1, W2) — e.g. from kernels/artifacts.py —
    winning over the deterministic defaults."""
    global _PRELOADED
    _PRELOADED = tuple(np.asarray(t, dtype=np.int64) for t in tables)
    mlp_weights.cache_clear()


def clear_preload() -> None:
    global _PRELOADED
    if _PRELOADED is not None:
        _PRELOADED = None
        mlp_weights.cache_clear()


# ---------------------------------------------------------------------------
# Spark serving: JVM-side word bucketing, Arrow/numpy network
# ---------------------------------------------------------------------------

def make_mlp_embed_udf():
    """Iterator Arrow UDF: per-batch signed dense fold
    (``arrow_lists.signed_dense``) + two integer matmuls — identical
    bits to the oracle (tested in test_encoder).
    Takes the pre-computed (bucket, sign) arrays so the md5 hashing
    stays JVM-side (the simhash/BoW precedent). As expressions the
    MLP_HID hidden units are interpreted aggregate folds that rebuild
    the accumulator per word, allocation-bound like the simhash
    majority vote (mlp_summary at sf0.1: 1.74 s as expressions, 0.42 s
    through this UDF).

    Weights are resolved HERE, at UDF construction time, so cloudpickle
    ships the actual arrays in the closure: the UDF body executes in
    executor Python workers where a driver-side ``preload()`` never
    lands (round-4 ADVICE — calling ``mlp_weights()`` inside the body
    silently served the md5 defaults after an artifact swap; the fused
    kernels in plans/pipeline.py closure-capture for the same reason)."""
    from pyspark.sql.types import ArrayType, LongType

    w1, b1, w2 = mlp_weights()
    dim = len(w1)

    @F.arrow_udf(ArrayType(LongType()))
    def mlp(batches: Iterator[Tuple[pa.Array, pa.Array]]
            ) -> Iterator[pa.Array]:
        for buckets, signs in batches:
            flatb, lens = arrow_lists.ragged(buckets, np.int64)
            flats, _ = arrow_lists.ragged(signs, np.float64)
            x = arrow_lists.signed_dense(flatb, flats, lens, dim)
            # NULL text keeps its zero row: the network emits the
            # bias-only activation, exactly like the oracle's
            # COALESCE(SUM, 0) — a None here would silently diverge on
            # NULL-text corpora
            h = np.maximum(x @ w1 + b1, 0)
            yield arrow_lists.rows(h @ w2)

    return mlp


def mlp_embeddings_udf(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(id, emb: array<bigint>[MLP_OUT]) — the encoder output: per-word
    (bucket, sign) arrays built JVM-side feed ``make_mlp_embed_udf``."""
    pre = (
        docs
        .withColumn("_sigs", text_hash.signed_buckets(
            text_hash.words(F.col(text_col)), ML_PREFIX, MLP_IN))
        .withColumn("_b", F.transform(F.col("_sigs"), lambda s: s["bucket"]))
        .withColumn("_s", F.transform(F.col("_sigs"), lambda s: s["sign"]))
    )
    return pre.select(
        id_col, make_mlp_embed_udf()(F.col("_b"), F.col("_s")).alias("emb"))


# ---------------------------------------------------------------------------
# DuckDB oracle pieces
# ---------------------------------------------------------------------------

def mlp_embed_cte(table: str = "documents", text_col: str = "text",
                  id_col: str = "doc_id") -> str:
    """WITH-prefix ending in ``emb`` = (id, e: BIGINT[MLP_OUT]) — the
    whole network re-expressed relationally: per-word (bucket, sign)
    rows, one SUM per hidden unit, relu via greatest, output layer as
    literal linear combinations."""
    w1, b1, w2 = mlp_weights()
    dim, hid, out = len(w1), len(b1), w2.shape[1]
    words = text_hash.WORDS_SQL.format(t=text_col)
    wt_rows = ", ".join(
        "({}, {})".format(i, ", ".join(str(int(w1[i][j]))
                                       for j in range(hid)))
        for i in range(dim))
    wt_cols = ", ".join(f"c{j}" for j in range(hid))
    sums = ", ".join(
        f"COALESCE(SUM(CAST(p.sign AS BIGINT) * wt.c{j}), 0) AS p{j}"
        for j in range(hid))
    hcols = ", ".join(
        f"greatest(p{j} + {int(b1[j])}, 0) AS h{j}" for j in range(hid))
    ecols = ", ".join(
        " + ".join(f"h{j} * {int(w2[j][k])}" for j in range(hid))
        for k in range(out))
    return f"""
WITH wt(bucket, {wt_cols}) AS (VALUES {wt_rows}),
base AS (SELECT {id_col}, {words} AS ws FROM {table}),
perword AS ({text_hash.bucket_rows_sql('base', id_col, 'ws', ML_PREFIX, dim)}),
contrib AS (
  SELECT b.{id_col}, {sums}
  FROM base b LEFT JOIN perword p ON b.{id_col} = p.{id_col}
  LEFT JOIN wt ON p.bucket = wt.bucket
  GROUP BY b.{id_col}),
hidden AS (SELECT {id_col}, {hcols} FROM contrib),
emb AS (SELECT {id_col}, [{ecols}] AS e FROM hidden)"""


# fixed ±1 probe: pins every output coordinate through one exact BIGINT
# dot product (the text_embedding_summary trick)
_PROBE = text_hash.parity_signs("mp:", MLP_OUT)


def mlp_summary(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(id, emb_sq, argmax_pos, probe_dot) — contract-safe scalar view
    of the MLP embedding (the driver's canonicalizer cannot hash raw
    array cells). Every column is exact BIGINT: emb_sq is the sum of
    squared coordinates (round-4 ADVICE — its rounded square root was
    a rounded double in an oracle-gated output; consumers derive the
    L2 norm with one sqrt)."""
    emb = mlp_embeddings_udf(docs, text_col, id_col)
    probe = F.expr("array({})".format(
        ",".join(f"{v}L" for v in _PROBE)))
    sq = F.aggregate(
        F.col("emb"), F.lit(0).cast("bigint"),
        lambda acc, x: acc + x * x)
    dot = F.aggregate(
        F.zip_with(F.col("emb"), probe, lambda x, p: x * p),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    return emb.select(
        id_col,
        sq.alias("emb_sq"),
        F.array_position(F.col("emb"), F.array_max(F.col("emb")))
        .cast("bigint").alias("argmax_pos"),
        dot.alias("probe_dot"),
    )


def mlp_summary_oracle_sql(table: str = "documents",
                           text_col: str = "text",
                           id_col: str = "doc_id") -> str:
    probe = ", ".join(str(v) for v in _PROBE)
    return f"""
{mlp_embed_cte(table, text_col, id_col)}
SELECT {id_col},
       CAST(list_sum(list_transform(e, x -> x * x))
            AS BIGINT) AS emb_sq,
       CAST(list_position(e, list_max(e)) AS BIGINT) AS argmax_pos,
       CAST(list_sum(list_transform(list_zip(e, [{probe}]),
                     p -> p[1] * p[2])) AS BIGINT) AS probe_dot
FROM emb
"""


def mlp_ann(docs: DataFrame, k: int = 10, n_queries: int = 5,
            text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact top-k cosine search over the MLP embeddings — the encoder
    feeding the ANN family end-to-end (queries = lowest ids). The dot
    products are integer-valued doubles < 2^53, so the cosine is
    bit-identical across engines and fold orders."""
    from pii_redactor_spark.operators.similarity import ann_bruteforce
    emb = mlp_embeddings_udf(docs, text_col, id_col).select(
        F.col(id_col).alias("vec_id"), F.col("emb").alias("embedding"))
    return ann_bruteforce(emb, k=k, n_queries=n_queries)


def mlp_ann_oracle_sql(table: str = "documents", k: int = 10,
                       n_queries: int = 5, text_col: str = "text",
                       id_col: str = "doc_id") -> str:
    from pii_redactor_spark.operators.similarity import _cos_sql
    return f"""
{mlp_embed_cte(table, text_col, id_col)},
vecs AS (
  SELECT {id_col} AS vec_id,
         list_transform(e, x -> CAST(x AS DOUBLE)) AS v
  FROM emb),
q AS (SELECT vec_id AS query_id, v AS qv FROM vecs
      WHERE vec_id < {n_queries}),
c AS (SELECT vec_id, v FROM vecs WHERE vec_id >= {n_queries}),
scored AS (
  SELECT query_id, vec_id, {_cos_sql('qv', 'v')} AS cos_sim
  FROM c CROSS JOIN q),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rnk
  FROM scored)
SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim,
       CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {k}
"""
