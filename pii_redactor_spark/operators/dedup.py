"""Corpus deduplication operators: exact, MinHash+LSH, SimHash, Jaccard.

The reference deduplicates nothing (its corpus arrives pre-cleaned from
HuggingFace, reference: optimizer.py:38-53); a 100 TB web-corpus pipeline
cannot skip dedup, so these are first-class engine operators per the
training-data-pipeline mandate.

Scale-first design notes:

- Every per-document signature is computed without a shuffle: one
  JVM projection hashes each word shingle once (``sh_set``), and one
  Arrow pass turns those hashes into MinHash band keys
  (``signatures``); simhash is the same projection + Arrow shape. A
  1000-executor cluster computes signatures embarrassingly parallel.
- The only shuffles are the semantic ones: the exact-dup groupBy on the
  content hash and the LSH bucket self-join on (band_idx, band_hash).
  Both keys are md5-derived → uniformly distributed, so partitions stay
  balanced; AQE skew-join handles the pathological all-identical-docs
  case (one giant bucket).
- Hash functions are md5-based so the DuckDB oracle can reproduce them
  bit-for-bit: minhash takes the lexicographic MIN over hex digests
  (order-isomorphic to numeric min over the 128-bit value), simhash
  word-hashes fold the first 15 hex chars into a 60-bit bigint (fits
  signed 64-bit in both engines).
"""

from __future__ import annotations

import hashlib
from functools import lru_cache
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pii_redactor_spark.functions import arrow_lists, text_hash

# MinHash: H signatures grouped into B bands of R rows (H = B*R).
# Round-4 widening (round-3 verdict item 4): 16 bands x 8 rows — the
# production S-curve for a ~0.8-Jaccard dedup threshold. Candidate
# probability is 1-(1-J^R)^B: at J=0.8 -> 0.95, J=0.7 -> 0.61,
# J=0.5 -> 0.06 (knee (1/B)^(1/R) ~= 0.71), vs the old 4x4's 0.71 @
# J=0.8 with a fat J=0.5 tail of 0.23. Measured candidate
# recall/precision vs the Jaccard-verified truth is recorded by
# scripts/minhash_recall.py in BENCH/minhash_recall_r4.json.
MINHASH_H = 128
LSH_BANDS = 16
LSH_ROWS = 8
SHINGLE_K = 3      # word 3-shingles
SIMHASH_BITS = 60  # 15 hex chars -> signed-bigint-safe in Spark AND DuckDB


# ---------------------------------------------------------------------------
# Shared building blocks (Spark side)
# ---------------------------------------------------------------------------

def shingles_expr(words: Column, k: int = SHINGLE_K) -> Column:
    """Word k-shingles joined by single spaces; documents shorter than k
    words contribute one whole-document shingle so no doc has an empty
    signature. NULL words (NULL text) give a NULL array, never
    ``[NULL]``: the MinHash pass rejects a null element
    (``arrow_lists.ragged``)."""
    n = F.size(words)
    full = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.array_join(F.slice(words, i + 1, k), " "),
    )
    return (F.when(n >= k, full)
            .when(words.isNotNull(), F.array(F.array_join(words, " "))))


@lru_cache(maxsize=None)
def minhash_masks(h: int = MINHASH_H) -> tuple[int, ...]:
    """60-bit XOR masks, mask_i = first 15 hex chars of md5('minhash:i').
    Pure function — reproducible in any engine."""
    return tuple(text_hash.md5_int_py(f"minhash:{i}", 15) for i in range(h))


def make_minhash_udf(h: int = MINHASH_H, bands: int = LSH_BANDS,
                     rows: int = LSH_ROWS):
    """Arrow pass from the shingle-hash sets to the LSH band keys
    (``array<string>``, ``bands`` md5 hex keys per document).

    The H XOR-min permutations are one vectorized
    ``minimum.reduceat(flat ^ mask, segments)`` per mask over the
    batch. All values are 60-bit non-negatives, so int64 XOR/min are
    exact (the oracle's ``list_min(list_transform(h -> xor(h, mask)))``).
    As expressions they are 128 interpreted array_min(transform) passes
    per row — the same allocation-bound pattern as the simhash majority
    vote, and the same remedy; the md5 shingle hashing stays JVM-side.

    Key b = md5 of signature rows ``b*rows .. b*rows+rows-1`` as
    decimals joined by ``'|'`` (the oracle's
    ``CAST(s AS VARCHAR) || '|' || ...``). A NULL (or empty) set gets
    NULL keys — the oracle's ``||`` propagates the NULL minimum, so a
    NULL-text document lands in no bucket instead of one shared
    md5('|||…') bucket. Computing the keys here replaces a
    bands x rows element_at/cast/concat/md5 expression per row.

    The sets must hold no NULL element (``arrow_lists.ragged`` raises;
    ``shingles_expr`` keeps NULL text a NULL set)."""
    from pyspark.sql.types import ArrayType, StringType
    masks = np.array(minhash_masks(h), dtype=np.int64)

    def _keys(sig: list[int]) -> list[str]:
        return [hashlib.md5("|".join(
            map(str, sig[b * rows:(b + 1) * rows])).encode()).hexdigest()
            for b in range(bands)]

    @F.arrow_udf(ArrayType(StringType()))
    def minhash_np(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for hashes in batches:
            flat, lens = arrow_lists.ragged(hashes, np.int64)
            nz, starts = arrow_lists.segments(lens)
            key_col: list = [[None] * bands] * len(lens)
            if len(nz):
                sigs = np.column_stack(
                    [np.minimum.reduceat(flat ^ m, starts) for m in masks])
                for i, sig in zip(nz, sigs.tolist()):
                    key_col[i] = _keys(sig)
            yield pa.array(key_col, type=pa.list_(pa.string()))

    return minhash_np


def with_shingle_hashes(docs: DataFrame, text_col: str = "text"
                        ) -> DataFrame:
    """Attach ``sh_set``: the distinct 60-bit hashes of the document's
    word k-shingles (one md5 each). The single text -> words -> shingles
    -> hashes projection every MinHash operator starts from; ``_words``
    is materialized once and shared by the shingle builder."""
    return (
        docs
        .withColumn("_words", text_hash.words(F.col(text_col)))
        .withColumn("sh_set", F.array_distinct(F.transform(
            shingles_expr(F.col("_words")), text_hash.word_hash60)))
        .drop("_words")
    )


def signatures(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", h: int = MINHASH_H,
               bands: int = LSH_BANDS,
               rows: int = LSH_ROWS) -> DataFrame:
    """``(id, sh_set, band_keys)`` — the near-dup signature substrate:
    one text -> shingle-hash projection feeding one Arrow MinHash pass.
    Candidate generation explodes ``band_keys``; Jaccard verification
    reads ``sh_set``. Callers that need both persist this frame, so each
    document is split, shingled and hashed once."""
    sets = with_shingle_hashes(docs.select(id_col, text_col), text_col)
    keys = make_minhash_udf(h, bands, rows)(F.col("sh_set"))
    return sets.select(id_col, "sh_set", keys.alias("band_keys"))


# ---------------------------------------------------------------------------
# Operators
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text); representative = min id.
    One shuffle on a uniform key; map-side partial aggregation halves
    traffic (Catalyst HashAggregate pair)."""
    return (
        docs
        .groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("rep_id"),
        )
    )


def _explode_bands(sigs: DataFrame, id_col: str) -> DataFrame:
    """(id, band_idx, band_hash) rows from a ``signatures`` frame.
    posexplode_outer + a null filter on the position: a plain explode
    triggers InferFiltersFromGenerate, which duplicates the whole
    signature expression into a pushed-down size() filter (see
    operators/decontaminate.py); NULL keys stay as rows, like the
    oracle's."""
    return (
        sigs
        .select(F.col(id_col),
                F.posexplode_outer("band_keys").alias("band_idx",
                                                       "band_hash"))
        .where(F.col("band_idx").isNotNull())
    )


def _bucket_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing a (band_idx, band_hash)
    bucket — the LSH bucket self-join."""
    left = bands.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    right = bands.select(F.col(id_col).alias("id_b"), "band_idx",
                         "band_hash")
    return (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _jaccard(a: str, b: str) -> Column:
    """Exact Jaccard of two distinct shingle-hash sets."""
    return (F.size(F.array_intersect(a, b)).cast("double")
            / F.size(F.array_union(a, b)))


def minhash_bands(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", h: int = MINHASH_H,
                  bands: int = LSH_BANDS,
                  rows: int = LSH_ROWS) -> DataFrame:
    """(id, band_idx, band_hash) — one row per doc per band. Projection +
    explode only; the downstream bucket join supplies the shuffle.
    (h, bands, rows) parameterized so scripts/minhash_recall.py can
    sweep S-curves; the contract pins the module defaults."""
    return _explode_bands(
        signatures(docs, text_col, id_col, h, bands, rows), id_col)


def lsh_candidate_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        h: int = MINHASH_H, bands: int = LSH_BANDS,
                        rows: int = LSH_ROWS) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) that share at least
    one LSH band. Equi self-join on (band_idx, band_hash) — the classic
    MinHash-LSH bucket join; AQE splits skewed buckets.

    The band table is persisted so the self-join's two branches don't
    recompute every signature (Spark shares no work across join inputs).
    At cluster scale the same role is played by materializing signatures
    to an Iceberg-style table (tables.py) — persist is the single-job
    analogue."""
    from pii_redactor_spark.operators.cache import registered_persist
    b = registered_persist(minhash_bands(docs, text_col, id_col, h, bands,
                                         rows))
    return _bucket_pairs(b, id_col)


def jaccard_pairs(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  threshold: float = 0.8,
                  pairs: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard verification of LSH candidates: join each
    pair back to its distinct shingle-hash sets, jaccard = |A∩B| / |A∪B|
    (60-bit hashes stand in for the shingle strings; the oracle compares
    the strings). The candidate set (not the corpus cross product)
    drives the cost — this is the standard verify stage after LSH
    recall. Candidates and sets come from ONE persisted ``signatures``
    frame. ``pairs`` overrides the candidate source (any (id_a, id_b)
    DataFrame); then only the sets are built."""
    from pii_redactor_spark.operators.cache import registered_persist
    if pairs is None:
        sigs = registered_persist(signatures(docs, text_col, id_col))
        pairs = _bucket_pairs(_explode_bands(sigs, id_col), id_col)
    else:
        sigs = registered_persist(
            with_shingle_hashes(docs.select(id_col, text_col), text_col)
            .select(id_col, "sh_set"))
    return (
        pairs
        .join(sigs.select(F.col(id_col).alias("id_a"),
                          F.col("sh_set").alias("set_a")), "id_a")
        .join(sigs.select(F.col(id_col).alias("id_b"),
                          F.col("sh_set").alias("set_b")), "id_b")
        .select("id_a", "id_b", _jaccard("set_a", "set_b").alias("jaccard"))
        .withColumn("is_dup", F.col("jaccard") >= F.lit(threshold))
    )


def components_from_edges(edges: DataFrame, max_iter: int = 30,
                          stats: dict | None = None) -> DataFrame:
    """Connected components over an explicit edge list ``(id_a, id_b)``:
    returns ``(node, component)`` for every edge endpoint, with
    component = min node id of the cluster. A node on no edge is a
    singleton (its own component) and gets no row; only endpoints can
    be duplicates. ``stats`` (optional dict) receives
    ``{"rounds": <executed rounds>}``. Rounds (min-label +
    path-halving):

    1. closed form: ``label(v) = least(v, min(neighbors(v)))`` — one
       groupBy over the undirected edges. Over identity labels the
       neighbor-min needs no join and the pointer jump does nothing.
    2. later rounds: neighbor-min (one join + groupBy + join), then the
       path-halving jump ``label = least(label, label_of(label))`` over
       the previous round's labels — the pointer-jumping step of the
       classic two-phase CC algorithm, so a long chain converges in
       O(log diameter) rounds, not O(diameter).

    Stop test: the number of edges whose endpoint labels differ under
    the NEW labels. Labels only decrease and never leave their
    component, so when every edge agrees each component carries one
    label no larger than any of its ids — its minimum. No confirming
    round is needed. The count is the round's one action: the round is
    a lazy ``localCheckpoint`` that this count fills (AQE runs the
    round's shuffle stages inside the checkpoint call itself, so a
    round shows as a checkpoint + count execution pair — the
    per-round pin in test_dedup_similarity).

    Every round is a ``localCheckpoint``, never ``persist()``: a
    persisted plan ending in a shuffle keeps all
    ``spark.sql.shuffle.partitions`` partitions (AQE does not coalesce
    cached plans), so each round would run one task per shuffle
    partition however few endpoints there are; a checkpoint keeps AQE's
    coalesced partitions and truncates the lineage, so the plan stays
    bounded at any round count. The undirected edge list is checkpointed
    eagerly once (every round reads it): each edge is emitted in both
    directions by one generator over ONE copy of the edge plan, so the
    plan behind ``edges`` (e.g. the Jaccard verification) runs once. A
    round's checkpoint is freed as soon as the next round's is filled.
    localCheckpoint trades fault-tolerance of the truncated prefix for
    plan size; a production cluster run can swap in a snapshot write
    through tables.py for a durable cut.

    The RETURNED frame is the last round's checkpoint, registered for
    ``release_caches``: downstream consumers and the PLANS.md audit see
    a bounded ExistingRDD scan, not the loop's lineage, and no extra
    action runs just to materialize the result.
    """
    from pii_redactor_spark.operators.cache import (
        register_local_checkpoint, unpersist_checkpoint)
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # inline_outer, not inline: the array always holds two structs, and
    # the outer form keeps InferFiltersFromGenerate from re-evaluating it
    # in a pushed-down size() filter
    und = (
        edges.select(F.inline_outer(F.array(
            F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
            F.struct(F.col("id_b").alias("src"),
                     F.col("id_a").alias("dst")))))
        .localCheckpoint(eager=True)
    )
    labels = und.groupBy("src").agg(
        F.least(F.col("src"), F.min("dst")).alias("component")
    ).withColumnRenamed("src", "node")
    prev: DataFrame | None = None
    try:
        for it in range(max_iter):
            if it:
                nmin = (
                    und.join(labels.select(F.col("node").alias("dst"),
                                           F.col("component").alias("_c")),
                             "dst")
                    .groupBy(F.col("src").alias("node"))
                    .agg(F.min("_c").alias("_nmin"))
                )
                merged = labels.join(nmin, "node").select(
                    "node", F.least("component", "_nmin").alias("component"))
                ptr = labels.select(F.col("node").alias("_p"),
                                    F.col("component").alias("_pc"))
                labels = (
                    merged.join(ptr, F.col("component") == F.col("_p"))
                    .select("node",
                            F.least("component", "_pc").alias("component"))
                )
            labels = labels.localCheckpoint(eager=False)
            split = (
                und.join(labels.select(F.col("node").alias("src"),
                                       F.col("component").alias("_cs")),
                         "src")
                .join(labels.select(F.col("node").alias("dst"),
                                    F.col("component").alias("_cd")),
                      "dst")
                .where(F.col("_cs") != F.col("_cd"))
                .count()
            )
            if prev is not None:
                unpersist_checkpoint(prev)
            prev = labels
            if stats is not None:
                stats["rounds"] = it + 1
            if split == 0:
                break
    except BaseException:
        if prev is not None:
            unpersist_checkpoint(prev)
        raise
    finally:
        unpersist_checkpoint(und)
    register_local_checkpoint(labels)
    return labels


def dedup_edges(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                verify_threshold: float | None = None) -> DataFrame:
    """``(id_a, id_b)`` edges of the near-dup graph: Jaccard-verified
    pairs when ``verify_threshold`` is set, raw LSH candidates
    otherwise."""
    if verify_threshold is None:
        return lsh_candidate_pairs(docs, text_col, id_col)
    return (
        jaccard_pairs(docs, text_col, id_col, verify_threshold)
        .filter(F.col("is_dup")).select("id_a", "id_b")
    )


def dedup_components(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_iter: int = 30,
                     verify_threshold: float | None = None) -> DataFrame:
    """Connected components over the LSH near-dup graph: every document
    mapped to the min doc id of its duplicate cluster (the canonical
    representative for dedup-keep-one).

    ``verify_threshold`` — when set, components are built over
    Jaccard-VERIFIED edges (>= threshold) instead of raw band-collision
    candidates: a false-positive band collision can otherwise merge
    unrelated documents into one cluster and drop non-duplicates from a
    rewrite (round-2 advice). The corpus rewrite job always verifies;
    the raw variant remains for candidate-graph analysis. Either way the
    edges come from one persisted signature frame (``dedup_edges``) and
    the endpoint labels from ``components_from_edges``; every other
    document is its own component. The labels are broadcast: they hold
    edge endpoints only, so the documents never shuffle.
    """
    labels = components_from_edges(
        dedup_edges(docs, text_col, id_col, verify_threshold),
        max_iter=max_iter)
    nodes = docs.select(F.col(id_col).alias("node"))
    return nodes.join(F.broadcast(labels), "node", "left").select(
        F.col("node").alias(id_col),
        F.coalesce("component", "node").alias("component"))


def dedup_components_oracle_sql(table: str = "documents",
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                verify_threshold: float | None = None) -> str:
    if verify_threshold is not None:
        jp = jaccard_pairs_oracle_sql(table, text_col, id_col,
                                      verify_threshold)
        pairs = f"SELECT id_a, id_b FROM ({jp}) WHERE is_dup"
    else:
        pairs = lsh_pairs_oracle_sql(table, text_col, id_col)
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
und AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src)
SELECT d.{id_col},
       LEAST(d.{id_col}, COALESCE(MIN(r.dst), d.{id_col})) AS component
FROM {table} d LEFT JOIN reach r ON d.{id_col} = r.src
GROUP BY d.{id_col}
"""


SPAN_N = 8  # word-window width for the cross-doc duplicate-span signal


def span_dup_stats(docs: DataFrame, n: int = SPAN_N,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Cross-document duplicate-SPAN signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): the
    ExactSubstr statistic at hashed-n-gram granularity — for every
    document, the fraction of its distinct word ``n``-grams that occur
    in at least one OTHER document. The published pipeline removes the
    duplicated spans (a positional rewrite); this operator emits the
    per-doc signal a gate or rewrite consumes:
    (id, n_grams, n_dup_grams, dup_ppm). The rate is an exact integer
    ppm (n_dup_grams * 1e6 DIV n_grams) — never a rounded double, per
    the repo's half-boundary rule (round-4 ADVICE: 1/640 = 0.0015625
    rounds differently in Spark BigDecimal HALF_UP vs DuckDB).

    Scale shape: the gram stream is |corpus| x ~n_words rows keyed by
    the uniform 60-bit rot-xor gram hash (functions/text_hash.py — one md5
    pass per word, shared with the quality rules / decontamination);
    the duplicate-gram table is ONE hash-groupBy on that key (map-side
    partials), the join back is co-partitioned on the same key, and
    the per-doc rollup is one id-keyed aggregation. No driver state,
    no broadcast of anything corpus-sized — the suffix-array approach
    of the paper is replaced by the hash-join formulation that
    actually distributes."""
    from pii_redactor_spark.operators.cache import registered_persist
    grams = registered_persist(
        text_hash.distinct_ngrams(docs, text_col, n)
        .select(id_col, F.explode_outer("_g").alias("g"))
        .where(F.col("g").isNotNull())
    )
    # grams are per-doc DISTINCT, so count(*) per gram == #docs holding it
    dup = grams.groupBy("g").agg(F.count("*").alias("nd")) \
        .where(F.col("nd") >= 2).select("g")
    per = (
        grams.join(dup.withColumn("_hit", F.lit(1)), "g", "left")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_grams"),
             F.count("_hit").alias("n_dup_grams"))
    )
    return (
        docs.select(id_col).join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("int").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("int")
            .alias("n_dup_grams"),
            F.expr("CASE WHEN coalesce(n_grams, 0) > 0 THEN "
                   "CAST(n_dup_grams AS BIGINT) * 1000000 DIV n_grams "
                   "ELSE 0 END").cast("bigint").alias("dup_ppm"),
        )
    )


def span_dup_stats_oracle_sql(table: str = "documents", n: int = SPAN_N,
                              text_col: str = "text",
                              id_col: str = "doc_id") -> str:
    """DuckDB twin of ``span_dup_stats``."""
    return f"""
WITH grams AS (SELECT {id_col}, unnest(_g) AS g
               FROM ({text_hash.distinct_ngrams_sql(table, text_col, n)})),
dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
per AS (
  SELECT grams.{id_col}, COUNT(*) AS n_grams, COUNT(dup.g) AS n_dup_grams
  FROM grams LEFT JOIN dup ON grams.g = dup.g
  GROUP BY grams.{id_col})
SELECT d.{id_col},
       CAST(COALESCE(per.n_grams, 0) AS INT) AS n_grams,
       CAST(COALESCE(per.n_dup_grams, 0) AS INT) AS n_dup_grams,
       CAST(CASE WHEN COALESCE(per.n_grams, 0) > 0
            THEN CAST(per.n_dup_grams AS BIGINT) * 1000000 // per.n_grams
            ELSE 0 END AS BIGINT) AS dup_ppm
FROM {table} d LEFT JOIN per ON d.{id_col} = per.{id_col}
"""


_SPAN_POS_LIM = 1 << 20  # occurrence key = doc_id * LIM + position
                         # (positions < 2^20 words/doc; doc ids < 2^43)


def span_dedup_rewrite(docs: DataFrame, n: int = SPAN_N,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """The REWRITE step of Lee et al. 2022's ExactSubstr dedup: every
    occurrence of a cross-document duplicated word ``n``-gram is
    removed EXCEPT the globally first one (lowest (doc_id, position) —
    the paper keeps one copy of each duplicated span). Returns
    (id, n_words, n_removed, cleaned_hash, cleaned_len): the rewritten
    text is pinned by its md5 + length (the contract comparator's
    compact form; the full string is one array_join away).

    Shape: positional gram occurrences are |corpus| x ~n_words rows on
    the uniform 60-bit gram key; the global first-occurrence table is
    ONE hash-groupBy (min over the BIGINT occurrence key — exact in
    both engines); duplicated occurrences flow back by one
    co-partitioned join and one per-doc rollup, and the rewrite itself
    is a projection (zip_with over the words — no element_at-in-lambda,
    per the O(n^2) inlining trap). Per-doc mask cost is
    O(n_words x |dup positions|) — quadratic only for fully-duplicated
    docs, whose rewrite drops to nothing anyway."""
    from pii_redactor_spark.operators.cache import registered_persist
    pre = registered_persist(
        docs
        .withColumn("_w", text_hash.words(F.col(text_col)))
        .withColumn("_wh", text_hash.word_hashes_col(F.col("_w")))
        .withColumn("_g", text_hash.hashed_ngrams_col(F.col("_wh"), n))
        .select(id_col, "_w", "_g")
    )
    # Loud guard (round-4 ADVICE): a document with >= 2^20 words would
    # overflow its position range into the next doc_id's key space and
    # silently mis-rank the global first occurrence IDENTICALLY on both
    # engines (the oracle mirrors the arithmetic, so it cannot catch
    # it). raise_error beats mis-ranking; the CASE is lazy per row. It
    # fires only on a KNOWN overflow: the optimizer may evaluate the
    # key on the NULL-position rows of empty documents before the
    # isNotNull filter drops them (an intermittent failure otherwise).
    occ = (
        pre.select(id_col, F.posexplode_outer("_g").alias("pos", "g"))
        .where(F.col("g").isNotNull())
        .withColumn("_k", F.when(
            F.col("pos") >= F.lit(_SPAN_POS_LIM),
            F.raise_error(F.format_string(
                "span_dedup_rewrite: document position %s exceeds "
                "_SPAN_POS_LIM=%s words — raise the limit (doc ids "
                "must stay < 2^63/LIM)",
                F.col("pos").cast("string"),
                F.lit(str(_SPAN_POS_LIM)))).cast("bigint"))
            .otherwise(F.col(id_col) * F.lit(_SPAN_POS_LIM)
                       + F.col("pos")))
    )
    owners = occ.groupBy("g").agg(F.min("_k").alias("_mn"),
                                  F.count("*").alias("_n"))
    dup_occ = (
        occ.join(owners, "g")
        .where((F.col("_n") >= 2) & (F.col("_k") != F.col("_mn")))
        .select(id_col, F.col("pos").cast("bigint").alias("pos"))
    )
    cov = dup_occ.groupBy(id_col).agg(
        F.collect_list("pos").alias("_poss"))

    span = F.lit(n - 1)

    def _covered(poss):
        # closure factory: index i is removed iff some duplicated
        # occurrence starts within the trailing n-gram window
        def f(i):
            return F.exists(poss, lambda p: (p <= i) & (i <= p + span))
        return f

    joined = (
        pre.join(cov, id_col, "left")
        .withColumn("_poss", F.coalesce(
            F.col("_poss"), F.expr("CAST(array() AS array<bigint>)")))
        .withColumn("_marks", F.when(
            F.size("_w") > 0,
            F.transform(F.sequence(F.lit(0).cast("bigint"),
                                   F.size("_w").cast("bigint") - 1),
                        _covered(F.col("_poss"))))
            # empty words -> empty marks (zip_with against NULL would
            # null the whole rewrite; the oracle's range(0) is empty)
            .otherwise(F.expr("CAST(array() AS array<boolean>)")))
        .withColumn("_kept", F.zip_with(
            "_w", "_marks", lambda w, m: F.when(~m, w)))
        .withColumn("_clean", F.array_join(
            F.filter("_kept", lambda x: x.isNotNull()), " "))
    )
    return joined.select(
        id_col,
        F.size("_w").alias("n_words"),  # NULL text -> NULL, like len()
        F.when(F.col("_w").isNotNull(),
               F.size(F.filter("_kept", lambda x: x.isNull())))
        .cast("int").alias("n_removed"),
        F.when(F.col("_w").isNotNull(), F.md5("_clean"))
        .alias("cleaned_hash"),
        F.when(F.col("_w").isNotNull(), F.length("_clean"))
        .cast("int").alias("cleaned_len"),
    )


def span_dedup_rewrite_oracle_sql(table: str = "documents",
                                  n: int = SPAN_N, text_col: str = "text",
                                  id_col: str = "doc_id") -> str:
    """DuckDB twin of ``span_dedup_rewrite``: first owners from the same
    BIGINT occurrence keys, the text rebuilt with the same positional
    logic (lockstep unnest keeps the gram stream linear)."""
    lim = _SPAN_POS_LIM
    return f"""
WITH base AS (
  SELECT {id_col}, words,
         {text_hash.word_hashes_sql('words')} AS whashes
  FROM (SELECT {id_col}, {text_hash.WORDS_SQL.format(t=text_col)} AS words
        FROM {table})),
grams AS (SELECT {id_col}, {text_hash.hashed_ngrams_sql('whashes', n)} AS gs
          FROM base),
occ AS (
  SELECT {id_col},
         CAST(unnest(range(len(gs))) AS BIGINT) AS pos,
         unnest(gs) AS g
  FROM grams),
owners AS (
  SELECT g, MIN({id_col} * {lim} + pos) AS mn, COUNT(*) AS n
  FROM occ GROUP BY g),
dup AS (
  SELECT o.{id_col}, o.pos FROM occ o JOIN owners w ON o.g = w.g
  WHERE w.n >= 2 AND o.{id_col} * {lim} + o.pos <> w.mn),
cov AS (SELECT {id_col}, list(pos) AS poss FROM dup GROUP BY {id_col}),
rw AS (
  SELECT b.{id_col}, b.words,
    CASE WHEN b.words IS NULL THEN NULL ELSE
      list_transform(range(len(b.words)), i ->
        CASE WHEN len(list_filter(
                 COALESCE(c.poss, CAST([] AS BIGINT[])),
                 p -> p <= i AND i <= p + {n - 1})) > 0
             THEN NULL ELSE b.words[CAST(i + 1 AS INT)] END)
    END AS kept
  FROM base b LEFT JOIN cov c ON b.{id_col} = c.{id_col}),
fin AS (
  -- DuckDB array_to_string([]) is NULL while Spark array_join([])
  -- is '' — coalesce ONLY the non-null-kept (fully-removed) case
  SELECT {id_col}, words, kept,
         CASE WHEN kept IS NULL THEN NULL
              ELSE COALESCE(array_to_string(
                     list_filter(kept, x -> x IS NOT NULL), ' '), '')
         END AS clean
  FROM rw)
SELECT {id_col},
       CAST(len(words) AS INT) AS n_words,
       CAST(len(list_filter(kept, x -> x IS NULL)) AS INT) AS n_removed,
       md5(clean) AS cleaned_hash,
       CAST(length(clean) AS INT) AS cleaned_len
FROM fin
"""


def make_simhash_udf():
    """Vectorized SimHash majority vote over pre-computed word-hash
    arrays: an iterator Arrow UDF doing a vertical popcount in numpy
    (one (words x 60) bit matrix + segmented reduceat per batch).

    Round-3 measurement (sf0.1 quiet window, identical outputs): the
    md5 word-hash base costs 0.36 s; completing the simhash costs
    old 60-x-filter 1.13 s, single-pass zip_with fold 1.66 s, SWAR
    packed-lane struct fold 1.56 s, 60 aggregate-sums 2.26 s, THIS
    numpy path 0.71 s. Expression-level per-bit counting is
    allocation-bound however formulated, so the majority vote is the
    one place the Arrow hop beats whole-stage codegen — the hashing
    itself stays JVM-side (only the bigint arrays cross to Python)."""
    from pyspark.sql.types import LongType

    @F.arrow_udf(LongType())
    def simhash_np(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
        for hashes in batches:
            flat, lens = arrow_lists.ragged(hashes, np.uint64)
            nz, starts = arrow_lists.segments(lens)
            # NULL or empty word arrays fold to 0, matching the oracle
            # (its per-bit CASEs all fall through on null comparisons)
            out = np.zeros(len(lens), dtype=np.int64)
            if len(nz):
                bits = ((flat[:, None] >> shifts) & 1).astype(np.int32)
                counts = np.add.reduceat(bits, starts, axis=0)
                maj = 2 * counts > lens[nz, None]
                out[nz] = (maj.astype(np.uint64) << shifts).sum(axis=1) \
                    .astype(np.int64)
            yield pa.array(out)

    return simhash_np


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """(id, simhash:bigint) — 60-bit SimHash per document: JVM-side word
    hashes, majority vote through the Arrow/numpy UDF (see
    ``make_simhash_udf``)."""
    pre = (
        docs
        .withColumn("_words", text_hash.words(F.col(text_col)))
        .withColumn("_hashes",
                    text_hash.word_hashes_col(F.col("_words")))
    )
    return pre.select(id_col,
                      make_simhash_udf()(F.col("_hashes")).alias("simhash"))


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (same math, relational form)
# ---------------------------------------------------------------------------

def _shingles_sql(words: str, k: int = SHINGLE_K) -> str:
    # DuckDB's array_to_string([]) is NULL where Spark's array_join gives
    # '': an empty document's one shingle is '' on both sides
    return (
        f"CASE WHEN len({words}) >= {k} THEN "
        f"list_transform(range(len({words}) - {k} + 1), i -> "
        f"array_to_string(list_slice({words}, CAST(i+1 AS INT), CAST(i+{k} AS INT)), ' ')) "
        f"ELSE [CASE WHEN len({words}) = 0 THEN '' "
        f"ELSE array_to_string({words}, ' ') END] END"
    )


def minhash_bands_oracle_sql(table: str = "documents",
                             text_col: str = "text",
                             id_col: str = "doc_id") -> str:
    masks = minhash_masks(MINHASH_H)
    sig_cols = ",\n    ".join(
        f"list_min(list_transform(sh_hashes, h -> xor(h, {m}))) AS s{i}"
        for i, m in enumerate(masks)
    )
    band_rows = []
    for b in range(LSH_BANDS):
        parts = " || '|' || ".join(
            f"CAST(s{b * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS))
        band_rows.append(f"({b}, md5({parts}))")
    words = text_hash.WORDS_SQL.format(t=text_col)
    fold = text_hash.word_hash60_sql("s")
    return f"""
WITH base AS (
  SELECT {id_col},
         list_transform({_shingles_sql('words')}, s -> {fold}) AS sh_hashes
  FROM (SELECT {id_col}, {words} AS words FROM {table})),
sigs AS (
  SELECT {id_col},
    {sig_cols}
  FROM base)
SELECT {id_col}, band_idx, band_hash
FROM sigs, LATERAL (VALUES {', '.join(band_rows)}) AS t(band_idx, band_hash)
"""


def lsh_pairs_oracle_sql(table: str = "documents",
                         text_col: str = "text",
                         id_col: str = "doc_id") -> str:
    bands = minhash_bands_oracle_sql(table, text_col, id_col)
    return f"""
WITH bands AS ({bands})
SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
WHERE a.{id_col} < b.{id_col}
"""


def jaccard_pairs_oracle_sql(table: str = "documents",
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             threshold: float = 0.8) -> str:
    pairs = lsh_pairs_oracle_sql(table, text_col, id_col)
    words = text_hash.WORDS_SQL.format(t=text_col)
    return f"""
WITH pairs AS ({pairs}),
ssets AS (
  SELECT {id_col} AS sid, list_distinct({_shingles_sql('words')}) AS sset
  FROM (SELECT {id_col}, {words} AS words FROM {table}))
SELECT p.id_a, p.id_b,
       CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
         / len(list_distinct(list_concat(a.sset, b.sset))) AS jaccard,
       CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
         / len(list_distinct(list_concat(a.sset, b.sset))) >= {threshold} AS is_dup
FROM pairs p
JOIN ssets a ON p.id_a = a.sid
JOIN ssets b ON p.id_b = b.sid
"""


def simhash_oracle_sql(table: str = "documents", text_col: str = "text",
                       id_col: str = "doc_id") -> str:
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hashes, h -> (h >> {b}) & 1 = 1)) "
        f"> len(hashes) THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    words = text_hash.WORDS_SQL.format(t=text_col)
    hash_fold = text_hash.word_hashes_sql("words")
    return f"""
WITH base AS (
  SELECT {id_col}, {hash_fold} AS hashes
  FROM (SELECT {id_col}, {words} AS words FROM {table}))
SELECT {id_col}, CAST({terms} AS BIGINT) AS simhash FROM base
"""


def exact_dedup_oracle_sql(table: str = "documents",
                           text_col: str = "text",
                           id_col: str = "doc_id") -> str:
    return f"""
SELECT md5({text_col}) AS text_hash,
       COUNT(*) AS n_copies,
       MIN({id_col}) AS rep_id
FROM {table} GROUP BY 1
"""


def span_dedup_rewrite_paragraphs(docs: DataFrame,
                                  text_col: str = "text",
                                  id_col: str = "doc_id") -> DataFrame:
    """Paragraph-granular variant of ``span_dedup_rewrite`` (Lee et al.
    2022 applied at the line/paragraph level, the C4-companion shape):
    every occurrence of a cross-document duplicated PARAGRAPH (trimmed
    non-blank line) is removed except the globally first one (lowest
    (doc_id, position) BIGINT key — keep-one-copy). Returns
    (id, n_paras, n_removed, cleaned_hash, cleaned_len) with the
    rewritten text pinned by md5+length of the kept lines joined by
    newline.

    Shape: one md5-per-line projection, ONE hash-groupBy on the line
    hash for global first owners, one co-partitioned join back, one
    per-doc rollup, and the rewrite itself is a positional
    ``F.filter(lines, (l, i) -> ...)`` projection — no n-gram window
    math because paragraph granularity removes whole elements. Same
    occurrence-key overflow guard as the word-level rewrite."""
    from pii_redactor_spark.operators.cache import registered_persist
    pre = registered_persist(
        docs
        .withColumn("_ls", F.transform(
            F.filter(F.split(F.col(text_col), r"\n"),
                     lambda l: F.trim(l) != ""),
            lambda l: F.trim(l)))
        .select(id_col, "_ls")
    )
    occ = (
        pre.select(id_col, F.posexplode_outer("_ls").alias("pos", "l"))
        .where(F.col("l").isNotNull())
        .withColumn("_h", F.md5("l"))
        .withColumn("_k", F.when(
            F.col("pos") >= F.lit(_SPAN_POS_LIM),
            F.raise_error(F.lit(
                "span_dedup_rewrite_paragraphs: position exceeds "
                "_SPAN_POS_LIM")).cast("bigint"))
            .otherwise(F.col(id_col) * F.lit(_SPAN_POS_LIM)
                       + F.col("pos")))
    )
    owners = occ.groupBy("_h").agg(F.min("_k").alias("_mn"),
                                   F.count("*").alias("_n"))
    dup_occ = (
        occ.join(owners, "_h")
        .where((F.col("_n") >= 2) & (F.col("_k") != F.col("_mn")))
        .select(id_col, F.col("pos").cast("bigint").alias("pos"))
    )
    cov = dup_occ.groupBy(id_col).agg(F.collect_list("pos").alias("_poss"))
    joined = (
        pre.join(cov, id_col, "left")
        .withColumn("_poss", F.coalesce(
            F.col("_poss"), F.expr("CAST(array() AS array<bigint>)")))
        # two-arg HOF lambda is (element, index) BY POSITION — here
        # that is exactly what we want (CLAUDE.md arity rule)
        .withColumn("_kept", F.filter(
            "_ls",
            lambda l, i: ~F.array_contains(F.col("_poss"),
                                           i.cast("bigint"))))
        .withColumn("_clean", F.array_join("_kept", "\n"))
    )
    return joined.select(
        id_col,
        F.size("_ls").alias("n_paras"),  # NULL text -> NULL, like len()
        F.when(F.col("_ls").isNotNull(),
               F.size("_ls") - F.size("_kept")).cast("int")
        .alias("n_removed"),
        F.when(F.col("_ls").isNotNull(), F.md5("_clean"))
        .alias("cleaned_hash"),
        F.when(F.col("_ls").isNotNull(), F.length("_clean"))
        .cast("int").alias("cleaned_len"),
    )


def span_rewrite_paragraphs_oracle_sql(table: str, text_expr: str,
                                       id_col: str = "doc_id") -> str:
    """DuckDB twin of ``span_dedup_rewrite_paragraphs`` over
    ``text_expr`` (an expression yielding the line-structured text).
    DuckDB's positional list_filter index is 1-based vs Spark's
    0-based, hence the ``i - 1``."""
    return f"""
WITH p AS (SELECT {id_col}, {text_expr} AS t2 FROM {table}),
base AS (
  SELECT {id_col},
         list_transform(list_filter(string_split(t2, chr(10)),
                        l -> trim(l) <> ''), l -> trim(l)) AS ls
  FROM p),
occ0 AS (
  SELECT {id_col},
         CAST(unnest(range(len(ls))) AS BIGINT) AS pos,
         unnest(ls) AS l
  FROM base),
occ AS (SELECT {id_col}, pos, md5(l) AS h FROM occ0),
owners AS (
  SELECT h, MIN({id_col} * {_SPAN_POS_LIM} + pos) AS mn,
         COUNT(*) AS n
  FROM occ GROUP BY h),
dup AS (
  SELECT o.{id_col}, o.pos FROM occ o JOIN owners w ON o.h = w.h
  WHERE w.n >= 2 AND o.{id_col} * {_SPAN_POS_LIM} + o.pos <> w.mn),
cov AS (SELECT {id_col}, list(pos) AS poss FROM dup GROUP BY {id_col}),
rw AS (
  SELECT b.{id_col}, b.ls,
         list_filter(b.ls, (l, i) -> NOT list_contains(
           COALESCE(c.poss, CAST([] AS BIGINT[])),
           CAST(i - 1 AS BIGINT))) AS kept
  FROM base b LEFT JOIN cov c ON b.{id_col} = c.{id_col})
SELECT {id_col},
       CAST(len(ls) AS INT) AS n_paras,
       CAST(len(ls) - len(kept) AS INT) AS n_removed,
       CASE WHEN ls IS NULL THEN NULL ELSE
         md5(COALESCE(array_to_string(kept, chr(10)), '')) END
       AS cleaned_hash,
       CAST(CASE WHEN ls IS NULL THEN NULL ELSE
         length(COALESCE(array_to_string(kept, chr(10)), '')) END
         AS INT) AS cleaned_len
FROM rw
"""


# ---------------------------------------------------------------------------
# Batch replay of the STREAMING near-dup selector (round-4 verdict item
# 6): streaming/stream.py neardup_stream holds at most
# NEARDUP_STREAM_REPS representative doc ids per LSH band bucket and
# emits each arrival against the stored representatives only. Under
# doc_id arrival order the representatives are exactly the bucket's
# lowest-id members, so the whole selector is an ordinary rank + join —
# oracle-checkable, pinning what the streaming operator computes.
# ---------------------------------------------------------------------------
NEARDUP_STREAM_REPS = 4


def neardup_stream_replay(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          reps_per_bucket: int = NEARDUP_STREAM_REPS
                          ) -> DataFrame:
    """(band_idx, band_hash, id_a, id_b) — neardup_stream's capped
    emission under doc_id arrival order: id_a is one of the bucket's
    ``reps_per_bucket`` lowest doc ids, id_b a later bucket member.

    Per-bucket ranks go through the hybrid ``group_row_number`` (hot
    buckets — e.g. a flood of identical documents — take the bucketed
    two-phase rank; a plain bucket window would put the flood in one
    task, the window-skew rule). The rep join is co-partitioned on the
    bucket key; emission is bounded at ``reps_per_bucket`` rows per
    (doc, band)."""
    from pii_redactor_spark.operators.cache import registered_persist
    from pii_redactor_spark.operators.ranking import group_row_number
    # persist the band table: the rep self-join below consumes it on
    # BOTH sides, and group_row_number's hot-bucket detection scans it
    # once more at plan construction — without the persist the MinHash
    # signature pass (the dominant cost) executes twice in the joined
    # plan (measured 1.42 s -> 0.52 s steady-state at sf0.1; same
    # convention as lsh_candidate_pairs / jaccard_pairs above)
    bands = registered_persist(
        minhash_bands(docs, text_col, id_col).withColumn(
            "_bk", F.concat_ws("|", F.col("band_idx"), F.col("band_hash"))))
    ranked = group_row_number(bands, "_bk", id_col, rn_name="_rk")
    reps = ranked.filter(F.col("_rk") <= reps_per_bucket).select(
        "_bk", F.col(id_col).alias("id_a"), F.col("_rk").alias("_ra"))
    return (
        ranked.join(reps, "_bk")
        .where(F.col("_ra") < F.col("_rk"))
        .select("band_idx", "band_hash", "id_a",
                F.col(id_col).alias("id_b"))
    )


def neardup_stream_oracle_sql(table: str = "documents",
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              reps_per_bucket: int = NEARDUP_STREAM_REPS
                              ) -> str:
    return f"""
WITH bands AS ({minhash_bands_oracle_sql(table, text_col, id_col)}),
ranked AS (
  SELECT {id_col}, band_idx, band_hash,
         ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash
                            ORDER BY {id_col}) AS rk
  FROM bands)
SELECT d.band_idx, d.band_hash,
       CAST(r.{id_col} AS BIGINT) AS id_a,
       CAST(d.{id_col} AS BIGINT) AS id_b
FROM ranked d JOIN ranked r
  ON r.band_idx = d.band_idx AND r.band_hash = d.band_hash
 AND r.rk < d.rk AND r.rk <= {reps_per_bucket}
"""


# ---------------------------------------------------------------------------
# Soft dedup: reweight duplicates instead of dropping them
# ---------------------------------------------------------------------------

def content_hash(text: Column) -> Column:
    """The exact-duplicate key: ``md5(text)``, with NULL text folded
    into a sentinel no md5 hex can collide with — a Spark equi-join
    drops NULL keys, and the NULL-text docs are one duplicate group."""
    return F.coalesce(F.md5(text), F.lit("_null_"))


def soft_dedup_weights(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-document sampling weight from exact-duplicate multiplicity —
    the SoftDeDup idea (Xia et al. 2024, "Rethinking Data Deduplication:
    Soft Deduplication"): instead of DROPPING duplicates, keep every
    copy and down-weight it so the effective token distribution matches
    the hard-deduplicated corpus while the sampler still sees the full
    data order. Weight = 1/multiplicity, emitted as the exact integer
    ``weight_ppm = 1000000 div n_copies`` (never a rounded double RATE —
    the oracle-hygiene rule). The reference drops nothing (pre-cleaned
    corpus, reference: optimizer.py:38-53); this is the
    training-pipeline mandate's selection-by-weight variant of
    ``exact_dedup``.

    Shape: one content-hash groupBy (partial aggregation combines
    map-side, so a viral page's million copies arrive pre-counted) +
    one co-partitioned join back on the same md5 key (Catalyst reuses
    the exchange; AQE skew-join splits a hot hash). Deliberately NOT a
    ``count() over (partition by md5)`` window: a window would put
    every copy of the hottest page in ONE task (the window-skew rule —
    AQE cannot split window partitions), while the join spreads them.
    """
    # NULL-text docs form ONE multiplicity group (the oracle's window
    # PARTITION BY groups NULLs together): content_hash's sentinel
    h = content_hash(F.col(text_col)).alias("_h")
    counts = (docs.select(h).groupBy("_h")
              .agg(F.count(F.lit(1)).alias("n_copies")))
    return (
        docs.select(F.col(id_col), h)
        .join(counts, "_h")
        .select(
            F.col(id_col),
            "n_copies",
            F.expr("cast(1000000 as bigint) div n_copies")
            .alias("weight_ppm"),
        )
    )


def soft_dedup_oracle_sql(table: str = "documents",
                          text_col: str = "text",
                          id_col: str = "doc_id") -> str:
    # the oracle may use the window form DuckDB-side: single-node, no
    # skew concern — values are identical to the groupBy+join by
    # definition of COUNT(*) OVER (PARTITION BY hash)
    return f"""
SELECT {id_col}, n_copies,
       CAST(1000000 AS BIGINT) // n_copies AS weight_ppm
FROM (SELECT {id_col},
             COUNT(*) OVER (PARTITION BY md5({text_col})) AS n_copies
      FROM {table})
"""


# ---------------------------------------------------------------------------
# Corpus-vs-corpus (incremental) dedup
# ---------------------------------------------------------------------------

def doc_hashes(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``(_h)`` content-hash rows — the storable exact-dup key table for
    ``dedup_against(old_hashes=...)``: an incremental pipeline appends
    each drop's hashes once and never re-hashes the accumulated
    corpus."""
    return docs.select(content_hash(F.col(text_col)).alias("_h"))


def dedup_against(new_docs: DataFrame, old_docs: DataFrame,
                  text_col: str = "text",
                  id_col: str = "doc_id",
                  verify_threshold: float | None = None,
                  old_hashes: DataFrame | None = None,
                  old_bands: DataFrame | None = None) -> DataFrame:
    """Flag every NEW document against an existing corpus: the
    incremental-crawl pattern (CCNet / RefinedWeb practice — each new
    snapshot is deduplicated against the accumulated corpus, not just
    within itself). Returns ``(doc_id, exact_dup, near_dup, keep)``
    for the new side; ``keep`` = neither an exact copy nor an LSH
    band-candidate near-dup of any old document. ``near_dup`` is
    candidate-level (any shared MinHash band bucket) — the same
    granularity as ``lsh_candidate_pairs``. With ``verify_threshold``
    set, band candidates are confirmed by exact shingle Jaccard >=
    threshold against the SPECIFIC old documents they collided with
    (the ``dedup_corpus`` discipline: an unverified drop permanently
    loses a non-duplicate); the verify join is driven by the candidate
    PAIR set, never the corpus cross product.

    Shape: the OLD side collapses to two distinct key tables (content
    hashes; band buckets) — one groupBy each, partial aggregation
    map-side combines, output bounded by distinct-key count, NEVER a
    broadcast of the corpus. The NEW side joins co-partitioned on the
    same keys (AQE skew-join splits a viral page's hot hash or band).
    The within-corpus twin is ``exact_dedup``/``dedup_components``;
    this is the building block of the incremental build's
    ``dedup_mode="append"`` dedup stage.

    ``old_hashes`` / ``old_bands`` — pre-materialized old-side key
    tables (``doc_hashes(old_docs)`` / ``minhash_bands`` schemas: a
    ``_h`` column; ``(band_idx, band_hash, id)`` rows). When an
    incremental pipeline stores these per increment (the build's
    append-mode dedup does), each new drop costs signature work over
    the DROP only — the accumulated survivors are never re-hashed.
    ``old_docs`` is still consulted for texts in the verified path, but
    only the docs that actually collide (semi-join prune), so the old
    side's per-increment cost is bounded by the collision set.
    """
    h = content_hash(F.col(text_col))
    old_h = ((old_hashes if old_hashes is not None
              else doc_hashes(old_docs, text_col))
             .select("_h").distinct().withColumn("_e", F.lit(1)))
    old_bf_src = (old_bands if old_bands is not None
                  else minhash_bands(old_docs, text_col, id_col))
    old_b = old_bf_src.select("band_idx", "band_hash").distinct()
    flagged = (
        new_docs.select(F.col(id_col), h.alias("_h"))
        .join(old_h, "_h", "left")
        .select(id_col, F.col("_e").isNotNull().alias("exact_dup"))
    )
    if verify_threshold is None:
        near_ids = (
            minhash_bands(new_docs, text_col, id_col)
            .join(old_b, ["band_idx", "band_hash"], "left_semi")
            .select(id_col).distinct()
            .withColumn("_n", F.lit(1))
        )
    else:
        from pii_redactor_spark.operators.cache import registered_persist
        # one signature pass over the drop: its band keys find the
        # candidates, its shingle-hash sets verify them
        new_sigs = registered_persist(signatures(new_docs, text_col, id_col))
        old_bf = old_bf_src.select(
            "band_idx", "band_hash", F.col(id_col).alias("_oid"))
        # read twice (old-side prune, verify join): persisted so the old
        # side's band keys are computed once when they are not stored
        cand = registered_persist(
            _explode_bands(new_sigs, id_col)
            .join(old_bf, ["band_idx", "band_hash"])
            .select(F.col(id_col), "_oid").distinct()
        )
        # only the OLD docs that actually collided need shingle sets —
        # at corpus scale the collision set is tiny vs the survivors
        old_hit = old_docs.join(
            cand.select(F.col("_oid").alias(id_col)).distinct(),
            id_col, "left_semi")
        old_sets = with_shingle_hashes(
            old_hit.select(id_col, text_col), text_col).select(
            F.col(id_col).alias("_oid"), F.col("sh_set").alias("_set_o"))
        near_ids = (
            cand
            .join(new_sigs.select(id_col, F.col("sh_set").alias("_set_n")),
                  id_col)
            .join(old_sets, "_oid")
            .where(_jaccard("_set_n", "_set_o") >= F.lit(verify_threshold))
            .select(id_col).distinct()
            .withColumn("_n", F.lit(1))
        )
    return (
        flagged.join(near_ids, id_col, "left")
        .select(
            id_col,
            "exact_dup",
            F.col("_n").isNotNull().alias("near_dup"),
            (~F.col("exact_dup") & F.col("_n").isNull()).alias("keep"))
    )


def dedup_against_oracle_sql(table: str = "documents",
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             old_pred: str = "doc_id % 2 = 0",
                             new_pred: str = "doc_id % 2 = 1",
                             verify_threshold: float | None = None) -> str:
    old_sub = f"(SELECT * FROM {table} WHERE {old_pred})"
    new_sub = f"(SELECT * FROM {table} WHERE {new_pred})"
    bands_old = minhash_bands_oracle_sql(old_sub, text_col, id_col)
    bands_new = minhash_bands_oracle_sql(new_sub, text_col, id_col)
    words = text_hash.WORDS_SQL.format(t=text_col)
    if verify_threshold is None:
        near = f"""
old_b AS (SELECT DISTINCT band_idx, band_hash FROM ({bands_old})),
new_b AS ({bands_new}),
near AS (
  SELECT DISTINCT n.{id_col}
  FROM new_b n JOIN old_b o
    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash)"""
    else:
        near = f"""
old_bf AS (SELECT band_idx, band_hash, {id_col} AS _oid
           FROM ({bands_old})),
new_b AS ({bands_new}),
cand AS (
  SELECT DISTINCT n.{id_col}, o._oid
  FROM new_b n JOIN old_bf o
    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash),
nsets AS (
  SELECT {id_col} AS sid, list_distinct({_shingles_sql('words')}) AS sset
  FROM (SELECT {id_col}, {words} AS words FROM {table}
        WHERE {new_pred})),
osets AS (
  SELECT {id_col} AS sid, list_distinct({_shingles_sql('words')}) AS sset
  FROM (SELECT {id_col}, {words} AS words FROM {table}
        WHERE {old_pred})),
near AS (
  SELECT DISTINCT c.{id_col}
  FROM cand c
  JOIN nsets a ON c.{id_col} = a.sid
  JOIN osets b ON c._oid = b.sid
  WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sset, b.sset)))
        >= {verify_threshold})"""
    h = f"coalesce(md5(d.{text_col}), '_null_')"   # content_hash
    return f"""
WITH old_h AS (
  SELECT DISTINCT {h} AS _h FROM {table} d WHERE {old_pred}),{near}
SELECT d.{id_col},
       {h} IN (SELECT _h FROM old_h) AS exact_dup,
       d.{id_col} IN (SELECT {id_col} FROM near) AS near_dup,
       NOT ({h} IN (SELECT _h FROM old_h))
       AND NOT (d.{id_col} IN (SELECT {id_col} FROM near)) AS keep
FROM {table} d WHERE {new_pred}
"""
