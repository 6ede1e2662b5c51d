"""Per-host quota sampling (crawl politeness / anti-domination cap).

A 10^12-page crawl is dominated by a handful of hosts; training corpora
cap documents per host so no domain overwhelms the mixture (C4 and
derivatives do this at ingest). Operator: keep at most ``max_per_host``
documents per host, chosen by a *deterministic* pseudo-random priority —
an md5-fold of (seed, url) — so the sample is reproducible across runs
and engines (no rand()).

Plan shape: TWO-PHASE salted cap. A single ``Window.partitionBy(host)``
would put a hot host (by construction ~50% of the crawl) into ONE window
partition — AQE's skew splitting does not apply to window partitions, so
at 10^12 pages one task would sort half the corpus. Instead:

  phase 1 — row_number over (host, salt) with salt = priority % k:
            every host's rows spread over k window partitions; keep the
            top ``max_per_host`` of each salt bucket (a superset of the
            global per-host top, since every global-top row is also in
            the top of its own bucket);
  phase 2 — row_number over host on the <= k * max_per_host survivors
            per host: the hot partition is now bounded by
            max(cold-host size, k * max_per_host) regardless of corpus
            size.

Both phases order by the same md5 priority, so the result — and the
DuckDB oracle, which keeps the one-window formulation — is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pii_redactor_spark.functions import text_hash
from pii_redactor_spark.functions.url_rules import host_of, host_sql

CAP_SALT_K = 16  # phase-1 fan-out; hot-partition bound = k * max_per_host


def priority_expr(url: Column, seed: int) -> Column:
    """Deterministic 32-bit priority: first 8 hex chars of
    md5('<seed>:' || url) — reproducible in any engine."""
    return text_hash.md5_int(F.concat(F.lit(f"{seed}:"), url), 8)


def cap_per_host(df: DataFrame, url_col: str = "url",
                 max_per_host: int = 100, seed: int = 42,
                 salt_k: int = CAP_SALT_K,
                 tiebreak_col: str | None = None) -> DataFrame:
    """Keep at most ``max_per_host`` docs per host (deterministic).

    Two-phase: per-(host, salt) pre-cap bounds every window partition,
    then the per-host window ranks only the <= salt_k * max_per_host
    survivors. Selection is identical to a single per-host window
    ordered by (priority, url[, tiebreak]) PROVIDED that ordering is a
    total order — the phase-1/phase-2 equivalence proof needs it (each
    global top-``max_per_host`` row of a host is within the top
    ``max_per_host`` of its own salt bucket, so phase 1 never drops a
    winner; with ties, row_number tie-breaking is physical-order
    dependent and the two plans may keep different physical rows).
    Pass ``tiebreak_col`` (e.g. a unique doc id) whenever ``url_col``
    can repeat within a host (round-2 advice); with unique urls the
    default ordering is already total."""
    host = host_of(url_col)
    order = ["priority", url_col] + (
        [tiebreak_col] if tiebreak_col is not None else [])
    w1 = Window.partitionBy("host", "_salt").orderBy(*order)
    w2 = Window.partitionBy("host").orderBy(*order)
    return (
        df
        .withColumn("host", host)
        .withColumn("priority", priority_expr(F.col(url_col), seed))
        .withColumn("_salt", F.pmod(F.col("priority"), F.lit(salt_k)))
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= max_per_host)
        .withColumn("host_rank", F.row_number().over(w2))
        .filter(F.col("host_rank") <= max_per_host)
        .drop("priority", "_salt", "_r1", "host_rank")
    )


SPLIT_SALT = "split:"
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10


def hash_split(df: DataFrame, id_col: str = "doc_id",
               salt: str = SPLIT_SALT,
               train_pct: int = SPLIT_TRAIN_PCT,
               val_pct: int = SPLIT_VAL_PCT,
               part_col: str = "part") -> DataFrame:
    """Deterministic train/val/test split by id-hash percentile — the
    standard NON-positional corpus splitter (contrast O30's positional
    slice, which the reference mandates for its devset;
    membership here is a pure projection: stable under reordering,
    repartitioning, and corpus growth, and needs no rank at all).
    md5-fold so the DuckDB oracle reproduces the assignment."""
    h = F.pmod(text_hash.md5_int(
        F.concat(F.lit(salt), F.col(id_col).cast("string")), 8), F.lit(100))
    return df.withColumn(
        part_col,
        F.when(h < train_pct, F.lit("train"))
         .when(h < train_pct + val_pct, F.lit("val"))
         .otherwise(F.lit("test")))


def hash_split_sql(table: str, id_col: str = "doc_id",
                   salt: str = SPLIT_SALT,
                   train_pct: int = SPLIT_TRAIN_PCT,
                   val_pct: int = SPLIT_VAL_PCT,
                   part_col: str = "part") -> str:
    """DuckDB twin of ``hash_split``: every column of ``table`` plus
    ``part_col``."""
    h = text_hash.md5_int_sql(f"'{salt}' || {id_col}", 8) + " % 100"
    return f"""SELECT *,
  CASE WHEN {h} < {train_pct} THEN 'train'
       WHEN {h} < {train_pct + val_pct} THEN 'val'
       ELSE 'test' END AS {part_col}
FROM {table}"""


MIX_RES = 1_000_000  # fractional-keep resolution (md5-percentile grid)


def domain_mix(df: DataFrame, weights: dict[str, float],
               group_col: str = "lang", id_col: str = "doc_id",
               salt: str = "mix:", default_weight: float = 1.0,
               copy_col: str = "copy") -> DataFrame:
    """Deterministic domain/language mixing with fractional epochs —
    the training-data resampling step (GPT-3 / The Pile / DoReMi style
    domain weights). ``weights[g] = w`` means every doc of group ``g``
    is emitted ``floor(w)`` times, plus one more with probability
    ``w - floor(w)`` decided by an md5 fold of (salt, id) — so 0.5
    downsamples by half, 2.5 emits 2 or 3 copies. Reproducible in any
    engine (no rand()), stable under reordering and corpus growth.

    Plan shape: pure projection + one generate (explode) whose array is
    at most ``ceil(max(w))`` elements — no shuffle, no driver data.
    Output rows carry ``copy_col`` (1-based epoch index) so downstream
    shuffles can decorrelate copies. ``sequence`` is built only for
    n >= 1 (Spark's ``sequence(1, 0)`` counts DOWN — [1, 0]); the
    explode is ``explode_outer`` + null-filter per the
    InferFiltersFromGenerate double-eval rule (CLAUDE.md)."""
    w_expr = F.lit(float(default_weight))
    for g, w in sorted(weights.items()):
        w_expr = F.when(F.col(group_col) == g, F.lit(float(w))) \
            .otherwise(w_expr)
    fold = F.pmod(text_hash.md5_int(
        F.concat(F.lit(salt), F.col(id_col).cast("string")), 8),
        F.lit(MIX_RES))
    n_copies = (
        F.floor(w_expr).cast("int")
        + (fold < (w_expr - F.floor(w_expr)) * MIX_RES).cast("int")
    )
    copies = F.when(n_copies >= 1,
                    F.sequence(F.lit(1), n_copies)) \
        .otherwise(F.array().cast("array<int>"))
    return (
        df.withColumn("_copies", copies)
        .withColumn(copy_col, F.explode_outer("_copies"))
        .where(F.col(copy_col).isNotNull())
        .drop("_copies")
    )


def domain_mix_oracle_sql(weights: dict[str, float],
                          table: str = "documents",
                          group_col: str = "lang",
                          id_col: str = "doc_id",
                          salt: str = "mix:",
                          default_weight: float = 1.0) -> str:
    """DuckDB twin of ``domain_mix``: same md5 fold, same fractional
    threshold. Weights go through CAST(... AS DOUBLE) so DuckDB's
    DECIMAL literals don't out-precision Spark's double arithmetic at
    the keep boundary (use binary-exact fractions — .5/.25/.125 steps —
    for engine-proof determinism either way)."""
    fold = text_hash.md5_int_sql(f"'{salt}' || {id_col}", 8)
    branches = " ".join(
        f"WHEN '{g}' THEN CAST({float(w)!r} AS DOUBLE)"
        for g, w in sorted(weights.items()))
    return f"""
WITH base AS (
  SELECT {id_col}, {group_col},
         CASE {group_col} {branches}
              ELSE CAST({float(default_weight)!r} AS DOUBLE) END AS w,
         {fold} % {MIX_RES} AS f
  FROM {table}),
counted AS (
  SELECT {id_col}, {group_col},
         CAST(floor(w) AS INT)
           + CASE WHEN f < (w - floor(w)) * {MIX_RES} THEN 1 ELSE 0 END
           AS n_copies
  FROM base)
SELECT {id_col}, {group_col},
       CAST(unnest(range(1, n_copies + 1)) AS INT) AS copy
FROM counted WHERE n_copies >= 1
"""


def cap_per_host_oracle_sql(urls_cte: str, max_per_host: int = 100,
                            seed: int = 42,
                            tiebreak_col: str | None = None) -> str:
    """DuckDB twin over a CTE producing (doc_id, url) — single-window
    formulation; ``tiebreak_col`` mirrors the Spark side's total-order
    tie-breaker."""
    fold = text_hash.md5_int_sql(f"'{seed}:' || url", 8)
    tb = f", {tiebreak_col}" if tiebreak_col is not None else ""
    return f"""
WITH urls AS ({urls_cte}),
ranked AS (
  SELECT doc_id, url, host,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY {fold}, url{tb})
           AS host_rank
  FROM (SELECT doc_id, url, {host_sql('url')} AS host FROM urls))
SELECT doc_id, url, host FROM ranked WHERE host_rank <= {max_per_host}
"""
