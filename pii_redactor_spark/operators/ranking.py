"""Scale-safe global ordering primitives (round-2 verdict item 1).

A naive global ``row_number`` — ``Window.orderBy(key)`` with no
``partitionBy`` — plans as ``Exchange SinglePartition`` + full sort: ONE
task sorts the entire corpus, the textbook scale-killer for positional
semantics (the reference mandates them via list slicing,
/root/reference/optimizer.py:80-81 and evaluator.py:37-53). These
primitives produce byte-identical outputs with bounded tasks:

``kth_smallest`` / ``split_by_rank``
    "first n rows in key order" does not need a rank per row — only the
    n-th smallest key. A ``TakeOrderedAndProject`` (distributed partial
    top-n, n rows reduced driver-side) yields the threshold; the split
    itself is then a pure projection — ZERO shuffles in the main plan.

``global_row_number``
    exact global (or per-group) row_number via deterministic range
    buckets: sample the order key once, freeze ~num_buckets boundary
    literals, count rows per (bucket, group) (a tiny aggregate), compute
    cumulative offsets driver-side, then rank locally inside each
    (bucket, group) window and add the broadcast offset. No window
    partition ever exceeds ~corpus/num_buckets rows, and because the
    boundaries are LITERALS the result is deterministic across retries
    and cache eviction (unlike ``spark_partition_id``-based zipWithIndex
    formulations, whose partition ids can change on recomputation).

Preconditions (documented, asserted nowhere — Spark can't see them):

- the full ordering (order_col, *extra_order_cols) must be a total order
  for exact row_number parity (ties at a threshold/bucket boundary are
  kept together here but broken arbitrarily by row_number);
- ``len(partition_cols)`` groups × num_buckets must be driver-small
  (the offsets table is collected). This primitive targets GLOBAL and
  low-cardinality-group ranking; high-cardinality groups don't need it —
  a plain per-group window is already distributed, and hot-group skew is
  the salted-cap pattern (operators/sampling.py), not global ranking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pii_redactor_spark.functions.url_rules import host_of
from pii_redactor_spark.operators.cache import registered_persist

BOUNDARY_SAMPLE_TARGET = 100_000  # keys collected to pick bucket boundaries


def kth_smallest(df: DataFrame, order_col: str, k: int):
    """Value of the k-th smallest ``order_col`` (1-based); ``None`` for
    ``k <= 0`` or an empty input. If ``k >= count`` the max value is
    returned (every row ranks <= k then — the caller's filter keeps all,
    matching ``row_number() <= k`` semantics).

    Plan: TakeOrderedAndProject(k) over the single pruned column — each
    task retains at most k values, the driver reduces k rows. Bounded in
    corpus size; assumes k is split-head-sized (≪ corpus), which is what
    positional slicing is used for here.
    """
    if k <= 0:
        return None
    row = (
        df.select(order_col).orderBy(order_col).limit(k)
        .agg(F.max(order_col).alias("v")).first()
    )
    return row["v"] if row is not None else None


def split_by_rank(df: DataFrame, order_col: str, n: int,
                  labels: tuple[str, str] = ("train", "val"),
                  label_name: str = "part") -> DataFrame:
    """Label the first ``n`` rows in ``order_col`` order ``labels[0]``
    and the rest ``labels[1]`` — identical output to
    ``row_number() OVER (ORDER BY order_col) <= n`` when ``order_col``
    is unique, with NO shuffle in the main plan: the boundary is one
    tiny TakeOrdered job, the split a literal comparison."""
    threshold = kth_smallest(df, order_col, n)
    if threshold is None:
        part = F.lit(labels[1])
    else:
        part = F.when(F.col(order_col) <= F.lit(threshold),
                      F.lit(labels[0])).otherwise(F.lit(labels[1]))
    return df.withColumn(label_name, part)


def _boundaries(df: DataFrame, order_col: str, num_buckets: int,
                seed: int = 42, n_rows: int | None = None) -> list:
    """~``num_buckets - 1`` ascending boundary values of ``order_col``,
    from a driver-collected sample (the same procedure Spark's own
    RangePartitioner runs: count, sample, pick evenly spaced keys).
    ``n_rows`` is ``df``'s row count when the caller knows it; only
    otherwise is ``df`` counted. Boundary QUALITY only affects balance,
    never correctness — the caller ranks within buckets and offsets
    across them."""
    n = df.count() if n_rows is None else n_rows
    if n == 0 or num_buckets <= 1:
        return []
    fraction = min(1.0, BOUNDARY_SAMPLE_TARGET / n)
    sample = [
        r["v"] for r in
        df.select(F.col(order_col).alias("v"))
        .sample(withReplacement=False, fraction=fraction, seed=seed)
        .collect()
    ]
    if not sample:
        return []
    sample.sort()
    step = max(1, len(sample) // num_buckets)
    bounds = sorted({sample[i] for i in range(step, len(sample), step)})
    return bounds[:num_buckets - 1]


def _bucket_expr(order_col: str, bounds: list) -> Column:
    """bucket = number of boundaries strictly below the key (equal keys
    share a bucket, so ties never straddle a boundary)."""
    if not bounds:
        return F.lit(0)
    key = F.col(order_col)
    barr = F.array(*[F.lit(b) for b in bounds])
    return F.size(F.filter(barr, lambda b: b < key))


def global_row_number(df: DataFrame, order_col: str,
                      partition_cols: tuple[str, ...] = (),
                      extra_order_cols: tuple[str, ...] = (),
                      num_buckets: int | None = None,
                      rn_name: str = "rn",
                      seed: int = 42) -> DataFrame:
    """Exact ``row_number() OVER ([PARTITION BY partition_cols] ORDER BY
    order_col, *extra_order_cols)`` with every window partition bounded
    by ~corpus/num_buckets rows. Two tiny driver jobs (boundary sample +
    per-(bucket, group) counts) and ONE bounded shuffle in the main plan
    — never ``Exchange SinglePartition``."""
    spark = df.sparkSession
    if num_buckets is None:
        num_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bounds = _boundaries(df, order_col, num_buckets, seed)
    bucket = _bucket_expr(order_col, bounds)

    pcols = list(partition_cols)
    counts = (
        df.select(bucket.alias("_bucket"), *pcols)
        .groupBy("_bucket", *pcols).count().collect()
    )
    # cumulative offsets per group in bucket order, computed driver-side
    # over |buckets| x |groups| rows (tiny by precondition)
    counts.sort(key=lambda r: (tuple(r[c] for c in pcols), r["_bucket"]))
    offsets, running, cur_group = [], 0, object()
    for r in counts:
        g = tuple(r[c] for c in pcols)
        if g != cur_group:
            cur_group, running = g, 0
        offsets.append((r["_bucket"], *g, running))
        running += r["count"]

    schema_parts = ["_bucket int"] + [
        f"`{c}` {df.schema[c].dataType.simpleString()}" for c in pcols
    ] + ["_off long"]
    off_df = spark.createDataFrame(offsets, ", ".join(schema_parts))

    w = Window.partitionBy("_bucket", *pcols) \
        .orderBy(order_col, *extra_order_cols)
    return (
        df.withColumn("_bucket", bucket)
        .join(F.broadcast(off_df), ["_bucket"] + pcols)
        .withColumn(rn_name, F.row_number().over(w) + F.col("_off"))
        .drop("_bucket", "_off")
    )


HOT_GROUP_THRESHOLD = 100_000  # rows per group above which a plain
                               # window partition is considered skewed


def group_row_number(df: DataFrame, group_col: str, order_col: str,
                     extra_order_cols: tuple[str, ...] = (),
                     hot_threshold: int = HOT_GROUP_THRESHOLD,
                     num_buckets: int | None = None,
                     rn_name: str = "rn",
                     seed: int = 42) -> DataFrame:
    """Per-group ``row_number`` at EXTREME group cardinality with a hot
    head — the regime neither pure strategy survives (round-3 roadmap):

    - ``global_row_number(partition_cols=(group,))`` collects a
      |groups| x |buckets| offsets table — driver-fatal at 10^9 hosts;
    - a plain ``Window.partitionBy(group)`` is fully distributed across
      many groups but puts a hot group (one host = half the crawl) into
      ONE task, and AQE skew-splitting does not apply to windows.

    Hybrid: one exact count aggregate finds the groups above
    ``hot_threshold`` — ONLY those are collected (tiny by the skew
    assumption: at most corpus/threshold of them can exist). Cold groups
    take the plain per-group window (every partition <= threshold rows);
    hot groups take the bucketed two-phase rank (every window partition
    ~group/num_buckets rows, offsets table |hot| x |buckets| — small).
    Output is bit-identical to the single-window formulation provided
    (order_col, *extra_order_cols) is a total order within each group.
    """
    hot_rows = (
        df.groupBy(group_col).count()
        .filter(F.col("count") > hot_threshold)
        .select(group_col).collect()
    )
    hot = [r[group_col] for r in hot_rows]

    w = Window.partitionBy(group_col).orderBy(order_col, *extra_order_cols)
    if not hot:
        return df.withColumn(rn_name, F.row_number().over(w))

    is_hot = F.col(group_col).isin(hot)
    cold_ranked = df.filter(~is_hot).withColumn(
        rn_name, F.row_number().over(w))
    hot_ranked = global_row_number(
        df.filter(is_hot), order_col, partition_cols=(group_col,),
        extra_order_cols=extra_order_cols, num_buckets=num_buckets,
        rn_name=rn_name, seed=seed)
    return cold_ranked.unionByName(hot_ranked)


def hot_hosts(df: DataFrame, url_col: str = "url",
              threshold: int = 10_000) -> list[str]:
    """Hosts (``url_rules.host_of``) with more documents than
    ``threshold``: the skew set, found by one count aggregate whose
    output is collected, as ``group_row_number`` finds its hot
    groups."""
    return [
        r["host"] for r in (
            df.groupBy(host_of(url_col).alias("host")).count()
            .filter(F.col("count") > threshold)
            .collect()
        ) if r["host"] is not None
    ]


def with_salted_host_key(df: DataFrame, url_col: str = "url",
                         hot: list[str] | None = None,
                         salt_k: int = 16,
                         key_col: str = "host_key") -> DataFrame:
    """Skew-salted host key (north rule: salting for skewed hosts).

    Documents from a hot host get ``host#<salt>`` with salt =
    pmod(xxhash64(url), k), splitting one pathological host across k
    shuffle partitions; cold hosts keep their plain host so their
    locality is preserved. Any host-keyed groupBy/join downstream
    aggregates per (host, salt) first and re-merges per host — the
    classic two-phase skew fix, complementing AQE's runtime skew-join
    splitting."""
    host = host_of(url_col)
    salted = F.concat(host, F.lit("#"),
                      F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_k))
                      .cast("string"))
    key = F.when(host.isin(hot), salted).otherwise(host) if hot else host
    return df.withColumn(key_col, key)


def global_prefix_sum(df: DataFrame, order_col: str, value_col: str,
                      extra_order_cols: tuple[str, ...] = (),
                      num_buckets: int | None = None,
                      sum_name: str = "prefix_sum",
                      seed: int = 42,
                      n_rows: int | None = None) -> DataFrame:
    """EXCLUSIVE global running sum of ``value_col`` in (order_col,
    *extra_order_cols) order — ``SUM(value) OVER (ORDER BY ... ROWS
    UNBOUNDED PRECEDING AND 1 PRECEDING)`` without the ``Exchange
    SinglePartition`` that formulation plans as.

    Same two-phase scheme as ``global_row_number``: literal range-bucket
    boundaries from one sample, per-bucket value SUMS collected (one
    tiny aggregate — |buckets| rows), cumulative bucket offsets computed
    driver-side and broadcast, the within-bucket running sum a BOUNDED
    window. Exact for integral ``value_col`` (bigint arithmetic
    end-to-end); the order must be a total order for cross-engine
    determinism. This is the distributed prefix-scan primitive behind
    sequence packing (concat-then-chunk into fixed token budgets).
    ``n_rows``: ``df``'s row count, when the caller already holds it.
    """
    spark = df.sparkSession
    if num_buckets is None:
        num_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bounds = _boundaries(df, order_col, num_buckets, seed, n_rows)
    bucket = _bucket_expr(order_col, bounds)

    sums = (
        df.select(bucket.alias("_bucket"),
                  F.col(value_col).cast("bigint").alias("_v"))
        .groupBy("_bucket").agg(F.sum("_v").alias("s"))
        .collect()
    )
    sums.sort(key=lambda r: r["_bucket"])
    offsets, running = [], 0
    for r in sums:
        offsets.append((r["_bucket"], running))
        # an all-NULL bucket sums to NULL; NULLs contribute 0 to the
        # within-bucket window sum too, so both phases agree
        running += int(r["s"]) if r["s"] is not None else 0
    off_df = spark.createDataFrame(offsets, "_bucket int, _off long")

    w = (Window.partitionBy("_bucket")
         .orderBy(order_col, *extra_order_cols)
         .rowsBetween(Window.unboundedPreceding, -1))
    local = F.coalesce(
        F.sum(F.col(value_col).cast("bigint")).over(w), F.lit(0))
    return (
        df.withColumn("_bucket", bucket)
        .join(F.broadcast(off_df), ["_bucket"])
        .withColumn(sum_name, local + F.col("_off"))
        .drop("_bucket", "_off")
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-then-chunk): assign every document its token
# position in the concatenated stream and the fixed-size training
# sequence(s) it lands in — the standard pretraining batch-prep step,
# riding global_prefix_sum's bounded prefix scan.
# ---------------------------------------------------------------------------
SEQ_TOKENS = 2048
# Whitespace spelled as an explicit char class: Java's \s includes
# \x0B (VT) but RE2's does not — the one predefined-class divergence
# between the engines' regex dialects (round-3 ADVICE). The same
# pattern text works verbatim as a DuckDB literal: SQL strings do not
# process backslashes, so '\t' reaches RE2 as the escape itself.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"


def regex_token_count(text: Column) -> Column:
    """Number of ``BPE_RE`` pre-tokens of ``text``."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_RE), 0))


def regex_token_count_sql(text: str) -> str:
    """DuckDB twin of ``regex_token_count``."""
    return f"len(regexp_extract_all({text}, '{BPE_RE}'))"


def pack(toks: DataFrame, n_rows: int | None = None) -> DataFrame:
    """(doc_id, n_tokens, start_off, seq_idx, n_seqs) from (doc_id,
    n_tokens): ``start_off`` is the document's offset in the doc_id-ordered
    token stream, ``seq_idx`` the SEQ_TOKENS-sized sequence it starts
    in, ``n_seqs`` how many sequences it spans (0 for no tokens).
    ``toks`` is persisted: its tokenization is the dominant cost and
    would otherwise run twice (the prefix sum's bucket-sums job + the
    final plan); ``release_caches`` frees it. ``n_rows``: ``toks``'s row
    count when the caller knows it (spares the prefix sum a count)."""
    pre = global_prefix_sum(registered_persist(toks), "doc_id", "n_tokens",
                            sum_name="start_off", n_rows=n_rows)
    b = SEQ_TOKENS
    return pre.select(
        "doc_id", "n_tokens", "start_off",
        F.expr(f"start_off div {b}").alias("seq_idx"),
        F.when(F.col("n_tokens") > 0,
               F.expr(f"(start_off + n_tokens - 1) div {b}")
               - F.expr(f"start_off div {b}") + F.lit(1))
        .otherwise(F.lit(0)).cast("bigint").alias("n_seqs"),
    )


def pack_oracle_sql(tokens_sql: str) -> str:
    """DuckDB twin of ``pack`` over the query ``tokens_sql`` giving
    (doc_id, n_tokens): the prefix sum is the single-window form."""
    b = SEQ_TOKENS
    return f"""
WITH pre AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_off
  FROM ({tokens_sql}))
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // {b} AS BIGINT) AS seq_idx,
       CAST(CASE WHEN n_tokens > 0 THEN
         (start_off + n_tokens - 1) // {b} - start_off // {b} + 1
       ELSE 0 END AS BIGINT) AS n_seqs
FROM pre"""


def pack_rows(packed: DataFrame) -> DataFrame:
    """The writer rows of ``pack``'s output: one (seq_idx, doc_id,
    slice_start, slice_len) row per sequence a document spans, the slice
    offsets within the document's token stream. A bounded generate
    (explode_outer + null filter, per the InferFiltersFromGenerate rule)
    and integer arithmetic; every sequence but the last holds exactly
    SEQ_TOKENS tokens."""
    b = SEQ_TOKENS
    return (
        packed.where(F.col("n_tokens") > 0)
        .withColumn("_seqs", F.sequence(
            F.expr(f"start_off div {b}"),
            F.expr(f"(start_off + n_tokens - 1) div {b}")))
        .select("doc_id", "n_tokens", "start_off",
                F.explode_outer("_seqs").alias("seq_idx"))
        .where(F.col("seq_idx").isNotNull())
        .select(
            "seq_idx", "doc_id",
            F.greatest(F.expr(f"seq_idx * {b} - start_off"),
                       F.lit(0).cast("bigint")).alias("slice_start"),
            (F.least(F.expr(f"(seq_idx + 1) * {b}"),
                     F.col("start_off") + F.col("n_tokens"))
             - F.greatest(F.expr(f"seq_idx * {b}"), F.col("start_off")))
            .cast("bigint").alias("slice_len"),
        )
    )


def pack_rows_oracle_sql(tokens_sql: str) -> str:
    """DuckDB twin of ``pack_rows(pack(toks))`` over the query
    ``tokens_sql`` giving (doc_id, n_tokens)."""
    b = SEQ_TOKENS
    return f"""
WITH spans AS (
  SELECT p.doc_id, p.n_tokens, p.start_off,
         unnest(range(p.seq_idx, p.seq_idx + p.n_seqs)) AS seq_idx
  FROM ({pack_oracle_sql(tokens_sql)}) p WHERE p.n_tokens > 0)
SELECT seq_idx, doc_id,
       CAST(greatest(seq_idx * {b} - start_off, 0) AS BIGINT) AS slice_start,
       CAST(least((seq_idx + 1) * {b}, start_off + n_tokens)
         - greatest(seq_idx * {b}, start_off) AS BIGINT) AS slice_len
FROM spans"""
