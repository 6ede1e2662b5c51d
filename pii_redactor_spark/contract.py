"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

Each registered query implements an operator from SURVEY.md §2 over the
driver testdata tables; the paired ANSI-SQL string is run by DuckDB on the
same parquet for row-count + schema + value-hash comparison. Column names
are aliased identically on both sides. Float aggregates go through
DECIMAL(18,6) so partial-aggregation order (Spark shuffles) cannot change
low-order bits vs the single-threaded oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pii_redactor_spark.functions.rules import (
    QualityThresholds, keep_decision, with_quality)
from pii_redactor_spark.operators.metrics import with_hybrid_score
from pii_redactor_spark.plans.pipeline import run_pipeline
from pii_redactor_spark.session import ship_package

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}

# Stand-in for the reference's FEWSHOT_ROW_IDS exclusion set
# (reference: examples.py:5-31, optimizer.py:46-47): the driver corpus keys
# are integers, so the anti-join key set is the first 25 doc ids.
FEWSHOT_DOC_IDS = list(range(25))


def register(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ship_package(spark)  # executors need the package importable
            return fn(spark, sf_dir)
        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# O8 — language equality filter (reference: optimizer.py:43).
# Catalyst pushes the predicate into the parquet scan.
# ---------------------------------------------------------------------------
@register(
    "q_lang_filter",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents WHERE lang = 'en'
    """,
)
def q_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# O9/O17 — few-shot exclusion as a broadcast left-anti join
# (reference: optimizer.py:46-47 over examples.py:5-31).
# ---------------------------------------------------------------------------
@register(
    "q_fewshot_anti",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE doc_id NOT IN ({', '.join(map(str, FEWSHOT_DOC_IDS))})
    """,
)
def q_fewshot_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    excluded = spark.createDataFrame(
        [(i,) for i in FEWSHOT_DOC_IDS], "doc_id long")
    return (
        docs.join(F.broadcast(excluded), "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
    )


# ---------------------------------------------------------------------------
# O28/O29 — deterministic offset+limit slice (reference: evaluator.py:50-53);
# order pinned by doc_id since Spark has no implicit row order (SURVEY §7.6).
# ---------------------------------------------------------------------------
@register(
    "q_slice_offset",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents ORDER BY doc_id OFFSET 100 LIMIT 50
    """,
)
def q_slice_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .offset(100).limit(50)
        .select("doc_id", "lang", "n_chars")
    )


# ---------------------------------------------------------------------------
# Top-k (TakeOrderedAndProject): longest documents (SURVEY §2.6 bench note).
# ---------------------------------------------------------------------------
@register(
    "q_topk_longest",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 20
    """,
)
def q_topk_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "lang", "n_chars")
    )


# ---------------------------------------------------------------------------
# O20/O24 — counts + mean over groups (reference: optimizer.py:44-52,
# evaluator.py:95-96) as a partial+final hash aggregation.
# ---------------------------------------------------------------------------
@register(
    "q_lang_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS doc_count,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(ROUND(AVG(CAST(n_chars AS DECIMAL(18,6))), 4) AS DOUBLE) AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.round(F.avg(F.col("n_chars").cast("decimal(18,6)")), 4)
             .cast("double").alias("avg_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Batch time-window aggregation over the events table (SURVEY §7.5) —
# tumbling 1-hour windows via date_trunc, exact decimal sums.
# ---------------------------------------------------------------------------
@register(
    "q_events_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
             .cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q1-style big aggregation over lineitem (pricing summary): the
# canonical partial+final hash-agg over the largest fact table; decimal
# sums so shuffle order cannot perturb the hash.
# ---------------------------------------------------------------------------
@register(
    "q_lineitem_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY 1, 2
    """,
)
def q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
             .cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2)
             .cast("double").alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")
                          * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))), 2)
             .cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# JSON props extraction over events (SURVEY §2.8: from_json exercised on
# the driver's stream table) + per-user sessionization via lag/cumsum —
# the standard gaps-and-islands window pattern (30-minute idle gap).
# ---------------------------------------------------------------------------
@register(
    "q_events_props_json",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("j", F.from_json("props", "k BIGINT"))
        .groupBy("event_type")
        .agg(F.sum(F.col("j.k")).cast("bigint").alias("k_sum"),
             F.count("*").alias("n"))
    )


@register(
    "q_events_sessions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered)
    SELECT user_id,
           CAST(COUNT(DISTINCT session_no) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM sessions GROUP BY 1
    """,
)
def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp(F.col("ts").cast("timestamp"))
               - F.unix_timestamp(F.lag("ts").over(w).cast("timestamp"))
               > 30 * 60),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = ordered.withColumn(
        "session_no", F.sum("new_session").over(wcum))
    return (
        sessions.groupBy("user_id")
        .agg(F.countDistinct("session_no").cast("bigint").alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# O14/O21-O23/O27 — the hybrid PII metric + severity, evaluated on a literal
# gold/pred pair table (reference: optimizer.py:86-139, truth table from
# tests/unit/test_optimizer.py:27-113). Both sides compute multiset label
# intersection; the oracle does it relationally (unnest + equi-join + least).
# ---------------------------------------------------------------------------
METRIC_PAIRS: list[tuple[int, str, str]] = [
    (0, "Call [GIVENNAME1] at [TEL].", "Call [GIVENNAME1] at [TEL]."),
    (1, "Hello world.", "Hello world."),
    (2, "Call [GIVENNAME1] at [TEL].", "Call [GIVENNAME1] at 555-1234."),
    (3, "Call [GIVENNAME1] at home.", "Call [GIVENNAME1] at [TEL]."),
    (4, "ID: [PASSPORT]", "ID: [IDCARD]"),
    (5, "Call [GIVENNAME1] at [TEL].", "Call John at 555-1234."),
    (6, "[TEL]", "555-1234"),
    (7, "555-1234", "[TEL]"),
    (8, "[TEL] and [TEL]", "[TEL]"),
    (9, "[GIVENNAME1] [LASTNAME1] [TEL]", "[GIVENNAME1] [IDCARD] [EMAIL]"),
    (10, "[GIVENNAME1] [LASTNAME1] [TEL] [EMAIL]",
     "[GIVENNAME1] [IDCARD] [TEL] [IP] [USERNAME]"),
    (11, "Call [GIVENNAME1]", "  Call [GIVENNAME1]  "),
]


def _pairs_values_sql() -> str:
    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"
    return ", ".join(f"({i}, {q(g)}, {q(p)})" for i, g, p in METRIC_PAIRS)


_METRIC_BASE_SQL = f"""
WITH pairs(id, gold, pred) AS (VALUES {_pairs_values_sql()}),
lab AS (
  SELECT id,
         regexp_extract_all(trim(gold), '\\[([A-Z]+\\d*)\\]', 1) AS gl,
         regexp_extract_all(trim(pred), '\\[([A-Z]+\\d*)\\]', 1) AS pl,
         trim(gold) = trim(pred) AS texts_equal
  FROM pairs),
g AS (SELECT id, unnest(gl) AS label FROM lab),
gc AS (SELECT id, label, COUNT(*) AS cg FROM g GROUP BY 1, 2),
p AS (SELECT id, unnest(pl) AS label FROM lab),
pc AS (SELECT id, label, COUNT(*) AS cp FROM p GROUP BY 1, 2),
inter AS (
  SELECT gc.id, SUM(LEAST(cg, cp)) AS nc
  FROM gc JOIN pc ON gc.id = pc.id AND gc.label = pc.label GROUP BY 1),
base AS (
  SELECT lab.id, len(gl) AS tg, len(pl) AS tp, texts_equal,
         COALESCE(inter.nc, 0) AS nc,
         LEAST(len(gl), len(pl)) AS detected
  FROM lab LEFT JOIN inter ON lab.id = inter.id),
scored AS (
  SELECT id,
    CASE WHEN tg = 0 THEN 1.0
         WHEN tp = 0 THEN 0.0
         ELSE CAST(detected AS DOUBLE) / tg END AS detection_recall,
    CASE WHEN tg = 0 THEN 1.0
         WHEN tp = 0 THEN 0.0
         WHEN detected > 0 THEN CAST(nc AS DOUBLE) / detected
         ELSE 0.0 END AS classification_acc,
    CASE WHEN tg = 0 OR tp = 0 THEN 0 ELSE nc END AS num_correct,
    CASE WHEN detected < tg THEN 'CRITICAL'
         WHEN detected > 0 AND (CASE WHEN tg = 0 OR tp = 0 THEN 0 ELSE nc END) < detected THEN 'minor'
         WHEN tp > tg THEN 'note'
         ELSE 'correct' END AS severity
  FROM base)
SELECT id, detection_recall, classification_acc,
       0.75 * detection_recall + 0.25 * classification_acc AS hybrid_score,
       CAST(num_correct AS INT) AS num_correct, severity
FROM scored
"""


def _metric_pairs_df(spark: SparkSession) -> DataFrame:
    df = spark.createDataFrame(METRIC_PAIRS, "id int, gold string, pred string")
    return with_hybrid_score(df).select(
        "id", "detection_recall", "classification_acc", "hybrid_score",
        F.col("num_correct").cast("int").alias("num_correct"), "severity",
    )


@register("q_hybrid_score", oracle=_METRIC_BASE_SQL)
def q_hybrid_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _metric_pairs_df(spark)


@register(
    "q_severity_hist",
    oracle=f"SELECT severity, COUNT(*) AS n FROM ({_METRIC_BASE_SQL}) GROUP BY 1",
)
def q_severity_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O27 — corpus-level severity histogram
    return _metric_pairs_df(spark).groupBy("severity").agg(F.count("*").alias("n"))


@register(
    "q_avg_score",
    oracle=f"""
    SELECT CAST(ROUND(CAST(SUM(CAST(hybrid_score AS DECIMAL(28,12))) AS DOUBLE)
                      / COUNT(*), 6) AS DOUBLE) AS avg_score,
           COUNT(*) AS n_examples
    FROM ({_METRIC_BASE_SQL})
    """,
)
def q_avg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O24 — mean metric over the devset (reference: evaluator.py:88-96)
    df = _metric_pairs_df(spark)
    return df.agg(
        F.round(
            F.sum(F.col("hybrid_score").cast("decimal(28,12)")).cast("double")
            / F.count("*"), 6,
        ).cast("double").alias("avg_score"),
        F.count("*").alias("n_examples"),
    )


@register(
    "q_token_f1",
    oracle=f"""
    WITH pairs(id, gold, pred) AS (VALUES {_pairs_values_sql()}),
    toks AS (
      SELECT id,
             string_split_regex(trim(gold), '\\s+') AS gt,
             string_split_regex(trim(pred), '\\s+') AS pt
      FROM pairs),
    gc AS (SELECT id, tok, COUNT(*) AS cg
           FROM (SELECT id, unnest(gt) AS tok FROM toks) GROUP BY 1, 2),
    pc AS (SELECT id, tok, COUNT(*) AS cp
           FROM (SELECT id, unnest(pt) AS tok FROM toks) GROUP BY 1, 2),
    inter AS (
      SELECT gc.id, SUM(LEAST(cg, cp)) AS common
      FROM gc JOIN pc ON gc.id = pc.id AND gc.tok = pc.tok GROUP BY 1),
    f AS (
      SELECT toks.id,
        CASE WHEN len(pt) > 0
             THEN CAST(COALESCE(inter.common, 0) AS DOUBLE) / len(pt)
             ELSE 0.0 END AS p,
        CASE WHEN len(gt) > 0
             THEN CAST(COALESCE(inter.common, 0) AS DOUBLE) / len(gt)
             ELSE 0.0 END AS r
      FROM toks LEFT JOIN inter ON toks.id = inter.id)
    SELECT id, CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END
               AS token_f1
    FROM f
    """,
)
def q_token_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O16 — token-multiset F1 diagnostic (reference: optimizer.py:12,208)
    from pii_redactor_spark.operators.metrics import token_f1
    df = spark.createDataFrame(METRIC_PAIRS, "id int, gold string, pred string")
    return df.select("id", token_f1("gold", "pred").alias("token_f1"))


# ---------------------------------------------------------------------------
# North-star quality rules over the documents corpus — pure Column
# expressions (functions/rules.py) vs a relational DuckDB re-derivation.
# ---------------------------------------------------------------------------
_STOPWORD_SQL_LIST = (
    "['the','be','to','of','and','a','in','that','have','i',"
    "'it','for','not','on','with','he','as','you','do','at']"
)

# Hashed n-grams (round 3): the Spark side combines per-word 60-bit md5
# folds with position rotations (functions/rules.py hashed_ngrams_col);
# the oracle reproduces the exact same integer arithmetic, so the ratio
# values are bit-identical in both engines.
_WHASH_FOLD_SQL = (
    "list_sum(list_transform(range(15), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(w), CAST(i+1 AS INT), 1)) - 1 AS BIGINT) "
    "* CAST(power(16, 14 - i) AS BIGINT)))"
)


def _rot60_sql(h: str, s: int) -> str:
    if s == 0:
        return h
    mask = (1 << s) - 1
    return f"(({h} >> {s}) | (({h} & {mask}) << {60 - s}))"


def _hashed_ngrams_sql(n: int) -> str:
    terms = [_rot60_sql(f"whashes[CAST(i+{k}+1 AS INT)]", (7 * k) % 60)
             for k in range(n)]
    expr = terms[0]
    for t in terms[1:]:
        expr = f"xor({expr}, {t})"
    return (f"CASE WHEN len(whashes) >= {n} THEN "
            f"list_transform(range(len(whashes) - {n} + 1), i -> {expr}) "
            f"ELSE CAST([] AS BIGINT[]) END")


_QUALITY_BASE_SQL = f"""
WITH base AS (
  SELECT doc_id, text, words, lines,
         list_transform(words, w -> {_WHASH_FOLD_SQL}) AS whashes
  FROM (SELECT doc_id, text,
          list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '') AS words,
          list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
        FROM documents)),
stats AS (
  SELECT doc_id,
    len(words) AS n_words,
    CASE WHEN len(words) > 0
         THEN CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE) / len(words)
         ELSE 0.0 END AS mean_word_len,
    CASE WHEN len(words) > 0
         THEN CAST(len(list_filter(words, w -> list_contains({_STOPWORD_SQL_LIST}, lower(w)))) AS DOUBLE) / len(words)
         ELSE 0.0 END AS stopword_ratio,
    CASE WHEN len(words) > 0
         THEN CAST((length(text) - length(replace(text, '#', '')))
                 + (length(text) - length(replace(text, '…', ''))) AS DOUBLE) / len(words)
         ELSE 0.0 END AS symbol_word_ratio,
    CASE WHEN len(words) > 0
         THEN CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(words)
         ELSE 0.0 END AS alpha_word_ratio,
    1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / GREATEST(len(lines), 1) AS dup_line_ratio,
    -- the all-bigrams-distinct shortcut mirrors the Spark branch
    -- structure (functions/rules.py quality_columns) so results stay
    -- bit-identical even under 60-bit n-gram hash collisions
    CASE WHEN len(words) > 1 THEN
      (CASE WHEN len(list_distinct(bigrams)) = len(bigrams) THEN 1.0 ELSE
        CAST(list_max(list_transform(
               list_distinct(bigrams),
               b -> len(list_filter(bigrams, x -> x = b)))) AS DOUBLE) END)
        / (len(words) - 1)
      ELSE 0.0 END AS top_bigram_ratio,
    CASE WHEN GREATEST(len(words) - 2, 0) > 0 THEN
      (CASE WHEN len(list_distinct(bigrams)) = len(bigrams) THEN 1.0 ELSE
        CAST(list_max(list_transform(
               list_distinct(trigrams),
               b -> len(list_filter(trigrams, x -> x = b)))) AS DOUBLE) END)
        / (len(words) - 2)
      ELSE 0.0 END AS top_trigram_ratio,
    CASE WHEN GREATEST(len(words) - 3, 0) > 0 THEN
      (CASE WHEN len(list_distinct(bigrams)) = len(bigrams) THEN 1.0 ELSE
        CAST(list_max(list_transform(
               list_distinct(quadgrams),
               b -> len(list_filter(quadgrams, x -> x = b)))) AS DOUBLE) END)
        / (len(words) - 3)
      ELSE 0.0 END AS top_quadgram_ratio,
    CASE WHEN len(list_distinct(bigrams)) = len(bigrams)
              OR GREATEST(len(words) - 4, 0) = 0 THEN 0.0 ELSE
      1.0 - CAST(len(list_distinct(fivegrams)) AS DOUBLE)
            / (len(words) - 4)
      END AS dup_5gram_ratio
  FROM (SELECT *,
          {_hashed_ngrams_sql(2)} AS bigrams,
          {_hashed_ngrams_sql(3)} AS trigrams,
          {_hashed_ngrams_sql(4)} AS quadgrams,
          {_hashed_ngrams_sql(5)} AS fivegrams
        FROM base))
SELECT * FROM stats
"""


@register("q_quality_stats", oracle=_QUALITY_BASE_SQL)
def q_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = with_quality(_t(spark, sf_dir, "documents"), "text")
    return df.select(
        "doc_id", "n_words", "mean_word_len", "stopword_ratio",
        "symbol_word_ratio", "alpha_word_ratio", "dup_line_ratio",
        "top_bigram_ratio", "top_trigram_ratio", "top_quadgram_ratio",
        "dup_5gram_ratio",
    )


# the default-thresholds rule gate as one boolean SQL expression —
# shared by q_quality_keep and q_datacard (a stale duplicate would
# silently break whichever oracle wasn't updated)
_RULES_KEEP_SQL = """(n_words >= 5 AND n_words <= 100000
       AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
       AND symbol_word_ratio <= 0.1
       AND alpha_word_ratio >= 0.7
       AND stopword_ratio >= 0.02
       AND dup_line_ratio <= 0.5
       AND top_bigram_ratio <= 0.25
       AND top_trigram_ratio <= 0.20
       AND top_quadgram_ratio <= 0.18
       AND dup_5gram_ratio <= 0.30)"""


@register(
    "q_quality_keep",
    oracle=f"""
    SELECT doc_id,
      {_RULES_KEEP_SQL} AS keep,
      CAST((CASE WHEN n_words < 5 THEN 1 ELSE 0 END)
         + (CASE WHEN n_words > 100000 THEN 1 ELSE 0 END)
         + (CASE WHEN mean_word_len < 2.0 OR mean_word_len > 12.0 THEN 1 ELSE 0 END)
         + (CASE WHEN symbol_word_ratio > 0.1 THEN 1 ELSE 0 END)
         + (CASE WHEN alpha_word_ratio < 0.7 THEN 1 ELSE 0 END)
         + (CASE WHEN stopword_ratio < 0.02 THEN 1 ELSE 0 END)
         + (CASE WHEN dup_line_ratio > 0.5 THEN 1 ELSE 0 END)
         + (CASE WHEN top_bigram_ratio > 0.25 THEN 1 ELSE 0 END)
         + (CASE WHEN top_trigram_ratio > 0.20 THEN 1 ELSE 0 END)
         + (CASE WHEN top_quadgram_ratio > 0.18 THEN 1 ELSE 0 END)
         + (CASE WHEN dup_5gram_ratio > 0.30 THEN 1 ELSE 0 END) AS INT) AS n_reasons
    FROM ({_QUALITY_BASE_SQL})
    """,
)
def q_quality_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rule-only keep/drop (kernel-gated variants are rows-only checks below)
    df = with_quality(_t(spark, sf_dir, "documents"), "text",
                      QualityThresholds())
    return df.select(
        "doc_id", "keep",
        F.size("reasons").cast("int").alias("n_reasons"),
    )


# ---------------------------------------------------------------------------
# Common-Crawl-shaped corpus (input_hint: url, warc_ts, html:binary, text,
# lang; sources/corpus.py): per-url byte-identity of html→extracted text.
# html synthesis + xxhash64 timestamps are not DuckDB-reproducible →
# rows-only check; byte-identity is asserted by the query itself
# (match=true for every row) and in test_corpus.py.
# ---------------------------------------------------------------------------
_FOLD8_SQL = (
    "list_sum(list_transform(range(8), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5('{salt}' || doc_id), "
    "CAST(i+1 AS INT), 1)) - 1 AS BIGINT) * CAST(power(16, 7 - i) AS BIGINT)))"
)


@register(
    "q_corpus_daily",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id,
        CASE WHEN {_FOLD8_SQL.format(salt='host:')} % 2 = 0
             THEN 'bighost.example'
             ELSE 'site' || lpad(CAST({_FOLD8_SQL.format(salt='host:')} % 20 AS VARCHAR), 2, '0') || '.example'
        END AS host,
        to_timestamp(1700000000 + {_FOLD8_SQL.format(salt='ts:')} % 2592000) AS warc_ts
      FROM documents)
    SELECT CAST(date_trunc('day', warc_ts) AS DATE) AS crawl_day,
           host,
           COUNT(*) AS n_pages
    FROM corpus
    GROUP BY 1, 2
    """,
)
def q_corpus_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-day per-host page counts over the Common-Crawl-shaped corpus —
    # the partition layout (crawl day x host bucket) a real crawl table
    # prunes on. warc_ts/host derivations are md5-folds shared with the
    # oracle bit-for-bit (sources/corpus.py).
    from pii_redactor_spark.sources.corpus import from_documents
    corpus = from_documents(_t(spark, sf_dir, "documents"))
    return (
        corpus
        .groupBy(
            F.date_trunc("day", "warc_ts").cast("date").alias("crawl_day"),
            F.parse_url("url", F.lit("HOST")).alias("host"),
        )
        .agg(F.count("*").alias("n_pages"))
    )


# html synthesis runs in a pandas UDF, but its output is md5/template-
# reproducible, so the roundtrip check IS oracle-gated on scalars:
# n_matched asserts byte-identical extraction per url (north rule
# invariant) and sum_html_bytes pins the synthesized payload size
# (fixed 151-byte template + url bytes + entity-escaped text bytes).
_WRAP_HTML_FIXED_BYTES = 151  # len(wrap_html('', '')) — pinned in test_corpus


@register(
    "q_corpus_roundtrip",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text,
        'https://' ||
        CASE WHEN {_FOLD8_SQL.format(salt='host:')} % 2 = 0
             THEN 'bighost.example'
             ELSE 'site' || lpad(CAST({_FOLD8_SQL.format(salt='host:')} % 20 AS VARCHAR), 2, '0') || '.example'
        END || '/doc/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           CAST(SUM({_WRAP_HTML_FIXED_BYTES} + strlen(url)
                    + strlen(replace(replace(replace(text, '&', '&amp;'),
                                             '<', '&lt;'), '>', '&gt;')))
                AS BIGINT) AS sum_html_bytes
    FROM corpus
    """,
)
def q_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pii_redactor_spark.sources.corpus import (
        extract_text_udf, from_documents)
    corpus = from_documents(_t(spark, sf_dir, "documents"))
    return (
        corpus
        .withColumn("extracted", extract_text_udf()(F.col("html")))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("extracted") == F.col("text"), 1)
                  .otherwise(0)).cast("bigint").alias("n_matched"),
            F.sum(F.length("html")).cast("bigint").alias("sum_html_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# Full pipeline (langid + perplexity + scrub kernels). The kernel outputs
# themselves have no DuckDB twin, but the flagship query IS hash-gated: it
# selects the rule-derived decision columns (reproduced relationally from
# _QUALITY_BASE_SQL) plus ``kernel_ran`` — a column derived from the fused
# kernel UDF's output (scrubbed_text IS NOT NULL), so Catalyst cannot prune
# the kernel pass away and the oracle still reproduces its value
# (text IS NOT NULL, the UDF's null-propagation contract). All columns are
# scalar (no raw arrays — the driver canonicalizer requires hashable cells);
# rule reasons ship as a sorted CSV string.
# ---------------------------------------------------------------------------
_RULE_CHECKS_SQL = [
    ("too_few_words", "n_words < 5"),
    ("too_many_words", "n_words > 100000"),
    ("mean_word_len_out_of_range",
     "mean_word_len < 2.0 OR mean_word_len > 12.0"),
    ("symbol_ratio_high", "symbol_word_ratio > 0.1"),
    ("alpha_ratio_low", "alpha_word_ratio < 0.7"),
    ("stopword_ratio_low", "stopword_ratio < 0.02"),
    ("dup_lines_high", "dup_line_ratio > 0.5"),
    ("repeated_bigram_high", "top_bigram_ratio > 0.25"),
    ("repeated_trigram_high", "top_trigram_ratio > 0.20"),
    ("repeated_quadgram_high", "top_quadgram_ratio > 0.18"),
    ("dup_5gram_high", "dup_5gram_ratio > 0.30"),
]

_RULE_REASONS_SQL = (
    "list_sort(list_filter(["
    + ", ".join(f"CASE WHEN {cond} THEN '{name}' END"
                for name, cond in _RULE_CHECKS_SQL)
    + "], x -> x IS NOT NULL))"
)


@register(
    "q_pipeline_full",
    oracle=f"""
    SELECT 'doc://' || CAST(s.doc_id AS VARCHAR) AS url,
           s.doc_id, d.lang,
           (d.text IS NOT NULL) AS kernel_ran,
           (len({_RULE_REASONS_SQL}) = 0) AS rule_keep,
           CAST(len({_RULE_REASONS_SQL}) AS INT) AS n_rule_reasons,
           COALESCE(array_to_string({_RULE_REASONS_SQL}, ','), '')
             AS rule_reasons_csv
    FROM ({_QUALITY_BASE_SQL}) s JOIN documents d ON s.doc_id = d.doc_id
    """,
)
def q_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        "doc_id", "text", "lang",
    )
    out = run_pipeline(docs)
    _, rule_reasons = keep_decision(QualityThresholds())
    return (
        out
        .withColumn("_rr", rule_reasons)
        .select(
            "url", "doc_id", "lang",
            F.col("scrubbed_text").isNotNull().alias("kernel_ran"),
            (F.size("_rr") == 0).alias("rule_keep"),
            F.size("_rr").cast("int").alias("n_rule_reasons"),
            F.array_join(F.array_sort("_rr"), ",").alias("rule_reasons_csv"),
        )
    )


# Frozen top-20-worst-perplexity sets per test corpus (round-3 verdict
# item 7). The perplexity kernel has no DuckDB twin, so this oracle is a
# GOLDEN REGRESSION PIN, not an independent re-derivation: the (doc_id,
# n_chars) rows were computed once by the engine (kernel fit from the
# embedded seed corpora is fully deterministic) and frozen as literals;
# the corpora are told apart by their n_chars checksum. The ppl VALUES
# themselves stay out of the hash (golden-pinned at sf0.001 in
# tests/test_rules_kernels.py TestKernelGoldenValues instead).
_WORSTK_FROZEN: dict[int, list[tuple[int, int]]] = {
    153156: [(294, 152), (359, 199), (33, 58), (436, 54), (414, 95),
             (140, 118), (18, 170), (346, 237), (45, 165), (375, 189),
             (353, 93), (202, 47), (178, 138), (487, 161), (253, 287),
             (203, 232), (51, 207), (126, 323), (303, 453), (441, 419)],
    149174: [(74, 48), (481, 85), (275, 49), (26, 63), (372, 142),
             (165, 108), (59, 118), (455, 59), (348, 131), (86, 138),
             (340, 247), (494, 206), (384, 92), (204, 117), (335, 325),
             (156, 122), (110, 54), (257, 114), (433, 176), (104, 246)],
    1485576: [(3716, 74), (4278, 97), (879, 93), (145, 125), (1075, 96),
              (2012, 65), (3436, 62), (2525, 207), (1411, 59), (1775, 58),
              (2879, 152), (1345, 53), (2466, 55), (4599, 58), (2635, 119),
              (2279, 184), (41, 134), (3184, 82), (3819, 188), (204, 55)],
}

_WORSTK_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT doc_id, n_chars FROM (VALUES {', '.join(
        f'({d}, {c})' for d, c in rows)}) AS t(doc_id, n_chars)
    WHERE (SELECT sum(n_chars) FROM documents) = {chk}"""
    for chk, rows in _WORSTK_FROZEN.items()
)


@register("q_worstk_ppl", oracle=_WORSTK_ORACLE)
def q_worstk_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    # top-k worst documents by perplexity (SURVEY §2.6 bench query) —
    # TakeOrderedAndProject over a kernel column. The kernel column
    # drives the ordering but stays OUT of the hashed output (no DuckDB
    # twin); the emitted (doc_id, n_chars) set is gated against the
    # frozen golden above.
    from pii_redactor_spark.kernels.perplexity import make_perplexity_udf
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("ppl", make_perplexity_udf()("text"))
        .orderBy(F.desc("ppl"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish regex) — text-analysis op family.
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# O30 — deterministic positional split (reference: optimizer.py:80-81 list
# slicing). Spark has no row order, so the split is pinned by a
# row_number window over doc_id (SURVEY §7.6 determinism guard).
# ---------------------------------------------------------------------------
SPLIT_TRAIN_SIZE = 300


@register(
    "q_split_train",
    oracle=f"""
    SELECT doc_id, lang, part
    FROM (SELECT doc_id, lang,
                 CASE WHEN ROW_NUMBER() OVER (ORDER BY doc_id)
                      <= {SPLIT_TRAIN_SIZE}
                      THEN 'train' ELSE 'val' END AS part
          FROM documents)
    """,
)
def q_split_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-3 rewrite: "first n in key order" needs only the n-th
    # smallest key (TakeOrdered threshold), not a global row_number — the
    # round-2 plan was Exchange SinglePartition + full sort in ONE task.
    # Output identical (doc_id unique); main plan has ZERO shuffles.
    from pii_redactor_spark.operators.ranking import split_by_rank
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return split_by_rank(docs, "doc_id", SPLIT_TRAIN_SIZE,
                         labels=("train", "val"), label_name="part")


# ---------------------------------------------------------------------------
# O31 — seeded sample without replacement (reference: evaluator.py:37-43:
# random.Random(seed).sample over indices >= exclude, then sorted). Exact
# RNG parity with CPython is achieved by precomputing the index set
# driver-side with the same RNG and pushing it down as an isin filter
# (SURVEY §2.6 O31 note) — the distributed plan is a broadcast semi-join.
# ---------------------------------------------------------------------------
def _seeded_sample_ids(seed: int = 42, exclude: int = 100, k: int = 50,
                       pool: int = 500) -> list[int]:
    import random
    return sorted(random.Random(seed).sample(range(exclude, pool), k))


SAMPLE_IDS = _seeded_sample_ids()


@register(
    "q_seeded_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE doc_id IN ({', '.join(map(str, SAMPLE_IDS))})
    """,
)
def q_seeded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(SAMPLE_IDS))
        .select("doc_id", "lang", "n_chars")
    )


# ---------------------------------------------------------------------------
# O33 — enumerated ordering for the per-example report
# (reference: evaluator.py:141 enumerate) — row_number per language.
# ---------------------------------------------------------------------------
@register(
    "q_enumerate",
    oracle="""
    SELECT doc_id, lang,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS INT) AS rn
    FROM documents
    """,
)
def q_enumerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-3 rewrite: a Window.partitionBy(lang) puts the biggest
    # language (~half a web corpus) in ONE task; the two-phase ranked
    # form bounds every window partition by ~corpus/num_buckets via
    # literal range boundaries + broadcast per-(bucket, lang) offsets.
    from pii_redactor_spark.operators.ranking import global_row_number
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        global_row_number(docs, "doc_id", partition_cols=("lang",),
                          rn_name="rn")
        .select("doc_id", "lang", F.col("rn").cast("int").alias("rn"))
    )


# ---------------------------------------------------------------------------
# Relational equi-join coverage (SURVEY §2.4: broadcast inner for small
# dims + shuffle equi-join for fact tables): revenue per nation over
# customer ⋈ orders ⋈ nation. The nation dim is broadcast explicitly;
# customer⋈orders shuffles on custkey with AQE handling skew.
# ---------------------------------------------------------------------------
@register(
    "q_nation_revenue",
    oracle="""
    SELECT n.n_name,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
             .cast("double").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Language ID over the corpus (north-star fastText-style langid;
# kernels/langid.py). Round-4: served by an engine-reproducible char-
# bigram NB (BIGINT-quantized weights, md5 bucket fold — the quality_clf
# recipe; integer score sums in one Arrow pass) so the query is fully
# oracle-gated; the pandas-UDF
# kernel remains the flagship-path scorer (q_pipeline_full) and both
# are pinned to 100% seed-sentence accuracy in test_rules_kernels.
# ---------------------------------------------------------------------------
from pii_redactor_spark.kernels import langid as _lg  # noqa: E402


@register("q_langid",
          oracle=_lg.langid_expr_oracle_sql(extra_cols=("lang",)))
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lg.langid_expr_columns(
        _t(spark, sf_dir, "documents"), extra_cols=("lang",))


# ---------------------------------------------------------------------------
# Deduplication family (training-data pipeline ops; operators/dedup.py):
# exact hash-dedup, MinHash+LSH bands, candidate pairs, Jaccard verify,
# SimHash. All signatures are shuffle-free and md5-based (JVM hashing, one
# integer-exact Arrow pass) so the DuckDB oracle reproduces them exactly.
# ---------------------------------------------------------------------------
from pii_redactor_spark.operators import dedup as _dd  # noqa: E402
from pii_redactor_spark.operators import fingerprint as _fp  # noqa: E402
from pii_redactor_spark.operators import similarity as _sim  # noqa: E402


@register("q_dedup_exact", oracle=_dd.exact_dedup_oracle_sql())
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd.exact_dedup(_t(spark, sf_dir, "documents"))


@register("q_dedup_minhash_bands", oracle=_dd.minhash_bands_oracle_sql())
def q_dedup_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd.minhash_bands(_t(spark, sf_dir, "documents"))


@register("q_dedup_lsh_pairs", oracle=_dd.lsh_pairs_oracle_sql())
def q_dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd.lsh_candidate_pairs(_t(spark, sf_dir, "documents"))


@register("q_dedup_jaccard", oracle=_dd.jaccard_pairs_oracle_sql())
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd.jaccard_pairs(_t(spark, sf_dir, "documents"))


@register("q_dedup_components", oracle=_dd.dedup_components_oracle_sql())
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # iterative min-label propagation vs a recursive-CTE oracle — the
    # keep-one-representative dedup output
    return _dd.dedup_components(_t(spark, sf_dir, "documents"))


@register("q_dedup_components_verified",
          oracle=_dd.dedup_components_oracle_sql(verify_threshold=0.8))
def q_dedup_components_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # components over Jaccard-VERIFIED edges — what the corpus rewrite
    # job actually uses (false-positive band collisions excluded)
    return _dd.dedup_components(_t(spark, sf_dir, "documents"),
                                verify_threshold=0.8)


@register("q_simhash", oracle=_dd.simhash_oracle_sql())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd.simhash(_t(spark, sf_dir, "documents"))


@register("q_fingerprint", oracle=_fp.fingerprints_oracle_sql())
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fp.fingerprints(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# URL filtering + canonicalization (functions/url_rules.py) — the C4-style
# pre-text gate. URLs are synthesized per doc_id so every rule fires
# somewhere: media extension, blocked path, deep path, blocked host,
# mixed-case canonicalization, query/fragment stripping.
# ---------------------------------------------------------------------------
_DEEP = "/p" * 12
_URL_CASES_SQL = f"""
CASE CAST(doc_id % 6 AS INT)
  WHEN 0 THEN 'https://sitea.example/doc/' || doc_id
  WHEN 1 THEN 'https://cdn.example/assets/img_' || doc_id || '.jpg'
  WHEN 2 THEN 'https://shop.example/cart/item/' || doc_id || '?ref=abc#frag'
  WHEN 3 THEN 'HTTPS://MiXeD.Example/Path/' || doc_id || '/'
  WHEN 4 THEN 'https://deep.example{_DEEP}/' || doc_id
  ELSE 'https://blocked.example/page/' || doc_id
END
"""

_URL_BLOCKED_HOSTS = ["blocked.example"]

from pii_redactor_spark.functions.url_rules import (  # noqa: E402
    BLOCKED_EXTENSIONS as _BLOCKED_EXTS,
)

BLOCKED_EXT_SQL = "[" + ", ".join(f"'{e}'" for e in _BLOCKED_EXTS) + "]"


@register(
    "q_url_filter",
    oracle=f"""
    WITH urls AS (SELECT doc_id, {_URL_CASES_SQL} AS url FROM documents),
    parts AS (
      SELECT doc_id, url,
        lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
        regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)?', 1) AS path,
        lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme
      FROM urls),
    canon AS (
      SELECT *,
        CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
             ELSE regexp_replace(path, '/+$', '') END AS cpath,
        lower(regexp_extract(path, '\\.([A-Za-z0-9]+)$', 1)) AS ext,
        len(list_filter(string_split(path, '/'), p -> p <> '')) AS depth
      FROM parts)
    SELECT doc_id, host, path,
           scheme || '://' || host || cpath AS canonical,
           (NOT (length(url) > 2048)
            AND host <> ''
            AND NOT list_contains({BLOCKED_EXT_SQL}, ext)
            AND depth <= 10
            AND NOT regexp_matches(lower(path), '{'|'.join(
                t for t in ("/wp-admin", "/wp-login", "/cgi-bin", "/login",
                            "/signup", "/cart", "/checkout"))}')
            AND NOT list_contains(['blocked.example'], host)) AS url_keep
    FROM canon
    """,
)
def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pii_redactor_spark.functions.url_rules import (
        canonical_url, with_url_rules)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_CASES_SQL).alias("url"))
    return (
        with_url_rules(docs, blocked_hosts=_URL_BLOCKED_HOSTS)
        .withColumn("canonical", canonical_url("url"))
        .select("doc_id", "host", "path", "canonical", "url_keep")
    )


# ---------------------------------------------------------------------------
# Per-host quota sampling (operators/sampling.py): cap documents per host
# with a deterministic md5 priority; hot host (≈50% of the corpus via the
# skewed url mapping) gets clamped, cold hosts pass through.
# ---------------------------------------------------------------------------
_CORPUS_URLS_SQL = f"""
SELECT doc_id,
  'https://' ||
  CASE WHEN {_FOLD8_SQL.format(salt='host:')} % 2 = 0
       THEN 'bighost.example'
       ELSE 'site' || lpad(CAST({_FOLD8_SQL.format(salt='host:')} % 20 AS VARCHAR), 2, '0') || '.example'
  END || '/doc/' || doc_id AS url
FROM documents
"""


@register(
    "q_host_cap",
    oracle=None,  # set below (needs the urls CTE)
)
def q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pii_redactor_spark.operators.sampling import cap_per_host
    from pii_redactor_spark.sources.corpus import from_documents
    corpus = from_documents(_t(spark, sf_dir, "documents")).select(
        F.col("url"),
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint")
         .alias("doc_id"),
    )
    return cap_per_host(corpus, max_per_host=25,
                        tiebreak_col="doc_id").select(
        "doc_id", "url", "host")


from pii_redactor_spark.operators.sampling import (  # noqa: E402
    cap_per_host_oracle_sql as _cap_sql,
)

ORACLE_SQL["q_host_cap"] = _cap_sql(_CORPUS_URLS_SQL, max_per_host=25,
                                    tiebreak_col="doc_id")


# ---------------------------------------------------------------------------
# Hybrid per-group rank (operators/ranking.py group_row_number): exact
# per-host row_number in the regime where host cardinality is extreme
# AND one host holds half the crawl — cold hosts rank in a plain
# distributed window, hot hosts (found by one count aggregate) go
# through the bounded bucketed rank. hot_threshold=50 exercises BOTH
# branches on the synthetic corpus (bighost ~50% of docs).
# ---------------------------------------------------------------------------
@register(
    "q_host_rank",
    oracle=f"""
    WITH urls AS ({_CORPUS_URLS_SQL})
    SELECT doc_id,
           lower(regexp_extract(url,
             '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY lower(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1))
             ORDER BY doc_id) AS INT) AS rn
    FROM urls
    """,
)
def q_host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pii_redactor_spark.operators.ranking import group_row_number
    from pii_redactor_spark.operators.sampling import HOST_RE
    from pii_redactor_spark.sources.corpus import from_documents
    corpus = from_documents(_t(spark, sf_dir, "documents")).select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint")
         .alias("doc_id"),
        F.lower(F.regexp_extract("url", HOST_RE, 1)).alias("host"),
    )
    return (
        group_row_number(corpus, "host", "doc_id", hot_threshold=50)
        .select("doc_id", "host", F.col("rn").cast("int").alias("rn"))
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (operators/decontaminate.py): flag corpus
# docs sharing hashed n-grams with a benchmark set (GPT-3 appendix-C
# methodology). The fake benchmark = every 37th doc; those docs (and any
# near-verbatim relatives with >= 8 shared words in a row) flag.
# ---------------------------------------------------------------------------
_DECON_BENCH_PRED = "doc_id % 37 = 0"


def _decon_grams_sql(pred: str | None) -> str:
    where = f"WHERE {pred}" if pred else ""
    return f"""SELECT doc_id, list_distinct({_hashed_ngrams_sql(8)}) AS gs
    FROM (SELECT doc_id, words,
                 list_transform(words, w -> {_WHASH_FOLD_SQL}) AS whashes
          FROM (SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\\s+'),
                              w -> w <> '') AS words
                FROM documents {where}))"""


@register(
    "q_decontaminate",
    oracle=f"""
    WITH bg AS (SELECT DISTINCT g FROM
                  (SELECT unnest(gs) AS g
                   FROM ({_decon_grams_sql(_DECON_BENCH_PRED)}))),
    cg AS (SELECT doc_id, unnest(gs) AS g FROM ({_decon_grams_sql(None)})),
    hits AS (SELECT c.doc_id, COUNT(DISTINCT c.g) AS shared_ngrams
             FROM cg c JOIN bg b ON c.g = b.g GROUP BY c.doc_id)
    SELECT d.doc_id,
           COALESCE(h.shared_ngrams, 0) AS shared_ngrams,
           COALESCE(h.shared_ngrams, 0) >= 1 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pii_redactor_spark.operators.decontaminate import contamination
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0).select("doc_id", "text")
    return contamination(docs, bench).select(
        "doc_id", "shared_ngrams", "contaminated")


# ---------------------------------------------------------------------------
# Cross-document duplicate spans (operators/dedup.py span_dup_stats —
# Lee et al. 2022 ExactSubstr at hashed-8-gram granularity): fraction
# of each doc's distinct word 8-grams occurring in >= 2 documents.
# Same gram hashing as decontamination, so the oracle reuses
# _decon_grams_sql.
# ---------------------------------------------------------------------------
@register(
    "q_span_dedup",
    oracle=f"""
    WITH pg AS ({_decon_grams_sql(None)}),
    grams AS (SELECT doc_id, unnest(gs) AS g FROM pg),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
    per AS (
      SELECT grams.doc_id, COUNT(*) AS n_grams,
             COUNT(dup.g) AS n_dup_grams
      FROM grams LEFT JOIN dup ON grams.g = dup.g
      GROUP BY grams.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(per.n_grams, 0) AS INT) AS n_grams,
           CAST(COALESCE(per.n_dup_grams, 0) AS INT) AS n_dup_grams,
           CAST(CASE WHEN COALESCE(per.n_grams, 0) > 0
                THEN CAST(per.n_dup_grams AS BIGINT) * 1000000
                     // per.n_grams
                ELSE 0 END AS BIGINT) AS dup_ppm
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """,
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd.span_dup_stats(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# The REWRITE step (dedup.span_dedup_rewrite): remove every duplicated
# n-gram occurrence except the globally first — the paper's
# keep-one-copy semantics. Output pinned by md5 + length of the
# rewritten text; the oracle re-derives first-owners with the same
# BIGINT occurrence keys and rebuilds the text with identical
# positional logic (lockstep unnest keeps the gram stream linear).
# ---------------------------------------------------------------------------
@register(
    "q_span_rewrite",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, words,
             list_transform(words, w -> {{whf}}) AS whashes
      FROM (SELECT doc_id,
              list_filter(string_split_regex(trim(text), '\\s+'),
                          w -> w <> '') AS words
            FROM documents)),
    grams AS (SELECT doc_id, {_hashed_ngrams_sql(8)} AS gs FROM base),
    occ AS (
      SELECT doc_id,
             CAST(unnest(range(len(gs))) AS BIGINT) AS pos,
             unnest(gs) AS g
      FROM grams),
    owners AS (
      SELECT g, MIN(doc_id * {_dd._SPAN_POS_LIM} + pos) AS mn,
             COUNT(*) AS n
      FROM occ GROUP BY g),
    dup AS (
      SELECT o.doc_id, o.pos FROM occ o JOIN owners w ON o.g = w.g
      WHERE w.n >= 2 AND o.doc_id * {_dd._SPAN_POS_LIM} + o.pos <> w.mn),
    cov AS (SELECT doc_id, list(pos) AS poss FROM dup GROUP BY doc_id),
    rw AS (
      SELECT b.doc_id, b.words,
        CASE WHEN b.words IS NULL THEN NULL ELSE
          list_transform(range(len(b.words)), i ->
            CASE WHEN len(list_filter(
                     COALESCE(c.poss, CAST([] AS BIGINT[])),
                     p -> p <= i AND i <= p + 7)) > 0
                 THEN NULL ELSE b.words[CAST(i + 1 AS INT)] END)
        END AS kept
      FROM base b LEFT JOIN cov c ON b.doc_id = c.doc_id),
    fin AS (
      -- DuckDB array_to_string([]) is NULL while Spark array_join([])
      -- is '' — coalesce ONLY the non-null-kept (fully-removed) case
      SELECT doc_id, words, kept,
             CASE WHEN kept IS NULL THEN NULL
                  ELSE COALESCE(array_to_string(
                         list_filter(kept, x -> x IS NOT NULL), ' '), '')
             END AS clean
      FROM rw)
    SELECT doc_id,
           CAST(len(words) AS INT) AS n_words,
           CAST(len(list_filter(kept, x -> x IS NULL)) AS INT)
             AS n_removed,
           md5(clean) AS cleaned_hash,
           CAST(length(clean) AS INT) AS cleaned_len
    FROM fin
    """.replace("{whf}", _WHASH_FOLD_SQL),
)
def q_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd.span_dedup_rewrite(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Deterministic hash split (operators/sampling.py hash_split): the
# non-positional train/val/test splitter — membership is a projection,
# stable under reordering and corpus growth (contrast O30).
# ---------------------------------------------------------------------------
@register(
    "q_split_hash",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_FOLD8_SQL.format(salt='split:')} % 100 < 80
                  THEN 'train'
                WHEN {_FOLD8_SQL.format(salt='split:')} % 100 < 90
                  THEN 'val'
                ELSE 'test' END AS part
    FROM documents
    """,
)
def q_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pii_redactor_spark.operators.sampling import hash_split
    return hash_split(_t(spark, sf_dir, "documents")) \
        .select("doc_id", "part")


# ---------------------------------------------------------------------------
# Multimodal plumbing (operators/multimodal.py): binary payload +
# mapInPandas decode/feature-extract with a deterministic fake decoder
# (real decoders absent in sandbox). The oracle reproduces the fake's
# md5 folds, so even the stub is correctness-gated; the `feature` array
# column is exercised in pytest.
# ---------------------------------------------------------------------------
from pii_redactor_spark.operators import multimodal as _mm  # noqa: E402


@register("q_media_meta", oracle=_mm.media_meta_oracle_sql())
def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return _mm.media_meta(docs).select(
        "doc_id", "mime", "n_bytes", "width", "height", "duration_s",
        "feature_checksum",
    )


@register("q_media_resize", oracle=_mm.media_meta_resize_sql())
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize targets (longest side <= 256, never
    upscaled, NULL for audio) — the geometry step of the multimodal
    decode/feature-extract/resize/frame-sample family. Computed inside
    the same single mapInPandas pass as the decode."""
    docs = _t(spark, sf_dir, "documents")
    return _mm.media_meta(docs).select(
        "doc_id", "mime", "width", "height", "resized_w", "resized_h",
    )


# ---------------------------------------------------------------------------
# Similarity search over the embeddings table (operators/similarity.py):
# brute-force cosine top-k baseline + LSH sign-projection scale path.
# ---------------------------------------------------------------------------
@register("q_ann_bruteforce", oracle=_sim.ann_bruteforce_oracle_sql())
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sim.ann_bruteforce(_t(spark, sf_dir, "embeddings"))


@register("q_embed_neardup", oracle=_sim.embedding_neardup_oracle_sql())
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sim.embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"))


@register("q_ann_ivf", oracle=_sim.ann_ivf_oracle_sql())
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sim.ann_ivf(_t(spark, sf_dir, "embeddings"))


@register("q_ann_pq", oracle=_sim.ann_pq_oracle_sql())
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search (Jégou et al. 2011): corpus
    vectors compressed to M subspace codes (32x smaller than the raw
    floats — the representation a 100 TB vector store actually scans),
    per-query M x K distance lookup tables, candidate pool by the
    ADC approximate distance, exact cosine rerank to top-k."""
    return _sim.ann_pq(_t(spark, sf_dir, "embeddings"))


@register("q_ann_lsh", oracle=_sim.ann_lsh_oracle_sql())
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sim.ann_lsh(_t(spark, sf_dir, "embeddings"))


@register("q_ann_lsh_multiprobe",
          oracle=_sim.ann_lsh_oracle_sql(multiprobe=True))
def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hamming-1 multi-probe: recall 0.74 -> 1.0 on the synthetic corpus
    # at (R+1)x query-side fan-out only
    return _sim.ann_lsh(_t(spark, sf_dir, "embeddings"), multiprobe=True)


@register("q_text_embed", oracle=_sim.text_embed_oracle_sql())
def q_text_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # text -> dense embedding (signed-hash BoW projection), pinned via
    # scalar invariants (norm / argmax bucket / probe dot) — the bridge
    # from raw documents to the ANN + embedding-near-dup operators
    return _sim.text_embedding_summary(_t(spark, sf_dir, "documents"))


@register(
    "q_token_count",
    oracle=r"""
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.filter(F.split(F.trim("text"), r"\s+"), lambda w: w != ""))
         .alias("ws_tokens"),
        F.size(F.regexp_extract_all(
            F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))
         .alias("bpe_ish_tokens"),
    )


# ---------------------------------------------------------------------------
# Model-based quality classifier (fastText/DCLM-style hashed-BoW LR) —
# the supervised twin of the heuristic q_quality_keep gate. The
# reference's analogue is the per-document LLM keep/drop call
# (reference: main.py run loop); here the decision is a fitted linear
# model served as a pure projection (kernels/quality_clf.py).
# ---------------------------------------------------------------------------
from pii_redactor_spark.kernels import quality_clf as _qclf  # noqa: E402


@register("q_quality_clf", oracle=_qclf.quality_clf_oracle_sql())
def q_quality_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _qclf.quality_clf_columns(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# NB fit sufficient statistics (kernels/quality_clf.py nb_bucket_counts)
# — the corpus-scale one-pass fit path: per-(bucket, class) word counts
# in ONE aggregation (map-side partial agg, dim-bounded state). The
# contract query uses a cheap deterministic weak label (n_chars >= 300)
# so the oracle stays engine-exact; real deployments feed curated
# labels through the same aggregation.
# ---------------------------------------------------------------------------
@register("q_quality_nb_counts",
          oracle=_qclf.nb_counts_oracle_sql("n_chars >= 300"))
def q_quality_nb_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents") \
        .withColumn("_label", F.col("n_chars") >= 300)
    return _qclf.nb_bucket_counts(docs, "_label")


# ---------------------------------------------------------------------------
# CCNet-style head/middle/tail quality tiers: exact global terciles of
# the classifier logit via the bounded two-phase rank (never Exchange
# SinglePartition) — CCNet cuts its corpus on LM-perplexity terciles;
# this is the same cut on the model quality score.
# ---------------------------------------------------------------------------
@register("q_quality_tiers", oracle=_qclf.quality_tiers_oracle_sql())
def q_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _qclf.quality_tiers(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Domain mixing with fractional epochs (operators/sampling.py
# domain_mix): deterministic per-language resampling — floor(w) copies
# plus an md5-decided extra for the fractional part; 0 drops a group,
# 2.5 emits 2-3 copies. Pure projection + a bounded generate.
# ---------------------------------------------------------------------------
MIX_WEIGHTS = {"en": 0.5, "es": 2.5, "de": 1.25, "zh": 0.0}

from pii_redactor_spark.operators.sampling import (  # noqa: E402
    domain_mix, domain_mix_oracle_sql)


@register("q_domain_mix", oracle=domain_mix_oracle_sql(MIX_WEIGHTS))
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return domain_mix(
        _t(spark, sf_dir, "documents"), MIX_WEIGHTS
    ).select("doc_id", "lang", "copy")


# ---------------------------------------------------------------------------
# Distributed Lloyd k-means + SemDeDup (operators/clustering.py): the
# k-means fit whose centroids ann_ivf accepts as its quantizer, run
# HERE as iters constant-size-shuffle passes with a driver-round-trip
# centroid artifact, plus Abbas-et-al-2023 semantic dedup on the fitted
# clusters. The oracle unrolls the fixed iteration count as chained
# CTEs — the fit itself is bit-reproduced, not just the serving pass.
# ---------------------------------------------------------------------------
from pii_redactor_spark.operators import clustering as _km  # noqa: E402


@register("q_kmeans", oracle=_km.kmeans_oracle_sql())
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _km.kmeans(_t(spark, sf_dir, "embeddings"))


@register("q_kmeans_stats", oracle=_km.kmeans_stats_oracle_sql())
def q_kmeans_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _km.kmeans_stats(_t(spark, sf_dir, "embeddings"))


@register("q_semdedup", oracle=_km.semdedup_oracle_sql())
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _km.semdedup(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# DSIR data selection (operators/dsir.py, Xie et al. 2023): hashed-LM
# importance-ratio scoring (target = seed-corpora artifact, raw = one
# distributed corpus aggregation) with an exact BIGINT score fold and a
# TakeOrdered top-fraction cut — the published "make the crawl look
# like the target domain" selection pass.
# ---------------------------------------------------------------------------
from pii_redactor_spark.operators import dsir as _dsir  # noqa: E402


@register("q_dsir", oracle=_dsir.dsir_oracle_sql())
def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dsir.dsir_select(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Sequence packing (concat-then-chunk, ranking.pack): assign every
# document its position in the concatenated token stream and the
# fixed-size training sequence(s) it lands in — the standard pretraining
# batch-prep step. The global running sum uses ranking.global_prefix_sum
# (bounded two-phase prefix scan, never Exchange SinglePartition).
# ---------------------------------------------------------------------------
from pii_redactor_spark.operators.ranking import (  # noqa: E402
    BPE_RE, SEQ_TOKENS, pack, regex_token_count)

_PACK_PRE_SQL = f"""
    toks AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{BPE_RE}'))
               AS n_tokens
      FROM documents),
    pre AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start_off
      FROM toks)"""


def _pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ranking.pack`` over the documents' regex token counts."""
    return pack(_t(spark, sf_dir, "documents").select(
        "doc_id", regex_token_count(F.col("text")).alias("n_tokens")))


@register(
    "q_pack",
    oracle=f"""
    WITH {_PACK_PRE_SQL}
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           CAST(start_off AS BIGINT) AS start_off,
           CAST(start_off // {SEQ_TOKENS} AS BIGINT) AS seq_idx,
           CAST(CASE WHEN n_tokens > 0 THEN
             (start_off + n_tokens - 1) // {SEQ_TOKENS}
               - start_off // {SEQ_TOKENS} + 1
           ELSE 0 END AS BIGINT) AS n_seqs
    FROM pre
    """,
)
def q_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pack_docs(spark, sf_dir)


# ---------------------------------------------------------------------------
# Materialized packed sequences (round-3 verdict item 5): explode the
# per-doc span count into the rows a tokenizer writer consumes —
# (seq_idx, doc_id, slice_start, slice_len), slice offsets within the
# document's token stream. Bounded generate (explode of an integer
# sequence, outer + null-filter per the InferFiltersFromGenerate rule),
# pure integer arithmetic on both engines; row count = sum(n_seqs) and
# per-seq_idx token sums hit SEQ_TOKENS exactly except the final
# partial sequence (pinned in tests/test_pack.py).
# ---------------------------------------------------------------------------
@register(
    "q_pack_rows",
    oracle=f"""
    WITH {_PACK_PRE_SQL},
    spans AS (
      SELECT doc_id, n_tokens, CAST(start_off AS BIGINT) AS start_off,
             unnest(range(CAST(start_off // {SEQ_TOKENS} AS BIGINT),
                          CAST((start_off + n_tokens - 1) // {SEQ_TOKENS}
                               + 1 AS BIGINT)))
               AS seq_idx
      FROM pre WHERE n_tokens > 0)
    SELECT seq_idx, doc_id,
           CAST(greatest(seq_idx * {SEQ_TOKENS} - start_off, 0) AS BIGINT)
             AS slice_start,
           CAST(least((seq_idx + 1) * {SEQ_TOKENS}, start_off + n_tokens)
             - greatest(seq_idx * {SEQ_TOKENS}, start_off) AS BIGINT)
             AS slice_len
    FROM spans
    """,
)
def q_pack_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = SEQ_TOKENS
    return (
        _pack_docs(spark, sf_dir).where(F.col("n_tokens") > 0)
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


# ---------------------------------------------------------------------------
# Canonical-URL dedup: crawls re-fetch the same page under trailing
# slashes, host-case, query-string and fragment variants; canonicalize
# (functions/url_rules.py — parity proven by q_url_filter) then exact
# dedup on the canonical form, keep-lowest-doc_id representative. One
# shuffle on the canonical key (the same hash-groupBy shape as
# q_dedup_exact).
# ---------------------------------------------------------------------------
_URL_DUP_SQL = """
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN 'https://news.example/story/' || (doc_id // 4)
  WHEN 1 THEN 'HTTPS://News.Example/story/' || (doc_id // 4) || '/'
  WHEN 2 THEN 'https://news.example/story/' || (doc_id // 4) || '?utm_source=feed'
  ELSE 'https://news.example/story/' || (doc_id // 4) || '#top'
END
"""


@register(
    "q_url_dedup",
    oracle=f"""
    WITH urls AS (SELECT doc_id, {_URL_DUP_SQL} AS url FROM documents),
    parts AS (
      SELECT doc_id,
        lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
        regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)?', 1) AS path,
        lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme
      FROM urls),
    canon AS (
      SELECT doc_id, scheme || '://' || host ||
        CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
             ELSE regexp_replace(path, '/+$', '') END AS canonical
      FROM parts)
    SELECT doc_id, canonical,
           MIN(doc_id) OVER (PARTITION BY canonical) AS rep_id,
           doc_id <> MIN(doc_id) OVER (PARTITION BY canonical) AS is_dup
    FROM canon
    """,
)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pii_redactor_spark.functions.url_rules import canonical_url
    # Spark twin of _URL_DUP_SQL (DuckDB `//` == Spark `div` on bigints)
    spark_case = """
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'https://news.example/story/' || (doc_id div 4)
      WHEN 1 THEN 'HTTPS://News.Example/story/' || (doc_id div 4) || '/'
      WHEN 2 THEN 'https://news.example/story/' || (doc_id div 4) || '?utm_source=feed'
      ELSE 'https://news.example/story/' || (doc_id div 4) || '#top'
    END
    """
    canon = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.expr(spark_case).alias("url"))
        .select("doc_id", canonical_url("url").alias("canonical"))
    )
    reps = canon.groupBy("canonical").agg(F.min("doc_id").alias("rep_id"))
    return (
        canon.join(reps, "canonical")
        .select("doc_id", "canonical", "rep_id",
                (F.col("doc_id") != F.col("rep_id")).alias("is_dup"))
    )


@register("q_dsir_gumbel", oracle=_dsir.dsir_gumbel_oracle_sql())
def q_dsir_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the paper's sample-without-replacement form: Gumbel-top-frac with
    # a deterministic md5-seeded draw (operators/dsir.py)
    return _dsir.dsir_gumbel_select(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Corpus vocabulary extraction: top-N words by frequency — the first
# step of tokenizer/vocab training. One hash-groupBy count (map-side
# partials) + TakeOrderedAndProject(N); rank via the (count, word)
# total order, never a global window.
# ---------------------------------------------------------------------------
VOCAB_N = 200


@register(
    "q_vocab",
    oracle=f"""
    WITH w AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                    w -> w <> '')) AS word
      FROM documents),
    counts AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word),
    ranked AS (
      SELECT word, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, word ASC) AS rank
      FROM counts)
    SELECT word, n, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {VOCAB_N}
    """,
)
def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pii_redactor_spark.operators.bpe import word_counts_df
    counts = word_counts_df(_t(spark, sf_dir, "documents")) \
        .withColumnRenamed("w", "word")
    from pyspark.sql.window import Window
    # TakeOrdered keeps the top-N driver-bounded; the rank over N rows
    # is a single tiny window AFTER the limit (N rows, one task)
    top = counts.orderBy(F.desc("n"), F.asc("word")).limit(VOCAB_N)
    return top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("n"), F.asc("word"))))


# ---------------------------------------------------------------------------
# BPE tokenizer (operators/bpe.py): distributed word-count fit + driver
# merge learning on the tiny vocab table (how production BPE trainers
# run) + expression-only serving via a sentinel replace chain with
# identical scan semantics in both engines. The Spark side FITS on the
# given corpus at call time; the oracle pins the fit per test corpus
# (checksum-guarded frozen merge tables, the q_worstk_ppl pattern) and
# tests re-derive the pins from the corpora.
# ---------------------------------------------------------------------------
from pii_redactor_spark.operators import bpe as _bpe  # noqa: E402

_BPE_FROZEN: dict[int, list[tuple[str, str]]] = {
    153156: [("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
             ("l", "u"), ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"),
             ("a", "n"), ("c", "an")],
    149174: [("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
             ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
             ("j", "o"), ("jo", "in")],
    1485576: [("e", "r"), ("i", "n"), ("o", "r"), ("s", "t"), ("o", "w"),
              ("t", "a"), ("l", "u"), ("m", "er"), ("a", "r"), ("p", "ar"),
              ("u", "p"), ("par", "k")],
}

_BPE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT * FROM ({_bpe.bpe_oracle_sql(merges)})
    WHERE (SELECT sum(n_chars) FROM documents) = {chk}"""
    for chk, merges in _BPE_FROZEN.items()
)


@register("q_bpe", oracle=_BPE_ORACLE)
def q_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    merges = _bpe.fit_bpe_merges(_bpe.bpe_word_counts(docs))
    return _bpe.bpe_columns(docs, merges)


# ---------------------------------------------------------------------------
# BPE-tokenized sequence packing: the tokenizer fit feeding the
# batch-prep step end to end — token counts come from the FITTED BPE
# encoder (the counts a trainer actually packs by) instead of the
# regex stand-in, then ride the same bounded prefix scan as q_pack.
# The oracle chains the checksum-pinned merge tables into the
# window-prefix CTE. Fitted merges ship via kernels/artifacts.py
# save_bpe/load_bpe (round-trip tested).
# ---------------------------------------------------------------------------
def _pack_bpe_oracle_one(merges: list[tuple[str, str]]) -> str:
    return f"""
WITH b AS ({_bpe.bpe_oracle_sql(merges)}),
pre AS (
  SELECT doc_id, n_bpe_tokens AS n_tokens,
         COALESCE(SUM(n_bpe_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_off
  FROM b)
SELECT doc_id, n_tokens, CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // {SEQ_TOKENS} AS BIGINT) AS seq_idx,
       CAST(CASE WHEN n_tokens > 0 THEN
         (start_off + n_tokens - 1) // {SEQ_TOKENS}
           - start_off // {SEQ_TOKENS} + 1
       ELSE 0 END AS BIGINT) AS n_seqs
FROM pre"""


_PACK_BPE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT * FROM ({_pack_bpe_oracle_one(merges)})
    WHERE (SELECT sum(n_chars) FROM documents) = {chk}"""
    for chk, merges in _BPE_FROZEN.items()
)


@register("q_pack_bpe", oracle=_PACK_BPE_ORACLE)
def q_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    merges = _bpe.fit_bpe_merges(_bpe.bpe_word_counts(docs))
    return pack(_bpe.bpe_columns(docs, merges)
                .select("doc_id", F.col("n_bpe_tokens").alias("n_tokens")))


@register("q_proto_prune", oracle=_km.proto_prune_oracle_sql())
def q_proto_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sorscher-et-al prototype pruning: keep the hardest 25% per
    # fitted cluster (operators/clustering.py proto_prune)
    return _km.proto_prune(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Neural-encoder slot (kernels/encoder.py, round-3 verdict item 7): a
# deterministic 2-layer integer MLP over hashed BoW — the text->vector
# surface a production pipeline fills with a fitted sentence encoder
# (artifact-swappable, kernels/artifacts.py encoder.npz). The iterator-
# pandas-UDF serving is BIGINT-exact end to end (relu = greatest), so
# the whole NETWORK is oracle-gated. q_ann_mlp closes the loop:
# the encoder's vectors feeding the ANN family.
# ---------------------------------------------------------------------------
from pii_redactor_spark.kernels import encoder as _enc  # noqa: E402


@register("q_mlp_embed", oracle=_enc.mlp_summary_oracle_sql())
def q_mlp_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _enc.mlp_summary(_t(spark, sf_dir, "documents"))


@register("q_ann_mlp", oracle=_enc.mlp_ann_oracle_sql())
def q_ann_mlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _enc.mlp_ann(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Data card: the per-(source, lang) corpus rollup every training-data
# release ships — doc counts, token budget, rule keep rate, mean model
# quality. ONE fused projection over the scan (with_quality + token
# count + classifier logit pass through quality_clf_columns'
# extra_cols — never a corpus-sized self-join) and one grouped
# aggregation (map-side partials; group cardinality = |sources| x
# |langs|). The decimal-exact logit sum makes the mean independent of
# partial-aggregation order.
# ---------------------------------------------------------------------------
@register(
    "q_datacard",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, {_RULES_KEEP_SQL} AS keep
      FROM ({_QUALITY_BASE_SQL})),
    clf AS ({_qclf.quality_clf_oracle_sql()}),
    toks AS (
      SELECT doc_id, source, lang,
             len(regexp_extract_all(text, '{BPE_RE}')) AS n_tokens
      FROM documents)
    SELECT t.source, t.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(t.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep,
           CAST(SUM(CASE WHEN q.keep THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS keep_rate_ppm,
           CAST(SUM(CAST(c.q_logit AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_q_logit
    FROM toks t JOIN q ON t.doc_id = q.doc_id
    JOIN clf c ON t.doc_id = c.doc_id
    GROUP BY t.source, t.lang
    """,
)
def q_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pii_redactor_spark.kernels.quality_clf import quality_clf_columns
    docs = _t(spark, sf_dir, "documents")
    base = (
        with_quality(docs, "text", QualityThresholds())
        .withColumn("_toks", regex_token_count(F.col("text")))
    )
    scored = quality_clf_columns(
        base, extra_cols=("source", "lang", "keep", "_toks"))
    # rate as exact integer ppm and the logit as its exact decimal SUM:
    # a rounded double MEAN trips the engines' round-half divergence
    # exactly on boundary values (measured: 2.00167/4 rounds 0.500418 in
    # Spark, 0.500417 in DuckDB) — integer/decimal arithmetic cannot
    n_keep = F.sum(F.when(F.col("keep"), 1).otherwise(0))
    return (
        scored.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_toks").cast("bigint").alias("total_tokens"),
            n_keep.cast("bigint").alias("n_keep"),
            F.expr("sum(case when keep then 1 else 0 end) * 1000000"
                   " div count(*)").alias("keep_rate_ppm"),
            F.sum(F.col("q_logit").cast("decimal(18,6)"))
            .cast("double").alias("sum_q_logit"),
        )
    )


# ---------------------------------------------------------------------------
# C4 sentence-level rules (functions/rules.py c4_stats — Raffel et al.
# 2020 §2.2): terminal-punctuation + min-words line filter, javascript
# line drop, three-sentence / lorem-ipsum / curly-brace page gate. The
# driver corpus is a punctuation-free word stream, so both engines run
# the rules over the SAME deterministic md5-punctuated view
# (synth_punct_col / synth_punct_sql) — real corpora run them on their
# own text. One projection, zero shuffle.
# ---------------------------------------------------------------------------
from pii_redactor_spark.functions import rules as _rules  # noqa: E402


@register("q_quality_c4", oracle=_rules.c4_stats_oracle_sql())
def q_quality_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    punct = docs.withColumn("_t2", _rules.synth_punct_col(F.col("text")))
    return _rules.c4_stats(punct, text_col="_t2")


# ---------------------------------------------------------------------------
# Paragraph-granular duplicate-span rewrite (dedup.py
# span_dedup_rewrite_paragraphs): keep-one-copy of every cross-document
# duplicated paragraph. Runs over the same md5-punctuated view as
# q_quality_c4 so the corpus actually HAS line structure; near-dup
# documents share whole derived lines, exercising the rewrite.
# ---------------------------------------------------------------------------
@register(
    "q_span_para",
    oracle=_dd.span_rewrite_paragraphs_oracle_sql(
        "documents", _rules.synth_punct_sql("text")),
)
def q_span_para(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    punct = docs.withColumn("_t2", _rules.synth_punct_col(F.col("text")))
    return _dd.span_dedup_rewrite_paragraphs(punct, text_col="_t2")


# ---------------------------------------------------------------------------
# Batch twins of the two pytest-only STREAMING selectors (round-4
# verdict item 6): their capped keep-first-seen semantics replayed
# deterministically under id arrival order, so the DuckDB hash gate
# pins what the streaming operators compute. test_streaming also
# asserts stream output == replay on an ordered drop.
# ---------------------------------------------------------------------------
from pii_redactor_spark.operators import clustering as _km2  # noqa: E402


@register("q_neardup_stream_twin",
          oracle=_dd.neardup_stream_oracle_sql())
def q_neardup_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dd.neardup_stream_replay(_t(spark, sf_dir, "documents"))


@register("q_semdedup_stream_twin",
          oracle=_km2.semdedup_stream_oracle_sql())
def q_semdedup_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _km2.semdedup_stream_replay(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Fitted-codebook PQ search (similarity.ann_pq_fitted — the round-4
# stretch item): per-subspace Lloyd k-means codebooks (the actual
# Jégou fit) replacing the closed-form orthant cells, bit-reproduced by
# the oracle's unrolled (m, cid)-keyed iteration CTEs. Recall vs the
# exact baseline is asserted >= the orthant codebook's in
# test_dedup_similarity.
# ---------------------------------------------------------------------------
@register("q_ann_pq_fitted", oracle=_sim.ann_pq_fitted_oracle_sql())
def q_ann_pq_fitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sim.ann_pq_fitted(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Round-5 additions past the VERDICT list.
# ---------------------------------------------------------------------------
@register("q_soft_dedup", oracle=_dd.soft_dedup_oracle_sql())
def q_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SoftDeDup-style duplicate reweighting (keep every copy at weight
    # 1/multiplicity) — selection-by-weight alternative to exact_dedup
    return _dd.soft_dedup_weights(_t(spark, sf_dir, "documents"))


from pii_redactor_spark.operators import bm25 as _bm25  # noqa: E402


@register("q_bm25", oracle=_bm25.bm25_oracle_sql())
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    # retrieval-based seed-set relevance selection (Robertson-Zaragoza
    # BM25, integer-exact formulation) — the retrieval twin of q_dsir's
    # distribution-match selection; generalizes the reference's
    # hand-picked few-shot ids (reference: examples.py:5-31)
    return _bm25.bm25_topk(_t(spark, sf_dir, "documents"))


@register("q_dedup_against", oracle=_dd.dedup_against_oracle_sql())
def q_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental (corpus-vs-corpus) dedup: odd-id docs as the "new
    # snapshot" flagged against even-id docs as the accumulated corpus
    docs = _t(spark, sf_dir, "documents")
    return _dd.dedup_against(docs.filter(F.col("doc_id") % 2 == 1),
                             docs.filter(F.col("doc_id") % 2 == 0))


@register("q_dedup_against_verified",
          oracle=_dd.dedup_against_oracle_sql(verify_threshold=0.8))
def q_dedup_against_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the dedup_corpus discipline applied cross-corpus: band candidates
    # confirmed by exact shingle Jaccard >= 0.8 against the specific old
    # docs they collided with, so no non-duplicate is ever dropped on a
    # band collision
    docs = _t(spark, sf_dir, "documents")
    return _dd.dedup_against(docs.filter(F.col("doc_id") % 2 == 1),
                             docs.filter(F.col("doc_id") % 2 == 0),
                             verify_threshold=0.8)


@register("q_badwords", oracle=_rules.badword_stats_oracle_sql())
def q_badwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4's third page gate (Raffel et al. 2020 §2.2 bad-words list) —
    # deterministic stand-in blocklist, artifact-swappable mechanics
    return _rules.badword_stats(_t(spark, sf_dir, "documents"))
