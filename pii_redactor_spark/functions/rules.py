"""C4/Gopher-style heuristic quality rules as pure Spark SQL expressions.

The reference's only "quality decision" is its LLM redaction plus metric
gates; the north-star pipeline extends this to corpus-level keep/drop
quality filtering (BASELINE.json north_star: "C4/Gopher-style heuristic
quality rules ... expressed as Spark SQL column expressions").

Every rule is a Column expression — JVM-side, whole-stage codegen, no
Python — so the filter stage scans at parquet speed. Rules follow the
published C4 (Raffel et al. 2020, §2.2) and Gopher (Rae et al. 2021,
Appendix A1.1) heuristics, with thresholds adapted for short synthetic
test documents and exposed as parameters.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pii_redactor_spark.functions import text_hash

# Gopher uses a "stop word present" signal; C4 uses terminal punctuation.
STOPWORDS = [
    "the", "be", "to", "of", "and", "a", "in", "that", "have", "i",
    "it", "for", "not", "on", "with", "he", "as", "you", "do", "at",
]
SYMBOLS = "#…"       # Gopher's symbol characters, counted per word
ALPHA_RE = "[A-Za-z]"  # a word holding a match counts as alphabetic


@dataclass(frozen=True)
class QualityThresholds:
    min_words: int = 5            # Gopher: 50 (adapted for test docs)
    max_words: int = 100_000      # Gopher: 100k
    min_mean_word_len: float = 2.0   # Gopher: 3 (adapted)
    max_mean_word_len: float = 12.0  # Gopher: 10 (adapted)
    max_symbol_word_ratio: float = 0.1   # Gopher: '#'/'…' per word
    min_alpha_word_ratio: float = 0.7    # Gopher: 80% words contain alpha
    min_stopword_ratio: float = 0.02     # Gopher: >=2 of a stop list
    max_dup_line_ratio: float = 0.5      # Gopher repetition family
    max_top_bigram_ratio: float = 0.25   # Gopher: top-2-gram fraction
    max_top_trigram_ratio: float = 0.20  # Gopher: top-3-gram fraction
    max_top_quadgram_ratio: float = 0.18  # Gopher: top-4-gram fraction
    max_dup_5gram_ratio: float = 0.30    # Gopher: duplicated 5-grams
    toxicity_words: tuple[str, ...] = field(default=())


def lines_col(text: Column) -> Column:
    """Non-blank lines."""
    return F.filter(F.split(text, r"\n"), lambda l: F.trim(l) != "")


def quality_columns(
    text: Column | str,
    th: QualityThresholds | None = None,
    words: Column | None = None,
    lines: Column | None = None,
    whashes: Column | None = None,
    bigrams: Column | None = None,
    trigrams: Column | None = None,
    quadgrams: Column | None = None,
    fivegrams: Column | None = None,
    bigrams_distinct: Column | None = None,
) -> dict[str, Column]:
    """All rule-input statistics as named Columns.

    Pass pre-materialized ``words``/``lines``/``whashes``/n-gram columns
    (see ``attach_quality_stats``) so the tokenization and hashing
    subtrees are computed once per row instead of once per statistic —
    at 100 TB the 6-way duplicated split/filter tree is pure wasted CPU
    (measured 13x on sf0.1). The n-gram arrays are HASHED bigints
    (``text_hash.hashed_ngrams_col``), never strings.
    """
    t = F.col(text) if isinstance(text, str) else text
    if words is None:
        words = text_hash.words(t)
    if lines is None:
        lines = lines_col(t)
    if whashes is None:
        whashes = text_hash.word_hashes_col(words)
    if bigrams is None:
        bigrams = text_hash.hashed_ngrams_col(whashes, 2)
    if trigrams is None:
        trigrams = text_hash.hashed_ngrams_col(whashes, 3)
    if quadgrams is None:
        quadgrams = text_hash.hashed_ngrams_col(whashes, 4)
    if fivegrams is None:
        fivegrams = text_hash.hashed_ngrams_col(whashes, 5)
    # all-bigrams-distinct shortcut (round 3): a duplicate n-gram implies
    # a duplicate (n-1)-gram (its prefix repeats), so when every bigram
    # is unique the 3/4/5-gram families are provably repetition-free —
    # their modal ratio collapses to 1/len and dup ratio to 0 WITHOUT
    # building, sorting, or distinct-ing those arrays. The higher-order
    # constructions live inside the CASE's expensive branch only, so
    # clean documents (the overwhelming majority of a web corpus) never
    # pay for them; the DuckDB oracle mirrors the same branch structure
    # so outputs stay bit-identical even under 60-bit hash collisions.
    # Family sizes are derived from n_words (never F.size(grams)) so an
    # unmaterialized gram expression is evaluated exactly ONCE, inside
    # its aggregate. Pass ``bigrams_distinct`` pre-materialized
    # (attach_quality_stats does) — it gates four statistics.
    n_words = F.size(words)
    if bigrams_distinct is None:
        bigrams_distinct = \
            F.size(F.array_distinct(bigrams)) == F.size(bigrams)
    all_bi_distinct = bigrams_distinct

    def shortcut_top(n: int, grams: Column) -> Column:
        sz = F.greatest(n_words - (n - 1), F.lit(0))
        return F.when(
            sz > 0,
            F.when(all_bi_distinct, F.lit(1.0))
            .otherwise(_modal_run(grams).cast("double")) / sz,
        ).otherwise(F.lit(0.0))

    sz5 = F.greatest(n_words - 4, F.lit(0))
    dup5 = F.when(all_bi_distinct | (sz5 == 0), F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct(fivegrams)).cast("double") / sz5)
    n_lines = F.greatest(F.size(lines), F.lit(1))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike(ALPHA_RE)))
    return {
        "n_words": n_words,
        "mean_word_len": F.when(
            n_words > 0,
            F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w)).cast("double") / n_words,
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(
            n_words > 0,
            F.size(F.filter(words, lambda w: F.lower(w).isin(STOPWORDS))).cast("double") / n_words,
        ).otherwise(F.lit(0.0)),
        "symbol_word_ratio": F.when(
            n_words > 0,
            (F.length(t) - F.length(F.translate(t, SYMBOLS, ""))).cast("double") / n_words,
        ).otherwise(F.lit(0.0)),
        "alpha_word_ratio": F.when(
            n_words > 0, alpha_words.cast("double") / n_words
        ).otherwise(F.lit(0.0)),
        "mean_line_len": F.aggregate(
            lines, F.lit(0), lambda a, l: a + F.length(l)
        ).cast("double") / n_lines,
        "dup_line_ratio": F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / n_lines,
        "top_bigram_ratio": F.when(
            n_words - 1 > 0,
            F.when(all_bi_distinct, F.lit(1.0))
            .otherwise(_modal_run(bigrams).cast("double")) / (n_words - 1),
        ).otherwise(F.lit(0.0)),
        # Gopher's wider repetition family: most-frequent 3-/4-gram
        # fraction (same sorted run-length trick) and the fraction of
        # 5-gram occurrences that are duplicates — all gated behind the
        # all-bigrams-distinct shortcut above
        "top_trigram_ratio": shortcut_top(3, trigrams),
        "top_quadgram_ratio": shortcut_top(4, quadgrams),
        "dup_5gram_ratio": dup5,
    }


def _modal_run(ngrams: Column) -> Column:
    """Count of the most frequent element: sort + longest-equal-run in
    ONE aggregate pass — O(n log n) instead of the naive O(d*n)
    distinct-x-filter formulation (which cost 3.4k comparisons per
    60-word doc and tripled the pipeline's corpus-scale runtime). The
    arrays are hashed bigints (round 3), so both the sort and the run
    comparisons are long ops, not string ops. Zero shuffle; pass a
    *materialized* column (attach_quality_stats does) so nested HOFs
    don't re-evaluate the construction per element. ``prev`` starts at
    -1: word hashes are 60-bit non-negative, so -1 never matches."""
    return F.aggregate(
        F.array_sort(ngrams),
        F.struct(F.lit(-1).cast("bigint").alias("prev"),
                 F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )



def toxicity_hit(text: Column | str, toxicity_words: list[str]) -> Column:
    """True if any toxicity-wordlist token occurs as a standalone word."""
    t = F.col(text) if isinstance(text, str) else text
    if not toxicity_words:
        return F.lit(False)
    words = F.transform(text_hash.words(t), lambda w: F.lower(w))
    return F.size(F.array_intersect(
        words, F.array(*[F.lit(w.lower()) for w in toxicity_words])
    )) > 0


def toxicity_hit_sql(text: str, toxicity_words: list[str]) -> str:
    """DuckDB twin of ``toxicity_hit``."""
    if not toxicity_words:
        return "false"
    lst = ", ".join(f"'{w.lower()}'" for w in toxicity_words)
    words = text_hash.WORDS_SQL.format(t=text)
    return (f"(len(list_intersect(list_transform({words}, w -> lower(w)), "
            f"[{lst}])) > 0)")


# The Gopher keep decision, one row per bound: (reason, statistic, side,
# QualityThresholds field). A "lo" bound fires below the field's value,
# a "hi" bound above it; a reason with two rows fires on either. The
# Spark gate, its SQL twin and fit_thresholds are all read off this table.
RULES: tuple[tuple[str, str, str, str], ...] = (
    ("too_few_words", "n_words", "lo", "min_words"),
    ("too_many_words", "n_words", "hi", "max_words"),
    ("mean_word_len_out_of_range", "mean_word_len", "lo", "min_mean_word_len"),
    ("mean_word_len_out_of_range", "mean_word_len", "hi", "max_mean_word_len"),
    ("symbol_ratio_high", "symbol_word_ratio", "hi", "max_symbol_word_ratio"),
    ("alpha_ratio_low", "alpha_word_ratio", "lo", "min_alpha_word_ratio"),
    ("stopword_ratio_low", "stopword_ratio", "lo", "min_stopword_ratio"),
    ("dup_lines_high", "dup_line_ratio", "hi", "max_dup_line_ratio"),
    ("repeated_bigram_high", "top_bigram_ratio", "hi", "max_top_bigram_ratio"),
    ("repeated_trigram_high", "top_trigram_ratio", "hi", "max_top_trigram_ratio"),
    ("repeated_quadgram_high", "top_quadgram_ratio", "hi", "max_top_quadgram_ratio"),
    ("dup_5gram_high", "dup_5gram_ratio", "hi", "max_dup_5gram_ratio"),
)
RULE_STATS = tuple(dict.fromkeys(stat for _, stat, _, _ in RULES))


def _rule_checks(th: QualityThresholds, bound, either, toxic) -> list:
    """(reason, condition) per reason in RULES order: ``bound(stat, op,
    value)`` builds one bound, ``either(conds)`` joins a reason's bounds,
    ``toxic`` is the toxicity condition (appended when configured)."""
    conds: dict[str, list] = {}
    for reason, stat, side, field in RULES:
        conds.setdefault(reason, []).append(
            bound(stat, "<" if side == "lo" else ">", getattr(th, field)))
    checks = [(r, either(cs)) for r, cs in conds.items()]
    if th.toxicity_words:
        checks.append(("toxicity", toxic))
    return checks


def keep_decision(th: QualityThresholds | None = None) -> tuple[Column, Column]:
    """(keep: boolean, reasons: array<string>) over the columns produced by
    ``quality_columns`` (+ ``is_toxic`` if toxicity is configured).

    Mirrors the reference's per-document decision surface (score +
    severity feedback, optimizer.py:216-247) as a corpus filter: a doc is
    kept iff no rule fires; ``reasons`` lists the fired rules (the
    equivalent of the reference's feedback strings).
    """
    checks = _rule_checks(
        th or QualityThresholds(),
        lambda stat, op, v: F.col(stat) < v if op == "<" else F.col(stat) > v,
        lambda cs: reduce(operator.or_, cs), F.col("is_toxic"))
    reasons = F.array_compact(F.array(*[
        F.when(cond, F.lit(name)) for name, cond in checks
    ]))
    return F.size(reasons) == 0, reasons


def rule_reasons_sql(th: QualityThresholds | None = None
                     ) -> tuple[str, str, str]:
    """DuckDB twin of ``keep_decision`` over ``quality_stats_sql``'s
    columns: (reasons list in rule order, keep, n_reasons INT)."""
    checks = _rule_checks(th or QualityThresholds(),
                          lambda stat, op, v: f"{stat} {op} {v!r}",
                          " OR ".join, "is_toxic")
    reasons = ("list_filter(["
               + ", ".join(f"CASE WHEN {cond} THEN '{name}' END"
                           for name, cond in checks)
               + "], x -> x IS NOT NULL)")
    return reasons, f"(len({reasons}) = 0)", f"CAST(len({reasons}) AS INT)"


def attach_quality_stats(df: DataFrame, text_col: str = "text",
                         th: QualityThresholds | None = None) -> DataFrame:
    """Two-projection stats: materialize ``_words``/``_lines`` in their own
    Project so Catalyst's CollapseProject keeps them shared (non-cheap,
    multi-use expressions are not re-inlined), then derive all statistics
    from the shared arrays. Temps are dropped. A NULL text reads as '':
    no words and no lines, so it gets ''s verdict and reasons."""
    t = F.col(text_col)
    wh = F.col("_whashes")
    empty = F.array().cast("array<string>")
    pre = (
        df.withColumn("_words", F.coalesce(text_hash.words(t), empty))
          .withColumn("_lines", F.coalesce(lines_col(t), empty))
          .withColumn("_whashes",
                      text_hash.word_hashes_col(F.col("_words")))
          .withColumn("_bigrams", text_hash.hashed_ngrams_col(wh, 2))
          # the distinctness flag gates four statistics -> materialize
          .withColumn("_abd",
                      F.size(F.array_distinct(F.col("_bigrams")))
                      == F.size(F.col("_bigrams")))
    )
    # 3/4/5-gram arrays are intentionally NOT materialized: each is
    # referenced exactly once inside a CASE branch that only executes
    # for documents with a repeated bigram (see quality_columns)
    stats = quality_columns(t, th, words=F.col("_words"),
                            lines=F.col("_lines"),
                            whashes=wh,
                            bigrams=F.col("_bigrams"),
                            trigrams=text_hash.hashed_ngrams_col(wh, 3),
                            quadgrams=text_hash.hashed_ngrams_col(wh, 4),
                            fivegrams=text_hash.hashed_ngrams_col(wh, 5),
                            bigrams_distinct=F.col("_abd"))
    return pre.withColumns(stats).drop(
        "_words", "_lines", "_whashes", "_bigrams", "_abd")


def with_rule_stats(df: DataFrame, text_col: str = "text",
                    th: QualityThresholds | None = None) -> DataFrame:
    """``attach_quality_stats`` plus the ``is_toxic`` flag when ``th``
    lists toxicity words: every column ``keep_decision`` reads."""
    th = th or QualityThresholds()
    df = attach_quality_stats(df, text_col, th)
    if th.toxicity_words:
        df = df.withColumn("is_toxic", toxicity_hit(text_col, list(th.toxicity_words)))
    return df


def with_quality(df: DataFrame, text_col: str = "text",
                 th: QualityThresholds | None = None) -> DataFrame:
    """Attach rule stats + keep/reasons to a corpus DataFrame."""
    keep, reasons = keep_decision(th)
    return (with_rule_stats(df, text_col, th)
            .withColumn("keep", keep).withColumn("reasons", reasons))


def quality_stats_sql(table: str = "documents", text_col: str = "text",
                      th: QualityThresholds | None = None) -> str:
    """DuckDB twin of ``with_rule_stats``: every column of ``table`` plus
    the statistics of ``quality_columns`` (and ``is_toxic`` when ``th``
    lists toxicity words). The n-gram arrays are the hashed word n-grams
    of functions/text_hash.py, so the ratios are bit-identical in both
    engines; the all-bigrams-distinct shortcut mirrors the Spark branch
    structure so results stay equal even under 60-bit hash collisions.
    A NULL text reads as '', as in ``attach_quality_stats``."""
    th = th or QualityThresholds()
    text = f"COALESCE({text_col}, '')"
    stopwords = "[" + ",".join(f"'{w}'" for w in STOPWORDS) + "]"
    toxic = (f", {toxicity_hit_sql(text_col, list(th.toxicity_words))}"
             " AS is_toxic" if th.toxicity_words else "")

    symbols = " + ".join(
        f"(length({text_col}) - length(replace({text_col}, '{c}', '')))"
        for c in SYMBOLS)

    def per_word(count: str) -> str:
        return (f"CASE WHEN len(_words) > 0 THEN CAST({count} AS DOUBLE) "
                f"/ len(_words) ELSE 0.0 END")

    def top(n: int, grams: str) -> str:
        sz = f"GREATEST(len(_words) - {n - 1}, 0)"
        return f"""CASE WHEN {sz} > 0 THEN
      (CASE WHEN len(list_distinct(_bigrams)) = len(_bigrams) THEN 1.0 ELSE
        CAST(list_max(list_transform(
               list_distinct({grams}),
               b -> len(list_filter({grams}, x -> x = b)))) AS DOUBLE) END)
        / ({sz})
      ELSE 0.0 END"""

    grams = ", ".join(
        f"{text_hash.hashed_ngrams_sql('_whashes', n)} AS _{name}"
        for n, name in ((2, "bigrams"), (3, "trigrams"), (4, "quadgrams"),
                        (5, "fivegrams")))
    return f"""
WITH base AS (
  SELECT *, {text_hash.word_hashes_sql('_words')} AS _whashes
  FROM (SELECT *,
          {text_hash.WORDS_SQL.format(t=text)} AS _words,
          list_filter(string_split({text}, chr(10)),
                      l -> trim(l) <> '') AS _lines
        FROM {table})),
grams AS (SELECT *, {grams} FROM base)
SELECT * EXCLUDE (_words, _lines, _whashes, _bigrams, _trigrams,
                  _quadgrams, _fivegrams),
    len(_words) AS n_words,
    {per_word("list_sum(list_transform(_words, w -> length(w)))")}
      AS mean_word_len,
    {per_word(f"len(list_filter(_words, w -> list_contains({stopwords}, lower(w))))")}
      AS stopword_ratio,
    {per_word(symbols)} AS symbol_word_ratio,
    {per_word(f"len(list_filter(_words, w -> regexp_matches(w, '{ALPHA_RE}')))")}
      AS alpha_word_ratio,
    CAST(COALESCE(list_sum(list_transform(_lines, l -> length(l))), 0) AS DOUBLE)
      / GREATEST(len(_lines), 1) AS mean_line_len,
    1.0 - CAST(len(list_distinct(_lines)) AS DOUBLE) / GREATEST(len(_lines), 1) AS dup_line_ratio,
    {top(2, '_bigrams')} AS top_bigram_ratio,
    {top(3, '_trigrams')} AS top_trigram_ratio,
    {top(4, '_quadgrams')} AS top_quadgram_ratio,
    CASE WHEN len(list_distinct(_bigrams)) = len(_bigrams)
              OR GREATEST(len(_words) - 4, 0) = 0 THEN 0.0 ELSE
      1.0 - CAST(len(list_distinct(_fivegrams)) AS DOUBLE)
            / (len(_words) - 4)
      END AS dup_5gram_ratio{toxic}
FROM grams
"""


# --------------------------------------------------------------------------
# C4 sentence-level rules (Raffel et al. 2020 §2.2) — the line/sentence
# family the paragraph-free Gopher stats above cannot express. C4 keeps
# only lines that end in a terminal punctuation mark and have >= 5
# words, drops lines mentioning javascript, and drops whole pages with
# fewer than 3 sentences, a "lorem ipsum" marker, or a curly brace
# (code). All expression-form, mirrored exactly in the DuckDB oracle.
#
# The driver corpus is a punctuation-free word stream (TESTDATA.md), so
# sentence boundaries cannot come from the data: ``synth_punct_col``
# derives a deterministic punctuated view (md5-keyed sentence enders +
# line breaks, same arithmetic on both engines). Real corpora skip the
# synthesis and run the rules on their own text.
# --------------------------------------------------------------------------

C4_MIN_LINE_WORDS = 5   # C4 §2.2: "only retained lines that ... contained
C4_MIN_SENTENCES = 3    # at least 5 words"; "at least 3 sentences"


def synth_punct_col(text: Column) -> Column:
    """Deterministic punctuated view of a word stream: each word w gets
    a sentence-terminating '.' iff md5('c4:'||w) starts with hex 0-3
    (P=1/4), and is followed by a line break instead of a space iff the
    second hex digit is '0' (P=1/16) — giving ~4-word sentences and
    ~16-word lines with doc-dependent variation. NULL text -> ''."""
    def tok(w: Column) -> Column:
        m = F.md5(F.concat(F.lit("c4:"), w))
        punct = F.when(F.substring(m, 1, 1).isin("0", "1", "2", "3"),
                       F.lit(".")).otherwise(F.lit(""))
        sep = F.when(F.substring(m, 2, 1) == "0",
                     F.lit("\n")).otherwise(F.lit(" "))
        return F.concat(w, punct, sep)
    return F.trim(F.coalesce(
        F.array_join(F.transform(text_hash.words(text), tok), ""),
        F.lit("")))


def synth_punct_sql(text_expr: str) -> str:
    """DuckDB twin of ``synth_punct_col`` (same md5 arithmetic)."""
    words = text_hash.WORDS_SQL.format(t=text_expr)
    tok = ("w || (CASE WHEN substr(md5('c4:' || w), 1, 1) IN "
           "('0','1','2','3') THEN '.' ELSE '' END) || "
           "(CASE WHEN substr(md5('c4:' || w), 2, 1) = '0' "
           "THEN chr(10) ELSE ' ' END)")
    return (f"trim(COALESCE(array_to_string("
            f"list_transform({words}, w -> {tok}), ''), ''))")


def c4_stats(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id",
             min_line_words: int = C4_MIN_LINE_WORDS,
             min_sentences: int = C4_MIN_SENTENCES) -> DataFrame:
    """(id, n_lines, n_kept_lines, n_sentences, c4_keep, kept_hash,
    kept_len): the C4 line filter + page gate over ``text_col`` (which
    must carry real line/sentence structure — compose with
    ``synth_punct_col`` for the synthetic corpus).

    Line keep: trimmed line ends in [.!?"], has >= min_line_words
    words, and does not mention javascript. Page keep: >= min_sentences
    terminal marks across kept lines, no 'lorem ipsum', no '{'.
    Everything is one projection over the scan — zero shuffle, zero
    Python; counts are exact ints and the kept text is pinned by
    md5+length (the contract comparator's compact form). NULL text
    reads as '' (as the oracle does): no lines, no sentences, dropped."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.transform(lines_col(t), lambda l: F.trim(l))
    pre = df.withColumn("_lns", lines)

    def line_ok(l: Column) -> Column:
        n_words = F.size(F.filter(F.split(l, r"\s+"),
                                  lambda w: w != ""))
        return (l.rlike(r'[.!?"]$')
                & (n_words >= F.lit(min_line_words))
                & ~F.contains(F.lower(l), F.lit("javascript")))

    pre = pre.withColumn("_kept", F.filter(F.col("_lns"), line_ok))
    kept_text = F.array_join(F.col("_kept"), "\n")
    n_sent = F.aggregate(
        F.col("_kept"), F.lit(0),
        lambda acc, l: acc + F.length(l)
        - F.length(F.regexp_replace(l, r"[.!?]", "")))
    low = F.lower(t)
    page_ok = ((n_sent >= F.lit(min_sentences))
               & ~F.contains(low, F.lit("lorem ipsum"))
               & ~F.contains(low, F.lit("{")))
    return pre.select(
        id_col,
        F.size("_lns").cast("int").alias("n_lines"),
        F.size("_kept").cast("int").alias("n_kept_lines"),
        n_sent.cast("int").alias("n_sentences"),
        page_ok.alias("c4_keep"),
        F.md5(kept_text).alias("kept_hash"),
        F.length(kept_text).cast("int").alias("kept_len"),
    )


def c4_stats_oracle_sql(table: str = "documents",
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        synth: bool = True,
                        min_line_words: int = C4_MIN_LINE_WORDS,
                        min_sentences: int = C4_MIN_SENTENCES) -> str:
    """DuckDB twin of ``c4_stats`` (optionally over the synthesized
    punctuated view)."""
    t2 = synth_punct_sql(text_col) if synth else f"COALESCE({text_col}, '')"
    line_ok = (
        f"regexp_matches(l, '[.!?\"]$') AND "
        f"len(list_filter(string_split_regex(l, '\\s+'), w -> w <> ''))"
        f" >= {min_line_words} AND "
        f"NOT contains(lower(l), 'javascript')")
    n_sent = ("list_sum(list_transform(kept, l -> "
              "length(l) - length(regexp_replace(l, '[.!?]', '', 'g'))))")
    return f"""
    WITH p AS (SELECT {id_col}, {t2} AS t2 FROM {table}),
    b AS (
      SELECT {id_col}, t2,
             list_transform(list_filter(string_split(t2, chr(10)),
                            l -> trim(l) <> ''), l -> trim(l)) AS lns
      FROM p),
    k AS (
      SELECT {id_col}, t2, lns,
             list_filter(lns, l -> {line_ok}) AS kept
      FROM b)
    SELECT {id_col},
           CAST(len(lns) AS INT) AS n_lines,
           CAST(len(kept) AS INT) AS n_kept_lines,
           CAST(COALESCE({n_sent}, 0) AS INT) AS n_sentences,
           (COALESCE({n_sent}, 0) >= {min_sentences}
            AND NOT contains(lower(COALESCE(t2, '')), 'lorem ipsum')
            AND NOT contains(lower(COALESCE(t2, '')), '{{'))
           AS c4_keep,
           md5(COALESCE(array_to_string(kept, chr(10)), ''))
           AS kept_hash,
           CAST(length(COALESCE(array_to_string(kept, chr(10)), ''))
                AS INT) AS kept_len
    FROM k
    """


# C4's third page-level gate (Raffel et al. 2020 §2.2): "removed any
# page that contained any word on the 'List of Dirty, Naughty, Obscene
# or Otherwise Bad Words'". The real list is an external artifact; the
# engine ships a deterministic stand-in over the synthetic vocabulary
# (two planted 'blocked' words) with the SAME mechanics — swap
# BADWORDS for the production list and nothing else changes. The list
# is broadcast-small by construction (the published list is ~400
# entries), so the membership test is a pure projection: lowercase
# word array ∩ literal array, zero shuffle, zero Python.
BADWORDS = ("slow", "corrupt")


def badword_stats(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  badwords: tuple[str, ...] = BADWORDS) -> DataFrame:
    """(id, n_words, n_badwords, bad_keep): C4 bad-words page gate.
    ``n_badwords`` counts OCCURRENCES (not distinct hits) so the column
    doubles as a blocklist-density signal; the C4 gate itself is the
    any-hit boolean."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    pre = df.withColumn("_w", F.transform(text_hash.words(t),
                                          lambda w: F.lower(w)))
    n_bad = F.size(F.filter(
        F.col("_w"), _in_list_factory(badwords)))
    return pre.select(
        F.col(id_col),
        F.size("_w").cast("bigint").alias("n_words"),
        n_bad.cast("bigint").alias("n_badwords"),
        (n_bad == 0).alias("bad_keep"))


def _in_list_factory(badwords: tuple[str, ...]):
    # closure factory (HOF lambda arity rule): membership as a chained
    # OR over literals — a tiny list by construction, stays codegen'd
    def check(w):
        cond = F.lit(False)
        for b in badwords:
            cond = cond | (w == F.lit(b))
        return cond
    return check


def badword_stats_oracle_sql(table: str = "documents",
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             badwords: tuple[str, ...] = BADWORDS) -> str:
    lst = ", ".join(f"'{w}'" for w in badwords)
    words = text_hash.WORDS_SQL.format(t=f"coalesce({text_col}, '')")
    words = f"list_transform({words}, w -> lower(w))"
    return f"""
SELECT {id_col},
       CAST(len(_w) AS BIGINT) AS n_words,
       CAST(len(list_filter(_w, w -> list_contains([{lst}], w)))
            AS BIGINT) AS n_badwords,
       len(list_filter(_w, w -> list_contains([{lst}], w))) = 0
         AS bad_keep
FROM (SELECT {id_col}, {words} AS _w FROM {table})
"""
