"""Each served rule, URL, corpus, n-gram, split and pack builder equals
its DuckDB twin when both are called directly on the same rows, the
adversarial ones included; and contract.py, which only registers
queries, spells none of the constants those twins are built from."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pii_redactor_spark.contract import ORACLE_SQL, QUERIES
from pii_redactor_spark.functions import text_hash, url_rules
from pii_redactor_spark.functions.rules import (
    RULE_STATS, QualityThresholds, quality_stats_sql, rule_reasons_sql,
    with_quality)
from pii_redactor_spark.operators import ranking
from pii_redactor_spark.operators.cache import release_caches
from pii_redactor_spark.operators.decontaminate import (
    contamination, contamination_sql)
from pii_redactor_spark.operators.dedup import (
    span_dedup_rewrite, span_dedup_rewrite_oracle_sql, span_dup_stats,
    span_dup_stats_oracle_sql)
from pii_redactor_spark.operators.sampling import hash_split, hash_split_sql
from pii_redactor_spark.plans.fit import fit_thresholds
from pii_redactor_spark.sources.corpus import (
    HOT_HOST, from_documents, from_documents_sql, html_bytes_sql)

PKG = Path(__file__).resolve().parent.parent / "pii_redactor_spark"

FOX = "the quick brown fox jumps over the lazy dog near the river bank"
TEXTS = [
    (1, "the cat sat on the mat and the cat sat on the mat again"),
    (2, "naïve café über straße — 日本語 テキスト ✓ # … Tox_Slur_A"),
    (3, "a\x0bb"),
    (4, "  tab\tseparated\nlines\x0bvertical\x0ctab  "),
    (5, FOX + " today"),
    (6, "yesterday " + FOX),
    (7, "to be or not\nto be or not\n## … x1 y2 z3"),
    (8, "if a < b && b > c then <b>bold</b> wins"),
]
URLS = [
    (1, "https://sitea.example/doc/1"),
    (2, "https://cdn.example/assets/img_2.JPG"),
    (3, "https://shop.example/cart/item/3?ref=abc#frag"),
    (4, "HTTPS://MiXeD.Example/Path/4/"),
    (5, "https://deep.example" + "/p" * 12 + "/5"),
    (6, "https://Blocked.example/page/6"),
    (7, "https://long.example/" + "a" * 2100),
    (8, "ftp://no-path.example"),
]
NON_DEFAULT = QualityThresholds(min_words=7, max_top_bigram_ratio=0.31,
                                toxicity_words=("tox_slur_a",))
TOKENS_SQL = (f"SELECT doc_id, {ranking.regex_token_count_sql('text')} "
              "AS n_tokens FROM docs")


def _tokens(docs):
    return docs.select(
        "doc_id", ranking.regex_token_count(F.col("text")).alias("n_tokens"))


def _quality(th):
    def case(docs):
        reasons, keep, n_reasons = rule_reasons_sql(th)
        cols = list(RULE_STATS) + ["mean_line_len"] + (
            ["is_toxic"] if th.toxicity_words else [])
        out = with_quality(docs, "text", th).select(
            "doc_id", *cols, "reasons", "keep",
            F.size("reasons").cast("int").alias("n_reasons"))
        sql = f"""SELECT doc_id, {', '.join(cols)}, {reasons} AS reasons,
                         {keep} AS keep, {n_reasons} AS n_reasons
                  FROM ({quality_stats_sql('docs', 'text', th)})"""
        return sql, out
    return case


CASES = {
    "quality_default": _quality(QualityThresholds()),
    "quality_non_default": _quality(NON_DEFAULT),
    "corpus": lambda docs: (
        f"""SELECT host, url, CAST(epoch(warc_ts) AS BIGINT) AS ts, text,
                   {html_bytes_sql('url', 'text')} AS html_bytes
            FROM ({from_documents_sql('docs')})""",
        from_documents(docs).select(
            url_rules.host_of("url").alias("host"), "url",
            F.col("warc_ts").cast("long").alias("ts"), "text",
            F.length("html").alias("html_bytes"))),
    "distinct_ngrams_2": lambda docs: (
        f"SELECT doc_id, list_sort(_g) AS g FROM "
        f"({text_hash.distinct_ngrams_sql('docs', 'text', 2)})",
        text_hash.distinct_ngrams(docs, "text", 2)
        .select("doc_id", F.array_sort("_g").alias("g"))),
    "distinct_ngrams_8": lambda docs: (
        f"SELECT doc_id, list_sort(_g) AS g FROM "
        f"({text_hash.distinct_ngrams_sql('docs', 'text', 8)})",
        text_hash.distinct_ngrams(docs, "text", 8)
        .select("doc_id", F.array_sort("_g").alias("g"))),
    "contamination": lambda docs: (
        f"""SELECT doc_id, shared_ngrams, contaminated FROM ({contamination_sql(
            'docs', '(SELECT * FROM docs WHERE doc_id = 5)', min_shared=3)})""",
        contamination(docs, docs.filter("doc_id = 5"), min_shared=3)
        .select("doc_id", "shared_ngrams", "contaminated")),
    "span_dup_stats": lambda docs: (
        span_dup_stats_oracle_sql("docs"), span_dup_stats(docs)),
    "span_dedup_rewrite": lambda docs: (
        span_dedup_rewrite_oracle_sql("docs"), span_dedup_rewrite(docs)),
    "hash_split_default": lambda docs: (
        f"SELECT doc_id, part FROM ({hash_split_sql('docs')})",
        hash_split(docs).select("doc_id", "part")),
    "hash_split_50_25": lambda docs: (
        f"SELECT doc_id, s FROM ({hash_split_sql('docs', train_pct=50, val_pct=25, part_col='s')})",
        hash_split(docs, train_pct=50, val_pct=25, part_col="s")
        .select("doc_id", "s")),
    "regex_token_count": lambda docs: (TOKENS_SQL, _tokens(docs)),
    "pack": lambda docs: (
        ranking.pack_oracle_sql(TOKENS_SQL), ranking.pack(_tokens(docs))),
    "pack_rows": lambda docs: (
        ranking.pack_rows_oracle_sql(TOKENS_SQL),
        ranking.pack_rows(ranking.pack(_tokens(docs)))),
}


@pytest.fixture(scope="module")
def docs(spark, with_adversarial):
    return with_adversarial(spark.createDataFrame(
        [(i, t, "en") for i, t in TEXTS], "doc_id long, text string, lang string"))


@pytest.mark.parametrize("name", sorted(CASES))
def test_builder_matches_sql_twin(docs, oracle, name):
    sql, out = CASES[name](docs)
    got, want = oracle(sql, out, docs=docs)
    release_caches()
    assert got == want
    assert len(got) >= len(TEXTS)


def test_rules_match_twin_at_fitted_thresholds(spark, sf_docs, docs, oracle):
    th = fit_thresholds(sf_docs, lo=0.2, hi=0.8)
    assert th != QualityThresholds()
    sql, out = _quality(th)(docs)
    got, want = oracle(sql, out, docs=docs)
    assert got == want
    # the fitted gate drops some sf documents and keeps others
    keep = {r.keep for r in with_quality(sf_docs, "text", th)
            .select("keep").distinct().collect()}
    assert keep == {True, False}


def test_gopher_gate_reads_null_text_as_empty(docs, oracle):
    """Over the adversarial rows: keep is never NULL, Spark equals the
    SQL twin, every drop names a reason, and a NULL text gets the
    verdict and reasons of '' (before, its NULL word count fired
    neither too_few_words nor dup_lines_high)."""
    sql, out = _quality(QualityThresholds())(docs)
    got, want = oracle(sql, out, docs=docs)
    assert got == want
    cols = out.columns
    rows = {r[0]: dict(zip(cols, r)) for r in got}
    assert all(r["keep"] is not None for r in rows.values())
    assert all(r["reasons"] for r in rows.values() if not r["keep"])
    null, empty = rows[90001], rows[90002]
    assert null["keep"] is empty["keep"] is False
    assert null["reasons"] == empty["reasons"]
    assert {"too_few_words", "dup_lines_high"} <= set(null["reasons"])
    assert {k: v for k, v in null.items() if k != "doc_id"} == \
        {k: v for k, v in empty.items() if k != "doc_id"}


def test_url_rules_match_sql_twin(spark, with_adversarial, oracle):
    urls = with_adversarial(spark.createDataFrame(
        URLS, "doc_id long, text string")).withColumnRenamed("text", "url")
    blocked = ["Blocked.Example"]
    out = (url_rules.with_url_rules(urls, blocked_hosts=blocked)
           .withColumn("canonical", url_rules.canonical_url("url"))
           .select("doc_id", "host", "path", "url_reasons", "url_keep",
                   "canonical"))
    sql = f"""SELECT doc_id, host, path, url_reasons, url_keep,
                     {url_rules.canonical_url_sql('url')} AS canonical
              FROM ({url_rules.url_rules_sql('urls', blocked_hosts=blocked)})"""
    got, want = oracle(sql, out, urls=urls)
    assert got == want
    reasons = {r[0]: r[3] for r in got}
    assert reasons[2] == ["blocked_extension"]
    assert reasons[5] == ["path_too_deep"]
    assert reasons[6] == ["blocked_host"]
    assert reasons[7] == ["url_too_long"]


def test_q_token_count_twin_on_a_vertical_tab(spark, oracle, tmp_path):
    """Java's \\s holds \\x0B and RE2's does not: a query whose oracle
    spelled the class as \\s counted 'a\\x0Bb' as 2 tokens in Spark and
    3 in DuckDB."""
    spark.createDataFrame([(1, "a\x0bb"), (2, "x\x0b\x0by")],
                          "doc_id long, text string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["q_token_count"](spark, str(tmp_path))
    documents = spark.read.parquet(str(tmp_path / "documents.parquet"))
    got, want = oracle(ORACLE_SQL["q_token_count"], out, documents=documents)
    assert got == want == [(1, 2, 2), (2, 2, 2)]


# What contract.py must not spell: each is built beside its Spark builder.
CONTRACT_FORBIDDEN = {
    "threshold comparison": rf"\b({'|'.join(RULE_STATS)})\s*[<>]",
    "URL regex": re.escape(url_rules._SCHEME),
    "hot host": re.escape(HOT_HOST),
    "cold host": r"'site'\s*\|\|",
    "url length": rf"\b{url_rules.MAX_URL_LEN}\b",
    "path token": re.escape(url_rules.BLOCKED_PATH_TOKENS[0]),
    "split percentage": r"%\s*100\s*<",
    "BPE_RE text": re.escape(ranking.BPE_RE[:12]),
    "SEQ_TOKENS arithmetic": r"(//|\bdiv)\s*\{?(SEQ_TOKENS|b)\b",
    "SEQ_TOKENS literal": rf"\b{ranking.SEQ_TOKENS}\b",
}


def test_contract_spells_no_twin_constant():
    src = (PKG / "contract.py").read_text()
    found = {k: m.group(0) for k, pat in CONTRACT_FORBIDDEN.items()
             if (m := re.search(pat, src))}
    assert found == {}


def test_twin_constants_are_spelled_once_in_the_package():
    sources = "\n".join(p.read_text() for p in sorted(PKG.rglob("*.py")))
    for text in (url_rules._SCHEME, HOT_HOST, ranking.BPE_RE[:12],
                 url_rules.BLOCKED_PATH_TOKENS[0], "[^/?#]+("):
        assert sources.count(text) == 1, text
