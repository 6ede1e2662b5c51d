"""Quality rules (hand cases), langid accuracy, perplexity monotonicity
(SURVEY §5.2 item 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pii_redactor_spark.functions.rules import (
    QualityThresholds,
    with_quality,
)
from pii_redactor_spark.kernels.langid import predict_lang_batch
from pii_redactor_spark.kernels.perplexity import make_perplexity_udf, perplexity_batch

NATURAL_EN = ("The children walked to school in the morning and read their "
              "favorite stories about the history of the country.")
GARBLED = "xq zvk jjq wfp qzx vkj mmx ppw zzq xkv jqz wpf qqq zzz xxx"
HELD_OUT = {
    "en": "The library opens early on Saturday and the students arrive with their books.",
    "de": "Die Bibliothek öffnet samstags früh und die Studenten kommen mit ihren Büchern.",
    "es": "La biblioteca abre temprano los sábados y los estudiantes llegan con sus libros.",
    "fr": "La bibliothèque ouvre tôt le samedi et les étudiants arrivent avec leurs livres.",
    "zh": "图书馆星期六很早开门，学生们带着他们的书来了。",
}


class TestQualityRules:
    @pytest.fixture(scope="class")
    def quality(self, spark):
        rows = [
            ("ok", NATURAL_EN),
            ("short", "Hi there"),
            ("symbols", "# " * 40 + "word"),
            ("dup_lines", "same line\n" * 10 + "unique\n"),
            ("no_alpha", " ".join(["123 456 789"] * 5)),
            ("toxic", NATURAL_EN + " tox_slur_a"),
        ]
        th = QualityThresholds(toxicity_words=("tox_slur_a",))
        df = with_quality(
            spark.createDataFrame(rows, "id string, text string"), "text", th)
        return {r["id"]: r for r in df.collect()}

    def test_natural_doc_kept(self, quality):
        assert quality["ok"]["keep"] is True
        assert quality["ok"]["reasons"] == []

    def test_short_doc_dropped(self, quality):
        assert quality["short"]["keep"] is False
        assert "too_few_words" in quality["short"]["reasons"]

    def test_symbol_ratio(self, quality):
        assert "symbol_ratio_high" in quality["symbols"]["reasons"]

    def test_dup_lines(self, quality):
        assert "dup_lines_high" in quality["dup_lines"]["reasons"]
        assert quality["dup_lines"]["dup_line_ratio"] > 0.8

    def test_alpha_ratio(self, quality):
        assert "alpha_ratio_low" in quality["no_alpha"]["reasons"]

    def test_toxicity(self, quality):
        assert "toxicity" in quality["toxic"]["reasons"]

    def test_repeated_bigram(self, spark):
        from pii_redactor_spark.functions.rules import with_quality
        rows = [
            (0, "buy now " * 20),                      # one bigram dominates
            (1, "the quick brown fox jumps over a lazy dog near the river"),
        ]
        df = with_quality(
            spark.createDataFrame(rows, "doc_id long, text string"))
        out = {r["doc_id"]: r for r in df.collect()}
        assert out[0]["top_bigram_ratio"] > 0.4
        assert "repeated_bigram_high" in out[0]["reasons"]
        assert out[1]["top_bigram_ratio"] < 0.25
        assert "repeated_bigram_high" not in out[1]["reasons"]

    def test_repeated_trigram_quadgram_and_dup_5gram(self, spark):
        from pii_redactor_spark.functions.rules import with_quality
        rows = [
            # one trigram repeated back-to-back dominates
            (0, "click here now " * 15),
            # the same 6-word phrase (hence its 5-grams) repeated
            (1, "totally unique filler sentence fragment here " * 10),
            (2, "the quick brown fox jumps over a lazy dog near the "
                "river while birds sing softly in distant oak trees"),
        ]
        df = with_quality(
            spark.createDataFrame(rows, "doc_id long, text string"))
        out = {r["doc_id"]: r for r in df.collect()}
        assert out[0]["top_trigram_ratio"] > 0.3
        assert "repeated_trigram_high" in out[0]["reasons"]
        assert out[1]["dup_5gram_ratio"] > 0.5
        assert "dup_5gram_high" in out[1]["reasons"]
        assert out[2]["top_trigram_ratio"] <= 0.20
        assert out[2]["top_quadgram_ratio"] <= 0.18
        assert out[2]["dup_5gram_ratio"] == 0.0
        for r in ("repeated_trigram_high", "repeated_quadgram_high",
                  "dup_5gram_high"):
            assert r not in out[2]["reasons"]

    def test_ngrams_short_docs_empty(self, spark):
        from pii_redactor_spark.functions.text_hash import (
            hashed_ngrams_col, word_hashes_col, words)
        from pyspark.sql import functions as F
        df = spark.createDataFrame(
            [("one two",), ("",), ("a b c d e",)], "text string")
        wh = word_hashes_col(words(F.col("text")))
        out = df.select(
            F.size(hashed_ngrams_col(wh, 5)).alias("n5"),
            F.size(hashed_ngrams_col(wh, 3)).alias("n3"),
        ).collect()
        assert [(r["n5"], r["n3"]) for r in out] == [(0, 0), (0, 0), (1, 3)]

    def test_stats_sane(self, quality):
        ok = quality["ok"]
        assert ok["n_words"] == len(NATURAL_EN.split())
        assert 2.0 < ok["mean_word_len"] < 12.0
        assert ok["stopword_ratio"] > 0.1


class TestLangid:
    def test_held_out_accuracy(self):
        langs = list(HELD_OUT)
        preds, confs = predict_lang_batch([HELD_OUT[l] for l in langs])
        assert preds == langs
        assert all(c is not None and 0 < c <= 1 for c in confs)

    def test_null_and_empty(self):
        preds, confs = predict_lang_batch([None, "", "   "])
        assert preds == [None, None, None]


class TestPerplexity:
    def test_language_matched_lm_scores_lower(self):
        from pii_redactor_spark.kernels.corpora import SEED_CORPORA
        from pii_redactor_spark.kernels.perplexity import perplexity_batch
        de = SEED_CORPORA["de"][100:400]
        # German text under the German LM beats it under the English LM
        (ppl_de,) = perplexity_batch([de], ["de"])
        (ppl_en,) = perplexity_batch([de], ["en"])
        assert ppl_de < ppl_en
        # Chinese needs its learned (non-ASCII) alphabet: natural zh
        # scores far below shuffled zh under the zh LM
        zh = SEED_CORPORA["zh"][:100]
        garbled = zh[::-1]
        (p_nat,) = perplexity_batch([zh], ["zh"])
        (p_bad,) = perplexity_batch([garbled], ["zh"])
        assert p_nat < p_bad

    def test_monotonicity(self):
        nat, garbled = perplexity_batch([NATURAL_EN, GARBLED])
        assert garbled > nat * 1.5

    def test_null_and_short(self):
        assert perplexity_batch([None, "ab"]) == [None, None]

    def test_spark_udf(self, spark):
        udf = make_perplexity_udf()
        df = spark.createDataFrame(
            [("nat", NATURAL_EN), ("garbled", GARBLED)], "id string, text string"
        ).withColumn("ppl", udf("text"))
        rows = {r["id"]: r["ppl"] for r in df.collect()}
        assert rows["garbled"] > rows["nat"]


class TestKernelGoldenValues:
    """sf0.001 golden pins for the two rows-only contract queries
    (q_langid, q_worstk_ppl have no DuckDB twin — VERDICT round 1 asked
    for pytest golden values instead). The kernels are deterministic
    functions of the embedded seed corpora, so these values are stable
    across sessions and machines."""

    def test_worstk_ppl_golden(self, spark):
        # q_worstk_ppl now emits only (doc_id, n_chars) — gated against a
        # frozen golden oracle — so the ppl VALUES are pinned here via
        # the kernel directly (same ordering computation)
        from pyspark.sql import functions as F

        from pii_redactor_spark.kernels.perplexity import make_perplexity_udf
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        rows = (
            docs.withColumn("ppl", make_perplexity_udf()("text"))
            .orderBy(F.desc("ppl"), F.asc("doc_id")).limit(5)
            .select("doc_id", "ppl").collect()
        )
        top5 = [(r["doc_id"], round(r["ppl"], 6)) for r in rows]
        assert top5 == [(294, 27.793196), (359, 27.395893),
                        (33, 27.225471), (436, 26.964209),
                        (414, 26.819225)]

    def test_langid_distribution_golden(self, spark):
        # the fused kernel's scorer keeps its own distribution pin —
        # q_langid itself is oracle-gated (the char-bigram form)
        from collections import Counter
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        preds, _ = predict_lang_batch(
            [r["text"] for r in docs.select("text").collect()])
        assert dict(Counter(preds)) == {"en": 486, "fr": 8, "es": 6}

    def test_langid_expr_distribution_golden(self, spark):
        from collections import Counter

        from pii_redactor_spark.contract import QUERIES
        df = QUERIES["q_langid"](spark, "/root/testdata/sf0.001")
        c = Counter(r["lang_pred"] for r in df.collect())
        assert dict(c) == {"en": 455, "fr": 10, "es": 31, "de": 4}

    def test_langid_vectorized_matches_expression(self, sf_docs, oracle,
                                                  with_adversarial):
        """The Arrow score pass (the serving form) must reproduce the
        oracle's SQL expression row-for-row over the same rows — same
        integer sums, same first-max tie-break."""
        from pii_redactor_spark.kernels.langid import (
            langid_expr_columns, langid_expr_oracle_sql)
        docs = with_adversarial(sf_docs.select("doc_id", "text"))
        got, want = oracle(langid_expr_oracle_sql(),
                           langid_expr_columns(docs), documents=docs)
        assert got == want
        a = dict(got)
        # NULL / sub-bigram text predicts NULL
        assert a[90001] is None and a[90002] is None and a[90003] is None

    def test_langid_expr_seed_accuracy(self, spark):
        """Both langid forms classify every in-domain (seed-corpora)
        sentence to its true language — the agreement surface between
        the kernel and the oracle-gated expression serving path."""
        from pii_redactor_spark.kernels.corpora import SEED_CORPORA
        from pii_redactor_spark.kernels.langid import (
            langid_expr_columns, predict_lang_batch)
        sents = []
        for lang in sorted(SEED_CORPORA):
            for s in SEED_CORPORA[lang].replace("。", ". ").split(". "):
                if len(s.strip()) >= 12:
                    sents.append((lang, s.strip()))
        df = spark.createDataFrame(
            [(i, t) for i, (_, t) in enumerate(sents)],
            "doc_id long, text string")
        preds = {r["doc_id"]: r["lang_pred"]
                 for r in langid_expr_columns(df).collect()}
        assert all(preds[i] == lang for i, (lang, _) in enumerate(sents))
        kpred, _ = predict_lang_batch([t for _, t in sents])
        assert all(kpred[i] == lang for i, (lang, _) in enumerate(sents))


class TestC4SentenceRules:
    """C4 §2.2 line/sentence rules (functions/rules.c4_stats) over
    hand-authored punctuated documents — the sentence-granular family
    the word-stream Gopher stats cannot express."""

    def _run(self, spark, rows):
        from pii_redactor_spark.functions.rules import c4_stats
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {r["doc_id"]: r for r in c4_stats(df).collect()}

    def test_terminal_punctuation_and_min_words(self, spark):
        out = self._run(spark, [
            # line 1 keeps (5 words, terminal '.'), line 2 dropped (no
            # terminal punct), line 3 dropped (4 words)
            (0, "alpha beta gamma delta epsilon.\n"
                "zeta eta theta iota kappa\n"
                "small line drops here."),
        ])
        assert out[0]["n_lines"] == 3
        assert out[0]["n_kept_lines"] == 1
        assert out[0]["n_sentences"] == 1

    def test_three_sentence_page_gate(self, spark):
        two = "one two three four five. six seven eight nine ten."
        three = two + " eleven twelve thirteen fourteen fifteen."
        out = self._run(spark, [(0, two), (1, three)])
        assert out[0]["n_sentences"] == 2 and not out[0]["c4_keep"]
        assert out[1]["n_sentences"] == 3 and out[1]["c4_keep"]

    def test_javascript_line_and_page_markers(self, spark):
        base = ("good first line with words here.\n"
                "good second line with words too.\n"
                "good third line with more words.")
        out = self._run(spark, [
            (0, base),
            (1, base + "\nplease enable JavaScript to view this."),
            (2, base + "\nlorem ipsum dolor sit amet filler."),
            (3, base.replace("third", "brace { third")),
        ])
        assert out[0]["c4_keep"]
        # the javascript LINE is dropped, page survives on 3 sentences
        assert out[1]["n_kept_lines"] == 3 and out[1]["c4_keep"]
        assert not out[2]["c4_keep"]   # lorem ipsum page marker
        assert not out[3]["c4_keep"]   # curly brace page marker

    def test_kept_text_hash_pins_rewrite(self, spark):
        import hashlib
        keep_a = "alpha beta gamma delta epsilon."
        keep_b = "zeta eta theta iota kappa mu!"
        out = self._run(spark, [(0, keep_a + "\nno punct line\n" + keep_b)])
        want = hashlib.md5((keep_a + "\n" + keep_b).encode()).hexdigest()
        assert out[0]["kept_hash"] == want
        assert out[0]["kept_len"] == len(keep_a) + 1 + len(keep_b)

    def test_null_text_matches_oracle(self, spark):
        """A direct call on NULL text (no pre-coalesced view) reads it
        as '': no sentences, page dropped — row-equal to the oracle run
        on the same rows."""
        import duckdb
        from pii_redactor_spark.functions.rules import c4_stats_oracle_sql
        rows = [(0, None), (1, ""),
                (2, "one two three four five. six seven eight nine ten."
                    " eleven twelve thirteen fourteen fifteen.")]
        out = self._run(spark, rows)
        assert out[0]["n_sentences"] == 0 and out[0]["c4_keep"] is False
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        oracle = {r[0]: r for r in con.execute(
            c4_stats_oracle_sql(synth=False)).fetchall()}
        cols = ("doc_id", "n_lines", "n_kept_lines", "n_sentences",
                "c4_keep", "kept_hash", "kept_len")
        for doc_id, r in out.items():
            assert tuple(r[c] for c in cols) == oracle[doc_id], doc_id

    def test_synth_punct_is_deterministic_and_fires(self, spark):
        """The md5-punctuated view gives the corpus real line/sentence
        structure: both keeps and drops occur at sf0.001, and the view
        is identical across evaluations (pure expression)."""
        from pii_redactor_spark.functions.rules import (
            c4_stats, synth_punct_col)
        from pyspark.sql import functions as F
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        punct = docs.withColumn("_t2", synth_punct_col(F.col("text")))
        out = c4_stats(punct, text_col="_t2").collect()
        keeps = sum(1 for r in out if r["c4_keep"])
        assert 0 < keeps < len(out)
        again = c4_stats(punct, text_col="_t2").collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_badword_stats_gate(spark):
    """C4 bad-words page gate: any blocklist hit drops the page;
    case-insensitive; NULL text keeps (no words, no hits); occurrence
    count (not distinct) for the density signal."""
    from pii_redactor_spark.functions.rules import badword_stats
    rows = [(0, "a perfectly clean page of words"),
            (1, "this page is SLOW and slow again"),   # 2 hits, cased
            (2, None),
            (3, "corrupt data found here")]
    out = {r["doc_id"]: (r["n_badwords"], r["bad_keep"])
           for r in badword_stats(
               spark.createDataFrame(
                   rows, "doc_id long, text string")).collect()}
    assert out[0] == (0, True)
    assert out[1] == (2, False)
    assert out[2] == (0, True)
    assert out[3] == (1, False)
