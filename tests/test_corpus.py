"""Common-Crawl-shaped corpus source: schema, determinism, the
byte-identical html→text invariant, skew shape, and pipeline-over-corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pii_redactor_spark.session import ship_package
from pii_redactor_spark.sources.corpus import (
    HOT_HOST,
    extract_text_bytes,
    extract_text_udf,
    from_documents,
    wrap_html,
)


@pytest.fixture(scope="module")
def corpus(spark):
    ship_package(spark)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return from_documents(docs)


def test_schema_matches_input_hint(corpus):
    assert [(f.name, f.dataType.simpleString()) for f in corpus.schema.fields] == [
        ("url", "string"), ("warc_ts", "timestamp"),
        ("html", "binary"), ("text", "string"), ("lang", "string"),
    ]


def test_extracted_text_byte_identical_per_url(corpus):
    # the north-rule per-row invariant: text recovered from the binary
    # html payload equals the text column byte-for-byte, for every url
    mismatches = (
        corpus
        .withColumn("extracted", extract_text_udf()(F.col("html")))
        .filter(F.col("extracted") != F.col("text"))
        .count()
    )
    assert mismatches == 0


def test_wrap_roundtrip_hostile_text():
    for t in ["a < b & c > d", "tags <pre>inner</pre> here",
              "unicode … ü €", "lines\nand\nmore\n", "&amp; pre-escaped"]:
        assert extract_text_bytes(wrap_html(t, "t")) == t


def test_deterministic_across_invocations(corpus, spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    again = from_documents(docs)
    a = {r["url"]: (r["warc_ts"], bytes(r["html"]))
         for r in corpus.collect()}
    b = {r["url"]: (r["warc_ts"], bytes(r["html"]))
         for r in again.collect()}
    assert a == b


def test_host_skew_present(corpus):
    hosts = (
        corpus.select(F.parse_url("url", F.lit("HOST")).alias("h"))
        .groupBy("h").count().collect()
    )
    by = {r["h"]: r["count"] for r in hosts}
    total = sum(by.values())
    assert by[HOT_HOST] > 0.35 * total          # deliberately skewed
    assert len(by) > 5                          # plus a cold tail


def test_per_host_cap(spark, corpus):
    import pyspark.sql.functions as F
    from pii_redactor_spark.operators.sampling import cap_per_host
    capped = cap_per_host(corpus.select("url"), max_per_host=10)
    sizes = {r["host"]: r["count"]
             for r in capped.groupBy("host").count().collect()}
    assert max(sizes.values()) <= 10
    assert sizes[HOT_HOST] == 10          # hot host clamped exactly
    # determinism: same cap, same selection
    a = sorted(r["url"] for r in capped.collect())
    b = sorted(r["url"] for r in
               cap_per_host(corpus.select("url"), max_per_host=10).collect())
    assert a == b


def test_pipeline_runs_over_corpus_shape(spark, corpus):
    from pii_redactor_spark.plans.pipeline import run_pipeline
    out = run_pipeline(corpus, allowed_langs=("en",), max_ppl=50.0)
    rows = out.select("url", "keep", "lang_pred", "n_redactions").collect()
    assert len(rows) == 500
    assert any(r["keep"] for r in rows)


def test_domain_mix_fractional_epochs(spark):
    """domain_mix: 0 drops a group, 1.25 emits 1-2 copies, 2.5 emits
    2-3, unlisted groups default to exactly one copy; copies are
    contiguous 1..n and the whole selection is deterministic."""
    from pii_redactor_spark.operators.sampling import domain_mix
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    weights = {"en": 0.5, "es": 2.5, "de": 1.25, "zh": 0.0}
    out = domain_mix(docs, weights).select("doc_id", "lang", "copy")
    rows = out.collect()
    n_in = {r["lang"]: r["count"]
            for r in docs.groupBy("lang").count().collect()}
    n_out: dict[str, int] = {}
    per_doc: dict[int, list[int]] = {}
    for r in rows:
        n_out[r["lang"]] = n_out.get(r["lang"], 0) + 1
        per_doc.setdefault(r["doc_id"], []).append(r["copy"])
    assert "zh" not in n_out                      # weight 0 drops all
    assert n_out["fr"] == n_in["fr"]              # default weight 1.0
    assert 2 * n_in["es"] <= n_out["es"] <= 3 * n_in["es"]
    assert n_in["de"] <= n_out["de"] <= 2 * n_in["de"]
    assert 0.3 * n_in["en"] <= n_out["en"] <= 0.7 * n_in["en"]
    for copies in per_doc.values():               # contiguous epochs
        assert sorted(copies) == list(range(1, len(copies) + 1))
    again = sorted((r["doc_id"], r["copy"]) for r in
                   domain_mix(docs, weights)
                   .select("doc_id", "copy").collect())
    assert again == sorted((r["doc_id"], r["copy"]) for r in rows)


def test_domain_mix_plan_no_shuffle(spark):
    from pii_redactor_spark.operators.sampling import domain_mix
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (domain_mix(docs, {"en": 0.5})._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
