"""URL filtering + canonicalization rule semantics."""

from __future__ import annotations

import pytest

from pii_redactor_spark.functions.url_rules import (
    canonical_url,
    with_url_rules,
)

CASES = [
    # (url, expect_keep, expect_canonical)
    ("https://ok.example/doc/1", True, "https://ok.example/doc/1"),
    ("HTTPS://MiXeD.Example/Path/9/", True, "https://mixed.example/Path/9"),
    ("https://ok.example", True, "https://ok.example/"),
    ("https://cdn.example/a/img.jpg", False, "https://cdn.example/a/img.jpg"),
    ("https://shop.example/cart/item/3?x=1#f", False,
     "https://shop.example/cart/item/3"),
    ("https://deep.example" + "/p" * 12 + "/3", False, None),
    ("https://blocked.example/page/1", False, None),
    ("not-a-url", False, None),
    ("https://ok.example/login", False, None),
    ("https://ok.example/page.html", True, "https://ok.example/page.html"),
]


@pytest.fixture(scope="module")
def results(spark):
    df = spark.createDataFrame([(u,) for u, _, _ in CASES], "url string")
    out = (
        with_url_rules(df, blocked_hosts=["blocked.example"])
        .withColumn("canonical", canonical_url("url"))
    )
    return {r["url"]: r for r in out.collect()}


def test_keep_decisions(results):
    for url, keep, _ in CASES:
        assert results[url]["url_keep"] == keep, (
            url, results[url]["url_reasons"])


def test_canonicalization(results):
    for url, _, canon in CASES:
        if canon is not None:
            assert results[url]["canonical"] == canon


def test_reasons_named(results):
    assert results["https://cdn.example/a/img.jpg"]["url_reasons"] == [
        "blocked_extension"]
    assert results["https://blocked.example/page/1"]["url_reasons"] == [
        "blocked_host"]
    assert "no_host" in results["not-a-url"]["url_reasons"]


def test_url_gate_fails_closed_on_null_url(spark, sf_docs,
                                           with_adversarial, oracle):
    """Over the case urls, the adversarial rows (no url) and explicit
    NULL and '' urls: url_keep is never NULL, Spark equals the SQL twin,
    every drop names a reason, and a NULL url drops as no_host like
    ''."""
    from pyspark.sql import functions as F

    from pii_redactor_spark.functions.url_rules import url_rules_sql
    urls = F.array(*[F.lit(u) for u, _, _ in CASES])
    docs = sf_docs.filter("doc_id < 40").withColumn("url", F.element_at(
        urls, (F.col("doc_id") % len(CASES) + 1).cast("int")))
    extra = spark.createDataFrame(
        [(90100, None, "null url"), (90101, "", "empty url")],
        "doc_id long, url string, text string")
    df = with_adversarial(docs).unionByName(extra,
                                            allowMissingColumns=True)
    blocked = ["blocked.example"]
    out = with_url_rules(df, blocked_hosts=blocked) \
        .select("doc_id", "url_reasons", "url_keep")
    got, want = oracle(
        "SELECT doc_id, url_reasons, url_keep FROM "
        f"({url_rules_sql('docs', blocked_hosts=blocked)})", out, docs=df)
    assert got == want
    assert all(keep is not None for _, _, keep in got)
    assert all(reasons for _, reasons, keep in got if not keep)
    by_id = {i: (reasons, keep) for i, reasons, keep in got}
    for doc_id in (90001, 90100, 90101):
        assert by_id[doc_id] == (["no_host"], False), doc_id


def test_url_dedup_collapses_canonical_variants(spark):
    """q_url_dedup: the four crawl variants of a page (host case,
    trailing slash, query string, fragment) share a canonical form —
    groups of four collapse to the lowest doc_id, which is never
    flagged as a duplicate."""
    from pii_redactor_spark.contract import QUERIES
    out = QUERIES["q_url_dedup"](spark, "/root/testdata/sf0.001").collect()
    by_canon: dict[str, list] = {}
    for r in out:
        by_canon.setdefault(r["canonical"], []).append(r)
    for canon, rows in by_canon.items():
        ids = sorted(r["doc_id"] for r in rows)
        assert len(ids) == 4, canon          # all variants collapse
        for r in rows:
            assert r["rep_id"] == ids[0]
            assert r["is_dup"] == (r["doc_id"] != ids[0])
