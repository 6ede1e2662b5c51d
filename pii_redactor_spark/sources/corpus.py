"""Common-Crawl-shaped corpus source (the BASELINE.json input_hint shape).

The pipeline's canonical input is an Iceberg-style table of web pages::

    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

No real crawl ships with the project, so this module adapts the
``documents`` table into that shape **deterministically** (hosts and
timestamps derived from doc_id, no wall clock, no RNG). The host
distribution is deliberately skewed (one hot host with ~50% of pages) so
the salting + AQE skew paths are exercised, per SURVEY §7.3.

Per-row invariant (north rule: "byte-identical extracted text per url"):
``html`` is a real HTML wrapping of the text, and ``extract_text``
(vectorized pandas UDF) recovers the ``text`` column **byte-identically**
from the binary payload — tested per url in test_corpus.py.
"""

from __future__ import annotations

import html as _html
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from pii_redactor_spark.functions import text_hash

CORPUS_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                 "text string, lang string")

HOT_HOST = "bighost.example"
# cold host i is f"{prefix}{i:02d}{suffix}"
_COLD_PREFIX, _COLD_SUFFIX = "site", ".example"
COLD_HOSTS = [f"{_COLD_PREFIX}{i:02d}{_COLD_SUFFIX}" for i in range(20)]
_BASE_TS = 1_700_000_000  # fixed epoch anchor (2023-11-14T22:13:20Z)
_TS_SPAN = 86_400 * 30    # warc_ts spreads over 30 days from _BASE_TS


def wrap_html(text: str, title: str) -> bytes:
    """Deterministic page template; body is the entity-escaped text so
    extraction can recover it exactly (including '<', '&', newlines)."""
    body = _html.escape(text, quote=False)
    page = (
        "<!DOCTYPE html><html><head>"
        f"<title>{_html.escape(title, quote=False)}</title>"
        "<meta charset=\"utf-8\"/></head>"
        f"<body><main><pre>{body}</pre></main>"
        "<footer>footer boilerplate</footer></body></html>"
    )
    return page.encode("utf-8")


def html_bytes_sql(url: str, text: str) -> str:
    """DuckDB twin of ``len(wrap_html(text, url))`` for a url that needs
    no escaping: the empty template plus the url and escaped text bytes."""
    body = text
    for c, esc in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        body = f"replace({body}, '{c}', '{esc}')"
    return f"({len(wrap_html('', ''))} + strlen({url}) + strlen({body}))"


_PRE_RE = re.compile(r"<pre>(.*?)</pre>", re.DOTALL)


def extract_text_bytes(payload: bytes) -> str | None:
    """Recover the page text from the html payload, byte-identical to the
    original ``text`` (inverse of wrap_html)."""
    if payload is None:
        return None
    m = _PRE_RE.search(payload.decode("utf-8", "replace"))
    if m is None:
        return None
    return _html.unescape(m.group(1))


def extract_text_udf():
    """Vectorized extractor: binary html -> text, one Arrow pass."""
    @F.pandas_udf(StringType())
    def extract(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for payloads in batches:
            yield payloads.map(
                lambda p: extract_text_bytes(p) if p is not None else None)
    return extract


def from_documents(docs: DataFrame) -> DataFrame:
    """Adapt the driver's ``documents`` table to the corpus shape.
    All columns are pure expressions of (doc_id, text, lang) — the
    mapping is deterministic and engine-independent."""
    h = text_hash.md5_int(F.concat(F.lit("host:"), F.col("doc_id")), 8)
    host = F.when(
        F.pmod(h, F.lit(2)) == 0, F.lit(HOT_HOST),
    ).otherwise(
        F.concat(
            F.lit(_COLD_PREFIX),
            F.lpad(F.pmod(h, F.lit(len(COLD_HOSTS))).cast("string"), 2, "0"),
            F.lit(_COLD_SUFFIX),
        )
    )
    url = F.concat(F.lit("https://"), host, F.lit("/doc/"),
                   F.col("doc_id").cast("string"))
    # md5-fold (not xxhash64) so the DuckDB oracle reproduces timestamps
    warc_ts = F.timestamp_seconds(
        F.lit(_BASE_TS) + F.pmod(
            text_hash.md5_int(F.concat(F.lit("ts:"), F.col("doc_id")), 8),
            F.lit(_TS_SPAN)))

    @F.pandas_udf("binary")
    def make_html(batches: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        for pdf in batches:
            yield pd.Series([
                wrap_html(t, u) if t is not None else None
                for u, t in zip(pdf["url"], pdf["text"])
            ])

    base = docs.select(
        url.alias("url"), warc_ts.alias("warc_ts"),
        "text", "lang", "doc_id")
    return base.select(
        "url", "warc_ts",
        make_html(F.struct("url", "text")).alias("html"),
        "text", "lang",
    )


def from_documents_sql(table: str = "documents") -> str:
    """DuckDB twin of ``from_documents``'s url and warc_ts (the html
    payload has none): every column of ``table`` plus host, url and
    warc_ts."""
    h = text_hash.md5_int_sql("'host:' || doc_id", 8)
    ts = text_hash.md5_int_sql("'ts:' || doc_id", 8)
    return f"""SELECT *, 'https://' || host || '/doc/' || doc_id AS url
FROM (SELECT *,
        CASE WHEN {h} % 2 = 0 THEN '{HOT_HOST}'
             ELSE '{_COLD_PREFIX}'
                  || lpad(CAST({h} % {len(COLD_HOSTS)} AS VARCHAR), 2, '0')
                  || '{_COLD_SUFFIX}'
        END AS host,
        to_timestamp({_BASE_TS} + {ts} % {_TS_SPAN}) AS warc_ts
      FROM {table})"""
