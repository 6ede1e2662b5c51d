"""Loaders for the vendored reference fixtures (fixtures/golden_examples.json).

The JSON is pure *data* extracted from the reference repo's golden corpus
(reference: examples.py:33-418 — 25 documents with exact entities and exact
redacted bytes; tests/integration/test_redact.py:9-54 — 8 scenarios;
tests/unit/test_examples.py:5-33 — the 27-label vocabulary). See
scripts/vendor_fixtures.py for provenance.
"""

from __future__ import annotations

import json
from functools import lru_cache
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

FIXTURES_PATH = Path(__file__).resolve().parent.parent / "fixtures" / "golden_examples.json"

GOLDEN_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("row_id", StringType(), False),
    StructField("text", StringType(), False),
    StructField("entities", ArrayType(StructType([
        StructField("value", StringType()),
        StructField("label", StringType()),
    ])), False),
    StructField("redacted_text_gold", StringType(), False),
])


@lru_cache(maxsize=1)
def load_raw() -> dict:
    return json.loads(FIXTURES_PATH.read_text())


def valid_labels() -> list[str]:
    return list(load_raw()["labels"])


def golden_rows() -> list[dict]:
    return [dict(r) for r in load_raw()["golden"]]


def fewshot_row_ids() -> list[str]:
    """The 25 excluded demo row ids (reference: examples.py:5-31)."""
    return [r["row_id"] for r in load_raw()["golden"]]


def per_url_gazetteer() -> dict[str, list[tuple[str, str]]]:
    """url -> [(value, label), ...] from the golden entity lists."""
    return {
        r["url"]: [(e["value"], e["label"]) for e in r["entities"]]
        for r in load_raw()["golden"]
    }


def golden_df(spark: SparkSession) -> DataFrame:
    rows = [
        (r["url"], r["row_id"], r["text"],
         [(e["value"], e["label"]) for e in r["entities"]],
         r["redacted_text_gold"])
        for r in load_raw()["golden"]
    ]
    return spark.createDataFrame(rows, GOLDEN_SCHEMA)


def scenario_df(spark: SparkSession) -> DataFrame:
    rows = [(r["url"], r["text"]) for r in load_raw()["scenarios"]]
    return spark.createDataFrame(rows, "url string, text string")
