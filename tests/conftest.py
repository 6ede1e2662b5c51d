from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from pii_redactor_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pii_redactor_spark-tests", master="local[4]",
                      shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_docs(spark):
    """The sf0.001 documents table."""
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


# One row per text shape that has escaped a kernel's NULL/empty handling.
ADVERSARIAL_TEXTS = (None, "", "a", "   ", "two words")


@pytest.fixture(scope="session")
def with_adversarial(spark):
    """``docs`` plus one row per ADVERSARIAL_TEXTS entry (doc_id 90001,
    90002, ...), coalesced to ONE partition: a kernel's Arrow batch then
    holds the adversarial rows next to normal ones, which is where a
    per-batch type decision (a null list element) goes wrong."""
    def add(docs):
        extra = spark.createDataFrame(
            [(90001 + i, t) for i, t in enumerate(ADVERSARIAL_TEXTS)],
            "doc_id long, text string")
        return docs.unionByName(extra, allowMissingColumns=True).coalesce(1)
    return add


@pytest.fixture(scope="session")
def oracle():
    """``oracle(sql, out, **tables) -> (got, want)``: the rows of Spark
    frame ``out`` and of the DuckDB oracle ``sql`` run over the Spark
    frames ``tables`` (registered under their keyword names through
    Arrow) — the same input rows on both sides. Both lists are in
    ``out``'s column order and sorted, so ``got == want`` is the
    contract's order-insensitive equality."""
    import duckdb

    def run(sql, out, **tables):
        con = duckdb.connect()
        for name, df in tables.items():
            con.register(name, df.toArrow())
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        assert sorted(cols) == sorted(out.columns)
        idx = [cols.index(c) for c in out.columns]
        want = [tuple(r[i] for i in idx) for r in res.fetchall()]
        got = [tuple(r) for r in out.collect()]
        con.close()
        return sorted(got, key=repr), sorted(want, key=repr)

    return run
