"""The Arrow list boundary (functions/arrow_lists.py): one place decides
how NULL and empty list rows become numpy segments for the list-valued
kernels."""

from __future__ import annotations

import re
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

from pii_redactor_spark.functions.arrow_lists import (
    matrix, ragged, segments, signed_dense)

PKG = Path(__file__).resolve().parent.parent / "pii_redactor_spark"


def test_ragged_lengths_and_null_element():
    arr = pa.array([[7, 8, 9], None, []], type=pa.list_(pa.int64()))
    flat, lens = ragged(arr, np.int64)
    assert lens.tolist() == [3, 0, 0]
    assert flat.tolist() == [7, 8, 9] and flat.dtype == np.int64
    nz, starts = segments(lens)   # trailing empty rows never reach reduceat
    assert nz.tolist() == [0] and starts.tolist() == [0]
    # a sliced batch reads its own rows, not the parent buffer's
    flat, lens = ragged(arr.slice(1), np.int64)
    assert lens.tolist() == [0, 0] and flat.size == 0
    with pytest.raises(ValueError):
        ragged(pa.array([[1, None, 3]], type=pa.list_(pa.int64())),
               np.int64)


def test_signed_dense_sums_signs_per_bucket():
    buckets = pa.array([[1, 1, 3], None, [], [0]], type=pa.list_(pa.int32()))
    signs = pa.array([[1.0, 1.0, -1.0], None, [], [-1.0]])
    flatb, lens = ragged(buckets, np.int64)
    flats, _ = ragged(signs, np.float64)
    x = signed_dense(flatb, flats, lens, 4)
    assert x.dtype == np.int64
    assert x.tolist() == [[0, 2, 0, -1], [0] * 4, [0] * 4, [-1, 0, 0, 0]]
    assert signed_dense(flatb[:0], flats[:0], lens[:0], 4).shape == (0, 4)


def test_matrix_reshapes_and_rejects_null_or_ragged_rows():
    arr = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]])
    assert matrix(arr, 2).tolist() == [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]
    assert matrix(arr.slice(1), 2).tolist() == [[3.0, 4.0], [5.0, 6.0]]
    assert matrix(pa.array([], type=arr.type), 2).shape == (0, 2)
    for bad in ([[1.0, 2.0], None], [[1.0, 2.0], [3.0]],
                [[1.0, None], [3.0, 4.0]]):
        with pytest.raises(ValueError):
            matrix(pa.array(bad), 2)


def test_trailing_empty_rows_match_oracles(sf_docs, oracle, spark):
    """A batch that ENDS in empty rows: ``np.ufunc.reduceat`` rejects a
    segment start at the end of the flat values, so the SimHash and
    langid score passes must reduce over ``segments`` only."""
    from pii_redactor_spark.kernels.langid import (
        langid_expr_columns, langid_expr_oracle_sql)
    from pii_redactor_spark.operators import dedup
    tail = spark.createDataFrame(
        [(90001, "two words"), (90002, "   "), (90003, "a"),
         (90004, None)], "doc_id long, text string")
    docs = (sf_docs.select("doc_id", "text").where("doc_id < 50")
            .unionByName(tail).coalesce(1))
    got, want = oracle(dedup.simhash_oracle_sql(), dedup.simhash(docs),
                       documents=docs)
    assert got == want
    got, want = oracle(langid_expr_oracle_sql(),
                       langid_expr_columns(docs), documents=docs)
    assert got == want


def test_list_kernels_are_arrow_udfs_on_the_helper():
    """No module outside arrow_lists.py flattens list rows by hand, and
    no list column reaches a pandas_udf or a grouped pandas pass: a
    per-row flattener is where a NULL or empty row was decided six
    different ways."""
    flatteners = (r"np\.concatenate\(\s*\[\s*np\.asarray\(",  # rows joined
                  r"0 if \w+ is None else len\(",        # per-row lens
                  r"np\.array\(\w+\.tolist\(\)",         # rows as a matrix
                  r"\.isna\(\)\.to_numpy\(\)",           # per-row NULLs
                  r"np\.stack\(\w+\[",                     # frame rows stacked
                  r"applyInPandas\(")                    # grouped pandas pass
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        if p.name == "arrow_lists.py":
            continue
        src = p.read_text()
        offenders += [(p.name, f) for f in flatteners if re.search(f, src)]
    assert offenders == []
    for mod, n_udfs in (("operators/dedup.py", 2), ("kernels/langid.py", 1),
                        ("kernels/encoder.py", 1),
                        ("operators/similarity.py", 2)):
        src = (PKG / mod).read_text()
        assert "pandas_udf" not in src, mod
        assert src.count("@F.arrow_udf(") == n_udfs, mod
        assert src.count("arrow_lists.ragged(") >= n_udfs, mod
