"""DSIR importance-ratio data selection (operators/dsir.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pii_redactor_spark.operators import dsir

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_target_artifact_deterministic_and_dense():
    lt = dsir.target_logprobs()
    assert len(lt) == dsir.DSIR_DIM
    assert lt == dsir.target_logprobs()
    # every bucket carries a finite quantized log-prob (smoothing)
    assert all(isinstance(v, int) and v < 0 for v in lt)


def test_selection_is_exact_top_fraction(docs):
    out = dsir.dsir_select(docs).collect()
    n = len(out)
    k = (n * 25) // 100
    sel = [r for r in out if r["selected"]]
    assert len(sel) == k
    # the cut is exactly the top-k under (logw DESC, doc_id ASC)
    order = sorted(out, key=lambda r: (-r["dsir_logw"], r["doc_id"]))
    top_ids = {r["doc_id"] for r in order[:k]}
    assert {r["doc_id"] for r in sel} == top_ids


def test_target_like_text_outscores_junk(spark):
    """A seed-corpus sentence must carry a higher PER-WORD importance
    ratio than symbol junk in the same raw corpus (the headline score is
    the paper's unnormalized sum, so compare rate, not total — totals
    scale with length)."""
    from pii_redactor_spark.kernels.quality_clf import _positive_docs
    rows = [(0, _positive_docs()[0]), (1, "@#$% ^&* !!!! ~~~~ ????")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["dsir_logw"] / r["n_words"]
           for r in dsir.dsir_select(df, frac=0.5).collect()}
    assert out[0] > out[1]


def test_empty_doc_scores_zero(spark):
    df = spark.createDataFrame(
        [(0, "some plain words here"), (1, "   ")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in dsir.dsir_select(df, frac=0.5).collect()}
    assert out[1]["n_words"] == 0
    assert out[1]["dsir_logw"] == 0.0


def test_null_text_scores_zero_like_oracle(spark):
    """NULL text must mirror the oracle's COALESCE(c.s, 0): logw 0.0, a
    real boolean decision, and NULL n_words (len(NULL) is NULL in
    DuckDB) — round-3 ADVICE latent-parity fix."""
    df = spark.createDataFrame(
        [(0, "some plain words here"), (1, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in dsir.dsir_select(df, frac=0.5).collect()}
    assert out[1]["n_words"] is None
    assert out[1]["dsir_logw"] == 0.0
    assert out[1]["selected"] in (True, False)


def test_scoring_plan_has_no_window_or_shuffle(docs):
    """Selection is a literal threshold comparison: the main plan must
    be projection-only (the boundary came from a separate TakeOrdered
    job, the raw-LM fit from a separate dim-bounded aggregate)."""
    plan = (dsir.dsir_select(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan
    assert "Exchange" not in plan


def test_raw_lm_fit_is_single_bounded_aggregate(docs):
    from pyspark.sql import functions as F
    from pii_redactor_spark.functions.text_hash import words
    from pii_redactor_spark.kernels.quality_clf import word_bucket
    agg = (
        docs.select(F.explode_outer(words(F.col("text"))).alias("w"))
        .where(F.col("w").isNotNull())
        .select(word_bucket(F.col("w"), dsir.DSIR_DIM).alias("bucket"))
        .groupBy("bucket").count()
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "partial" in plan.lower()


def test_gumbel_selection_exact_fraction_and_perturbed(docs):
    """Gumbel-top-frac keeps exactly k rows, is deterministic across
    calls (md5-seeded draw), and genuinely perturbs the deterministic
    cut (samples outside the greedy top-25% get in)."""
    from pii_redactor_spark.operators.cache import release_caches
    det = {r["doc_id"] for r in dsir.dsir_select(docs).collect()
           if r["selected"]}
    g1 = dsir.dsir_gumbel_select(docs).collect()
    release_caches()
    g2 = dsir.dsir_gumbel_select(docs).collect()
    release_caches()
    sel1 = {r["doc_id"] for r in g1 if r["selected"]}
    sel2 = {r["doc_id"] for r in g2 if r["selected"]}
    assert len(sel1) == (len(g1) * 25) // 100
    assert sel1 == sel2                      # deterministic draw
    assert sel1 != det                       # noise changes the sample
    assert len(sel1 & det) > 0               # but high-weight docs stay
