"""Neural-encoder slot (kernels/encoder.py): the served UDF against the
DuckDB oracle on the same rows, plan shape, artifact round-trip, and the
encoder->ANN loop."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pii_redactor_spark.kernels import encoder

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").where("doc_id < 100")


def _oracle_emb_sql() -> str:
    """The oracle network's raw output (id, emb) — built from the
    weights current at call time."""
    return encoder.mlp_embed_cte() + "\nSELECT doc_id, e AS emb FROM emb"


def test_udf_equals_expression_form(docs, oracle, with_adversarial):
    """The Arrow/numpy network and the oracle's SQL expression of it are
    the same network — bit-identical integer outputs over the same
    rows, INCLUDING the NULL/empty/blank-text rows in the same Arrow
    batch (both emit the bias-only activation, the oracle's COALESCE
    semantics)."""
    docs = with_adversarial(docs.select("doc_id", "text"))
    got, want = oracle(_oracle_emb_sql(), encoder.mlp_embeddings_udf(docs),
                       documents=docs)
    assert got == want
    a = dict(got)
    assert all(len(v) == encoder.MLP_OUT for v in a.values())
    # NULL, empty and blank: bias-only activation
    assert a[90001] == a[90002] == a[90004]


def test_udf_plan_is_one_arrow_pass(docs):
    plan = (encoder.mlp_embeddings_udf(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_relu_actually_fires(docs):
    """The network is genuinely nonlinear on this corpus: some hidden
    pre-activations go negative (so relu clips them) — if not, the MLP
    would collapse to one linear projection."""
    w1, b1, w2 = encoder.mlp_weights()
    from pii_redactor_spark.functions.text_hash import (
        signed_bucket_py, words)
    rows = docs.select(words(F.col("text")).alias("ws")).collect()
    clipped = total = 0
    for r in rows:
        x = np.zeros(len(w1), dtype=np.int64)
        for w in r["ws"]:
            bkt, sign = signed_bucket_py(w, encoder.ML_PREFIX, len(w1))
            x[bkt] += sign
        pre = x @ w1 + b1
        clipped += int((pre < 0).sum())
        total += len(pre)
    assert 0 < clipped < total


def test_null_and_empty_text(spark):
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "hello world")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["emb"]
           for r in encoder.mlp_embeddings_udf(df).collect()}
    w1, b1, w2 = encoder.mlp_weights()
    bias_only = list(np.maximum(b1, 0) @ w2)
    # NULL and empty both score the bias-only activation (the oracle's
    # COALESCE(SUM, 0) semantics)
    assert out[0] == bias_only and out[1] == bias_only
    assert out[2] != bias_only


def test_artifact_roundtrip_and_preload(tmp_path, docs):
    from pii_redactor_spark.kernels.artifacts import (
        load_artifacts, save_artifacts)
    try:
        save_artifacts(tmp_path / "art")
        base = {r["doc_id"]: r["emb"]
                for r in encoder.mlp_embeddings_udf(docs).collect()}
        load_artifacts(tmp_path / "art")
        again = {r["doc_id"]: r["emb"]
                 for r in encoder.mlp_embeddings_udf(docs).collect()}
        assert base == again  # npz round-trips the int64 tables exactly
        # a DIFFERENT artifact changes the served embeddings (fit->serve
        # is real, not cosmetic)
        w1, b1, w2 = encoder.mlp_weights()
        encoder.preload((w1, b1 + 1, w2))
        changed = {r["doc_id"]: r["emb"]
                   for r in encoder.mlp_embeddings_udf(docs).collect()}
        assert changed != base
    finally:
        encoder.clear_preload()


def test_mlp_ann_udf_form_matches_expression_form(docs, oracle):
    # the expression form is the oracle's SQL over the same rows
    got, want = oracle(encoder.mlp_ann_oracle_sql(k=5),
                       encoder.mlp_ann(docs, k=5), documents=docs)
    assert got == want
    assert len(got) == 5 * 5  # 5 queries x top-5, fully populated


def test_mlp_summary_vectorized_matches_expression(docs, oracle,
                                                   with_adversarial):
    # the expression form is the oracle's SQL over the same rows
    docs = with_adversarial(docs.select("doc_id", "text"))
    got, want = oracle(encoder.mlp_summary_oracle_sql(),
                       encoder.mlp_summary(docs), documents=docs)
    assert got == want


def test_preloaded_artifact_reaches_udf_executors(docs, oracle):
    """Round-4 ADVICE regression: the Arrow network must serve the
    PRELOADED artifact, not the md5 defaults — executor Python workers
    never see a driver-side preload(), so make_mlp_embed_udf resolves
    the weight arrays at construction time and cloudpickle ships them
    in the closure (the fused-kernel pattern of plans/pipeline.py)."""
    try:
        w1, b1, w2 = encoder.mlp_weights()
        base = {r["doc_id"]: r["emb"]
                for r in encoder.mlp_embeddings_udf(docs).collect()}
        encoder.preload((w1, b1 + 3, w2))
        # the oracle built AFTER preload carries the fitted weights
        got, want = oracle(_oracle_emb_sql(),
                           encoder.mlp_embeddings_udf(docs), documents=docs)
        assert got == want      # both serve the fitted artifact...
        assert dict(got) != base  # ...which actually changed the output
    finally:
        encoder.clear_preload()
