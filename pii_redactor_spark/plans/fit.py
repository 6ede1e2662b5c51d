"""Fit job: tune QualityThresholds on a validation slice and commit
kernel artifacts — the engine's deterministic analogue of the
reference's ``--optimize`` entry (reference: main.py:66-75,
optimizer.py:255-308: fit on a train/val split, persist the optimized
model, load it at startup).

The reference optimizes a prompt with GEPA against the hybrid metric;
this engine's "model" is (a) the fitted langid/charlm kernel tables and
(b) the quality-rule thresholds. Fitting is one distributed stats pass
(approxQuantile over the rule statistics, exact at relativeError=0) —
thresholds are set at the requested coverage quantiles so a target
fraction of validation documents passes each rule, then everything is
committed to an artifacts directory that ``--artifacts`` loads at run
time (kernels/artifacts.py).
"""

from __future__ import annotations

import time
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession

from pii_redactor_spark.functions.rules import (
    RULE_STATS, RULES, QualityThresholds, attach_quality_stats)
from pii_redactor_spark.kernels import artifacts as _art


def fit_thresholds(docs: DataFrame, text_col: str = "text",
                   lo: float = 0.005, hi: float = 0.995) -> QualityThresholds:
    """Derive rule thresholds from the validation slice's stat quantiles:
    each lower bound in ``rules.RULES`` gets its statistic's ``lo``
    quantile, each upper bound the ``hi`` quantile (≈99% of validation
    docs pass each rule). Integer fields truncate (an upper one is at
    least 1), the others round to 4 places. One stats job; quantiles
    exact (relativeError=0)."""
    stats = attach_quality_stats(docs, text_col)
    q = dict(zip(RULE_STATS, stats.stat.approxQuantile(
        list(RULE_STATS), [lo, hi], 0.0)))
    defaults = QualityThresholds()
    fitted = {}
    for _, stat, side, field in RULES:
        v = q[stat][0 if side == "lo" else 1]
        if isinstance(getattr(defaults, field), int):
            fitted[field] = int(v) if side == "lo" else max(int(v), 1)
        else:
            fitted[field] = round(v, 4)
    return QualityThresholds(**fitted)


def fit_job(spark: SparkSession, docs: DataFrame, artifacts_dir: str,
            text_col: str = "text", val_limit: int | None = None,
            id_col: str = "doc_id", lo: float = 0.005,
            hi: float = 0.995) -> dict:
    """Fit thresholds on the (deterministic) validation slice, fit the
    kernel tables, and commit everything to ``artifacts_dir``. Returns a
    summary with the fitted thresholds and keep-rate on the slice.
    ``lo``/``hi`` are the coverage quantiles (CLI ``fit --lo/--hi``)."""
    t0 = time.time()
    val = docs
    if val_limit is not None:
        # deterministic slice: lowest ids (the reference's list-slice
        # split, evaluator.py:37-43, without RNG)
        val = docs.orderBy(id_col).limit(val_limit)
    th = fit_thresholds(val, text_col, lo=lo, hi=hi)
    manifest = _art.save_artifacts(artifacts_dir)
    _art.save_thresholds(artifacts_dir, th)

    from pii_redactor_spark.functions.rules import with_quality
    from pyspark.sql import functions as F
    keep = with_quality(val, text_col, th).agg(
        F.count("*"), F.sum(F.col("keep").cast("long"))).first()
    n, kept = keep[0], keep[1]
    return {
        "artifacts_dir": str(artifacts_dir),
        "thresholds": asdict(th),
        "n_val_docs": n,
        "val_keep_rate": round(kept / n, 4) if n else None,
        "kernel_manifest": manifest,
        "elapsed_s": round(time.time() - t0, 3),
    }
