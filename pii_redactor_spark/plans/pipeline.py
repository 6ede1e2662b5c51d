"""The corpus quality pipeline: ingest → kernels → rules → decide.

Equivalent of the reference's per-document ``redact(text)`` flow
(reference: main.py:13-33) plus the north-star quality-filter stages,
assembled scale-first:

- the three Python kernels (langid, perplexity, scrub) run in ONE fused
  struct-returning pandas UDF, so document text crosses the JVM→Arrow
  boundary exactly once (SURVEY §4.2: the biggest physical win);
- heuristic rules and the keep/drop decision are pure Column expressions
  evaluated JVM-side;
- the result keeps per-document entities + reasons for auditing, mirroring
  the reference's per-example feedback records (evaluator.py:125-161).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pii_redactor_spark.functions.rules import (
    QualityThresholds,
    keep_decision,
    with_rule_stats,
)

KERNEL_RESULT_TYPE = StructType([
    StructField("lang_pred", StringType()),
    StructField("lang_conf", DoubleType()),
    StructField("ppl", DoubleType()),
    StructField("scrubbed_text", StringType()),
    StructField("entities", ArrayType(StructType([
        StructField("value", StringType()),
        StructField("label", StringType()),
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
    ]))),
    StructField("n_redactions", IntegerType()),
])


class KernelTimers:
    """Per-kernel cost accounting via Spark accumulators (O25 parity —
    the engine analogue of the reference's per-call cost breakdown,
    optimizer.py:300-308). Workers add each batch's langid/perplexity/
    scrub wall time; the driver reads deltas around an action. Task
    retries double-count (accumulator semantics) — acceptable for cost
    observability, documented here."""

    KEYS = ("langid_s", "ppl_s", "scrub_s")

    def __init__(self, spark):
        sc = spark.sparkContext
        self.acc = {k: sc.accumulator(0.0) for k in self.KEYS}

    def snapshot(self) -> dict:
        return {k: a.value for k, a in self.acc.items()}


def make_fused_kernel_udf(
    per_url_gazetteer: dict[str, list[tuple[str, str]]] | None = None,
    enable_regex: bool = True,
    global_gazetteer: list[tuple[str, str]] | None = None,
    timers: KernelTimers | None = None,
    artifacts: dict | None = None,
):
    """(url, text) -> struct<lang_pred, lang_conf, ppl, scrubbed_text,
    entities, n_redactions> — one Python pass, one Arrow round-trip.

    ``artifacts`` — fitted kernel tables from
    ``kernels.artifacts.load_tables``: closure-captured, so every
    executor worker preloads THESE tables instead of refitting from the
    embedded corpora (driver-side load_artifacts alone never reaches
    workers). When absent, any artifact tables left in a reused worker
    by a previous job are cleared so default runs stay hermetic."""
    per_url = per_url_gazetteer or {}
    global_gaz = list(global_gazetteer or ())
    accs = timers.acc if timers is not None else None
    arts = artifacts

    @F.pandas_udf(KERNEL_RESULT_TYPE)
    def kernels(
        batches: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        # heavy imports + model fitting once per worker, not per batch
        from time import perf_counter

        from pii_redactor_spark.kernels import langid as _langid_mod
        from pii_redactor_spark.kernels import perplexity as _ppl_mod
        from pii_redactor_spark.kernels.langid import (
            fit_langid, predict_lang_batch)
        from pii_redactor_spark.kernels.perplexity import (
            fit_charlm, perplexity_batch)
        from pii_redactor_spark.kernels.scrub import scrub_batch
        if arts is not None:
            _langid_mod.preload(arts["langid"])
            _ppl_mod.preload(arts["charlms"])
        else:
            _langid_mod.clear_preload()
            _ppl_mod.clear_preload()
        fit_langid()
        fit_charlm()
        for urls, texts in batches:
            t0 = perf_counter()
            langs, confs = predict_lang_batch(texts)
            t1 = perf_counter()
            # score each doc under ITS predicted language's LM
            ppls = perplexity_batch(texts, langs)
            t2 = perf_counter()
            scrubbed = scrub_batch(
                urls, texts, per_url, global_gaz, enable_regex)
            if accs is not None:
                t3 = perf_counter()
                accs["langid_s"].add(t1 - t0)
                accs["ppl_s"].add(t2 - t1)
                accs["scrub_s"].add(t3 - t2)
            yield pd.DataFrame({
                "lang_pred": langs, "lang_conf": confs, "ppl": ppls,
                **scrubbed,
            })

    return kernels


def run_pipeline(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    thresholds: QualityThresholds | None = None,
    allowed_langs: tuple[str, ...] = ("en",),
    max_ppl: float | None = 50.0,
    per_url_gazetteer: dict[str, list[tuple[str, str]]] | None = None,
    enable_regex: bool = True,
    global_gazetteer: list[tuple[str, str]] | None = None,
    timers: KernelTimers | None = None,
    artifacts: dict | None = None,
) -> DataFrame:
    """Full quality pipeline over a pages DataFrame.

    Output adds: lang_pred, lang_conf, ppl, scrubbed_text, entities,
    n_redactions, all quality-rule stats, keep:boolean, reasons:array.
    ``artifacts``: fitted kernel tables (artifacts.load_fitted) shipped
    to executors via the UDF closure. The default gate (English,
    perplexity <= 50) is the one every served path runs.
    """
    th = thresholds or QualityThresholds()
    fused = make_fused_kernel_udf(per_url_gazetteer, enable_regex,
                                  global_gazetteer, timers=timers,
                                  artifacts=artifacts)
    df = with_rule_stats(
        pages
        .withColumn("_k", fused(F.col(url_col), F.col(text_col)))
        .select("*", "_k.*")
        .drop("_k"),
        text_col, th,
    )
    _, rule_reasons = keep_decision(th)

    extra_checks: list[tuple[str, Column]] = []
    if allowed_langs:
        extra_checks.append(
            ("lang_not_allowed", ~F.col("lang_pred").isin(*allowed_langs)))
    if max_ppl is not None:
        extra_checks.append(("perplexity_high", F.col("ppl") > F.lit(max_ppl)))
    extra_reasons = F.array_compact(F.array(*[
        F.when(cond, F.lit(name)) for name, cond in extra_checks
    ])) if extra_checks else F.array().cast("array<string>")

    reasons = F.concat(rule_reasons, extra_reasons)
    return (
        df
        .withColumn("reasons", reasons)
        .withColumn("keep", F.size(F.col("reasons")) == 0)
    )
