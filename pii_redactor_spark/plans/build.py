"""One-command corpus build: the whole training-data pipeline as one
lineage-tracked chain (the reference's ``--optimize`` is a single
command, reference: main.py:66-75; the engine's is ``cli build``).

Stages, each committing ONE snapshot-isolated table under
``<output_root>/NN_<stage>`` plus a metrics/lineage row. The three
stages that only drop rows (decontaminate, dedup, select) commit delete
snapshots: the doc_ids they drop, against the table they read
(tables.py), so the corpus text is stored twice in the whole chain
(urlfilter's copy and quality's scrubbed one):

    urlfilter     C4-style pre-text URL gate (functions/url_rules.py)
    decontaminate GPT-3-appendix-C n-gram benchmark overlap drop
    dedup         LSH near-dup components rewrite, keep-one-rep
    quality       langid + perplexity + rules + PII scrub (the
                  resumable bucket loop — run_resumable — so a kill
                  INSIDE this stage resumes mid-corpus); text becomes
                  the scrubbed text from here on
    select        DSIR top-fraction importance resampling
    pack          concat-then-chunk sequence assignment at the fixed
                  token budget (the tokenizer-writer handoff)

``build_job`` runs the chain over a DataFrame; ``build_increment`` runs
it over a growing IcebergishTable. Both call the same stage steps below
(url default, url gate, decontaminate gate + default benchmark, scrub
projection, DSIR drops, pack, token summary).

Resume semantics: every completed stage's CURRENT snapshot carries
``lineage = {run_id, stage, complete: true}``; a re-run with the same
``run_id`` skips straight past completed stages (reading their committed
snapshots), re-enters the quality stage's own bucket-level resume if it
was mid-flight, and continues the chain. The quality stage resumes from
its output table's live lineage only (``run_resumable``). A different
``run_id`` rebuilds from scratch: every stage commits a new lineage root
by overwrite, the quality stage on its first bucket-group commit.

Row counts: a stage's ``n_in`` is the previous stage's ``n_out``, and
every ``n_out`` comes from the committed snapshot's manifest (rows read
from the Parquet footers at commit). The two inputs no manifest records
(the chain's input, and the quality stage's kept rows that select reads)
are counted by an ``Observation`` riding the stage's own passes, and the
token summary is observed on the pack write, so the chain's bookkeeping
starts no Spark job of its own.

Scale notes: stages only ever append/overwrite through tables.py
(snapshot isolation, bucket partitioning on the quality stage); each
stage's plan is the same one its contract query runs (broadcast
decontamination, verified-components dedup, fused one-ArrowEvalPython
quality kernel, TakeOrdered DSIR cut, bounded prefix-scan pack).
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pii_redactor_spark.operators.ranking import (
    SEQ_TOKENS, pack, regex_token_count)
from pii_redactor_spark.tables import IcebergishTable, MetricsTable

STAGE_ORDER = ("urlfilter", "decontaminate", "dedup", "quality",
               "select", "pack")


def stage_table(output_root: str | Path, name: str) -> IcebergishTable:
    idx = STAGE_ORDER.index(name)
    return IcebergishTable(Path(output_root) / f"{idx:02d}_{name}")


def _lineage(tbl: IcebergishTable, run_id: str, stage: str) -> dict:
    """The current snapshot's lineage when ``run_id``'s ``stage``
    committed it, else ``{}``."""
    snap = tbl.snapshot()
    if snap and snap.lineage and snap.lineage.get("run_id") == run_id \
            and snap.lineage.get("stage") == stage:
        return snap.lineage
    return {}


def _log(spark: SparkSession, metrics: MetricsTable, run_id: str,
         stage: str, n_in, n_out, t0: float) -> None:
    metrics.log(spark, [{
        "run_id": run_id, "stage": stage, "bucket": None,
        "n_docs": n_in, "kept": n_out,
        "dropped": (n_in - n_out)
        if n_in is not None and n_out is not None else None,
        "scrubbed": None, "elapsed_s": time.time() - t0,
        "ts": time.time(),
    }])


# ---------------------------------------------------------------------------
# the stage steps both chains run
# ---------------------------------------------------------------------------

def count_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its row count observed (``obs.get["n"]``): the count
    rides the first action that reads the frame instead of running a
    job of its own. No filter is pushed below an observe, so it counts
    every row of ``df`` whatever the consumer filters."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def with_doc_url(pages: DataFrame) -> DataFrame:
    """Pages without a url column get ``doc://<doc_id>``."""
    if "url" in pages.columns:
        return pages
    return pages.withColumn("url", F.concat(F.lit("doc://"), F.col("doc_id")))


def url_gate(df: DataFrame) -> DataFrame:
    from pii_redactor_spark.functions.url_rules import with_url_rules
    return (with_url_rules(df).filter(F.col("url_keep"))
            .drop("host", "path", "url_reasons", "url_keep"))


DEFAULT_BENCH_PRED = "doc_id % 37 = 0"   # q_decontaminate's oracle too


def default_benchmark(df: DataFrame) -> DataFrame:
    """The benchmark when none is given: every 37th doc of the input."""
    return df.filter(DEFAULT_BENCH_PRED).select("doc_id", "text")


def decontaminate_gate(df: DataFrame, bench: DataFrame) -> DataFrame:
    from pii_redactor_spark.operators.decontaminate import contamination
    return (contamination(df, bench).filter(~F.col("contaminated"))
            .drop("shared_ngrams", "contaminated"))


def contaminated_ids(df: DataFrame, bench: DataFrame) -> DataFrame:
    """The doc_ids ``decontaminate_gate`` drops."""
    from pii_redactor_spark.operators.decontaminate import contamination
    return contamination(df, bench).filter(F.col("contaminated")) \
        .select("doc_id")


def scrub_projection(df: DataFrame, thresholds=None,
                     artifacts=None) -> DataFrame:
    """The quality kernels + keep decision; ``text`` becomes the
    scrubbed text. A ``bucket`` column (run_resumable's) passes
    through."""
    from pii_redactor_spark.plans.pipeline import run_pipeline
    pass_cols = [c for c in ("doc_id", "lang", "n_chars") if c in df.columns]
    tail = ["bucket"] if "bucket" in df.columns else []
    return run_pipeline(df, thresholds=thresholds, artifacts=artifacts) \
        .select("url", *pass_cols, F.col("scrubbed_text").alias("text"),
                "lang_pred", "ppl", "n_redactions", "keep", *tail)


def unselected_ids(kept: DataFrame, quality: DataFrame,
                   frac: float) -> DataFrame:
    """The doc_ids of ``quality`` that DSIR's top ``frac`` of the
    ``kept`` rows does not select, the rows the quality gate dropped
    included."""
    from pii_redactor_spark.operators.dsir import dsir_select
    selected = dsir_select(kept, frac=frac) \
        .filter(F.col("selected")).select("doc_id")
    return quality.select("doc_id").join(selected, "doc_id", "left_anti")


def pack_tokens(df: DataFrame, n_rows: int) -> tuple[DataFrame, Observation]:
    """The pack rows of ``df`` (``n_rows`` rows, the select stage's
    committed count) and the Observation its write fills with the token
    summary's aggregates."""
    obs = Observation()
    rows = pack(df.select(
        "doc_id", regex_token_count(F.col("text")).alias("n_tokens")),
        n_rows=n_rows)
    return rows.observe(obs, *_token_aggs()), obs


def _token_aggs() -> list:
    return [F.sum("n_tokens").alias("t"),
            F.max(F.col("start_off") + F.col("n_tokens")).alias("e")]


def token_summary(spark: SparkSession, pack_tbl: IcebergishTable,
                  written: Observation | None = None) -> dict:
    """The numbers a training run budgets by: observed on the pack write
    (``written``, from ``pack_tokens``) when this run wrote the table,
    else one tiny aggregate over the committed pack table."""
    row = written.get if written is not None else \
        pack_tbl.read(spark).agg(*_token_aggs()).first()
    return {"total_tokens": int(row["t"] or 0), "seq_tokens": SEQ_TOKENS,
            "n_sequences": -(-int(row["e"] or 0) // SEQ_TOKENS)}


def append_through(spark: SparkSession, source: IcebergishTable,
                   output: IcebergishTable, run_id: str, stage: str,
                   transform) -> tuple | None:
    """The per-row incremental step: read the source's manifest diff
    since the ``input_snapshot`` marker in ``output``'s lineage,
    transform it, append it with the new marker — a crawl drop costs
    one pass over the drop, never a corpus re-scan. ``transform(diff)``
    returns the rows to append; the diff's row count is observed on
    that pass. Returns ``(n_in, n_out)``, or ``None`` when the source
    has nothing new (idempotent re-runs)."""
    last = _lineage(output, run_id, stage).get("input_snapshot")
    cur = source.current_snapshot_id()
    diff = source.read_incremental(spark, last) if cur != last else None
    if diff is None:
        return None
    diff, seen = count_rows(diff)
    n_out = output.append(transform(diff), lineage={
        "run_id": run_id, "stage": stage, "mode": "append-through",
        "input_snapshot": cur, "complete": True}).added_rows
    return seen.get["n"], n_out


# ---------------------------------------------------------------------------
# the batch chain
# ---------------------------------------------------------------------------

def build_job(
    spark: SparkSession,
    pages: DataFrame,
    output_root: str | Path,
    run_id: str,
    n_buckets: int = 8,
    frac: float = 0.25,
    benchmark: DataFrame | None = None,
    thresholds=None,
    artifacts=None,
    fail_after_stage: str | None = None,
) -> dict:
    """Run (or resume) the whole chain; returns the per-stage summary.
    ``fail_after_stage`` injects a crash after that stage commits — the
    mid-chain-kill test hook (run_resumable's fail_after_commits
    covers the intra-stage crash window)."""
    from pii_redactor_spark.operators.cache import release_caches
    from pii_redactor_spark.plans.dedup_job import duplicate_ids
    from pii_redactor_spark.tables import run_resumable

    root = Path(output_root)
    metrics = MetricsTable(root / "metrics")
    stages: list[dict] = []
    current = with_doc_url(pages)
    n_prev: int | None = None   # the previous stage's n_out

    def run_stage(name: str, step, count_input: bool = False,
                  deletes_from: IcebergishTable | None = None) -> None:
        """Skip a stage this run completed, else commit ``step(current)``
        and free the operators' caches. ``count_input``: the input has
        no manifest count, so it is observed on the stage's own
        passes. ``deletes_from``: ``step`` returns the doc_ids it drops
        from that table, committed as a delete snapshot."""
        nonlocal current, n_prev
        tbl = stage_table(root, name)
        resumed = bool(_lineage(tbl, run_id, name).get("complete"))
        n_in = None
        if not resumed:
            t0 = time.time()
            src, seen = count_rows(current) if count_input \
                else (current, None)
            lineage = {"run_id": run_id, "stage": name, "complete": True}
            if deletes_from is None:
                tbl.overwrite(step(src), lineage=lineage)
            else:
                tbl.commit_deletes(deletes_from, step(src), "doc_id", lineage)
            n_in = seen.get["n"] if seen is not None else n_prev
        n_prev = tbl.count(spark)
        if not resumed:
            _log(spark, metrics, run_id, f"build:{name}", n_in, n_prev, t0)
            release_caches()
        stages.append({"stage": name, "n_in": n_in, "n_out": n_prev,
                       "resumed": resumed,
                       "snapshot": tbl.current_snapshot_id()})
        current = tbl.read(spark)
        maybe_fail(name)

    def maybe_fail(name: str) -> None:
        if fail_after_stage == name:
            raise RuntimeError(
                f"injected failure after stage {name} (test hook)")

    run_stage("urlfilter", url_gate, count_input=True)
    run_stage("decontaminate", lambda df: contaminated_ids(
        df, benchmark if benchmark is not None else default_benchmark(df)),
        deletes_from=stage_table(root, "urlfilter"))
    run_stage("dedup", duplicate_ids,
              deletes_from=stage_table(root, "decontaminate"))

    # quality: bucket-resumable inside the stage
    qtbl = stage_table(root, "quality")
    n_in = n_prev
    commits = run_resumable(
        spark, current, qtbl, metrics, run_id=run_id, stage="quality",
        n_buckets=n_buckets,
        transform=lambda df: scrub_projection(df, thresholds, artifacts))
    n_prev = qtbl.count(spark)
    stages.append({"stage": "quality", "n_in": n_in, "n_out": n_prev,
                   "resumed": commits == 0,
                   "commits_this_run": commits,
                   "snapshot": qtbl.current_snapshot_id()})
    current = qtbl.read(spark).filter(F.col("keep")).drop("keep")
    maybe_fail("quality")

    # select's input is the KEPT quality rows, which no manifest records:
    # its count rides DSIR's raw-LM pass. It deletes from the whole
    # quality table, so its rows carry quality's keep column (true).
    run_stage("select", lambda df: unselected_ids(df, qtbl.read(spark), frac),
              count_input=True, deletes_from=qtbl)
    written = None   # the pack write's token aggregates, if it ran

    def pack_step(df: DataFrame) -> DataFrame:
        nonlocal written
        rows, written = pack_tokens(df, n_prev)  # n_prev: select's n_out
        return rows

    run_stage("pack", pack_step)
    return {"run_id": run_id, "stages": stages,
            **token_summary(spark, stage_table(root, "pack"), written),
            "metrics_rows": metrics.count(spark)}


# ---------------------------------------------------------------------------
# Incremental build: the chain over a GROWING IcebergishTable input.
# Per-ROW stages (urlfilter + decontaminate, then the quality scrub) are
# APPEND-THROUGH (``append_through``), chained table-to-table by
# snapshot markers in the output lineage. GLOBAL stages (dedup / select
# / pack) RECOMPUTE over old+new by their semantics (a new drop can
# duplicate an old doc, move the DSIR cut, and shifts every pack
# offset) — the decision is recorded in every lineage row and metrics
# row as mode=append-through|recompute. The quality stage's per-doc
# scrub outputs are doc-local, so they are computed ONCE per doc (the
# scrub cache) and the recomputed dedup survivor set just semi-joins
# them — the final tables equal a from-scratch build_job over the same
# input + pinned benchmark (pinned at the first increment;
# decontamination is only per-row against a FIXED benchmark, which is
# also the real-world shape: eval suites don't grow with the crawl).
# ---------------------------------------------------------------------------

def build_increment(
    spark: SparkSession,
    input_table: IcebergishTable,
    output_root: str | Path,
    run_id: str = "inc-build",
    frac: float = 0.25,
    benchmark: DataFrame | None = None,
    thresholds=None,
    artifacts=None,
    dedup_mode: str = "recompute",
) -> dict:
    """Run (or catch up) the incremental chain; idempotent — with no new
    input snapshot the per-row stages append nothing and the global
    stages recompute over unchanged inputs (same snapshots re-commit).

    ``dedup_mode`` — ``"recompute"`` (default): the dedup stage rebuilds
    the survivor set over old+new every increment (exact equality with a
    from-scratch build); ``"append"``: the drop is deduped within itself
    then flagged against the committed survivors via ``dedup_against``
    (exact hash + Jaccard-verified band candidates) and only novel docs
    append — one pass over the drop instead of the corpus, at the
    documented bridge-case trade (see the stage comment)."""
    from pii_redactor_spark.operators.cache import release_caches
    from pii_redactor_spark.plans.dedup_job import dedup_corpus

    root = Path(output_root)
    metrics = MetricsTable(root / "metrics")
    pre_tbl = IcebergishTable(root / "inc_00_prefilter")
    scrub_tbl = IcebergishTable(root / "inc_01_scrub")
    bench_tbl = IcebergishTable(root / "inc_benchmark")
    stages: list[dict] = []

    # every row counts what THIS increment's stage read and wrote: an
    # append-through stage's n_out is the rows its own snapshot added
    # (from the manifest), never the accumulated table
    def log_row(stage: str, mode: str, n_in, n_out, t0: float) -> None:
        _log(spark, metrics, run_id, f"inc:{stage}:{mode}", n_in, n_out, t0)
        stages.append({"stage": stage, "mode": mode,
                       "n_in": n_in, "n_out": n_out})

    def prefilter(diff: DataFrame) -> DataFrame:
        """url gate + decontaminate against the benchmark pinned at the
        first increment."""
        diff = with_doc_url(diff)
        if bench_tbl.snapshot() is None:
            bench_tbl.overwrite(
                benchmark if benchmark is not None
                else default_benchmark(diff), lineage={
                    "run_id": run_id, "stage": "benchmark",
                    "mode": "pinned-at-first-increment", "complete": True})
        bench = bench_tbl.read(spark).select("doc_id", "text")
        return decontaminate_gate(url_gate(diff), bench)

    cur_in = input_table.current_snapshot_id()
    for name, source, output, transform in (
            ("prefilter", input_table, pre_tbl, prefilter),
            ("scrub", pre_tbl, scrub_tbl,
             lambda d: scrub_projection(d, thresholds, artifacts))):
        t0 = time.time()
        done = append_through(spark, source, output, run_id, name,
                              transform)
        if done is None:
            stages.append({"stage": name, "mode": "append-through",
                           "n_in": 0, "n_out": None})
        else:
            log_row(name, "append-through", *done, t0)

    if pre_tbl.snapshot() is None:
        return {"run_id": run_id, "incremental": True, "stages": stages,
                "input_snapshot": cur_in, "up_to_date": True,
                "total_tokens": 0}

    # -- global recompute: dedup -> quality join -> select -> pack -----------
    t0 = time.time()
    dtbl = stage_table(root, "dedup")
    cur_pre = pre_tbl.current_snapshot_id()
    if dedup_mode == "append":
        # Append-mode dedup (the dedup_against building block): the new
        # drop is deduped WITHIN itself (dedup_corpus), then flagged
        # against the committed survivor set (exact hash + Jaccard-
        # verified band candidates); only novel docs append — old
        # survivors are NEVER re-examined, so a drop costs one pass
        # over the drop plus co-partitioned joins against the survivor
        # key tables instead of a full-corpus recompute. Documented
        # trade vs mode=recompute: a new doc that BRIDGES two old
        # survivors (near-dup of both) is simply dropped here, while a
        # recompute would merge the whole cluster and keep only its
        # global min id — i.e. append never drops an already-committed
        # survivor. With monotonically increasing doc ids (the append
        # workload) and no bridges, the kept sets are identical
        # (test_build_increment_dedup_append).
        from pii_redactor_spark.operators.dedup import (
            dedup_against, doc_hashes, minhash_bands)

        # Stored survivor SIGNATURE tables: each increment appends only
        # the new survivors' content hashes and MinHash band rows, so
        # the accumulated corpus is hashed exactly once ever — the
        # per-drop cost is signature work over the drop plus
        # co-partitioned key joins. Synced from the dedup table's own
        # snapshot diff (crash between the dedup append and the sync is
        # healed by the next run's pre-flag sync; a recompute overwrite
        # resets the lineage root, which read_incremental surfaces as
        # everything-new and the None-marker branch rebuilds).
        htbl = IcebergishTable(root / "inc_dedup_hashes")
        btbl = IcebergishTable(root / "inc_dedup_bands")

        def _sync_sig() -> None:
            cur_dd = dtbl.current_snapshot_id()
            if cur_dd is None:
                return
            for tbl, stage, derive in (
                    (htbl, "dedup_hashes", doc_hashes),
                    (btbl, "dedup_bands", minhash_bands)):
                last = _lineage(tbl, run_id, stage).get("input_snapshot")
                if last == cur_dd:
                    continue
                lineage = {"run_id": run_id, "stage": stage,
                           "input_snapshot": cur_dd, "complete": True}
                if last is None:
                    tbl.overwrite(derive(dtbl.read(spark)), lineage=lineage)
                else:
                    delta = dtbl.read_incremental(spark, last)
                    if delta is not None:
                        tbl.append(derive(delta), lineage=lineage)

        last_dd = _lineage(dtbl, run_id, "dedup").get("input_snapshot")
        if last_dd == cur_pre and dtbl.snapshot() is not None:
            _sync_sig()
            log_row("dedup", "append:up-to-date", 0, 0, t0)
        elif last_dd is None:
            survivors = dedup_corpus(pre_tbl.read(spark))
            n_out = dtbl.overwrite(survivors, lineage={
                "run_id": run_id, "stage": "dedup", "mode": "append-seed",
                "input_snapshot": cur_pre, "complete": True}).added_rows
            _sync_sig()
            release_caches()
            log_row("dedup", "append-seed", pre_tbl.count(spark), n_out,
                    t0)
        else:
            _sync_sig()  # heal any prior crash window before flagging
            ddiff = pre_tbl.read_incremental(spark, last_dd)
            n_in = ddiff.count() if ddiff is not None else 0
            n_out = 0
            if ddiff is not None and n_in > 0:
                old_surv = dtbl.read(spark)
                new_surv = dedup_corpus(ddiff)
                keep_ids = (
                    dedup_against(new_surv, old_surv,
                                  verify_threshold=0.8,
                                  old_hashes=htbl.read(spark),
                                  old_bands=btbl.read(spark))
                    .filter(F.col("keep")).select("doc_id"))
                add = new_surv.join(keep_ids, "doc_id", "left_semi")
                n_out = dtbl.append(add, lineage={
                    "run_id": run_id, "stage": "dedup", "mode": "append",
                    "input_snapshot": cur_pre,
                    "complete": True}).added_rows
                _sync_sig()  # append the new survivors' own signatures
                release_caches()
            log_row("dedup", "append", n_in, n_out, t0)
    else:
        survivors = dedup_corpus(pre_tbl.read(spark))
        n_out = dtbl.overwrite(survivors, lineage={
            "run_id": run_id, "stage": "dedup", "mode": "recompute",
            "input_snapshot": cur_pre, "complete": True}).added_rows
        release_caches()
        log_row("dedup", "recompute", pre_tbl.count(spark), n_out, t0)

    def recompute(name: str, df: DataFrame, mode: str = "recompute",
                  deletes_from: IcebergishTable | None = None) -> int:
        """Commit ``df``, or with ``deletes_from`` the doc_ids ``df``
        drops from that table; returns the rows the stage reads as."""
        tbl = stage_table(root, name)
        lineage = {"run_id": run_id, "stage": name, "mode": mode,
                   "complete": True}
        snap = tbl.overwrite(df, lineage=lineage) if deletes_from is None \
            else tbl.commit_deletes(deletes_from, df, "doc_id", lineage)
        release_caches()
        return snap.total_rows

    t0 = time.time()
    kept_ids = dtbl.read(spark).select("doc_id")
    n_q = recompute(
        "quality", scrub_tbl.read(spark).join(kept_ids, "doc_id", "left_semi"),
        mode="recompute-join-of-cached-scrub")
    log_row("quality", "recompute", None, n_q, t0)
    t0 = time.time()
    qtbl = stage_table(root, "quality")
    current, seen = count_rows(qtbl.read(spark)
                               .filter(F.col("keep")).drop("keep"))
    n_sel = recompute("select",
                      unselected_ids(current, qtbl.read(spark), frac),
                      deletes_from=qtbl)
    log_row("select", "recompute", seen.get["n"], n_sel, t0)
    t0 = time.time()
    rows, written = pack_tokens(stage_table(root, "select").read(spark),
                                n_sel)
    log_row("pack", "recompute", n_sel, recompute("pack", rows), t0)
    return {"run_id": run_id, "incremental": True, "stages": stages,
            "input_snapshot": cur_in,
            **token_summary(spark, stage_table(root, "pack"), written),
            "metrics_rows": metrics.count(spark)}
