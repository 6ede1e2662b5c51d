"""spark-submit entry point — the engine's mirror of the reference CLI
(reference: main.py:36-58 argparse: default single-text redact,
``--optimize`` corpus build, ``--evaluate [--randomize]`` held-out eval).

Subcommands:

  redact  <text>        one-document smoke path (reference: main.py:38,87-92)
  run     --input --output --metrics --run-id [--n-buckets]
                        resumable corpus pipeline (restart = resume)
  select  --input --output --method {dsir,semdedup,proto,urldedup,bm25}
                        data-selection job: score + cut, snapshot commit
  build   --input --output-root --run-id [--frac --benchmark --artifacts]
                        END-TO-END corpus build (plans/build.py):
                        urlfilter→decontaminate→dedup→quality→select→
                        pack, one snapshot per stage, resumable;
                        --incremental treats --input as a growing
                        IcebergishTable: per-row stages append-through
                        on the snapshot diff, global stages recompute
  evaluate [--offset --limit --randomize --seed]
                        golden-fixture held-out evaluation

Scaling evidence is ``python bench.py --scaling``.

Ship with: ``spark-submit --py-files pii_redactor_spark.zip -m
pii_redactor_spark.cli ...`` — in local smoke runs ``ship_package``
performs the addPyFile equivalent.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F

from pii_redactor_spark.session import get_spark, ship_package


def cmd_redact(args) -> int:
    from pii_redactor_spark.functions.gazetteers import global_scrub_gazetteer
    from pii_redactor_spark.kernels.scrub import make_scrub_udf

    spark = get_spark(app_name="redact")
    ship_package(spark)
    udf = make_scrub_udf(enable_regex=True,
                         global_gazetteer=global_scrub_gazetteer())
    df = (
        spark.createDataFrame([("cli://0", args.text)], "url string, text string")
        .withColumn("r", udf("url", "text"))
        .select("r.scrubbed_text", "r.n_redactions", "r.entities")
    )
    row = df.collect()[0]
    print(json.dumps({
        "redacted_text": row["scrubbed_text"],
        "n_redactions": row["n_redactions"],
        "entities": [{"value": e["value"], "label": e["label"]}
                     for e in row["entities"]],
    }))
    return 0


def cmd_run(args) -> int:
    from pii_redactor_spark.kernels.artifacts import (
        load_fitted, resolve_artifacts_dir)
    from pii_redactor_spark.plans.build import with_doc_url
    from pii_redactor_spark.plans.pipeline import KernelTimers, run_pipeline
    from pii_redactor_spark.tables import (
        IcebergishTable, MetricsTable, run_resumable)

    spark = get_spark(app_name="pipeline_run")
    ship_package(spark)
    pages = with_doc_url(spark.read.parquet(args.input))
    out = IcebergishTable(args.output)
    met = MetricsTable(args.metrics)
    timers = KernelTimers(spark)
    # fit->serve loop closed by DEFAULT (reference: main.py:22-26 loads
    # the optimized model at startup whenever the file exists): an
    # explicit --artifacts wins, else $PII_SPARK_ARTIFACTS, else
    # ./artifacts when fitted files are present
    art_dir = resolve_artifacts_dir(args.artifacts)
    thresholds, artifacts = load_fitted(art_dir)
    commits = run_resumable(
        spark, pages, out, met, run_id=args.run_id,
        n_buckets=args.n_buckets, timers=timers,
        transform=lambda df: run_pipeline(
            df, thresholds=thresholds, timers=timers, artifacts=artifacts)
        .select("url", "doc_id", "lang_pred", "ppl", "n_redactions",
                "keep", "bucket"),
    )
    n = out.count(spark)
    print(json.dumps({"run_id": args.run_id, "commits_this_invocation": commits,
                      "total_rows": n,
                      "artifacts_dir": art_dir,
                      "snapshot": out.current_snapshot_id()}))
    return 0


def cmd_select(args) -> int:
    """Corpus selection job: score + cut with one of the data-selection
    operators, commit the kept subset as a table snapshot.

      dsir      top-``--frac`` by hashed-LM importance ratio
                (operators/dsir.py; needs a text column)
      semdedup  drop within-cluster semantic duplicates
                (operators/clustering.py; needs an embedding column)
      proto     keep the hardest fraction per fitted cluster
                (Sorscher-style prototype pruning; embedding column)
      urldedup  keep one row per canonical url
                (functions/url_rules.py canonicalization)
      bm25      top-``--frac`` by seed-query BM25 relevance
                (operators/bm25.py; needs a text column)
    """
    from pii_redactor_spark.operators.cache import release_caches
    from pii_redactor_spark.tables import IcebergishTable

    if args.frac is not None and args.method not in ("dsir", "bm25"):
        print(json.dumps({"error": "--frac applies to --method dsir/bm25 "
                          "only (semdedup cuts by tau, proto by its "
                          "keep_pct, urldedup by canonical)"}))
        return 2
    if args.frac is not None and not 0.0 < args.frac <= 1.0:
        # dsir_select quantizes frac to whole percents
        # (k = n * round(frac*100) // 100 — the oracle mirrors it), so
        # out-of-range values would silently keep nothing or everything
        print(json.dumps({"error": f"--frac must be in (0, 1], got "
                          f"{args.frac}; note frac is quantized to "
                          "whole percents (0.125 -> 13%)"}))
        return 2

    spark = get_spark(app_name="select")
    ship_package(spark)
    df = spark.read.parquet(args.input)
    n_in = df.count()

    if args.method == "dsir":
        from pii_redactor_spark.operators.dsir import DSIR_FRAC, dsir_select
        flags = dsir_select(
            df, frac=args.frac if args.frac is not None else DSIR_FRAC)
        keep_ids = flags.filter(F.col("selected")).select("doc_id")
        kept = df.join(keep_ids, "doc_id", "left_semi")
    elif args.method == "bm25":
        from pii_redactor_spark.operators.bm25 import bm25_topk
        from pii_redactor_spark.operators.dsir import DSIR_FRAC
        frac = args.frac if args.frac is not None else DSIR_FRAC
        # same whole-percent quantization as dsir_select's cut
        k = max(1, n_in * round(frac * 100) // 100)
        keep_ids = bm25_topk(df, topk=k).select("doc_id")
        kept = df.join(keep_ids, "doc_id", "left_semi")
    elif args.method in ("semdedup", "proto"):
        from pii_redactor_spark.kernels.artifacts import (
            load_centroids, save_centroids)
        from pii_redactor_spark.operators.clustering import (
            kmeans_fit, proto_prune, semdedup)
        emb = df.select(F.col("doc_id").alias("vec_id"), "embedding")
        # fit-once, serve-many: with --artifacts, the first run commits
        # the fitted quantizer, reruns serve from it (bit-identical —
        # float64 round-trips the .npz losslessly)
        cents = None
        if args.artifacts:
            try:
                cents = load_centroids(args.artifacts)
            except FileNotFoundError:
                cents = kmeans_fit(emb)
                save_centroids(args.artifacts, cents)
        if args.method == "semdedup":
            flags = semdedup(emb, cents=cents)
            keep = ~F.col("is_dup")
        else:
            flags = proto_prune(emb, cents=cents)
            keep = F.col("keep")
        keep_ids = (flags.filter(keep)
                    .select(F.col("vec_id").alias("doc_id")))
        kept = df.join(keep_ids, "doc_id", "left_semi")
    else:  # urldedup
        from pii_redactor_spark.functions.url_rules import (
            canonical_url, host_of)
        if "url" not in df.columns:
            print(json.dumps({"error": "urldedup needs a url column"}))
            return 2
        # unparseable/NULL urls all canonicalize to the same empty-host
        # string — give each its own group (raw://doc_id) so malformed
        # rows are never collapsed into one survivor
        canon = F.when(
            F.col("url").isNotNull() & (host_of("url") != ""),
            canonical_url("url"),
        ).otherwise(F.concat(F.lit("raw://"), F.col("doc_id")))
        reps = (df.select(canon.alias("_canon"), "doc_id")
                .groupBy("_canon").agg(F.min("doc_id").alias("doc_id"))
                .select("doc_id"))
        kept = df.join(reps, "doc_id", "left_semi")

    out = IcebergishTable(args.output)
    n_kept = out.overwrite(kept).added_rows
    release_caches()
    print(json.dumps({"method": args.method, "n_in": n_in,
                      "n_kept": n_kept,
                      "snapshot": out.current_snapshot_id()}))
    return 0


def cmd_build(args) -> int:
    """End-to-end corpus build (plans/build.py): urlfilter →
    decontaminate → dedup → quality(scrub) → select → pack, one
    lineage-tracked snapshot per stage, resumable mid-chain AND
    mid-quality-stage with the same --run-id."""
    from pii_redactor_spark.kernels.artifacts import (
        load_fitted, resolve_artifacts_dir)
    from pii_redactor_spark.plans.build import build_increment, build_job
    from pii_redactor_spark.tables import IcebergishTable

    if not 0.0 < args.frac <= 1.0:
        print(json.dumps({"error": f"--frac must be in (0, 1], got "
                          f"{args.frac}"}))
        return 2
    spark = get_spark(app_name="build")
    ship_package(spark)
    art_dir = resolve_artifacts_dir(args.artifacts)
    thresholds, artifacts = load_fitted(art_dir)
    benchmark = (spark.read.parquet(args.benchmark)
                 if args.benchmark else None)
    if args.incremental:
        # --input is an IcebergishTable root (snapshot diffs drive the
        # per-row stages), not a raw parquet path
        out = build_increment(
            spark, IcebergishTable(args.input), args.output_root,
            run_id=args.run_id, frac=args.frac, benchmark=benchmark,
            thresholds=thresholds, artifacts=artifacts,
            dedup_mode=args.dedup_mode)
    else:
        out = build_job(spark, spark.read.parquet(args.input),
                        args.output_root, run_id=args.run_id,
                        n_buckets=args.n_buckets, frac=args.frac,
                        benchmark=benchmark, thresholds=thresholds,
                        artifacts=artifacts)
    out["artifacts_dir"] = art_dir
    print(json.dumps(out))
    return 0


def cmd_fit(args) -> int:
    """Fit thresholds + kernel artifacts on a validation slice — the
    deterministic analogue of the reference's --optimize
    (reference: main.py:66-75)."""
    from pii_redactor_spark.plans.fit import fit_job

    spark = get_spark(app_name="fit")
    ship_package(spark)
    docs = spark.read.parquet(args.input)
    summary = fit_job(spark, docs, args.artifacts,
                      val_limit=args.val_limit,
                      lo=args.lo, hi=args.hi)
    print(json.dumps(summary))
    return 0


def cmd_evaluate(args) -> int:
    from pii_redactor_spark.fixtures import golden_df, per_url_gazetteer
    from pii_redactor_spark.plans.evaluate import evaluate

    spark = get_spark(app_name="evaluate")
    ship_package(spark)
    # NB: no --artifacts flag here (round-2 advice): the evaluate path is
    # scrub-only (make_scrub_udf), so fitted langid/charlm tables have no
    # consumer — and a driver-side preload would never reach executor
    # workers anyway. If evaluate ever grows a kernel dependency, thread
    # the tables through the UDF closure as cmd_run does.
    gold = golden_df(spark).select("url", "text", "redacted_text_gold")
    _, summary = evaluate(
        spark, gold, per_url_gazetteer=per_url_gazetteer(),
        offset=args.offset, limit=args.limit,
        randomize=args.randomize, seed=args.seed,
    )
    print(json.dumps(summary))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="pii_redactor_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("redact")
    r.add_argument("text", nargs="?",
                   default="Call John Smith at 555-123-4567")
    r.set_defaults(fn=cmd_redact)

    g = sub.add_parser("run")
    g.add_argument("--input", required=True)
    g.add_argument("--output", required=True)
    g.add_argument("--metrics", required=True)
    g.add_argument("--run-id", default="run")
    g.add_argument("--n-buckets", type=int, default=8)
    g.add_argument("--artifacts", default=None,
                   help="load fitted kernel tables + thresholds")
    g.set_defaults(fn=cmd_run)

    sel = sub.add_parser("select")
    sel.add_argument("--input", required=True)
    sel.add_argument("--output", required=True)
    sel.add_argument("--method", choices=("dsir", "semdedup", "proto", "urldedup", "bm25"),
                     default="dsir")
    sel.add_argument("--frac", type=float, default=None,
                     help="dsir/bm25: keep fraction in (0, 1], quantized"
                          " to whole percents (default 0.25)")
    sel.add_argument("--artifacts", default=None,
                     help="semdedup/proto: reuse/commit the fitted "
                          "quantizer")
    sel.set_defaults(fn=cmd_select)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--output-root", required=True)
    b.add_argument("--run-id", default="build")
    b.add_argument("--n-buckets", type=int, default=8)
    b.add_argument("--frac", type=float, default=0.25,
                   help="select stage: DSIR keep fraction in (0, 1]")
    b.add_argument("--benchmark", default=None,
                   help="parquet of benchmark items to decontaminate "
                        "against (default: the doc_id%%37 sample)")
    b.add_argument("--artifacts", default=None,
                   help="fitted kernel tables + thresholds for the "
                        "quality stage")
    b.add_argument("--incremental", action="store_true",
                   help="--input is an IcebergishTable root: per-row "
                        "stages (urlfilter+decontaminate, scrub) "
                        "process only the snapshot diff "
                        "(append-through); dedup/select/pack recompute "
                        "by semantics — recorded per stage in lineage")
    b.add_argument("--dedup-mode", choices=("recompute", "append"),
                   default="recompute", dest="dedup_mode",
                   help="incremental only: append = dedup the drop "
                        "within itself then flag against committed "
                        "survivors (dedup_against, Jaccard-verified) "
                        "instead of recomputing over old+new; bridge-"
                        "case trade recorded in plans/build.py")
    b.set_defaults(fn=cmd_build)

    f = sub.add_parser("fit")
    f.add_argument("--input", required=True)
    f.add_argument("--artifacts", required=True)
    f.add_argument("--val-limit", type=int, default=None)
    f.add_argument("--lo", type=float, default=0.005,
                   help="lower-bound rule quantile (coverage target)")
    f.add_argument("--hi", type=float, default=0.995,
                   help="upper-bound rule quantile (coverage target)")
    f.set_defaults(fn=cmd_fit)

    e = sub.add_parser("evaluate")
    e.add_argument("--offset", type=int, default=0)
    e.add_argument("--limit", type=int, default=None)
    e.add_argument("--randomize", action="store_true")
    e.add_argument("--seed", type=int, default=42)
    e.set_defaults(fn=cmd_evaluate)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
