"""Per-round benchmark driver.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a ``noop`` sink so every projected
column is actually computed (a bare ``count()`` would let Catalyst prune
the kernel columns away and benchmark nothing).

Optional: ``--scaling`` additionally runs the flagship pipeline at two
parallelism levels (local[8] vs local[32]) and reports docs/sec at both
plus scaling efficiency, per the north rule's two-cluster-size criterion
(sandbox evidence: same job, N and 4N cores).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pii_redactor_spark.session import get_spark  # noqa: E402

# Names from pii_redactor_spark.contract.QUERIES that constitute the
# headline benchmark. Ordered cheap → expensive so a timeout still
# yields partial numbers.
HEADLINE = [
    "q_lang_filter",
    "q_lang_stats",
    "q_topk_longest",
    "q_token_count",
    "q_langid",
    "q_events_window",
    "q_events_sessions",
    "q_events_props_json",
    "q_lineitem_pricing",
    "q_nation_revenue",
    "q_quality_stats",
    "q_quality_keep",
    "q_quality_clf",
    "q_quality_nb_counts",
    "q_quality_tiers",
    "q_quality_c4",
    "q_badwords",
    "q_datacard",
    "q_domain_mix",
    "q_dedup_exact",
    "q_soft_dedup",
    "q_dedup_minhash_bands",
    "q_dedup_lsh_pairs",
    "q_dedup_jaccard",
    "q_dedup_against",
    "q_dedup_against_verified",
    "q_span_dedup",
    "q_span_rewrite",
    "q_span_para",
    "q_neardup_stream_twin",
    "q_fingerprint",
    "q_simhash",
    "q_ann_bruteforce",
    "q_ann_ivf",
    "q_ann_lsh",
    "q_ann_pq",
    "q_ann_pq_fitted",
    "q_kmeans",
    "q_semdedup",
    "q_semdedup_stream_twin",
    "q_proto_prune",
    "q_host_rank",
    "q_text_embed",
    "q_mlp_embed",
    "q_ann_mlp",
    "q_decontaminate",
    "q_dsir",
    "q_bm25",
    "q_dsir_gumbel",
    "q_split_hash",
    "q_pack",
    "q_pack_rows",
    "q_vocab",
    "q_bpe",
    "q_pack_bpe",
    "q_url_dedup",
    "q_worstk_ppl",
    "q_pipeline_full",
]


def _force(df) -> int:
    """Materialize every column of ``df`` without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def drift_probe(spark) -> float:
    """Fixed corpus-independent CPU probe: the same arithmetic job every
    time, so probe-time swings expose HOST-capacity drift (this VM
    drifts up to ~4x on a minutes timescale — measured round 2) and let
    round-over-round headline comparisons be discounted accordingly."""
    t0 = time.perf_counter()
    spark.range(0, 30_000_000, 1, 32) \
        .selectExpr("sum(id * 3 % 7) AS s").collect()
    return round(time.perf_counter() - t0, 3)


def run_headline(spark, sf_dir: str, reps: int = 3) -> dict[str, float]:
    from pii_redactor_spark.contract import QUERIES

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        # Construct the plan once, warm with the same full
        # materialization: driver-side plan construction (py4j) and
        # one-time whole-stage-codegen (Janino) compilation dominate a
        # cold first run and amortize to nothing at 100 TB. The timed
        # number is best-of-``reps`` steady-state execution (round-3
        # bench hygiene: a single rep is hostage to host-capacity
        # drift; the min of 3 adjacent reps is the quiet-window value).
        df = fn(spark, sf_dir)
        _force(df)
        timings[name] = round(min(_timed(_force, df)
                                  for _ in range(reps)), 3)
        from pii_redactor_spark.operators.cache import release_caches
        release_caches()  # per-query cache lifecycle (no leak across loop)
    return timings


def _replicated_corpus(sf_dir: str, repl: int, n_parts: int) -> tuple[str, int]:
    """Materialize a compute-dominated corpus: the sf documents replicated
    ``repl`` times with distinct ids, written as ``n_parts`` parquet files
    so both parallelism levels have enough input splits. Idempotent per
    (sf_dir, repl)."""
    import tempfile

    out = Path(tempfile.gettempdir()) / (
        f"bench_corpus_{Path(sf_dir).name}_x{repl}")
    marker = out / "_SUCCESS"
    spark = get_spark(app_name="bench_corpus_build", master="local[32]")
    try:
        if not marker.exists():
            from pyspark.sql import functions as F
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            big = (
                docs.crossJoin(spark.range(repl).select(
                    F.col("id").alias("_rep")))
                .withColumn("doc_id",
                            F.col("doc_id") + F.col("_rep") * 1_000_000)
                .drop("_rep")
                .repartition(n_parts)
            )
            big.write.mode("overwrite").parquet(str(out))
        n = spark.read.parquet(str(out)).count()
    finally:
        spark.stop()
    return str(out), n


def run_scaling(sf_dir: str, pairs=((2, 8), (8, 32)),
                repl: int = 130, reps: int = 2) -> dict:
    """North-rule two-cluster-size evidence (sandbox form): the same
    pipeline job at ``local[N]`` and ``local[4N]`` cores over the same
    replicated input; reports docs/sec at each level + per-pair scaling
    efficiency = (T_low/T_high)/(high/low), best-of-``reps``.

    The corpus is replicated (~325k docs) so per-doc kernel compute
    dominates fixed job overheads — the regime a real multi-executor
    cluster runs in. Two pairs are reported because local mode conflates
    "more executors" with "more of one host's cores": each Python-UDF
    task occupies a JVM thread AND a Python worker, so local[32] runs
    ~64 runnable threads on a 32-core host (measured ~1.5x per-doc
    core-time inflation), while both levels of the 2→8 pair are
    uncontended — the honest analogue of adding executor HOSTS.
    """
    from pyspark.sql import functions as F

    from pii_redactor_spark.plans.pipeline import run_pipeline
    from pii_redactor_spark.session import ship_package

    corpus_path, n_docs = _replicated_corpus(sf_dir, repl, n_parts=256)
    levels = sorted({c for pair in pairs for c in pair})
    # rep-major (interleaved) order: this VM's CPU capacity drifts by up
    # to ~4x on a minutes timescale (measured), so timing all reps of
    # one level back-to-back correlates the drift with the level and
    # corrupts the efficiency ratio. Each rep times every level
    # adjacently (one low-drift window) and the efficiency is computed
    # WITHIN a rep; the reported number is the best (least-contended)
    # rep, with all reps emitted for honesty.
    rep_times: list[dict[int, float]] = []
    for _rep in range(reps):
        times: dict[int, float] = {}
        for cores in levels:
            # Split the stand-in corpus into EXACTLY 32 uniform input
            # splits (8 of the 256 uniform files per bin). Why 32: the
            # default 128 MB bin-packing collapses the 61 MB corpus into
            # ~9 splits — a straggler wave at 8+ cores that caps measured
            # scaling at task-count granularity; at the other extreme,
            # local mode pays ~0.2 s of Python-runner setup PER TASK, so
            # hundreds of tiny splits drown the low-core levels in
            # overhead. 32 splits divide 2, 8, and 32 cores into whole,
            # uniform waves — per-task overhead then cancels in the
            # efficiency ratio instead of biasing it. (At 100 TB this
            # trade-off vanishes: tasks are minutes long and split counts
            # are thousands per executor.)
            spark = get_spark(app_name=f"bench_scaling_{cores}",
                              master=f"local[{cores}]",
                              shuffle_partitions=max(cores, 8),
                              extra_confs={
                                  "spark.sql.files.maxPartitionBytes": "2097152",
                                  "spark.sql.files.openCostInBytes": "16384",
                              })
            try:
                ship_package(spark)
                pages = spark.read.parquet(corpus_path).select(
                    F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
                    "doc_id", "text", "lang")
                df = run_pipeline(pages) \
                    .select("url", "doc_id", "lang_pred", "ppl",
                            "n_redactions", "keep")
                _force(df)  # warm: codegen + per-worker kernel fit
                times[cores] = _timed(_force, df)
            finally:
                spark.stop()
        rep_times.append(times)

    def eff(times: dict[int, float], lo: int, hi: int) -> float:
        return (times[lo] / times[hi]) / (hi / lo)

    # Headline efficiency is the MEDIAN rep (round-2 advice: max-of-reps
    # was the most favorable framing and could come from a rep whose
    # absolute times aren't the reported ones). Per-level times come from
    # the same median-eff rep for internal consistency; per_rep below
    # carries the full data including the best/worst spread.
    import statistics

    def median_rep(lo: int, hi: int) -> dict[int, float]:
        ranked = sorted(rep_times, key=lambda t: eff(t, lo, hi))
        return ranked[(len(ranked) - 1) // 2]

    lo0, hi0 = pairs[0]
    headline_rep = median_rep(lo0, hi0)
    results = {
        c: {"sec": round(headline_rep[c], 3),
            "docs_per_sec": round(n_docs / headline_rep[c], 1)}
        for c in levels
    }
    effs = {
        f"{lo}->{hi}": round(
            statistics.median(eff(t, lo, hi) for t in rep_times), 3)
        for lo, hi in pairs
    }
    return {"n_docs": n_docs, "results": results,
            "scaling_efficiency": effs,
            "headline_rep_policy": "median-eff rep; see per_rep for spread",
            "per_rep": [
                {"times_sec": {str(c): round(t[c], 3) for c in levels},
                 "eff": {f"{lo}->{hi}": round(eff(t, lo, hi), 3)
                         for lo, hi in pairs}}
                for t in rep_times
            ]}


def _timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def run_scaling_components(sf_dir: str, repl: int = 130) -> dict:
    """Decomposed scaling evidence: time the pipeline's two compute
    stages SEPARATELY at local[2] vs local[8] — (a) the fused Python
    kernel pass (langid+ppl+scrub), (b) the JVM quality-rule
    expressions — plus the bare scan. Isolates which stage any combined
    sub-linearity comes from (round-2 finding: at an 8 GB shared local
    heap the allocation-heavy rules stage was GC-bound, 0.72; at 24 GB
    both stages hold ~0.94-0.95 — a local-single-JVM artifact that a
    real cluster's per-executor heaps do not share)."""
    from pyspark.sql import functions as F

    from pii_redactor_spark.functions.rules import with_quality
    from pii_redactor_spark.plans.pipeline import make_fused_kernel_udf
    from pii_redactor_spark.session import ship_package

    corpus_path, n_docs = _replicated_corpus(sf_dir, repl, n_parts=256)
    out: dict = {"n_docs": n_docs, "levels": {}}
    for cores in (2, 8):
        spark = get_spark(app_name=f"bench_comp_{cores}",
                          master=f"local[{cores}]",
                          shuffle_partitions=max(cores, 8),
                          extra_confs={
                              "spark.sql.files.maxPartitionBytes": "2097152",
                              "spark.sql.files.openCostInBytes": "16384",
                          })
        try:
            ship_package(spark)
            pages = spark.read.parquet(corpus_path).select(
                F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
                "doc_id", "text", "lang")
            fused = make_fused_kernel_udf()
            kernel = (
                pages.withColumn("_k", fused(F.col("url"), F.col("text")))
                .select("url", "doc_id", F.col("_k.lang_pred"),
                        F.col("_k.ppl"), F.col("_k.n_redactions"))
            )
            rules = with_quality(pages, "text").select(
                "url", "doc_id", "keep", F.size("reasons").alias("nr"))
            t: dict[str, float] = {}
            for name, df in (("scan", pages), ("kernel", kernel),
                             ("rules", rules)):
                _force(df)
                t[name] = round(min(_timed(_force, df) for _ in range(2)), 3)
            out["levels"][cores] = t
        finally:
            spark.stop()
    out["eff_2_8"] = {
        name: round((out["levels"][2][name] / out["levels"][8][name]) / 4, 3)
        for name in ("scan", "kernel", "rules")
    }
    return out


def run_skew(sf_dir: str, repl: int = 130, salt_k: int = 16) -> dict:
    """North-rule skew evidence: a host-keyed aggregation over the
    deliberately skewed corpus (one hot host ≈ 50% of pages), unsalted vs
    hot-host-salted (two-phase re-merge). Reports wall time and the max
    reduce-group size — the quantity that becomes one executor's task at
    cluster scale."""
    from pyspark.sql import functions as F

    from pii_redactor_spark.sources.corpus import from_documents
    from pii_redactor_spark.functions.url_rules import host_of
    from pii_redactor_spark.operators.ranking import (
        hot_hosts, with_salted_host_key)

    corpus_path, n_docs = _replicated_corpus(sf_dir, repl, n_parts=256)
    spark = get_spark(app_name="bench_skew", master="local[32]")
    try:
        pages = from_documents(spark.read.parquet(corpus_path))
        host = host_of("url")

        def heavy_aggs():
            return [
                F.count("*").alias("n"),
                F.sum(F.length("text")).alias("chars"),
                F.approx_count_distinct(F.md5("text")).alias("approx_uniq"),
            ]

        unsalted = pages.groupBy(host.alias("host")).agg(*heavy_aggs())
        hot = hot_hosts(pages, threshold=n_docs // 10)
        salted_pre = (
            with_salted_host_key(pages, hot=hot, salt_k=salt_k)
            .groupBy("host_key").agg(*heavy_aggs())
        )
        # phase 2: re-merge per true host (approx_uniq merges by max —
        # an upper bound is fine for the skew demonstration)
        salted = (
            salted_pre
            .groupBy(F.split("host_key", "#")[0].alias("host"))
            .agg(F.sum("n").alias("n"), F.sum("chars").alias("chars"),
                 F.max("approx_uniq").alias("approx_uniq"))
        )
        out = {"n_docs": n_docs, "hot_hosts": hot, "salt_k": salt_k}
        for name, df, groups in (
            ("unsalted", unsalted, unsalted),
            ("salted", salted, salted_pre),
        ):
            _force(df)
            t = min(_timed(_force, df) for _ in range(2))
            mx = groups.agg(F.max("n")).collect()[0][0]
            out[name] = {"sec": round(t, 3), "max_group_rows": mx}

        # cap_per_host two-phase evidence: the largest row set any single
        # window partition must sort. One-window = the hot host (~50% of
        # the corpus, grows without bound); phase 1 = per-(host, salt)
        # bucket (hot/salt_k); phase 2 = per-host survivors, bounded by
        # salt_k * cap regardless of corpus size.
        from pii_redactor_spark.operators.sampling import (
            CAP_SALT_K, cap_per_host, priority_expr)
        cap = 100
        chost = host_of("url")
        salt = F.pmod(priority_expr(F.col("url"), 42), F.lit(CAP_SALT_K))
        bucket_sizes = (
            pages.groupBy(chost.alias("h"), salt.alias("s")).count()
            .persist())
        one_window_max = (
            bucket_sizes.groupBy("h").agg(F.sum("count").alias("n"))
            .agg(F.max("n")).collect()[0][0])
        phase1_max = bucket_sizes.agg(F.max("count")).collect()[0][0]
        phase2_max = (
            bucket_sizes.groupBy("h")
            .agg(F.sum(F.least(F.col("count"), F.lit(cap))).alias("n"))
            .agg(F.max("n")).collect()[0][0])
        bucket_sizes.unpersist()
        capped = cap_per_host(pages, max_per_host=cap, salt_k=CAP_SALT_K)
        _force(capped)
        t_cap = min(_timed(_force, capped) for _ in range(2))
        out["host_cap"] = {
            "cap": cap, "salt_k": CAP_SALT_K, "sec": round(t_cap, 3),
            "one_window_max_rows": one_window_max,
            "phase1_max_window_rows": phase1_max,
            "phase2_max_window_rows": phase2_max,
        }
        return out
    finally:
        spark.stop()


def run_skew_clusters(sf_dir: str, repl: int = 5) -> dict:
    """Skewed-CLUSTER evidence (round-3 verdict item 8): plant a corpus
    where ~95% of vectors collapse into one k-means cluster, then run
    the two cluster-bounded operators over it.

    - semdedup's grouped Arrow pass: the pairwise matrix is row-blocked
      (clustering.SEM_BLOCK), so the giant cluster costs
      O(SEM_BLOCK * |cluster|) task memory — reported as
      blocked_matrix_mb vs the dense |cluster|^2 matrix it replaces.
      Pair COMPUTE stays quadratic by the operator's semantics; the
      wall time documents what a runaway cluster costs, which is the
      k-sizing signal (SemDeDup used 50k clusters for LAION).
    - proto_prune: the per-cluster rank routes the giant cluster
      through the bucketed two-phase rank (hot_threshold), so no
      window partition ever holds the whole cluster — max window rows
      reported (window skew is invisible to AQE; CLAUDE.md).
    """
    from pyspark.sql import functions as F

    from pii_redactor_spark.operators import clustering as km
    from pii_redactor_spark.operators.cache import release_caches
    from pii_redactor_spark.session import ship_package

    spark = get_spark(app_name="bench_skew_clusters", master="local[32]")
    try:
        ship_package(spark)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        big = (
            emb.crossJoin(spark.range(repl).select(F.col("id").alias("_rep")))
            .withColumn("vec_id", F.col("vec_id") + F.col("_rep") * 1_000_000)
            # 95% of vectors crushed into a tight blob around the origin
            # (one cluster); every 20th keeps its scale (the spread tail)
            .withColumn("embedding", F.expr(
                "transform(embedding, x -> CAST(CASE WHEN vec_id % 20 = 0 "
                "THEN x ELSE 0.01 * x END AS FLOAT))"))
            .select("vec_id", "embedding", "label")
            .repartition(32)
        )
        big = big.persist()
        n = big.count()
        cents = km.kmeans_fit(big)
        sizes = km.kmeans_assign(big, cents).groupBy("cid").count().collect()
        max_cluster = max(r["count"] for r in sizes)

        sem = km.semdedup(big, cents=cents)
        _force(sem)
        t_sem = min(_timed(_force, km.semdedup(big, cents=cents))
                    for _ in range(2))
        release_caches()

        hot_threshold = 2_000
        pp = km.proto_prune(big, cents=cents, hot_threshold=hot_threshold)
        _force(pp)
        t_pp = min(_timed(
            _force, km.proto_prune(big, cents=cents,
                                   hot_threshold=hot_threshold))
            for _ in range(2))
        release_caches()
        num_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        big.unpersist()
        return {
            "n_vecs": n,
            "max_cluster_rows": max_cluster,
            "semdedup": {
                "sec": round(t_sem, 3),
                "sem_block_rows": km.SEM_BLOCK,
                "blocked_matrix_mb": round(
                    km.SEM_BLOCK * max_cluster * 8 / 1e6, 1),
                "dense_matrix_mb_avoided": round(
                    max_cluster * max_cluster * 8 / 1e6, 1),
            },
            "proto_prune": {
                "sec": round(t_pp, 3),
                "hot_threshold": hot_threshold,
                "max_window_rows_bound": max_cluster // num_buckets
                + num_buckets,
                "one_window_rows_avoided": max_cluster,
            },
        }
    finally:
        spark.stop()


def run_inc_dedup(sf_dir: str, repl: int = 10) -> dict:
    """Append-mode incremental dedup evidence: on the 650k-doc
    replicated corpus, compare (a) a FULL within-corpus dedup over
    old+new (what --dedup-mode recompute pays every increment) against
    (b) the append path — the 10% drop deduped within itself, then
    flagged via ``dedup_against`` with the old side's STORED hash/band
    tables (what a real pipeline pays: signatures over the drop only,
    the accumulated corpus never re-hashed). The stored tables are
    materialized once (seed cost, reported separately) — exactly the
    inc_dedup_hashes / inc_dedup_bands stage tables the build chain
    maintains.

    repl=10 (50k docs, 10-copy dup clusters): the full recompute's
    candidate-pair count grows with cluster size squared (C(repl,2) per
    base doc), so the 650k/130-copy corpus used by --scaling is
    pathological for WITHIN-corpus dedup (42M verify pairs) — 50k docs
    keeps the comparison in a measurable window while preserving the
    shape (the increment side's cost is pair-count-insensitive: the
    drop collides with stored buckets, never with itself 130 ways)."""
    from pyspark.sql import functions as F

    from pii_redactor_spark.operators.cache import release_caches
    from pii_redactor_spark.operators.dedup import (
        dedup_against, doc_hashes, minhash_bands)
    from pii_redactor_spark.plans.dedup_job import dedup_corpus
    from pii_redactor_spark.session import ship_package

    corpus_path, n_docs = _replicated_corpus(sf_dir, repl, n_parts=64)
    spark = get_spark(app_name="bench_inc_dedup", master="local[32]")
    try:
        ship_package(spark)
        docs = spark.read.parquet(corpus_path)
        cut = docs.selectExpr(
            "percentile_approx(doc_id, 0.9) AS c").first()["c"]
        old = docs.filter(F.col("doc_id") <= cut)
        drop = docs.filter(F.col("doc_id") > cut)
        n_old, n_drop = old.count(), drop.count()

        t0 = time.perf_counter()
        full = dedup_corpus(docs)
        n_full = full.count()
        t_full = time.perf_counter() - t0
        release_caches()

        # seed: survivors of the OLD corpus + their stored signatures
        t0 = time.perf_counter()
        old_surv = dedup_corpus(old).persist()
        oh = old_surv.transform(doc_hashes).persist()
        ob = minhash_bands(old_surv).persist()
        seed_n = old_surv.count(); oh.count(); ob.count()
        t_seed = time.perf_counter() - t0
        release_caches()

        # the increment: everything a new drop costs with stored tables
        t0 = time.perf_counter()
        new_surv = dedup_corpus(drop)
        kept = (dedup_against(new_surv, old_surv, verify_threshold=0.8,
                              old_hashes=oh, old_bands=ob)
                .filter(F.col("keep")))
        n_kept = kept.count()
        t_inc = time.perf_counter() - t0
        release_caches()
        for h in (old_surv, oh, ob):
            if h.is_cached:
                h.unpersist()
        return {
            "n_docs": n_docs, "n_old": n_old, "n_drop": n_drop,
            "full_recompute": {"sec": round(t_full, 3),
                               "survivors": n_full},
            "seed": {"sec": round(t_seed, 3), "survivors": seed_n},
            "increment": {"sec": round(t_inc, 3),
                          "novel_kept": n_kept},
            "speedup_vs_recompute": round(t_full / t_inc, 2),
        }
    finally:
        spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)

    if "--inc-dedup" in sys.argv:
        print(json.dumps(run_inc_dedup(sf_dir)))
        return

    if "--scaling" in sys.argv:
        out = run_scaling(sf_dir)
        print(json.dumps(out))
        return
    if "--skew" in sys.argv:
        out = run_skew(sf_dir)
        out["cluster_skew"] = run_skew_clusters(sf_dir)
        print(json.dumps(out))
        return
    if "--skew-clusters" in sys.argv:
        print(json.dumps(run_skew_clusters(sf_dir)))
        return
    if "--scaling-components" in sys.argv:
        print(json.dumps(run_scaling_components(sf_dir)))
        return

    spark = get_spark(app_name="bench", master=f"local[{cpus}]")
    try:
        drift_probe(spark)  # warm: JIT/codegen, not host capacity
        probe_before = drift_probe(spark)
        timings = run_headline(spark, sf_dir)
        probe_after = drift_probe(spark)
    finally:
        spark.stop()
    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # best-of-3 per query; compare rounds only when the probes agree
        "rep_policy": "best-of-3 after warm",
        "drift_probe_sec": {"before": probe_before, "after": probe_after},
    }))


if __name__ == "__main__":
    main()
