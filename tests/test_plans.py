"""Physical-plan shape guards: the properties that make these operators
viable at 100 TB, asserted on the optimized plans so regressions that
silently de-optimize (lost pushdown, surprise shuffle, dropped broadcast)
fail CI.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_lang_filter_pushed_to_scan(docs):
    df = docs.filter(F.col("lang") == "en").select("doc_id", "lang")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan


def test_column_pruning_reaches_scan(docs):
    df = docs.select("doc_id")
    plan = _plan(df)
    # ReadSchema must not include the wide text column
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "text" not in read_schema[0]


def test_pipeline_has_no_shuffle(spark, docs):
    from pii_redactor_spark.plans.pipeline import run_pipeline
    from pii_redactor_spark.session import ship_package
    ship_package(spark)
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        "doc_id", "text", "lang")
    out = run_pipeline(pages, allowed_langs=("en",), max_ppl=50.0)
    plan = _plan(out)
    assert "Exchange" not in plan        # embarrassingly parallel
    assert "ArrowEvalPython" in plan     # fused kernel pass is Arrow-batched
    # exactly ONE Python eval: langid+ppl+scrub fused, text crosses the
    # JVM->Python boundary once
    assert plan.count("ArrowEvalPython") == 1


def test_fewshot_anti_join_is_broadcast(spark, docs):
    ids = spark.createDataFrame([(i,) for i in range(25)], "doc_id long")
    df = docs.join(F.broadcast(ids), "doc_id", "left_anti")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_ann_bruteforce_broadcasts_queries(spark):
    from pii_redactor_spark.operators.similarity import ann_bruteforce
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(ann_bruteforce(emb))
    assert "BroadcastNestedLoopJoin" in plan


def test_ann_lsh_is_broadcast_hash_join(spark):
    from pii_redactor_spark.operators.similarity import ann_lsh
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(ann_lsh(emb))
    # bucket equi-join must hash-join on the broadcast query side,
    # never nested-loop over the corpus
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_dedup_partial_aggregation(spark, docs):
    from pii_redactor_spark.operators.dedup import exact_dedup
    plan = _plan(exact_dedup(docs))
    # map-side partial + final HashAggregate pair around one Exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_nation_revenue_broadcasts_dim(spark):
    from pii_redactor_spark.contract import QUERIES
    plan = _plan(QUERIES["q_nation_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_topk_uses_take_ordered(docs):
    df = docs.orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(20) \
        .select("doc_id", "n_chars")
    assert "TakeOrderedAndProject" in _plan(df)


def test_table_layer_bucket_partition_pruning(spark, docs, tmp_path):
    from pii_redactor_spark.tables import IcebergishTable, with_bucket
    t = IcebergishTable(tmp_path / "pt")
    t.append(with_bucket(docs.select("doc_id", "text"), "doc_id", 8),
             partition_by="bucket")
    df = t.read(spark).filter(F.col("bucket") == 3).select("doc_id")
    plan = _plan(df)
    # the bucket predicate must prune partition directories at the scan,
    # not filter rows post-hoc
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:200]


def test_quality_stats_tokenizes_once(spark, docs):
    from pii_redactor_spark.functions.rules import attach_quality_stats
    out = attach_quality_stats(docs, "text").select(
        "doc_id", "n_words", "mean_word_len", "stopword_ratio",
        "symbol_word_ratio", "alpha_word_ratio", "dup_line_ratio")
    opt = _optimized(out)
    # the words array must be computed once and shared, not re-inlined
    # into every statistic (CollapseProject keeps multi-use non-cheap
    # expressions materialized) — 13x measured regression otherwise
    assert opt.count("split(trim(text") == 1


def test_ann_ivf_assignment_is_projection_no_window(spark):
    # round-2 fix: corpus->centroid assignment must be a projection
    # (array_max argmax over literal centroids), never an Exchange +
    # vec_id window over corpus x centroid rows
    from pii_redactor_spark.operators.similarity import ann_ivf
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(ann_ivf(emb))
    # exactly: one Exchange for the final per-query top-k window, one
    # BroadcastExchange for the probe side — nothing else
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("BroadcastExchange") == 1
    # the only row_number window left is the final top-k (query_id)
    assert plan.count("Window [row_number()") == 1
    assert "windowspecdefinition(vec_id" not in plan


def test_split_train_has_no_shuffle_at_all(spark):
    # round-3 fix: positional train/val split must be a TakeOrdered
    # threshold + pure projection — round 2 planned Exchange
    # SinglePartition + a full sort in ONE task
    from pii_redactor_spark.contract import QUERIES
    plan = _plan(QUERIES["q_split_train"](spark, SF))
    assert "SinglePartition" not in plan
    assert "Exchange" not in plan


def test_enumerate_uses_bounded_two_phase_rank(spark):
    # round-3 fix: per-lang enumerate must never put a whole language in
    # one window partition — bucketed local rank + broadcast offsets
    from pii_redactor_spark.contract import QUERIES
    plan = _plan(QUERIES["q_enumerate"](spark, SF))
    assert "SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # the local window
    assert plan.count("BroadcastExchange") == 1          # the offset join
    assert "_bucket" in plan


def test_slice_devset_sequential_is_filter_only(spark, docs):
    from pii_redactor_spark.plans.evaluate import slice_devset
    gold = docs.select(
        F.concat(F.lit("fix://"), F.col("doc_id")).alias("url"), "text")
    plan = _plan(slice_devset(gold, offset=5, limit=10))
    assert "SinglePartition" not in plan
    assert "Window" not in plan


def test_slice_devset_randomized_has_no_single_partition(spark, docs):
    from pii_redactor_spark.plans.evaluate import slice_devset
    gold = docs.select(
        F.concat(F.lit("fix://"), F.col("doc_id")).alias("url"), "text")
    plan = _plan(slice_devset(gold, randomize=True, seed=7, limit=10))
    assert "SinglePartition" not in plan


def test_global_row_number_matches_window_semantics(spark, docs):
    from pyspark.sql.window import Window
    from pii_redactor_spark.operators.ranking import global_row_number
    d = docs.select("doc_id", "lang")
    got = {(r["doc_id"], r["rn"]) for r in
           global_row_number(d, "doc_id", partition_cols=("lang",),
                             num_buckets=7).collect()}
    w = Window.partitionBy("lang").orderBy("doc_id")
    want = {(r["doc_id"], r["rn"]) for r in
            d.select("doc_id", F.row_number().over(w).alias("rn")).collect()}
    assert got == want


def test_group_row_number_hybrid_matches_window_semantics(spark, docs):
    # extreme-cardinality regime: hot groups (above threshold) take the
    # bucketed two-phase rank, cold groups a plain window — union must
    # equal the single-window formulation exactly
    from pyspark.sql.window import Window
    from pii_redactor_spark.operators.ranking import group_row_number
    # lang is skewed enough at sf0.001: make one group hot via threshold
    d = docs.select("doc_id", "lang")
    counts = {r["lang"]: r["count"]
              for r in d.groupBy("lang").count().collect()}
    thr = sorted(counts.values())[len(counts) // 2]  # some hot, some cold
    assert any(c > thr for c in counts.values())
    assert any(c <= thr for c in counts.values())
    got = {(r["doc_id"], r["rn"]) for r in
           group_row_number(d, "lang", "doc_id", hot_threshold=thr,
                            num_buckets=7).collect()}
    w = Window.partitionBy("lang").orderBy("doc_id")
    want = {(r["doc_id"], r["rn"]) for r in
            d.select("doc_id", F.row_number().over(w).alias("rn")).collect()}
    assert got == want
    # all-cold fallback: one plain window, no bucketing machinery
    allcold = group_row_number(d, "lang", "doc_id",
                               hot_threshold=10**9)
    assert "_bucket" not in _plan(allcold)
    got2 = {(r["doc_id"], r["rn"]) for r in allcold.collect()}
    assert got2 == want


def test_host_rank_plan_has_no_single_partition(spark):
    from pii_redactor_spark.contract import QUERIES
    plan = _plan(QUERIES["q_host_rank"](spark, SF))
    assert "SinglePartition" not in plan
    assert "_bucket" in plan            # hot branch engaged (bighost)
    assert "BroadcastExchange" in plan  # offsets join on the hot side


def test_host_cap_windows_are_salted_two_phase(spark, docs):
    # round-2 fix: phase-1 window must partition by (host, salt) so no
    # window partition scales with the hot host; AQE cannot split
    # window partitions, so this is the only structural bound
    from pii_redactor_spark.operators.sampling import cap_per_host
    pages = docs.select(
        F.concat(F.lit("https://h.example/"), F.col("doc_id")).alias("url"),
        "doc_id")
    plan = _plan(cap_per_host(pages))
    assert plan.count("Window [row_number()") == 2
    # first (inner) window keyed by host AND salt
    assert "windowspecdefinition(host" in plan
    assert "_salt" in plan


def test_langid_expr_is_projection_only(spark, docs):
    # round-4: the oracle-gated langid stays a projection over the scan
    # (zero shuffle) with the score sums in one ArrowEvalPython —
    # oracle-tested in test_rules_kernels
    from pii_redactor_spark.contract import QUERIES
    dplan = _plan(QUERIES["q_langid"](spark, SF))
    assert "Exchange" not in dplan
    assert dplan.count("ArrowEvalPython") == 1


def test_pack_rows_never_single_partition(spark):
    # the exploded writer rows ride the same bounded prefix scan as
    # q_pack: broadcast offsets, no global window, no SinglePartition
    from pii_redactor_spark.contract import QUERIES
    plan = _plan(QUERIES["q_pack_rows"](spark, SF))
    assert "SinglePartition" not in plan
    assert "BroadcastExchange" in plan


def test_vocab_rank_window_input_is_take_ordered(spark):
    # round-4 verdict "what's wrong" #3: the q_vocab/q_bpe rank window
    # deliberately has no PARTITION BY (it emits a benign
    # "No Partition Defined" warning) — boundedness comes from its
    # input being the TakeOrderedAndProject(VOCAB_N) output, never the
    # full word-count table. Pin that child relationship: the window's
    # subtree must contain the TakeOrdered and no Exchange between
    # window and top-k (the N-row sort happens inside one task).
    from pii_redactor_spark.contract import QUERIES, VOCAB_N
    plan = _plan(QUERIES["q_vocab"](spark, SF))
    lines = plan.splitlines()
    widx = [i for i, ln in enumerate(lines) if "Window [row_number()" in ln]
    tidx = [i for i, ln in enumerate(lines)
            if "TakeOrderedAndProject" in ln and f"limit={VOCAB_N}" in ln]
    assert len(widx) == 1 and len(tidx) == 1
    # physical plans print children below parents: the TakeOrdered is in
    # the window's subtree, with only the window's own Sort in between
    assert widx[0] < tidx[0]
    between = "\n".join(lines[widx[0] + 1:tidx[0]])
    assert "Exchange" not in between
    assert "Scan parquet" not in between


def test_soft_dedup_no_window_partial_agg(spark, docs):
    """soft_dedup counts multiplicity via groupBy+join, NEVER a window
    over the content hash: a hot page's million copies would land in
    ONE window task (AQE cannot split window partitions — CLAUDE.md).
    The groupBy must partial-aggregate (map-side combine)."""
    from pii_redactor_spark.operators.dedup import soft_dedup_weights
    plan = _plan(soft_dedup_weights(docs))
    assert "Window" not in plan, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_verified_edges_read_one_signature_frame(spark, docs):
    """dedup_components(verify_threshold) builds its edges from ONE
    persisted signature frame: candidates (band keys) and verification
    (shingle-hash sets) both scan the same InMemoryRelation, which holds
    the only text -> shingle-hash projection and the only Arrow pass."""
    from pii_redactor_spark.operators.cache import release_caches
    from pii_redactor_spark.operators.dedup import dedup_edges
    plan = _plan(dedup_edges(docs, verify_threshold=0.8))

    def distinct(marker):
        return {ln.split(marker, 1)[1] for ln in plan.splitlines()
                if marker in ln}

    # each scan re-prints the cached subtree (same expression ids), so
    # one pass shows as one distinct line, printed once per scan
    assert len(distinct("ArrowEvalPython")) == 1, plan
    assert len(distinct("array_distinct(transform(")) == 1, plan
    n_scans = plan.count("InMemoryRelation [")
    assert n_scans >= 2, plan  # candidates and verification share it
    assert plan.count("ArrowEvalPython") == n_scans, plan
    release_caches()


def test_neardup_twin_band_table_computed_once(spark, docs):
    """The rep self-join consumes the band table on both sides; without
    the registered_persist the MinHash signature pass (the dominant
    cost) executes twice — measured 1.42 s -> 0.52 s at sf0.1 when
    cached. Both join sides must read the InMemoryRelation."""
    from pii_redactor_spark.operators.cache import release_caches
    from pii_redactor_spark.operators.dedup import neardup_stream_replay
    df = neardup_stream_replay(docs)
    plan = _plan(df)
    assert plan.count("InMemoryTableScan") >= 2, plan
    # every signature pass lives INSIDE a cached relation (each scan
    # re-prints the cached subtree, so compare counts): uncached, the
    # Arrow passes would appear with no InMemoryRelation at all
    assert (plan.count("ArrowEvalPython")
            <= plan.count("InMemoryRelation")), plan
    release_caches()


def test_dedup_against_no_window_no_single_partition(spark, docs):
    """Both dedup_against paths flag via co-partitioned key joins —
    never a window over the content hash / band key (a viral page
    would pin one task; AQE cannot split windows) and never a
    SinglePartition exchange."""
    from pii_redactor_spark.operators.dedup import dedup_against
    new = docs.filter("doc_id % 2 = 1")
    old = docs.filter("doc_id % 2 = 0")
    for vt in (None, 0.8):
        plan = _plan(dedup_against(new, old, verify_threshold=vt))
        assert "Window" not in plan, vt
        assert "Exchange SinglePartition" not in plan, vt


def test_badword_stats_is_pure_projection(spark, docs):
    """The C4 bad-words gate is word-array ∩ literal-list membership —
    one projection over the scan, zero shuffle, zero Python."""
    from pii_redactor_spark.functions.rules import badword_stats
    plan = _plan(badword_stats(docs))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_plans_md_fingerprints_match_fresh_plans(spark):
    """PLANS.md's fingerprint lines equal fresh ones for a fixed subset
    of queries (a scan filter, a broadcast anti-join, an Arrow kernel
    pass, a regex-heavy projection, a shuffle, and the hashed-feature
    kernels: the build's DSIR select, the quality classifier and the
    BoW embedder), planned with the session settings
    ``scripts/dump_plans.py`` uses."""
    import re
    import sys
    from pathlib import Path

    from pii_redactor_spark.contract import QUERIES
    from pii_redactor_spark.session import DEFAULT_SHUFFLE_PARTITIONS
    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root / "scripts"))
    from dump_plans import FINGERPRINT, fingerprint

    md = (root / "PLANS.md").read_text()
    names = ("q_lang_filter", "q_fewshot_anti", "q_langid",
             "q_token_count", "q_lang_stats", "q_dsir", "q_quality_clf",
             "q_text_embed")
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(DEFAULT_SHUFFLE_PARTITIONS))
    try:
        for name in names:
            want = re.search(rf"^## {name}\n(?:.*\n)*?"
                             rf"{re.escape(FINGERPRINT)}(\w+)$", md, re.M)
            assert want, name
            got = fingerprint(_plan(QUERIES[name](spark, SF)))
            assert got == want.group(1), name
    finally:
        spark.conf.set(key, old)
