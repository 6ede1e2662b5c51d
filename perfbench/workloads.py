"""The benchmark's workloads: inputs, the timed call, the output check and
the traced run's per-layer probes.

Each workload has

- ``prepare(seed, inputs_dir)`` — parent side, before any Spark: writes
  the seeded inputs and ``planted.json`` (what the check needs to know),
  returns the input description recorded with every result;
- ``Unit`` — child side, one fresh Python + JVM: ``setup`` (untimed by
  ``wall_s``, reported as ``setup_s``), ``run`` (the timed call),
  ``check`` (list of failures) and ``layers`` (traced run only).
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import numpy as np

import gen

# sizes: the benchmark's whole schedule (4 + 22 x workloads runs) must fit
# its 3,420 s budget, and a cold build_job is bound by Spark's fixed
# per-job overhead, not by corpus size (see perfbench/README.md)
BUILD_DOCS = 400
INC_SEED_DOCS = 400
INC_DROP_DOCS = 40             # one ~10% crawl drop
INC_CROSS_SHARE = 0.1          # share of the drop copying committed docs
EMB_VECTORS = 2000             # sf0.1's count: nearest-neighbour cosine 0.41
EMB_DUP_SHARE = 0.05
# the selection semantics the select_embed check pins (clustering.py's
# documented defaults), independent of the constants in the program
KM_K, KM_ITERS, SEM_TAU, PROTO_KEEP_PCT = 8, 3, 0.38, 25

BUILD_STAGES = ("urlfilter", "decontaminate", "dedup", "quality",
                "select", "pack")
INC_STAGES = ("prefilter", "scrub", "dedup", "quality", "select", "pack")
# stage -> table directory under the output root
BUILD_TABLES = {s: f"{i:02d}_{s}" for i, s in enumerate(BUILD_STAGES)}
INC_TABLES = {"prefilter": "inc_00_prefilter", "scrub": "inc_01_scrub",
              "dedup": "02_dedup", "quality": "03_quality",
              "select": "04_select", "pack": "05_pack"}


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*")
               if p.is_file())


def file_count(path: Path, prefix: str = "part-") -> int:
    return sum(1 for p in Path(path).rglob(f"{prefix}*") if p.is_file())


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def prepare(workload: str, seed: int, inputs: Path) -> dict:
    inputs.mkdir(parents=True, exist_ok=True)
    if workload == "build_cold":
        docs = gen.make_docs(seed, BUILD_DOCS)
        size = gen.write_parquet(docs.table(), str(inputs / "docs.parquet"))
        planted = {"clusters": docs.clusters}
        info = {"docs": docs.info(), "input_bytes": size}
    elif workload == "build_increment":
        old = gen.make_docs(seed, INC_SEED_DOCS)
        drop = gen.make_docs(seed + 1_000_003, INC_DROP_DOCS,
                             first_id=INC_SEED_DOCS, dup_of=old,
                             cross_share=INC_CROSS_SHARE)
        s1 = gen.write_parquet(old.table(), str(inputs / "seed.parquet"))
        s2 = gen.write_parquet(drop.table(), str(inputs / "drop.parquet"))
        planted = {"clusters": old.clusters + drop.clusters}
        info = {"seed_docs": old.info(), "drop_docs": drop.info(),
                "input_bytes": s1 + s2}
    elif workload == "select_embed":
        emb = gen.make_embeddings(seed, EMB_VECTORS, EMB_DUP_SHARE)
        size = gen.write_parquet(emb.table(), str(inputs / "emb.parquet"))
        planted = {"dup_pairs": emb.dup_pairs}
        info = {"embeddings": emb.info(), "input_bytes": size}
    else:
        raise ValueError(f"unknown workload {workload!r}")
    planted["input_bytes"] = info["input_bytes"]
    (inputs / "planted.json").write_text(json.dumps(planted))
    return info


# ---------------------------------------------------------------------------
# shared check and probe helpers for the two builds
# ---------------------------------------------------------------------------

def _read(spark, root: Path, table: str):
    from pii_redactor_spark.tables import IcebergishTable
    return IcebergishTable(root / table).read(spark)


def _check_build(spark, root: Path, tables: dict, stages: tuple,
                 n_input: int, planted: dict) -> tuple[list[str], dict]:
    """Output check shared by both builds; returns (failures, rows_out
    per stage)."""
    from pyspark.sql import functions as F

    from pii_redactor_spark.contract import SEQ_TOKENS
    fails: list[str] = []
    rows: dict[str, int] = {}
    ids: dict[str, set] = {}
    for st in stages:
        df = _read(spark, root, tables[st])
        if df is None:
            fails.append(f"{st}: table missing")
            continue
        if st in ("quality", "scrub"):
            df = df.filter(F.col("keep"))
        got = [r[0] for r in df.select("doc_id").collect()]
        ids[st] = set(got)
        rows[st] = len(got)
        if len(got) != len(ids[st]):
            fails.append(f"{st}: {len(got) - len(ids[st])} duplicate doc_id")
    prev, prev_n = "input", n_input
    for st in stages:
        if st not in rows:
            continue
        # the scrub cache covers every prefiltered doc, dedup then cuts it
        if st == "dedup" and "scrub" in rows:
            prev, prev_n = "prefilter", rows["prefilter"]
        if rows[st] > prev_n:
            fails.append(f"rows grew {prev}={prev_n} -> {st}={rows[st]}")
        prev, prev_n = st, rows[st]
    dedup_in = "prefilter" if "prefilter" in ids else "decontaminate"
    if "dedup" in ids and dedup_in in ids:
        removable = 0          # planted copies dedup may drop
        for cl in planted["clusters"]:
            alive = [d for d in cl if d in ids["dedup"]]
            if len(alive) > 1:
                fails.append(f"planted dup cluster {cl}: survivors {alive}")
            removable += max(0, sum(d in ids[dedup_in] for d in cl) - 1)
        dropped = rows[dedup_in] - rows["dedup"]
        if dropped > removable:
            fails.append(f"dedup dropped {dropped} docs, only {removable} "
                         "planted copies")
    q = _read(spark, root, tables["quality"])
    if q is not None:
        texts = [r[0] or "" for r in q.select("text").collect()]
        blob = "\n".join(texts)
        leaked = [v for v in gen.PII_VALUES if v in blob]
        if leaked:
            fails.append(f"PII survived in quality text: {leaked}")
    p = _read(spark, root, tables["pack"])
    if p is not None:
        pk = sorted((r["doc_id"], r["n_tokens"], r["start_off"],
                     r["seq_idx"]) for r in p.collect())
        off = 0
        for doc_id, n_tok, start, seq in pk:
            if start != off or seq != start // SEQ_TOKENS:
                fails.append(f"pack row of doc {doc_id}: start_off {start}"
                             f" seq_idx {seq}, expected {off} and "
                             f"{off // SEQ_TOKENS}")
                break
            off += n_tok
    return fails, rows


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _operator_probes(spark, root: Path, tables: dict, dedup_in: str,
                     quality_in: str, multi_commit: str) -> dict:
    """Direct calls into single layers on the stages' committed inputs,
    after the timed job: kernels single-threaded in this process, the
    rules / dedup / DSIR operators forced into Spark's noop sink."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pii_redactor_spark.functions.rules import with_quality
    from pii_redactor_spark.kernels.langid import (
        fit_langid, predict_lang_batch)
    from pii_redactor_spark.kernels.perplexity import (
        fit_charlm, perplexity_batch)
    from pii_redactor_spark.kernels.scrub import scrub_text
    from pii_redactor_spark.operators.cache import release_caches
    from pii_redactor_spark.operators.dedup import (
        dedup_against, jaccard_pairs)
    from pii_redactor_spark.operators.dsir import dsir_select
    from pii_redactor_spark.tables import IcebergishTable

    out: dict[str, float] = {}
    qin = _read(spark, root, tables[quality_in])
    texts = pd.Series([r[0] for r in qin.select("text").collect()])
    fit_langid()
    fit_charlm()
    t0 = time.perf_counter()
    langs, _ = predict_lang_batch(texts)
    t1 = time.perf_counter()
    perplexity_batch(texts, langs)
    t2 = time.perf_counter()
    n_ent = sum(len(scrub_text(t, ())[1]) for t in texts)
    t3 = time.perf_counter()
    out.update({"kernels.langid_s": t1 - t0, "kernels.ppl_s": t2 - t1,
                "kernels.scrub_s": t3 - t2, "kernels.entities": n_ent})

    out["functions.rules_s"] = _timed(lambda: _noop(with_quality(qin)))

    din = _read(spark, root, tables[dedup_in])
    pairs = jaccard_pairs(din, threshold=0.8).groupBy().agg(
        F.count("*").alias("c"),
        F.sum(F.col("is_dup").cast("int")).alias("v")).first()
    release_caches()
    cand, ver = int(pairs["c"]), int(pairs["v"] or 0)
    out.update({"dedup.candidate_pairs": cand,
                "dedup.verified_pairs": ver,
                "dedup.verify_yield": ver / cand if cand else 0.0})
    new = din.filter(F.col("doc_id") % 2 == 1)
    old = din.filter(F.col("doc_id") % 2 == 0)
    out["dedup.against_s"] = _timed(lambda: _noop(
        dedup_against(new, old, verify_threshold=0.8)))
    release_caches()

    sel_in = _read(spark, root, tables["quality"]).filter(F.col("keep"))
    out["dsir.select_s"] = _timed(lambda: _noop(dsir_select(sel_in,
                                                            frac=0.25)))
    release_caches()

    # incremental read of a multi-commit table: everything after its
    # first snapshot
    multi = IcebergishTable(root / tables[multi_commit])
    first = multi.snapshots()[0].snapshot_id
    out["tables.read_incremental_s"] = _timed(
        lambda: _noop(multi.read_incremental(spark, first)))
    return out


def _patch_tables(tracer, marks: list, py_cpu) -> None:
    """Spans on the table layer; MetricsTable.log marks stage ends."""
    from pii_redactor_spark.tables import IcebergishTable, MetricsTable

    def after_log(tbl, spark, rows):
        tracer.count("tables.metrics_log_calls")
        stage = str(rows[0].get("stage", "")) if rows else ""
        # "build:quality", "quality", "inc:scrub:append-through" -> stage
        parts = stage.split(":")
        name = parts[1] if parts[0] in ("build", "inc") and len(parts) > 1 \
            else parts[0]
        marks.append((name, time.time(), py_cpu()))

    for attr in ("append", "overwrite"):
        tracer.patch(IcebergishTable, attr, "tables.commit",
                     after=lambda *a, **k: tracer.count("tables.commits"))
    tracer.patch(MetricsTable, "log", "tables.metrics_log", after=after_log)


def _patch_operators(tracer) -> None:
    """Spans on the module calls build_job / build_increment make. Both
    import these inside the function body, so module attributes are the
    ones they call. Calls that only build a lazy plan show ~0 s here; their
    work runs inside the next ``tables.commit`` span."""
    import importlib
    for mod, attr in (
            ("pii_redactor_spark.functions.url_rules", "with_url_rules"),
            ("pii_redactor_spark.operators.decontaminate", "contamination"),
            ("pii_redactor_spark.plans.dedup_job", "dedup_corpus"),
            ("pii_redactor_spark.operators.dedup", "dedup_against"),
            ("pii_redactor_spark.operators.dedup", "doc_hashes"),
            ("pii_redactor_spark.operators.dedup", "minhash_bands"),
            ("pii_redactor_spark.plans.pipeline", "run_pipeline"),
            ("pii_redactor_spark.tables", "run_resumable"),
            ("pii_redactor_spark.operators.dsir", "dsir_select"),
            ("pii_redactor_spark.operators.ranking", "global_prefix_sum"),
            ("pii_redactor_spark.operators.cache", "release_caches")):
        m = importlib.import_module(mod)
        tracer.patch(m, attr, f"{mod.split('.', 1)[1]}.{attr}")


def _stage_layers(stages: tuple, marks: list, t_start: float,
                  py0: float, jobs, rows: dict, n_input: int,
                  py_stage: str) -> dict:
    """build.<stage>.* from the MetricsTable stage-end marks: a stage
    runs from the previous stage's last mark to its own last mark."""
    last: dict[str, tuple[float, float]] = {}
    for name, t, py in marks:
        last[name] = (t, py)
    out: dict[str, float] = {}
    prev_t, prev_py, prev_rows = t_start, py0, n_input
    for st in stages:
        t, py = last.get(st, (prev_t, prev_py))
        cpu = sum(j.cpu_s for j in jobs if prev_t < j.submitted <= t)
        out[f"build.{st}.wall_s"] = t - prev_t
        out[f"build.{st}.task_cpu_s"] = cpu
        n_in = rows.get("prefilter", prev_rows) if st == "dedup" and \
            "prefilter" in rows else prev_rows
        out[f"build.{st}.rows_in"] = n_in
        out[f"build.{st}.rows_out"] = rows.get(st, 0)
        if st == py_stage:
            out["kernels.py_cpu_s"] = py - prev_py
        prev_t, prev_py, prev_rows = t, py, rows.get(st, 0)
    return out


# ---------------------------------------------------------------------------
# units
# ---------------------------------------------------------------------------

class Unit:
    """``py_cpu()`` reads the CPU seconds of the Python daemon and workers;
    ``out`` is the output root whose bytes are counted."""

    def __init__(self, spark, tracer, inputs: Path, out: Path, py_cpu):
        self.spark, self.tracer, self.inputs, self.out = \
            spark, tracer, inputs, out
        self.planted = json.loads((inputs / "planted.json").read_text())
        self.py_cpu = py_cpu
        self.marks: list = []      # (stage, epoch s, python CPU s)


class BuildCold(Unit):
    """plans.build.build_job from a fresh session over the generated docs."""

    stages = BUILD_STAGES
    tables = BUILD_TABLES

    def setup(self) -> None:
        self.pages = self.spark.read.parquet(str(self.inputs /
                                                 "docs.parquet"))
        self.n_input = self.pages.count()
        if self.tracer.enabled:
            _patch_tables(self.tracer, self.marks, self.py_cpu)
            _patch_operators(self.tracer)

    def run(self) -> None:
        from pii_redactor_spark.plans.build import build_job
        self.t_start, self.py0 = time.time(), self.py_cpu()
        with self.tracer.span("plans.build.build_job"):
            build_job(self.spark, self.pages, self.out, run_id="perfbench")

    def check(self) -> list[str]:
        fails, self.rows = _check_build(self.spark, self.out, self.tables,
                                        self.stages, self.n_input,
                                        self.planted)
        return fails

    def layers(self, jobs) -> dict:
        out = _stage_layers(self.stages, self.marks, self.t_start, self.py0,
                            jobs, self.rows, self.n_input, "quality")
        out.update(_operator_probes(self.spark, self.out, self.tables,
                                    dedup_in="decontaminate",
                                    quality_in="dedup",
                                    multi_commit="quality"))
        return out


class BuildIncrement(BuildCold):
    """Catch-up run of plans.build.build_increment(dedup_mode="append")
    after one crawl drop; the seed build is set-up."""

    stages = INC_STAGES
    tables = INC_TABLES

    def setup(self) -> None:
        from pii_redactor_spark.plans.build import build_increment
        from pii_redactor_spark.tables import IcebergishTable
        spark = self.spark
        # the input table sits beside, not under, the output root
        self.inp = IcebergishTable(self.out.parent / "input")
        self.inp.append(spark.read.parquet(str(self.inputs /
                                               "seed.parquet")))
        build_increment(spark, self.inp, self.out, run_id="perfbench",
                        dedup_mode="append")
        self.inp.append(spark.read.parquet(str(self.inputs /
                                               "drop.parquet")))
        self.n_input = self.inp.read(spark).count()
        if self.tracer.enabled:
            _patch_tables(self.tracer, self.marks, self.py_cpu)
            _patch_operators(self.tracer)

    def run(self) -> None:
        from pii_redactor_spark.plans.build import build_increment
        self.t_start, self.py0 = time.time(), self.py_cpu()
        with self.tracer.span("plans.build.build_increment"):
            build_increment(self.spark, self.inp, self.out,
                            run_id="perfbench", dedup_mode="append")

    def layers(self, jobs) -> dict:
        out = _stage_layers(self.stages, self.marks, self.t_start, self.py0,
                            jobs, self.rows, self.n_input, "scrub")
        out.update(_operator_probes(self.spark, self.out, self.tables,
                                    dedup_in="prefilter",
                                    quality_in="prefilter",
                                    multi_commit="scrub"))
        return out


class SelectEmbed(Unit):
    """kmeans_fit once, then semdedup and proto_prune, each committing its
    kept subset as a table snapshot (the ``cli select`` path)."""

    def setup(self) -> None:
        from pyspark.sql import functions as F
        self.df = self.spark.read.parquet(str(self.inputs / "emb.parquet"))
        self.emb = self.df.select(F.col("doc_id").alias("vec_id"),
                                  "embedding")
        self.n_input = self.df.count()
        if self.tracer.enabled:
            _patch_tables(self.tracer, self.marks, self.py_cpu)

    def _commit(self, name: str, flags, keep) -> int:
        from pyspark.sql import functions as F

        from pii_redactor_spark.tables import IcebergishTable
        keep_ids = flags.filter(keep).select(F.col("vec_id").alias("doc_id"))
        tbl = IcebergishTable(self.out / name)
        tbl.overwrite(self.df.join(keep_ids, "doc_id", "left_semi"))
        return tbl.read(self.spark).count()

    def run(self) -> None:
        from pyspark.sql import functions as F

        from pii_redactor_spark.operators.cache import release_caches
        from pii_redactor_spark.operators.clustering import (
            kmeans_fit, proto_prune, semdedup)
        tr = self.tracer
        self.py0 = self.py_cpu()
        with tr.span("clustering.kmeans_fit"):
            self.cents = kmeans_fit(self.emb)
        with tr.span("clustering.semdedup"):
            self.n_sem = self._commit(
                "semdedup", semdedup(self.emb, cents=self.cents),
                ~F.col("is_dup"))
        with tr.span("clustering.proto_prune"):
            self.n_proto = self._commit(
                "proto", proto_prune(self.emb, cents=self.cents),
                F.col("keep"))
        release_caches()
        self.py1 = self.py_cpu()

    def _reference(self):
        """The documented algorithm in numpy: Lloyd's k-means (seeds = the
        k lowest vec_ids, KM_ITERS mean updates, argmin squared distance
        with ties to the lower cluster id), then SemDeDup (dup iff a lower
        vec_id in the cluster has cosine >= tau). Returns (ids, centroids,
        assignment, dup flags)."""
        import pyarrow.parquet as pq
        t = pq.read_table(str(self.inputs / "emb.parquet"))
        ids = t.column("doc_id").to_numpy()
        order = np.argsort(ids)
        V = np.array(t.column("embedding").to_pylist(),
                     dtype=np.float64)[order]
        ids = ids[order]

        def assign(C):
            return np.argmin(((V[:, None, :] - C[None, :, :]) ** 2)
                             .sum(axis=2), axis=1)

        C = V[:KM_K].copy()
        for _ in range(KM_ITERS):
            a = assign(C)
            for c in range(KM_K):
                if (a == c).any():
                    C[c] = V[a == c].mean(axis=0)
        a = assign(C)
        U = V / np.linalg.norm(V, axis=1, keepdims=True)
        dup = np.zeros(len(ids), dtype=bool)
        for c in np.unique(a):
            idx = np.flatnonzero(a == c)           # ascending vec_id
            S = U[idx] @ U[idx].T
            dup[idx] = np.tril(S >= SEM_TAU, k=-1).any(axis=1)
        return ids, C, a, dup

    def check(self) -> list[str]:
        fails: list[str] = []
        n = self.n_input
        ids, C, assign, dup = self._reference()
        self.assign = assign
        got = np.array([cv for _, cv in self.cents], dtype=np.float64)
        if got.shape != C.shape or np.abs(got - C).max() > 1e-6:
            fails.append("kmeans_fit centroids differ from the numpy Lloyd "
                         "reference by more than 1e-6")
        flagged = n - self.n_sem
        tol = max(2, n // 500)
        if abs(flagged - int(dup.sum())) > tol:
            fails.append(f"semdedup flagged {flagged}, numpy recount "
                         f"{int(dup.sum())} (tolerance {tol})")
        kept = {r[0] for r in _read(self.spark, self.out, "semdedup")
                .select("doc_id").collect()}
        pos = {int(v): i for i, v in enumerate(ids)}
        missed = [(a, b) for a, b in self.planted["dup_pairs"]
                  if assign[pos[a]] == assign[pos[b]] and b in kept]
        if missed:
            fails.append(f"{len(missed)} planted copies not flagged, "
                         f"e.g. {missed[:3]}")
        sizes = np.bincount(assign)
        want = int(sum(max(1, int(s) * PROTO_KEEP_PCT // 100)
                       for s in sizes if s))
        if abs(self.n_proto - want) > tol:
            fails.append(f"proto_prune kept {self.n_proto}, expected "
                         f"{want} (tolerance {tol})")
        return fails

    def layers(self, jobs) -> dict:
        sizes = np.bincount(self.assign)
        return {
            "clustering.kmeans_fit_s":
                self.tracer.total_time("clustering.kmeans_fit"),
            "clustering.semdedup_s":
                self.tracer.total_time("clustering.semdedup"),
            "clustering.proto_prune_s":
                self.tracer.total_time("clustering.proto_prune"),
            "clustering.max_cluster_rows": int(sizes.max()),
            "clustering.pairs_scored": int((sizes * (sizes - 1) // 2).sum()),
            "clustering.dups_flagged": self.n_input - self.n_sem,
            "kernels.py_cpu_s": self.py1 - self.py0,
        }


UNITS = {"build_cold": BuildCold, "build_increment": BuildIncrement,
         "select_embed": SelectEmbed}
