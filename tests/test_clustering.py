"""Distributed Lloyd k-means + SemDeDup (operators/clustering.py):
semantic correctness vs a numpy replica of the same fixed-iteration fit,
plus the plan-shape properties that make the fit viable at 100 TB
(projection-only assignment, constant-size update shuffle).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pii_redactor_spark.operators import clustering as km

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _numpy_lloyd(vecs: dict[int, np.ndarray], k: int, iters: int):
    """Reference Lloyd with the same determinism contract: seed = k
    lowest vec_ids, argmin ties to the lowest cid, empty clusters keep
    the previous centroid. float64 means (close enough to the decimal
    means for assignment comparison on this data)."""
    ids = sorted(vecs)
    cents = {i: vecs[vid].copy() for i, vid in enumerate(ids[:k])}

    def assign():
        out = {}
        for vid in ids:
            d2 = {c: float(np.sum((vecs[vid] - cv) ** 2))
                  for c, cv in cents.items()}
            out[vid] = min(d2, key=lambda c: (d2[c], c))
        return out

    for _ in range(iters):
        a = assign()
        for c in cents:
            members = [vecs[v] for v, cc in a.items() if cc == c]
            if members:
                cents[c] = np.mean(members, axis=0)
    return assign(), cents


def test_kmeans_matches_numpy_lloyd(emb):
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in rows}
    expect, _ = _numpy_lloyd(vecs, km.KM_K, km.KM_ITERS)
    got = {r["vec_id"]: r["cid"] for r in km.kmeans(emb).collect()}
    assert got == expect


def test_kmeans_stats_partition_corpus(emb):
    n = emb.count()
    stats = km.kmeans_stats(emb).collect()
    assert sum(r["n_members"] for r in stats) == n
    assert len(stats) <= km.KM_K
    assert all(r["inertia"] >= 0 for r in stats)


def test_kmeans_iterations_reduce_inertia(emb):
    """Lloyd's monotonicity on the real fit (decimal means)."""
    def inertia(iters):
        assigned = km.kmeans_assign(emb, km.kmeans_fit(emb, iters=iters))
        return assigned.agg(F.sum("d2")).collect()[0][0]
    i1, i3 = inertia(1), inertia(3)
    assert i3 <= i1


def test_semdedup_keeps_lowest_representative(emb):
    """The lowest vec_id in every cluster can have no lower-id partner,
    so it is never flagged; flags reproduce a brute-force numpy check."""
    out = km.semdedup(emb).collect()
    lowest = {}
    for r in out:
        if r["cid"] not in lowest or r["vec_id"] < lowest[r["cid"]]:
            lowest[r["cid"]] = r["vec_id"]
    flags = {r["vec_id"]: r["is_dup"] for r in out}
    assert all(not flags[v] for v in lowest.values())

    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in rows}
    cid = {r["vec_id"]: r["cid"] for r in out}
    for r in out[:50]:
        vid = r["vec_id"]
        peers = [b for b in vecs
                 if cid[b] == cid[vid] and b < vid]
        v = vecs[vid]
        is_dup = any(
            float(v @ vecs[b] /
                  (np.linalg.norm(v) * np.linalg.norm(vecs[b])))
            >= km.SEM_TAU for b in peers)
        assert r["is_dup"] == is_dup, vid
    n_dups = sum(1 for r in out if r["is_dup"])
    assert 0 < n_dups < len(out)


def test_kmeans_assignment_plan_projection_only(emb):
    """The scale contract: assignment = pure projection against the
    literal artifact — argmin evaluated ONCE per row (CollapseProject
    must not duplicate the non-cheap `_best`), zero Exchange, zero
    window, zero explode."""
    plan = km.kmeans(emb)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("array_min") == 1
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Generate" not in plan


def test_kmeans_update_shuffle_is_constant_size(emb):
    """The per-iteration update — the served ``decimal_means`` plan —
    aggregates BEFORE the one exchange (partial_ prefix on the map
    side), so <= k x dim rows per partition cross the wire regardless of
    corpus size, and it is ONE (cid, pos) decimal mean, never one
    aggregate per coordinate (c0, c1, ...)."""
    import re
    vecs = km._vecs(emb)
    assigned = km._assign(
        vecs, km._cents_literal(km._seed_centroids(vecs, km.KM_K)))
    plan = (km._mean_rows(assigned, ["cid"])
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1
    assert plan.count("partial_sum") == 1
    assert plan.index("Exchange") < plan.index("partial_sum")  # below it
    assert not re.search(r"AS c\d+#", plan)


def test_semdedup_pairwise_is_cluster_bounded(emb):
    """Pairwise work must stay within clusters: ONE grouped Arrow pass
    keyed on cid (no nested-loop across clusters)."""
    plan = km.semdedup(emb)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInArrow" in plan


def test_semdedup_arrow_matches_expression(emb, oracle):
    """The vertical-fold numpy cosine must reproduce the oracle's SQL
    fold row-for-row (same left-to-right double arithmetic), k-means
    fit included, over the same rows."""
    from pii_redactor_spark.operators.cache import release_caches
    got, want = oracle(km.semdedup_oracle_sql(), km.semdedup(emb),
                       embeddings=emb)
    release_caches()
    assert got == want
    assert any(r[-1] for r in got)  # some vectors are flagged


def test_semdedup_blocked_matrix_matches_unblocked(emb, monkeypatch):
    """Row-blocking the pairwise matrix (round-3 ADVICE memory fix) is
    bit-neutral: force many tiny blocks on a planted ONE-GIANT-CLUSTER
    corpus (every vector near one centroid — the skew case) and compare
    against the default block size (one block per cluster here)."""
    from pii_redactor_spark.operators.cache import release_caches
    spark = emb.sparkSession
    from pyspark.sql import functions as F
    # ~95% of vectors crushed into a tight blob around the origin (one
    # giant cluster), every 20th keeps its scale (the spread tail) —
    # the bench.py run_skew_clusters recipe
    crushed = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(CASE WHEN vec_id % 20 = 0 "
               "THEN x ELSE 0.01 * x END AS FLOAT))").alias("embedding"),
        "label")
    b = {(r["vec_id"], r["is_dup"])
         for r in km.semdedup(crushed).collect()}
    monkeypatch.setattr(km, "SEM_BLOCK", 37)  # force ~13 ragged blocks
    a = {(r["vec_id"], r["is_dup"])
         for r in km.semdedup(crushed).collect()}
    release_caches()
    assert a == b
    sizes = (km.kmeans(crushed).groupBy("cid").count().collect())
    assert max(r["count"] for r in sizes) >= 400  # the skew is real


def test_kmeans_centroids_lift_ivf_recall(emb):
    """The fit->serve link: swapping the fitted Lloyd centroids into
    ann_ivf's coarse quantizer lifts recall over the label-mean
    stand-in on the same data (measured 0.66 -> 1.0 at nprobe=5 —
    fitted cells follow the actual density, labels don't)."""
    from pii_redactor_spark.operators import similarity as sim
    bf = {(r["query_id"], r["vec_id"])
          for r in sim.ann_bruteforce(emb).collect()}
    label = {(r["query_id"], r["vec_id"])
             for r in sim.ann_ivf(emb).collect()}
    # kmeans_fit's (cid, cv) tuples are accepted directly — the
    # documented artifact-serving path
    fitted = {(r["query_id"], r["vec_id"])
              for r in sim.ann_ivf(
                  emb, centroid_rows=km.kmeans_fit(emb)).collect()}
    r_label = len(label & bf) / len(bf)
    r_fitted = len(fitted & bf) / len(bf)
    assert r_fitted >= r_label
    assert r_fitted >= 0.9


def test_proto_prune_keeps_hardest_per_cluster(emb):
    """Sorscher-style pruning: exactly max(1, 25%) per cluster, and the
    kept set is the per-cluster farthest-from-centroid suffix — ranked
    on the UNROUNDED distances (the operator ranks unrounded; the
    output d2 is rounded for display, so sorting the output column
    could diverge at sub-1e-6 boundaries)."""
    from pii_redactor_spark.operators.cache import release_caches
    cents = km.kmeans_fit(emb)
    exact = {r["vec_id"]: r["d2"]
             for r in km._assign(km._vecs(emb),
                                 km._cents_literal(cents)).collect()}
    out = km.proto_prune(emb, cents=cents).collect()
    release_caches()
    by_cid: dict[int, list] = {}
    for r in out:
        by_cid.setdefault(r["cid"], []).append(r)
    for cid, rows in by_cid.items():
        kept = [r for r in rows if r["keep"]]
        assert len(kept) == max(1, (len(rows) * km.PROTO_KEEP_PCT) // 100)
        order = sorted(rows,
                       key=lambda r: (-exact[r["vec_id"]], r["vec_id"]))
        assert {r["vec_id"] for r in kept} == \
            {r["vec_id"] for r in order[:len(kept)]}


def test_proto_prune_rank_is_skew_safe(emb):
    """With a hot threshold below the biggest cluster, the rank must
    route through the bucketed two-phase path (no full-cluster window
    in one task) and still produce identical flags."""
    from pii_redactor_spark.operators.cache import release_caches
    cents = km.kmeans_fit(emb)
    base = {(r["vec_id"], r["keep"])
            for r in km.proto_prune(emb, cents=cents).collect()}
    release_caches()
    hot = {(r["vec_id"], r["keep"])
           for r in km.proto_prune(emb, cents=cents,
                                   hot_threshold=10).collect()}
    release_caches()
    assert hot == base


@pytest.mark.parametrize("embedding", [
    "transform(embedding, (x, i) -> "
    "CASE WHEN vec_id = 123 AND i = 3 THEN CAST(NULL AS FLOAT) ELSE x END)",
    "CASE WHEN vec_id = 123 THEN slice(embedding, 1, 63) ELSE embedding END",
    # vec_id 7 is a k-means seed at k = 8: the seed literal must not
    # meet the NULL first
    "transform(embedding, (x, i) -> "
    "CASE WHEN vec_id = 7 AND i = 3 THEN CAST(NULL AS FLOAT) ELSE x END)",
], ids=["null_coordinate", "ragged", "null_seed_coordinate"])
def test_centroid_fits_reject_incomplete_vectors(emb, embedding):
    """Every fit on the shared DECIMAL means raises the same ValueError
    on one NULL coordinate or one short (ragged) vector, where a mean
    over the remaining rows would silently differ from the oracle's
    COUNT(*) mean: the k-means fit, ann_ivf's default per-label
    centroids and both PQ codebooks."""
    from pii_redactor_spark.operators import similarity as sim
    from pii_redactor_spark.operators.cache import release_caches
    broken = emb.select("vec_id", "label",
                        F.expr(embedding).alias("embedding"))
    fits = [lambda: km.kmeans_fit(broken),
            lambda: sim.ann_ivf(broken),
            lambda: sim.pq_fit_cells(broken),
            lambda: sim.pq_fit_cells_kmeans(broken)]
    for fit in fits:
        with pytest.raises(ValueError, match="missing/null"):
            fit()
    release_caches()
