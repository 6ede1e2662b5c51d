"""Generate PLANS.md: the physical plan of every driver-contract query
with the scale-relevant properties called out. Run after plan-affecting
changes; tests/test_plans.py asserts the load-bearing properties in CI.

Long plan lines are cut at 200 characters for reading, so each query
also gets a fingerprint line: the sha256 of its whole plan with the
expression and plan ids normalized. A changed literal deep in a
projection changes the fingerprint, and tests/test_plans.py checks a
few fingerprints against a fresh plan.

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pii_redactor_spark.contract import QUERIES  # noqa: E402
from pii_redactor_spark.operators.cache import release_caches  # noqa: E402
from pii_redactor_spark.operators.dedup import dedup_edges  # noqa: E402
from pii_redactor_spark.session import get_spark  # noqa: E402


def summarize(plan: str) -> list[str]:
    """One-line scale audit of a physical plan string."""
    notes = []
    n_bc = len(re.findall(r"BroadcastExchange", plan))
    n_ex = len(re.findall(r"Exchange (hashpartitioning|rangepartitioning|"
                          r"SinglePartition|RoundRobin)", plan))
    notes.append(f"shuffles: {n_ex}" +
                 (f" (+{n_bc} broadcast)" if n_bc else ""))
    if "BroadcastHashJoin" in plan:
        notes.append("broadcast hash join")
    if "BroadcastNestedLoopJoin" in plan:
        notes.append("broadcast nested-loop join (small side broadcast)")
    if "SortMergeJoin" in plan:
        notes.append("sort-merge join")
    if "ArrowEvalPython" in plan:
        notes.append(
            f"Arrow-batched Python passes: {plan.count('ArrowEvalPython')}")
    if "InMemoryTableScan" in plan:
        notes.append(
            f"cached-relation scans: {plan.count('InMemoryTableScan')} "
            "(each scan re-prints the cached subtree in this dump — ops "
            "inside it, incl. Arrow passes, execute ONCE at fill)")
    if "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan:
        notes.append("mapInPandas stage")
    if "FlatMapGroupsInArrow" in plan:
        notes.append("grouped Arrow pass")
    if "PushedFilters: [" in plan and not re.search(
            r"PushedFilters: \[\]", plan):
        notes.append("filters pushed to scan")
    if "TakeOrderedAndProject" in plan:
        notes.append("top-k without full sort")
    ha = plan.count("HashAggregate")
    if ha:
        notes.append(f"hash aggregates: {ha} (partial+final pairs)")
    return notes


# Iterative operators run their loop DURING plan construction; the
# returned frame reads the last round's checkpoint, so the dumped plan (a
# bounded ExistingRDD scan) is exactly what downstream consumers
# execute — the per-round cost lives in the loop and is annotated here
# instead (round-4 verdict: the old dump recorded the un-checkpointed
# worst-case lineage, 82 shuffles the caches never ran).
ITERATIVE_NOTES = {
    "q_dedup_components": (
        "iterative (min-label + path-halving) over edge endpoints only: "
        "round 1 is the closed form least(src, min(dst)) — one groupBy; "
        "later rounds = 1 neighbor-min join + groupBy + 1 pointer join; "
        "each round is a lazy localCheckpoint filled by its stop test "
        "(count of edges whose endpoint labels differ under the new "
        "labels), so the converging round is the last; the undirected "
        "edges are one inline_outer over one copy of the edge phase; "
        "returned frame = nodes left-joined to the broadcast last-round "
        "checkpoint scan below, edge phase (the loop's input) after it"),
    "q_dedup_components_verified": (
        "same loop as q_dedup_components over Jaccard-verified edges; "
        "the edge phase reads ONE persisted signature frame (one "
        "text -> shingle-hash projection feeding one Arrow pass) for "
        "both candidates and verification"),
    "q_kmeans": (
        "fixed-iteration Lloyd: per iteration = 1 projection-only "
        "assignment + 1 constant-size (cid,pos) decimal-mean shuffle, "
        "driver roundtrip between iterations (zero lineage growth); "
        "the dumped plan is the final assignment projection"),
}

# Fitted queries collect their model while the plan is built; the fit
# never shows in the dumped serving plan, so its shape is stated here.
FIT_NOTES = {
    "q_ann_ivf": (
        "default centroids = ONE clustering.decimal_means aggregate keyed "
        "by (label, pos), <= labels x dim rows collected; the dumped plan "
        "is the search against that literal"),
    "q_ann_pq": (
        "orthant codebook = ONE decimal_means aggregate keyed by (m, "
        "pattern, pos); the dumped plan is the search against it"),
    "q_ann_pq_fitted": (
        "the q_ann_pq orthant pass seeds clustering.lloyd keyed by (m, "
        "cid): per iteration 1 projection-only assignment + 1 (m, cid, "
        "pos) decimal-mean shuffle, driver roundtrip between iterations"),
}

# The components queries' edge phase: the plan the loop consumes, which
# the checkpointed result no longer shows.
EDGE_PHASES = {
    "q_dedup_components": {},
    "q_dedup_components_verified": {"verify_threshold": 0.8},
}


def fingerprint(plan: str) -> str:
    """sha256 of the untruncated plan with the session counters
    normalized: ``#N`` expression ids, ``plan_id=N`` exchange ids and
    the ``x_N`` suffixes of lambda variable names."""
    plan = re.sub(r"(lambda \w+?)_\d+(?=#)", r"\1_N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", plan))
    return hashlib.sha256(plan.encode()).hexdigest()


FINGERPRINT = "**Plan sha256:** "


def _plan_block(plan: str) -> list[str]:
    # keep plans readable: cap very long lines (expression dumps)
    return (["```"]
            + [ln[:200] + (" …" if len(ln) > 200 else "")
               for ln in plan.splitlines()]
            + ["```"])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="dump_plans", master="local[4]")
    out = ["# PLANS — physical plans of every contract query",
           "",
           f"Generated by `python scripts/dump_plans.py {sf_dir}`. ",
           "The load-bearing properties (pushdown, broadcast, zero-shuffle "
           "kernel pass, partial aggregation, top-k) are asserted in "
           "`tests/test_plans.py`; this file is the human-readable audit.",
           ""]
    try:
        for name, fn in QUERIES.items():
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            notes = summarize(plan)
            out.append(f"## {name}")
            out.append("")
            out.append("**Scale audit:** " + "; ".join(notes))
            out.append("")
            out.append(FINGERPRINT + fingerprint(plan))
            if name in ITERATIVE_NOTES:
                out.append("")
                out.append(f"**Iterative shape:** {ITERATIVE_NOTES[name]}")
            if name in FIT_NOTES:
                out.append("")
                out.append(f"**Fit:** {FIT_NOTES[name]}")
            out.append("")
            out.extend(_plan_block(plan))
            out.append("")
            if name in EDGE_PHASES:
                docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
                edges = dedup_edges(docs, **EDGE_PHASES[name])
                eplan = edges._jdf.queryExecution().executedPlan().toString()
                out.append("**Edge phase:** " + "; ".join(summarize(eplan)))
                out.append("")
                out.extend(_plan_block(eplan))
                out.append("")
            release_caches()
    finally:
        spark.stop()
    Path("PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} lines)")


if __name__ == "__main__":
    main()
