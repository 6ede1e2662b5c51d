"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY §5.1: no property testing in the reference): invariants
of the scrub kernel, the hybrid metric, and the signature operators that
must hold for ARBITRARY inputs, not just fixtures.

Pure-Python/numpy properties only (no SparkSession per example — the
kernels are pure functions, which is itself the property that makes them
safe to run in executors)."""

from __future__ import annotations

import re
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

# derandomize: the driver's per-round pytest must be reproducible — a
# fresh random seed finding a novel edge mid-round is a flake, not a gate
settings.register_profile("ci", derandomize=True)
settings.load_profile("ci")

from pii_redactor_spark.kernels.scrub import scrub_text

WORD = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd")),
    min_size=1, max_size=12)
TEXT = st.lists(WORD, min_size=0, max_size=40).map(" ".join)
LABEL = st.sampled_from(["GIVENNAME1", "LASTNAME1", "EMAIL", "TEL", "CITY"])


@settings(max_examples=200, deadline=None)
@given(TEXT, st.lists(st.tuples(WORD, LABEL), min_size=0, max_size=5))
def test_scrub_never_leaks_gazetteer_values(text, gaz):
    scrubbed, ents = scrub_text(text, gaz, enable_regex=False)
    for value, label in gaz:
        # whole-word occurrences of any gazetteer value must be gone —
        # same Unicode \w boundary semantics as the kernel and the
        # reference's leak check (tests/unit/test_examples.py:80)
        assert not re.search(
            r"(?<!\w)" + re.escape(value) + r"(?!\w)",
            scrubbed), (value, text, scrubbed)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_scrub_no_gazetteer_no_regex_is_identity(text):
    scrubbed, ents = scrub_text(text, [], enable_regex=False)
    assert scrubbed == text and ents == []


@settings(max_examples=100, deadline=None)
@given(TEXT, st.lists(st.tuples(WORD, LABEL), min_size=0, max_size=5))
def test_scrub_entity_offsets_point_at_values(text, gaz):
    _, ents = scrub_text(text, gaz, enable_regex=False)
    for e in ents:
        assert text[e["start"]:e["end"]] == e["value"]


@settings(max_examples=100, deadline=None)
@given(TEXT, st.lists(st.tuples(WORD, LABEL), min_size=1, max_size=5))
def test_scrub_label_multiset_matches_entities(text, gaz):
    scrubbed, ents = scrub_text(text, gaz, enable_regex=False)
    emitted = Counter(re.findall(r"\[([A-Z]+\d*)\]", scrubbed))
    expected = Counter(e["label"] for e in ents)
    # every entity produced exactly one placeholder (values cannot contain
    # brackets by construction of WORD)
    assert emitted == expected


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**60 - 1),
                min_size=1, max_size=50))
def test_minhash_masks_preserve_min_identity(hashes):
    # sig over a multiset equals sig over its set (min is idempotent
    # under duplication) — the property LSH relies on
    from pii_redactor_spark.operators.dedup import minhash_masks
    for m in minhash_masks(4):
        a = min(h ^ m for h in hashes)
        b = min(h ^ m for h in set(hashes))
        assert a == b


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=200), st.text(max_size=200))
def test_hybrid_metric_bounds(gold, pred):
    # port of the metric edge semantics as a property: score ∈ [0,1],
    # equal texts always score 1.0 (reference: optimizer.py:112-139)
    labels = re.compile(r"\[([A-Z]+\d*)\]")
    g = labels.findall(gold.strip())
    p = labels.findall(pred.strip())
    tg, tp = len(g), len(p)
    detected = min(tg, tp)
    nc = sum((Counter(g) & Counter(p)).values())
    if tg == 0 and tp == 0:
        det, cls = 1.0, 1.0
    elif tg == 0:
        det, cls = 1.0, 1.0
    elif tp == 0:
        det, cls = 0.0, 0.0
    else:
        det = detected / tg
        cls = nc / detected if detected > 0 else 0.0
    hybrid = 0.75 * det + 0.25 * cls
    assert 0.0 <= hybrid <= 1.0
    if gold == pred:
        assert hybrid == 1.0


# ---------------------------------------------------------------------------
# Round-3 verdict item 9: the greedy cursor resolver must equal a
# brute-force reference resolver on ARBITRARY tier-0/1/2 overlap
# layouts (the documented cross-tier shadowing edge, ROADMAP limitation
# 3). The reference semantics: walk the priority-sorted pool (earliest
# start, then longest, then lowest tier) and accept every span that
# overlaps NO already-accepted span; the kernel's cursor walk is an
# O(n) shortcut whose equivalence rests on accepted ends being
# monotone — exactly what this property exercises.
# ---------------------------------------------------------------------------

def _brute_force_resolve(spans):
    pool = sorted(spans, key=lambda s: (s.start, -(s.end - s.start), s.tier))
    accepted = []
    for s in pool:
        if all(s.end <= a.start or s.start >= a.end for a in accepted):
            accepted.append(s)
    return accepted


# fragments chosen to collide: gazetteer values nested in regex matches
# (local parts of emails, phone substrings) and in each other
_FRAGMENTS = ["bob@example.com", "555-123-4567", "10.0.0.1", "alice",
              "alice smith", "smith", "bob", "123-4567", "example", "x"]
_SEPS = [" ", "", ",", " and "]


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_resolver_matches_bruteforce_across_tiers(data):
    from pii_redactor_spark.kernels.scrub import (
        _gazetteer_spans, _regex_spans, _resolve)
    frags = data.draw(st.lists(st.sampled_from(_FRAGMENTS),
                               min_size=1, max_size=6))
    seps = data.draw(st.lists(st.sampled_from(_SEPS),
                              min_size=len(frags) - 1,
                              max_size=len(frags) - 1))
    text = frags[0] + "".join(s + f for s, f in zip(seps, frags[1:]))
    values = st.sampled_from(_FRAGMENTS)
    labels = st.sampled_from(["GIVENNAME1", "LASTNAME1", "EMAIL",
                              "TEL", "CITY", "USERNAME"])
    gaz0 = data.draw(st.lists(st.tuples(values, labels),
                              min_size=0, max_size=4))
    gaz2 = data.draw(st.lists(st.tuples(values, labels),
                              min_size=0, max_size=4))
    spans = (_gazetteer_spans(text, gaz0, tier=0)
             + _regex_spans(text)
             + _gazetteer_spans(text, gaz2, tier=2))
    got = _resolve(list(spans))
    want = _brute_force_resolve(spans)
    assert got == want
    # structural invariants: sorted, non-overlapping
    for a, b in zip(got, got[1:]):
        assert a.end <= b.start


# ---------------------------------------------------------------------------
# Connected-components engines vs a union-find ground truth
# ---------------------------------------------------------------------------

def _uf_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict:
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min node id of the set
    comp: dict[int, int] = {}
    for v in range(n_nodes):
        r = find(v)
        comp[v] = min(comp.get(r, r), r)
    return {v: comp[find(v)] for v in range(n_nodes)}


@settings(max_examples=8, deadline=None)
@given(st.data())
def test_cc_engines_match_union_find(spark, data):
    """The distributed CC engine (min-label + path-halving) must equal a
    driver-side union-find on arbitrary small graphs — self-loops,
    parallel/reversed edges, singletons and all."""
    from pii_redactor_spark.operators import dedup
    from pii_redactor_spark.operators.cache import release_caches
    n = data.draw(st.integers(min_value=1, max_value=14))
    edges = data.draw(st.lists(
        st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
        min_size=0, max_size=25))
    want = _uf_components(n, edges)
    edf = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "id_a long, id_b long")
    labels = {r["node"]: r["component"]
              for r in dedup.components_from_edges(edf).collect()}
    release_caches()
    # endpoints only: every other node is its own component
    assert set(labels) <= set(range(n)), (n, edges)
    got = {i: labels.get(i, i) for i in range(n)}
    assert got == want, (n, edges)
