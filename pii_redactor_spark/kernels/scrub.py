"""PII scrub kernel: compiled-regex tiers + broadcast gazetteers.

Replaces the reference's per-document LLM redaction call
(reference: redactor.py:32-41, one HTTPS round-trip per document) with a
local two-tier span detector + single-pass replacer:

  tier 1 — *structured* PII via compiled regexes (EMAIL, IP v4/v6, TEL,
           SOCIALNUMBER, CREDITCARD, GEOCOORD, TIME, DATE, POSTCODE);
  tier 2 — *lexical* PII via broadcast gazetteers: a per-url entity
           gazetteer (exact (value, label) pairs — used for byte-identical
           parity with the reference fixtures, reference: examples.py:33-418)
           and a global name/place gazetteer for corpus scrubbing.

Replacement semantics are pinned by the reference fixtures
(reference: examples.py, behavioral spec):
  * every occurrence of a gazetteer value is replaced (duplicates too —
    examples.py:84-86 "ENG" x2, :284-288 "Andreoni" x2);
  * matching is case-sensitive ("Balloi" does not match "bballoi@...",
    examples.py:52-61);
  * word-ish boundary guards prevent leaking into larger tokens
    ("F" must not match inside "UTF-8"; mirrors the reference's own
    leak-check regex, tests/unit/test_examples.py:75-83);
  * overlaps resolve longest-span-first at equal start ("helbert@gmail.com"
    beats the inner "helbert", examples.py:209-227);
  * truncated boundary spans are left untouched because they are simply not
    gazetteer values (examples.py:86, :191, :227);
  * all replacement happens in ONE pass over the original text, so emitted
    ``[LABEL]`` placeholders are never themselves rewritten and surrounding
    bytes (e.g. pre-existing brackets -> "[[USERNAME]]", examples.py:152)
    are preserved exactly.

The kernel is a pure function of (text, gazetteer, flags) — no I/O, no
global state — so Spark can run it inside iterator pandas UDFs with the
compiled patterns built once per executor.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Iterable, Iterator, NamedTuple

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)


class Span(NamedTuple):
    start: int
    end: int
    label: str
    value: str
    tier: int  # 0 = per-url gazetteer, 1 = regex, 2 = global gazetteer


# ---------------------------------------------------------------------------
# Tier 1: compiled regex patterns for structured PII classes.
# Order = priority at equal (start, length). A pattern with a named group
# ``v`` redacts only that group's span (context words like "born on" stay
# in the text); patterns without it redact the whole match.
# ---------------------------------------------------------------------------
_STREET_BODY = (r"[A-Z][a-z]+(?: [A-Z][a-z]+)? "
                r"(?:Street|Avenue|Road|Lane|Boulevard|Drive|Grove|Court|"
                r"Highway)")

REGEX_TIERS: list[tuple[str, re.Pattern]] = [
    ("GEOCOORD", re.compile(r"\[-?\d{1,3}\.\d+,\s*-?\d{1,3}\.\d+\]")),
    ("EMAIL", re.compile(r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}")),
    # IPv6: 8 full groups or compressed (>=2 groups with '::')
    ("IP", re.compile(
        r"(?<![\w:.])(?:[0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}(?![\w:])"
        r"|(?<![\w:.])(?:[0-9a-fA-F]{1,4}:){1,6}:(?:[0-9a-fA-F]{1,4}:?){0,6}(?![\w:])"
    )),
    ("IP", re.compile(r"(?<![\w.])(?:\d{1,3}\.){3}\d{1,3}(?![\w.])")),
    ("SOCIALNUMBER", re.compile(r"(?<![\w-])\d{3}-\d{2}-\d{4}(?![\w-])")),
    ("CREDITCARD", re.compile(r"(?<![\w-])(?:\d{4}[ -]){3}\d{4}(?![\w-])|(?<![\w-])\d{15,16}(?![\w-])")),
    ("TEL", re.compile(
        r"(?<![\w.-])(?:\+?\d{1,3}[-. ])?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}(?![\w-])"
    )),
    ("TIME", re.compile(
        r"(?<![\w:])\d{1,2}:\d{2}(?::\d{2})?(?:\s?[apAP][mM])?(?![\w:])"
    )),
    # BOD before DATE: a date in birth context is the more specific class
    # and wins the equal-span tie (stable sort keeps list order).
    ("BOD", re.compile(
        r"(?<![A-Za-z])"
        r"(?:[Bb]orn(?:\s+on)?|[Dd]ate\s+of\s+[Bb]irth|DOB|[Bb]irth\s*date)"
        r"\s*[:\-]?\s*"
        r"(?P<v>\d{1,2}[/-]\d{1,2}[/-]\d{2,4}"
        r"|[A-Z][a-z]+ \d{1,2},? \d{4}"
        r"|\d{4}-\d{2}-\d{2})"
    )),
    ("DATE", re.compile(
        r"(?<![\w/.-])\d{1,2}[/-]\d{1,2}[/-]\d{2,4}(?![\w/-])"
    )),
    # BUILDING before POSTCODE: the house number ahead of a street name
    # outranks a bare 5-digit interpretation at the same span.
    ("BUILDING", re.compile(
        r"(?<![\w-])(?P<v>\d{1,5}[A-Za-z]?)\s+(?=" + _STREET_BODY + r"\b)"
    )),
    ("SECADDRESS", re.compile(
        r"(?<![\w-])(?:Apt\.?|Apartment|Suite|Ste\.?|Unit|Floor|Fl\.?|"
        r"Room|Rm\.?)\s*#?\s*\d+[A-Za-z]?(?![\w-])"
    )),
    ("POSTCODE", re.compile(r"(?<![\w-])\d{5}(?:-\d{4})?(?![\w-])")),
    # conservative context/format patterns for the document classes
    # (SURVEY §7.2 M2; national formats vary — tuned for low false-fire):
    ("PASSPORT", re.compile(
        r"(?<![\w-])(?:[Pp]assport\s*(?:[Nn]o\.?|#)?[: ]\s*)[A-Z]{1,2}\d{6,9}(?![\w-])"
        r"|(?<![\w-])[A-Z]{2}\d{7}(?![\w-])"
    )),
    ("DRIVERLICENSE", re.compile(
        r"(?<![\w-])(?:[Dd](?:river(?:'?s)?)?\.?\s*[Ll]icen[cs]e\s*(?:[Nn]o\.?|#)?[:# ]\s*)"
        r"[A-Z0-9]{1,3}[- ]?\d{3,4}(?:[- ]\d{3,4}){0,2}(?![\w-])"
    )),
    ("IDCARD", re.compile(
        r"(?<![\w-])[Ii][Dd](?:\s*[Cc]ard)?\s*(?:[Nn]o\.?|#)?[:# ]\s*[A-Z0-9-]{5,12}(?![\w-])"
    )),
    ("PASS", re.compile(
        r"(?<![A-Za-z])"
        r"(?:[Pp]assword|[Pp]asswd|[Pp]wd|PASS(?:WORD)?|[Pp]ass)"
        r"\s*[:=]\s*(?P<v>\S+)"
    )),
    ("USERNAME", re.compile(
        r"(?<![\w.@])@[A-Za-z0-9_]{3,30}(?![\w@])"
    )),
    ("STREET", re.compile(r"\b" + _STREET_BODY + r"\b")),
]

_WORD = re.compile(r"\w", re.UNICODE)


def _boundary_pattern(value: str) -> re.Pattern:
    """Escape ``value`` with word-boundary guards on word-char ends only.

    Mirrors the reference's leak check (tests/unit/test_examples.py:80) but
    generalizes it: values that start/end with punctuation (e.g. the PASS
    value ``"{0w7/U`` or GEOCOORD ``[53.1051, -2.62021]``) get no guard on
    that side, since ``\\b`` would mis-anchor there.
    """
    pat = re.escape(value)
    if _WORD.match(value[0]):
        pat = r"(?<!\w)" + pat
    if _WORD.match(value[-1]):
        pat = pat + r"(?!\w)"
    return re.compile(pat)


@lru_cache(maxsize=256)
def _dedup_gazetteer(pairs: tuple[tuple[str, str], ...]):
    """(value, label, guard_left, guard_right) with first-label-wins
    dedup; guards follow ``_boundary_pattern``'s conditional \\w rule."""
    label_of: dict[str, str] = {}
    for value, label in pairs:
        if value and value not in label_of:
            label_of[value] = label  # first label wins for duplicates
    return tuple(
        (v, lab, bool(_WORD.match(v[0])), bool(_WORD.match(v[-1])))
        for v, lab in label_of.items()
    )


def _gazetteer_spans(
    text: str, gazetteer: Iterable[tuple[str, str]], tier: int
) -> list[Span]:
    """All boundary-guarded occurrences of every (value, label) pair.

    ``str.find`` per value (C-speed substring scan) + manual neighbor
    word-char checks — semantically identical to per-value regex
    ``finditer`` with ``_boundary_pattern`` guards, but ~50x cheaper for
    large gazetteers (a 169-entry gazetteer was 1.8 ms/doc as 169 regex
    scans; literal find makes the whole pass tens of µs).
    """
    pairs = tuple(gazetteer) if not isinstance(gazetteer, tuple) else gazetteer
    if not pairs:
        return []
    spans: list[Span] = []
    n = len(text)
    for value, label, gl, gr in _dedup_gazetteer(pairs):
        vlen = len(value)
        i = text.find(value)
        while i != -1:
            ok = True
            if gl and i > 0 and _WORD.match(text[i - 1]):
                ok = False
            if ok and gr and i + vlen < n and _WORD.match(text[i + vlen]):
                ok = False
            if ok:
                spans.append(Span(i, i + vlen, label, value, tier))
                i = text.find(value, i + vlen)
            else:
                # a failed guard advances one position (regex semantics),
                # so self-overlapping occurrences are still found
                i = text.find(value, i + 1)
    return spans


# Cheap prerequisite gates per pattern: a pattern is skipped when its
# provably-required content is absent (`in` is a C memchr). Gates are
# derived ONLY from what each regex provably requires — IP-v6 and IDCARD
# can match digit-free text ('dead:beef::cafe', 'ID No: ABCDEF'), so
# neither is digit-gated (a digit gate there silently dropped real PII).
# Each gate is (needs_digit, any_of_substrings | None): run the pattern
# iff (not needs_digit or text has a digit) and (any substring present).
_PATTERN_GATES: list[tuple[bool, tuple[str, ...] | None]] = []
_ip_seen = 0
for _label, _pat in REGEX_TIERS:
    if _label == "GEOCOORD":
        _PATTERN_GATES.append((True, ("[",)))
    elif _label in ("EMAIL", "USERNAME"):
        _PATTERN_GATES.append((False, ("@",)))
    elif _label == "IP":
        # by REGEX_TIERS order: first IP entry is the v6 pattern (colons
        # required, digits NOT — 'dead::beef'), second is dotted-quad v4
        # (digits + dots required). Explicit identity, not source
        # sniffing: a lookbehind edit must not silently flip a gate.
        _ip_seen += 1
        _PATTERN_GATES.append(
            (False, (":",)) if _ip_seen == 1 else (True, (".",)))
    elif _label == "TIME":
        _PATTERN_GATES.append((True, (":",)))
    elif _label == "IDCARD":
        _PATTERN_GATES.append((False, ("ID", "Id", "iD", "id")))
    elif _label == "PASS":
        _PATTERN_GATES.append((False, ("ass", "wd", "ASS", "WD")))
    elif _label == "BOD":
        _PATTERN_GATES.append((True, ("orn", "irth", "OB")))
    elif _label == "STREET":
        _PATTERN_GATES.append((False, None))        # no cheap gate
    else:
        # SOCIALNUMBER, CREDITCARD, TEL, DATE, BUILDING, SECADDRESS,
        # POSTCODE, PASSPORT, DRIVERLICENSE all require \d
        _PATTERN_GATES.append((True, None))
assert _ip_seen == 2, "IP gate ordering assumes exactly v6 then v4"

_DIGIT_RE = re.compile(r"\d")


def _regex_spans(text: str) -> list[Span]:
    spans: list[Span] = []
    has_digit = _DIGIT_RE.search(text) is not None
    # REGEX_TIERS order + the stable sort in _resolve make the earlier
    # pattern win ties at equal (start, length, tier).
    for (label, pattern), (needs_digit, subs) in zip(REGEX_TIERS,
                                                     _PATTERN_GATES):
        if needs_digit and not has_digit:
            continue
        if subs is not None and not any(s in text for s in subs):
            continue
        grp = "v" if "v" in pattern.groupindex else 0
        for m in pattern.finditer(text):
            start, end = m.span(grp)
            if start == end:
                continue
            spans.append(Span(start, end, label, m.group(grp), 1))
    return spans


def _resolve(spans: list[Span]) -> list[Span]:
    """Greedy overlap resolution: earliest start, then longest span, then
    lowest tier (per-url gazetteer > regex > global gazetteer)."""
    spans.sort(key=lambda s: (s.start, -(s.end - s.start), s.tier))
    out: list[Span] = []
    cursor = -1
    for s in spans:
        if s.start >= cursor:
            out.append(s)
            cursor = s.end
    return out


# ai4privacy numbers name labels per document: the Nth distinct given
# name is GIVENNAME{N} (N<=2), the Nth distinct surname LASTNAME{N}
# (N<=3); later distinct names share the last ordinal
# (reference: redactor.py:14 label vocabulary).
_ORDINAL_FAMILIES = {"GIVENNAME1": ("GIVENNAME", 2),
                     "LASTNAME1": ("LASTNAME", 3)}


def _assign_name_ordinals(accepted: list[Span]) -> list[Span]:
    """Re-label GLOBAL-gazetteer name spans (tier 2 only — per-url gold
    gazetteers already carry exact ordinals and stay byte-identical) by
    order of first occurrence of each distinct value in the document."""
    seen: dict[str, dict[str, int]] = {}
    out: list[Span] = []
    for s in accepted:
        fam_max = _ORDINAL_FAMILIES.get(s.label)
        if s.tier == 2 and fam_max is not None:
            fam, max_n = fam_max
            d = seen.setdefault(fam, {})
            if s.value not in d:
                d[s.value] = min(len(d) + 1, max_n)
            out.append(s._replace(label=f"{fam}{d[s.value]}"))
        else:
            out.append(s)
    return out


def scrub_text(
    text: str,
    gazetteer: Iterable[tuple[str, str]] = (),
    enable_regex: bool = True,
    global_gazetteer: Iterable[tuple[str, str]] = (),
) -> tuple[str, list[dict]]:
    """Scrub one document. Returns (scrubbed_text, entities).

    ``gazetteer`` — per-document (value, label) pairs (tier 0, wins ties).
    ``global_gazetteer`` — corpus-wide (value, label) pairs, e.g. name lists.
    Entities carry span offsets (start, end) over the *original* text; the
    reference drops offsets (redactor.py:5-7) but we keep them for
    deterministic replacement and downstream auditing.
    """
    if not text:
        return text, []
    spans = _gazetteer_spans(text, gazetteer, tier=0)
    if enable_regex:
        spans += _regex_spans(text)
    if global_gazetteer:
        spans += _gazetteer_spans(text, global_gazetteer, tier=2)
    accepted = _assign_name_ordinals(_resolve(spans))
    if not accepted:
        return text, []
    pieces: list[str] = []
    cursor = 0
    entities: list[dict] = []
    for s in accepted:
        pieces.append(text[cursor:s.start])
        pieces.append(f"[{s.label}]")
        entities.append(
            {"value": s.value, "label": s.label, "start": s.start, "end": s.end}
        )
        cursor = s.end
    pieces.append(text[cursor:])
    return "".join(pieces), entities


# ---------------------------------------------------------------------------
# Spark surface: struct-returning iterator pandas UDF.
# ---------------------------------------------------------------------------
ENTITY_TYPE = StructType([
    StructField("value", StringType()),
    StructField("label", StringType()),
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
])


def scrub_batch(
    urls: Iterable[str | None],
    texts: Iterable[str | None],
    per_url: dict[str, list[tuple[str, str]]],
    global_gaz: list[tuple[str, str]],
    enable_regex: bool,
) -> dict[str, list]:
    """Scrub one UDF batch into the ``scrubbed_text`` / ``entities`` /
    ``n_redactions`` columns, keyed by the result struct's field names.

    A NULL text is NULL in all three columns; each row's tier-0
    gazetteer is ``per_url[url]`` (empty when the url has none)."""
    scrubbed_col: list[str | None] = []
    ents_col: list[list[dict] | None] = []
    n_col: list[int | None] = []
    for url, text in zip(urls, texts):
        if text is None:
            scrubbed_col.append(None)
            ents_col.append(None)
            n_col.append(None)
            continue
        scrubbed, ents = scrub_text(
            text, per_url.get(url, ()), enable_regex=enable_regex,
            global_gazetteer=global_gaz)
        scrubbed_col.append(scrubbed)
        ents_col.append(ents)
        n_col.append(len(ents))
    return {"scrubbed_text": scrubbed_col, "entities": ents_col,
            "n_redactions": n_col}


SCRUB_RESULT_TYPE = StructType([
    StructField("scrubbed_text", StringType()),
    StructField("entities", ArrayType(ENTITY_TYPE)),
    StructField("n_redactions", IntegerType()),
])


def make_scrub_udf(
    per_url_gazetteer: dict[str, list[tuple[str, str]]] | None = None,
    enable_regex: bool = True,
    global_gazetteer: list[tuple[str, str]] | None = None,
):
    """Build the scrub pandas UDF: (url, text) -> struct.

    Gazetteers are captured in the closure; Spark ships them once per task
    via the pickled UDF (broadcast-equivalent for these small dicts — on a
    real cluster, large gazetteers should go through ``spark.sparkContext
    .broadcast`` and be referenced here by ``.value``).
    Iterator form so per-executor setup happens once per task, not per batch.
    """
    per_url = per_url_gazetteer or {}
    global_gaz = list(global_gazetteer or ())

    @F.pandas_udf(SCRUB_RESULT_TYPE)
    def scrub(
        batches: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        for urls, texts in batches:
            yield pd.DataFrame(
                scrub_batch(urls, texts, per_url, global_gaz, enable_regex))

    return scrub
