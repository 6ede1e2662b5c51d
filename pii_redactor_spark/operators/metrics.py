"""Hybrid PII detection/classification metric as Column expressions.

Re-expresses the reference's Counter-multiset metric
(reference: optimizer.py:86-139 — ``extract_pii_labels`` +
``hybrid_pii_score``) and its severity feedback
(reference: optimizer.py:142-213) as pure Spark SQL expressions: no UDF,
so the whole metric runs JVM-side inside whole-stage codegen and scales
to any corpus size without Python-worker involvement.

    score = 0.75 * detection_recall + 0.25 * classification_accuracy

  detection_recall   = min(|gold|, |pred|) / |gold|       (label-agnostic;
                       over-redaction unpenalized)
  classification_acc = |gold ∩ pred| / min(|gold|, |pred|) (multiset ∩)

Edge cases (reference: optimizer.py:112-117): both empty -> 1.0;
gold-only -> 0.0; pred-only -> 1.0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pii_redactor_spark.functions import text_hash

# Label-token grammar (reference: optimizer.py:86)
LABEL_REGEX = r"\[([A-Z]+\d*)\]"

DETECTION_WEIGHT = 0.75
CLASSIFICATION_WEIGHT = 0.25


def extract_labels(col: Column | str) -> Column:
    """All ``[LABEL]`` tokens in order (reference: optimizer.py:89-91) —
    ``regexp_extract_all`` keeps this JVM-side."""
    return F.regexp_extract_all(F.col(col) if isinstance(col, str) else col,
                                F.lit(LABEL_REGEX), 1)


def multiset_intersect_size(a: Column, b: Column) -> Column:
    """|a ∩ b| with multiplicity — the Counter ``&`` then sum-of-values of
    the reference (optimizer.py:130). Expressed as: for each distinct
    element of ``a``, min(count in a, count in b), summed. O(n²) per row
    over tiny label arrays; stays in codegen."""
    return F.aggregate(
        F.array_distinct(a),
        F.lit(0),
        lambda acc, lbl: acc + F.least(
            F.size(F.filter(a, lambda x: x == lbl)),
            F.size(F.filter(b, lambda x: x == lbl)),
        ),
    )


def hybrid_score_columns(gold: Column | str, pred: Column | str) -> dict[str, Column]:
    """The full metric as named Columns over gold/pred *redacted text*.

    Returns detection_recall, classification_acc, hybrid_score, num_correct
    (mirror of the reference tuple, optimizer.py:139) plus severity.
    Strips whitespace first (reference: optimizer.py:232-233).
    """
    gold_c = F.trim(F.col(gold) if isinstance(gold, str) else gold)
    pred_c = F.trim(F.col(pred) if isinstance(pred, str) else pred)
    gl = extract_labels(gold_c)
    pl = extract_labels(pred_c)
    total_gold = F.size(gl)
    total_pred = F.size(pl)
    detected = F.least(total_gold, total_pred)
    raw_correct = multiset_intersect_size(gl, pl)

    both_empty = (total_gold == 0) & (total_pred == 0)
    gold_only = (total_gold > 0) & (total_pred == 0)
    pred_only = (total_gold == 0) & (total_pred > 0)

    det = (
        F.when(both_empty | pred_only, F.lit(1.0))
        .when(gold_only, F.lit(0.0))
        .otherwise(detected.cast("double") / total_gold)
    )
    cls = (
        F.when(both_empty | pred_only, F.lit(1.0))
        .when(gold_only, F.lit(0.0))
        .otherwise(
            F.when(detected > 0, raw_correct.cast("double") / detected)
            .otherwise(F.lit(0.0))
        )
    )
    num_correct = F.when(both_empty | gold_only | pred_only, F.lit(0)).otherwise(raw_correct)
    score = DETECTION_WEIGHT * det + CLASSIFICATION_WEIGHT * cls

    # Severity bucketing (reference: optimizer.py:156,174-203): worst wins.
    severity = (
        F.when(detected < total_gold, F.lit("CRITICAL"))
        .when((detected > 0) & (num_correct < detected), F.lit("minor"))
        .when(total_pred > total_gold, F.lit("note"))
        .otherwise(F.lit("correct"))
    )
    return {
        "detection_recall": det,
        "classification_acc": cls,
        "hybrid_score": score,
        "num_correct": num_correct,
        "severity": severity,
    }


def with_hybrid_score(df: DataFrame, gold: str = "gold", pred: str = "pred") -> DataFrame:
    cols = hybrid_score_columns(gold, pred)
    return df.withColumns(cols)


def token_f1(gold: Column | str, pred: Column | str) -> Column:
    """Whitespace-token multiset F1 — diagnostic column mirroring the
    reference's dspy ``f1_score`` usage (optimizer.py:12, 208-209)."""
    g = F.split(F.trim(F.col(gold) if isinstance(gold, str) else gold), r"\s+")
    p = F.split(F.trim(F.col(pred) if isinstance(pred, str) else pred), r"\s+")
    common = multiset_intersect_size(g, p).cast("double")
    precision = F.when(F.size(p) > 0, common / F.size(p)).otherwise(F.lit(0.0))
    recall = F.when(F.size(g) > 0, common / F.size(g)).otherwise(F.lit(0.0))
    return (
        F.when((precision + recall) > 0,
               2 * precision * recall / (precision + recall))
        .otherwise(F.lit(0.0))
    )


_PUNCT_CLASS = r"""[!"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~]"""


def dspy_token_f1(gold: Column | str, pred: Column | str) -> Column:
    """SQuAD-style token F1 as used by the reference's feedback line
    (dspy.evaluate.metrics.f1_score, optimizer.py:10,208): lowercase,
    strip ASCII punctuation, drop articles (a/an/the), whitespace-split,
    multiset F1. Both-empty token lists score 0 — dspy's ``_f1_score``
    only logs a warning for that case and falls through to
    ``num_same == 0 -> 0``, so 0 (not 1) is the byte-parity behavior
    (round-2 advice); with zero overlap F1 is 0 either way."""
    def toks(c: Column | str) -> Column:
        t = F.lower(F.trim(F.col(c) if isinstance(c, str) else c))
        t = F.regexp_replace(t, _PUNCT_CLASS, "")
        t = F.regexp_replace(t, r"\b(a|an|the)\b", " ")
        return text_hash.words(t)
    g, p = toks(gold), toks(pred)
    common = multiset_intersect_size(g, p).cast("double")
    precision = F.when(F.size(p) > 0, common / F.size(p)).otherwise(F.lit(0.0))
    recall = F.when(F.size(g) > 0, common / F.size(g)).otherwise(F.lit(0.0))
    # common > 0 implies both sizes > 0, so precision + recall > 0
    return (
        F.when(common > 0,
               2 * precision * recall / (precision + recall))
        .otherwise(F.lit(0.0))
    )


def _mislabel_items(a: Column, b: Column) -> Column:
    """``Counter(a) - (Counter(a) & Counter(b))`` rendered as the
    reference's item strings — ``'LBL'`` or ``'LBL (xN)'`` for
    multiplicity N>1 — in first-occurrence order of ``a`` (Python
    Counter key order, reference: optimizer.py:184-198). Pass
    *materialized* label-array columns (nested HOFs re-evaluate unbound
    subtrees per element)."""
    def item(lbl: Column) -> Column:
        ca = F.size(F.filter(a, lambda x: x == lbl))
        cb = F.size(F.filter(b, lambda x: x == lbl))
        n = ca - F.least(ca, cb)
        return F.when(
            n > 0,
            F.when(n > 1, F.format_string("%s (x%d)", lbl, n))
            .otherwise(lbl),
        )
    return F.array_compact(F.transform(F.array_distinct(a), item))


def build_feedback(df: DataFrame, gold: str = "gold", pred: str = "pred") -> DataFrame:
    """Severity-tagged feedback string — full string parity with the
    reference's ``_build_feedback`` (optimizer.py:142-213): score line,
    CRITICAL under-detection, Minor with Missing/Unexpected mislabeled
    item lists, over-redaction Note, the labels-match-text-differs line,
    the full-text token-F1 line, and the Expected/Got block, joined with
    single spaces. Expects the ``hybrid_score_columns`` outputs
    (hybrid_score, detection_recall, classification_acc, num_correct) on
    ``df``."""
    gold_c = F.trim(F.col(gold))
    pred_c = F.trim(F.col(pred))
    df = (
        df.withColumn("_gl", extract_labels(F.col(gold)))
          .withColumn("_pl", extract_labels(F.col(pred)))
    )
    total_gold = F.size(F.col("_gl"))
    total_pred = F.size(F.col("_pl"))
    detected = F.least(total_gold, total_pred)
    missing = _mislabel_items(F.col("_gl"), F.col("_pl"))
    unexpected = _mislabel_items(F.col("_pl"), F.col("_gl"))
    # Python's %.2f rounds half-to-even (0.625 -> "0.62"); Java's
    # format_string rounds half-up ("0.63") — bround first so every
    # formatted score is byte-identical to the reference's f-strings.
    def fmt2(c: Column) -> Column:
        return F.bround(c, 2)

    parts = F.array_compact(F.array(
        F.format_string(
            "Hybrid score=%.2f (detection_recall=%.2f, classification_acc=%.2f).",
            fmt2(F.col("hybrid_score")), fmt2(F.col("detection_recall")),
            fmt2(F.col("classification_acc"))),
        F.when(
            detected < total_gold,
            F.format_string(
                "CRITICAL: Missed %d PII item(s) — only %d/%d redacted.",
                total_gold - detected, detected, total_gold)),
        F.when(
            (detected > 0) & (F.col("num_correct") < detected),
            F.format_string(
                "Minor: %d/%d detected item(s) have correct labels. "
                "Missing labels: %s. Unexpected labels: %s.",
                F.col("num_correct"), detected,
                F.array_join(missing, ", "),
                F.array_join(unexpected, ", "))),
        F.when(
            total_pred > total_gold,
            F.format_string(
                "Note: Over-redacted by %d item(s) (acceptable).",
                total_pred - total_gold)),
        F.when(
            (F.col("hybrid_score") == 1.0) & (gold_c != pred_c),
            F.lit("All PII labels match, but surrounding text differs.")),
        F.format_string("Full-text token F1=%.2f (for reference).",
                        fmt2(dspy_token_f1(gold, pred))),
        F.format_string("\nExpected:\n%s\n\nGot:\n%s",
                        F.col(gold), F.col(pred)),
    ))
    feedback = F.when(
        (F.col("hybrid_score") == 1.0) & (gold_c == pred_c),
        F.lit("Correct. All PII entities detected with correct labels."),
    ).otherwise(F.array_join(parts, " "))
    return df.withColumn("feedback", feedback).drop("_gl", "_pl")
