"""The text-hash substrate (functions/text_hash.py): each Spark builder
equals its DuckDB twin on the same rows, and no other module spells out
the word split or the md5-prefix fold."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from pii_redactor_spark.functions import text_hash
from pii_redactor_spark.operators.multimodal import FEATURE_DIM

PKG = Path(__file__).resolve().parent.parent / "pii_redactor_spark"

# every (start, n) a caller folds: the 60-bit word hash, the Gumbel
# uniform, the 8-hex bucket folds, the digit-9 sign and the media fake
# decoder's width/height/duration/feature folds
FOLDS = sorted({(1, 15), (1, 13), (1, 8), (9, 1), (9, 8), (17, 8)}
               | {(2 * i + 1, 2) for i in range(FEATURE_DIM)})
NGRAMS = (2, 3, 4, 5, 8)   # quality rules 2-5, decontamination/span 8


def test_spark_builders_match_sql_twins(spark, with_adversarial, oracle):
    docs = with_adversarial(spark.createDataFrame([
        (1, "naïve café über straße — 日本語 テキスト ✓"),
        (2, "the cat sat on the mat and the cat sat on the mat again"),
        (3, "  tab\tseparated\nlines\x0bvertical\x0ctab  "),
    ], "doc_id long, text string"))
    t = F.col("text")
    ws = text_hash.words(t)
    wh = text_hash.word_hashes_col(F.col("ws"))
    out = (
        docs.select(
            "doc_id", ws.alias("ws"),
            *[text_hash.md5_int(t, n, s).alias(f"f_{s}_{n}")
              for s, n in FOLDS],
            *[text_hash.hex_int(F.md5(t), n, s).alias(f"x_{s}_{n}")
              for s, n in FOLDS])
        .withColumn("wh", wh)
        .select("*", *[text_hash.hashed_ngrams_col(F.col("wh"), n)
                       .alias(f"g{n}") for n in NGRAMS])
    )
    sql = f"""
    SELECT doc_id, ws, wh,
      {", ".join(f"{text_hash.md5_int_sql('text', n, s)} AS f_{s}_{n}"
                 for s, n in FOLDS)},
      {", ".join(f"{text_hash.hex_int_sql('md5(text)', n, s)} AS x_{s}_{n}"
                 for s, n in FOLDS)},
      {", ".join(f"{text_hash.hashed_ngrams_sql('wh', n)} AS g{n}"
                 for n in NGRAMS)}
    FROM (SELECT doc_id, text, ws, {text_hash.word_hashes_sql('ws')} AS wh
          FROM (SELECT doc_id, text,
                  {text_hash.WORDS_SQL.format(t='text')} AS ws
                FROM docs))
    """
    got, want = oracle(sql, out, docs=docs)
    assert got == want
    rows = {r[0]: dict(zip(out.columns, r)) for r in got}
    assert rows[3]["ws"] == ["tab", "separated", "lines", "vertical", "tab"]
    null = rows[90001]                       # NULL text: NULL everywhere
    assert all(v is None for k, v in null.items() if k != "doc_id")
    assert rows[90002]["ws"] == rows[90004]["ws"] == []
    assert rows[90004]["g2"] == []
    assert len(rows[2]["g8"]) == len(rows[2]["ws"]) - 7
    assert rows[2]["g2"][0] == rows[2]["g2"][7]  # "the cat" repeats


def test_folds_and_word_split_live_only_in_text_hash():
    """A second copy of the fold or the split drifts from its twin
    silently; every module calls text_hash instead."""
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        src = p.read_text()
        rel = p.relative_to(PKG.parent)
        if p.name != "text_hash.py":
            for needle in ("strpos('0123456789abcdef'", "F.conv(F.substring("):
                if needle in src:
                    offenders.append((str(rel), needle))
        if "_WORDS_SQL" in src:
            offenders.append((str(rel), "_WORDS_SQL"))
    assert offenders == []
    for mod in ("functions/rules.py", "kernels/quality_clf.py",
                "kernels/encoder.py"):
        assert "operators.dedup import" not in (PKG / mod).read_text(), mod
