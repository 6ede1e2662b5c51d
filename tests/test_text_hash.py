"""The text-hash substrate (functions/text_hash.py): each Spark builder
equals its DuckDB twin (and, for the hashed features, its Python twin)
on the same rows, and no other module spells out the word split, the
md5-prefix fold or the hashed-feature recipe."""

from __future__ import annotations

import ast
import re
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


# non-ASCII, empty and single-char tokens; row 4 holds a NULL token
TOKENS = ["naïve", "日本語", "", "a", "Straße", "✓", "ǅ"]
HASH_DIM = 64


def test_hashed_features_match_sql_and_python_twins(spark, oracle):
    dim = HASH_DIM
    weights = [(i * 7919) % 201 - 100 for i in range(dim)]
    docs = spark.createDataFrame(
        [(1, TOKENS), (2, []), (3, None), (4, ["x", None, ""])],
        "doc_id long, toks array<string>")
    toks = F.col("toks")
    sb = text_hash.signed_buckets(toks, "ml:", dim)
    out = docs.select(
        "doc_id",
        F.transform(toks, lambda t: text_hash.hashed_bucket(t, "qc:", dim))
        .alias("b"),
        F.transform(sb, lambda f: f["bucket"]).alias("sb"),
        F.transform(sb, lambda f: f["sign"]).alias("ss"))
    sb_sql = text_hash.signed_buckets_sql("toks", "ml:", dim)
    sql = f"""SELECT doc_id,
      list_transform({text_hash.signed_buckets_sql('toks', 'qc:', dim)},
                     f -> f.bucket) AS b,
      list_transform({sb_sql}, f -> f.bucket) AS sb,
      list_transform({sb_sql}, f -> f.sign) AS ss
    FROM docs"""
    got, want = oracle(sql, out, docs=docs)
    assert got == want
    rows = {r[0]: r for r in got}
    assert rows[3][1:] == (None, None, None)             # NULL list
    assert rows[2][1:] == ([], [], [])
    assert rows[4][1][1] is None and rows[4][2][1] is None  # NULL token
    # the Python twins agree token by token (the fits read these)
    assert rows[1][1] == [text_hash.hashed_bucket_py(t, "qc:", dim)
                          for t in TOKENS]
    assert list(zip(rows[1][2], map(int, rows[1][3]))) == [
        text_hash.signed_bucket_py(t, "ml:", dim) for t in TOKENS]
    assert set(rows[1][3]) == {1.0, -1.0}

    # per-token rows: Spark's explode of signed_buckets vs bucket_rows_sql
    exploded = (
        docs.select("doc_id", F.explode_outer(
            text_hash.signed_buckets(toks, "ml:", dim)).alias("f"))
        .where(F.col("f").isNotNull())
        .select("doc_id", "f.bucket", "f.sign"))
    got, want = oracle(
        text_hash.bucket_rows_sql("docs", "doc_id", "toks", "ml:", dim),
        exploded, docs=docs)
    assert got == want and len(got) == len(TOKENS) + 3

    # the weighted sum: an oracle's SUM over the joined token rows, 0 for
    # a NULL or empty list (token lists without a NULL element, as the
    # word split never yields one)
    clean = docs.where("doc_id < 4")
    summed = text_hash.weighted_bucket_sum(
        clean, F.transform(toks, lambda t: text_hash.hashed_bucket(
            t, "qc:", dim)), weights).select("doc_id", F.col("_s").alias("s"))
    wt = ", ".join(f"({i}, {v})" for i, v in enumerate(weights))
    got, want = oracle(f"""
      WITH wt(bucket, w) AS (VALUES {wt}),
      r AS ({text_hash.bucket_rows_sql('docs', 'doc_id', 'toks', 'qc:', dim)})
      SELECT d.doc_id, CAST(COALESCE(SUM(wt.w), 0) AS BIGINT) AS s
      FROM docs d LEFT JOIN r USING (doc_id) LEFT JOIN wt USING (bucket)
      GROUP BY d.doc_id""", summed, docs=clean)
    assert got == want
    assert dict(got) == {
        1: sum(weights[text_hash.hashed_bucket_py(t, "qc:", dim)]
               for t in TOKENS), 2: 0, 3: 0}


def test_parity_signs_match_an_in_engine_fold():
    import duckdb
    got = text_hash.parity_signs("pr:", 64)
    first_hex = text_hash.md5_int_sql("'pr:' || CAST(i AS VARCHAR)", 1)
    want = duckdb.sql(
        f"SELECT list_transform(range(64), i -> CASE WHEN {first_hex} % 2 = 0"
        " THEN 1 ELSE -1 END)").fetchone()[0]
    assert got == want and set(got) == {1, -1}


# a hand-written copy of the hashed-feature recipe: the 8-hex-char
# bucket, the 9th-char sign, the first-char parity, a bucket mod dim
RECIPE_COPIES = {
    "python 8-hex bucket": r"\[:8\],\s*16\)",
    "python 9th-char sign": r"\[8\],\s*16\)",
    "python first-char parity": r"hexdigest\(\)\[0\]",
    "9th-char fold": r"(?:hex_int|md5_int)(?:_sql)?\(.*,\s*1,\s*9\)",
    "spark bucket mod dim": r"pmod\(.*F\.lit\(dim\)",
    "sql bucket mod dim": r"%\s*\{dim\}",
}


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
            for name, pat in RECIPE_COPIES.items():
                if re.search(pat, src):
                    offenders.append((str(rel), name))
            # a module reaches the feature through text_hash, never
            # through another module's private bucket helper
            for node in ast.walk(ast.parse(src)):
                if isinstance(node, ast.ImportFrom):
                    offenders += [(str(rel), a.name) for a in node.names
                                  if a.name.startswith("_")
                                  and "bucket" in a.name]
        if "_WORDS_SQL" in src:
            offenders.append((str(rel), "_WORDS_SQL"))
    assert offenders == []
    for mod in ("functions/rules.py", "kernels/quality_clf.py",
                "kernels/encoder.py"):
        assert "operators.dedup import" not in (PKG / mod).read_text(), mod
