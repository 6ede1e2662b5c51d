"""The text-hash substrate: the word split, the md5-prefix integer fold
and the hashed word n-grams, each written once as a Spark Column builder
beside its DuckDB SQL twin.

Every text kernel, rule and dedup operator reaches its numbers through
these steps, and its oracle must reproduce them bit for bit, so no other
module spells them out:

- **word split** (``words`` / ``WORDS_SQL``): whitespace tokens of the
  trimmed text, no empty token; NULL text gives a NULL array.
- **md5-prefix fold** (``md5_int`` / ``md5_int_sql`` / ``md5_int_py``;
  ``hex_int`` / ``hex_int_sql`` over a digest already computed): the
  ``n`` hex chars from 1-based ``start`` as a BIGINT. Spark parses them
  with ``conv``, DuckDB with a ``'0x'`` literal cast. ``n <= 15`` keeps
  the value signed-64-safe in both engines. md5 because xxhash64 has no
  DuckDB twin.
- **60-bit word hash and hashed n-grams** (``word_hash60``,
  ``word_hashes_col``, ``hashed_ngrams_col`` and their ``_sql`` twins):
  gram_i = XOR over k of rot60(whash[i+k], 7k). The repetition rules,
  decontamination and span dedup need only n-gram EQUALITY, so grams
  are bigints, equal up to 60-bit collisions in both engines alike.
- **hashed feature** of the five bag-of-words kernels, each in its own
  prefix domain (``hashed_bucket``, ``signed_buckets``, their SQL twins
  ``signed_buckets_sql`` / ``bucket_rows_sql`` and their Python twins):
  bucket = first 8 hex chars of md5(prefix || token) mod ``dim``, sign
  = +1 iff the 9th is even; one digest per token. Plus the per-document
  ``weighted_bucket_sum`` and the ±1 literal vector ``parity_signs``.
"""

from __future__ import annotations

import hashlib
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NGRAM_ROT_STEP = 7  # per-position rotation makes the xor order-sensitive

# {t}: the text expression. Java's \s (Spark) includes the vertical tab
# \x0B, RE2's (DuckDB) does not, so the SQL class adds it.
WORDS_SQL = ("list_filter(string_split_regex(trim({t}), '[\\s\\x0B]+'), "
             "w -> w <> '')")


def words(text: Column) -> Column:
    """Whitespace tokens; empty text -> empty array (split of '' yields
    [''], so filter it)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != "")


def hex_int(digest: Column, n: int, start: int = 1) -> Column:
    return F.conv(F.substring(digest, start, n), 16, 10).cast("bigint")


def hex_int_sql(digest: str, n: int, start: int = 1) -> str:
    return f"CAST('0x' || substr({digest}, {start}, {n}) AS BIGINT)"


def md5_int(x: Column, n: int, start: int = 1) -> Column:
    return hex_int(F.md5(x), n, start)


def md5_int_sql(x: str, n: int, start: int = 1) -> str:
    return hex_int_sql(f"md5({x})", n, start)


def word_hash60(w: Column) -> Column:
    """First 60 bits of md5(input) as a signed bigint; also used for
    shingles."""
    return md5_int(w, 15)


def word_hash60_sql(w: str) -> str:
    return md5_int_sql(w, 15)


def word_hashes_col(ws: Column) -> Column:
    """array<bigint>: ``word_hash60`` of every word."""
    return F.transform(ws, word_hash60)


def word_hashes_sql(ws: str) -> str:
    return f"list_transform({ws}, w -> {word_hash60_sql('w')})"


def _rot60_zipper(s: int):
    """zip_with merge ``a xor rot60(b, s)``, binding the rotation OUTSIDE
    the lambda (default args change the lambda's arity and break
    PySpark's HOF builder). The low ``s`` bits are masked before the
    left shift, so the value stays inside signed 64 bits in Spark AND
    DuckDB."""
    mask = (1 << s) - 1

    def f(a: Column, b: Column) -> Column:
        if s == 0:
            return a.bitwiseXOR(b)
        return a.bitwiseXOR(
            F.shiftright(b, s).bitwiseOR(
                F.shiftleft(b.bitwiseAND(F.lit(mask)), 60 - s)))
    return f


def hashed_ngrams_col(whashes: Column, n: int) -> Column:
    """array<bigint> of hashed word n-grams; empty array for <n words,
    NULL for NULL ``whashes``.

    Built as chained ``zip_with`` over SHIFTED SLICES of ``whashes`` —
    never ``element_at`` inside a ``transform`` lambda: if Catalyst's
    CollapseProject re-inlines a single-use whashes projection (it did,
    round 3), a lambda-captured element_at re-evaluates the whole
    md5-per-word transform PER ELEMENT PER POSITION — O(words²·n) md5
    calls per document (a planted 22-minute single task at sf0.1).
    Slices evaluate their input once per ROW, so the worst case under
    inlining is n evaluations per row, linear always."""
    m = F.size(whashes)
    ln = F.greatest(m - n + 1, F.lit(0))
    out = F.slice(whashes, 1, ln)
    for k in range(1, n):
        out = F.zip_with(out, F.slice(whashes, k + 1, ln),
                         _rot60_zipper((NGRAM_ROT_STEP * k) % 60))
    return out


def _rot60_sql(h: str, s: int) -> str:
    if s == 0:
        return h
    mask = (1 << s) - 1
    return f"(({h} >> {s}) | (({h} & {mask}) << {60 - s}))"


def hashed_ngrams_sql(whashes: str, n: int) -> str:
    terms = [_rot60_sql(f"{whashes}[CAST(i+{k}+1 AS INT)]",
                        (NGRAM_ROT_STEP * k) % 60) for k in range(n)]
    expr = terms[0]
    for t in terms[1:]:
        expr = f"xor({expr}, {t})"
    return (f"CASE WHEN len({whashes}) >= {n} THEN "
            f"list_transform(range(len({whashes}) - {n} + 1), i -> {expr}) "
            f"WHEN {whashes} IS NOT NULL THEN CAST([] AS BIGINT[]) END")


def distinct_ngrams(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """``df`` plus ``_g``: the DISTINCT hashed word ``n``-grams of
    ``text_col`` (decontamination and span dedup compare gram sets). The
    words and word hashes are materialized in their own projections:
    ``hashed_ngrams_col`` reads the hashes once per gram position."""
    return (
        df.withColumn("_w", words(F.col(text_col)))
        .withColumn("_wh", word_hashes_col(F.col("_w")))
        .withColumn("_g", F.array_distinct(
            hashed_ngrams_col(F.col("_wh"), n)))
        .drop("_w", "_wh")
    )


def distinct_ngrams_sql(table: str, text_col: str, n: int) -> str:
    """DuckDB twin of ``distinct_ngrams``: every column of ``table``
    plus ``_g``."""
    return f"""SELECT * EXCLUDE (_wh),
       list_distinct({hashed_ngrams_sql('_wh', n)}) AS _g
FROM (SELECT * EXCLUDE (_w), {word_hashes_sql('_w')} AS _wh
      FROM (SELECT *, {WORDS_SQL.format(t=text_col)} AS _w FROM {table}))"""


# ---------------------------------------------------------------------------
# hashed features: bucket = md5(prefix || token)[:8] mod dim, sign = +1
# iff hex char 9 is even
# ---------------------------------------------------------------------------

def md5_int_py(x: str, n: int) -> int:
    """Python twin of ``md5_int`` from the first hex char."""
    return int(hashlib.md5(x.encode("utf-8")).hexdigest()[:n], 16)


def hashed_bucket_py(token: str, prefix: str, dim: int) -> int:
    """Python twin of ``hashed_bucket``, for driver-side fits."""
    return md5_int_py(prefix + token, 8) % dim


def signed_bucket_py(token: str, prefix: str, dim: int) -> tuple[int, int]:
    """Python twin of one ``signed_buckets`` element: (bucket, ±1)."""
    h = md5_int_py(prefix + token, 9)
    return (h >> 4) % dim, 1 if h % 2 == 0 else -1


def parity_signs(prefix: str, n: int) -> list[int]:
    """[±1] * n: +1 where the first hex char of md5(prefix || i) is
    even — the hyperplane rows and summary probes, shipped as literals
    to both engines."""
    return [1 if md5_int_py(f"{prefix}{i}", 1) % 2 == 0 else -1
            for i in range(n)]


def _bucket_of(digest: Column, dim: int) -> Column:
    return F.pmod(hex_int(digest, 8), F.lit(dim)).cast("int")


def hashed_bucket(token: Column, prefix: str, dim: int) -> Column:
    """int bucket of one string token; NULL for a NULL token."""
    return _bucket_of(F.md5(F.concat(F.lit(prefix), token)), dim)


def signed_buckets(tokens: Column, prefix: str, dim: int) -> Column:
    """array<struct<bucket:int, sign:double>> of an array of tokens. The
    digests are an array of their own: Spark shares no subexpression
    inside a lambda, so one lambda would hash every token twice."""
    digests = F.transform(tokens, lambda t: F.md5(F.concat(F.lit(prefix), t)))
    return F.transform(digests, lambda h: F.struct(
        _bucket_of(h, dim).alias("bucket"),
        F.when(F.pmod(hex_int(h, 1, 9), F.lit(2)) == 0, F.lit(1.0))
        .otherwise(F.lit(-1.0)).alias("sign")))


def signed_buckets_sql(tokens: str, prefix: str, dim: int) -> str:
    """DuckDB twin of ``signed_buckets``; its ``bucket`` field is also
    the twin of ``hashed_bucket``."""
    sign = (f"CASE WHEN {hex_int_sql('h', 1, 9)} % 2 = 0 "
            "THEN 1.0 ELSE -1.0 END")
    return (f"list_transform(list_transform({tokens}, "
            f"t -> md5('{prefix}' || t)), "
            f"h -> struct_pack(bucket := CAST({hex_int_sql('h', 8)} % {dim} "
            "AS INT), "
            f"sign := CAST({sign} AS DOUBLE)))")


def bucket_rows_sql(src: str, keys: str, tokens: str, prefix: str,
                    dim: int) -> str:
    """A (``keys``, bucket, sign) row per element of the list expression
    ``tokens`` over ``src``, for an oracle's weight-table join."""
    return (f"SELECT {keys}, f.bucket AS bucket, f.sign AS sign FROM "
            f"(SELECT {keys}, unnest({signed_buckets_sql(tokens, prefix, dim)})"
            f" AS f FROM {src})")


def weighted_bucket_sum(df: DataFrame, buckets: Column,
                        weights: Sequence[int]) -> DataFrame:
    """``df`` plus ``_buckets`` (materialized: two columns read it),
    ``_n`` (its length, NULL for NULL like DuckDB's ``len``) and ``_s``,
    the exact BIGINT sum of ``weights[b]`` (0 for none, the oracles'
    ``COALESCE(SUM, 0)``). The weights are one parsed literal."""
    lit = F.expr("array({})".format(",".join(f"{int(v)}L" for v in weights)))
    return (
        df.withColumn("_buckets", buckets)
        .withColumn("_s", F.coalesce(
            F.aggregate(F.col("_buckets"), F.lit(0).cast("bigint"),
                        lambda acc, b: acc + F.element_at(lit, b + 1)),
            F.lit(0).cast("bigint")))
        .withColumn("_n", F.when(F.col("_buckets").isNotNull(),
                                 F.size("_buckets")))
    )
