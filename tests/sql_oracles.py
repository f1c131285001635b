"""Codegen SQL formulations of the signature operators, kept as
differential oracles for their Arrow md5 kernels.

Each is the explode + aggregate pipeline the operator ran before its
kernel, over the same 60-bit md5 shingle/token/gram hash
(``ext.dedup._H60``, the form DuckDB reproduces), so a kernel's output
must equal its oracle's bit for bit:

- :func:`minhash_base_sql` for ``ext.dedup._minhash_base``;
- :func:`simhash_signature_sql` for ``ext.dedup.simhash_signature``;
- :func:`dsir_bucketed_sql` for ``ext.pipeline._dsir_bucket_kernel``
  (one row per gram occurrence; count per (doc, bucket) to compare).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandas_alchemy_spark.ext.dedup import (_P31, _claim_col, _h60, _tune,
                                            tokens_expr, with_shingles)
from pandas_alchemy_spark.ext.text import _tok


def minhash_base_sql(df: DataFrame, text_col: str, id_col: str,
                     num_hashes: int, shingle_n: int) -> DataFrame:
    """(id, signature, hs): explode shingles, one md5 per shingle,
    K affine minima and the distinct hash set in one aggregate."""
    sh = with_shingles(_tune(df), text_col, "__shraw", shingle_n,
                       distinct=False)
    ex = sh.select(F.col(id_col), F.explode("__shraw").alias("s"))
    hashed = ex.select(id_col, F.expr(_h60("s")).alias("h"))
    aggs = [F.min(F.expr(
        f"pmod((2 * {k} + 1) * (h % {_P31}) + (12345 + {k} * 7919), "
        f"{_P31})")).alias(f"__m{k}") for k in range(num_hashes)]
    aggs.append(F.collect_set("h").alias("hs"))
    return hashed.groupBy(id_col).agg(*aggs).select(
        F.col(id_col),
        F.array(*[F.col(f"__m{k}") for k in range(num_hashes)])
        .alias("signature"),
        F.col("hs"))


def simhash_signature_sql(df: DataFrame, text_col: str, id_col: str,
                          bits: int) -> DataFrame:
    """(id, sh): explode tokens, one md5 per token, ``bits``
    SUM(CASE) votes, then the bit-pack."""
    tok = _tune(df).select(F.col(id_col),
                           F.explode(tokens_expr(text_col)).alias("t"))
    tok = tok.select(id_col, F.expr(_h60("t")).alias("h"))
    sums = tok.groupBy(id_col).agg(*[
        F.sum(F.expr(f"case when (shiftright(h, {b}) & 1) = 1 "
                     "then 1 else -1 end")).alias(f"s{b}")
        for b in range(bits)])
    packed = " + ".join(
        f"(case when s{b} > 0 then shiftleft(cast(1 as bigint), {b}) "
        "else cast(0 as bigint) end)" for b in range(bits))
    return sums.select(id_col, F.expr(packed).alias("sh"))


def _grams_expr(toks: str) -> str:
    """Unigram+bigram feature list over a token-array column.  The
    size guard matters: Spark's ``sequence(1, 0)`` infers step -1 and
    yields ``[1, 0]`` instead of an empty series."""
    bi = (f"case when size({toks}) >= 2 then "
          f"transform(sequence(1, size({toks}) - 1), "
          f"i -> concat(element_at({toks}, i), ' ', "
          f"element_at({toks}, i + 1))) "
          f"else array() end")
    return f"concat({toks}, {bi})"


def dsir_bucketed_sql(df: DataFrame, text_col: str, id_col: str | None,
                      buckets: int) -> DataFrame:
    """([id,] b): tokenize, explode unigrams + bigrams, md5 each gram,
    bucket = pmod(hash, buckets) — one row per gram occurrence."""
    _claim_col(df, "__pas_toks", "importance_weights")
    toked = df.withColumn("__pas_toks", F.expr(_tok(text_col)))
    ids = [F.col(id_col)] if id_col is not None else []
    ex = toked.select(*ids, F.explode(
        F.expr(_grams_expr("__pas_toks"))).alias("g"))
    return ex.select(*ids, F.pmod(F.expr(_h60("g")),
                                  F.lit(buckets)).alias("b"))
