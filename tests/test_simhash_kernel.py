"""Differential pins for the Arrow md5-SimHash kernel
(`ext.dedup.simhash_signature`) against the codegen SQL formulation
it replaced (`tests/sql_oracles.simhash_signature_sql`).
Same discipline as test_minhash_kernel.py: the kernel must reproduce
the SQL pipeline bit-for-bit (same tokenizer, same 60-bit md5, same
per-occurrence majority votes, same packing)."""
from __future__ import annotations

import pytest

from pandas_alchemy_spark.ext import dedup
from tests.sql_oracles import simhash_signature_sql

_DOCS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, ""),
    (3, "!!! ... ---"),
    (4, None),
    (5, "naïve café déjà-vu ÉLAN"),
    (6, "日本語のテキスト and some ascii"),
    (7, "one"),
    (8, "The quick brown fox jumps over the lazy dog"),
    (9, "a b a b a b a b a b a b"),  # multiset weights matter
    (10, "Mixed CASE Tokens 123 456 mixed case tokens 123 456"),
    (11, "🙂 emoji 🙂 split 🙂 test"),
    (12, " ".join(f"tok{i % 37}" for i in range(400))),
    (13, "tie tie vote vote"),  # even-split votes exercise s_b == 0
    (14, "42"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


def test_kernel_bit_identical_to_sql(spark, docs):
    sql = sorted((r["doc_id"], r["sh"]) for r in
                 simhash_signature_sql(
                     docs, "text", "doc_id", 60).collect())
    ker = sorted((r["doc_id"], r["sh"]) for r in
                 dedup.simhash_signature(docs).collect())
    assert sql == ker
    # tokenless AND NULL-text docs are absent on this path (explode
    # over an empty/NULL token array — no shingle-style CASE guard,
    # so NULL drops here, unlike the minhash pipeline)
    assert {i for i, _ in ker} == {1, 5, 6, 7, 8, 9, 10, 11, 12, 13,
                                   14}


def test_kernel_narrow_bits(spark, docs):
    sql = sorted((r["doc_id"], r["sh"]) for r in
                 simhash_signature_sql(
                     docs, "text", "doc_id", 12).collect())
    ker = sorted((r["doc_id"], r["sh"]) for r in
                 dedup.simhash_signature(docs, bits=12).collect())
    assert sql == ker
    assert all(0 <= sh < (1 << 12) for _, sh in ker)


def test_md5_path_plan_is_one_arrow_pass(spark, docs):
    plan = dedup.simhash_signature(docs) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "HashAggregate" not in plan
    assert "Generate" not in plan


def test_simhash_pairs_identical_through_public_api(spark, docs):
    import pandas_alchemy_spark.ext.dedup as dd
    real = dd.simhash_signature

    def sql_sig(df, text_col="text", id_col="doc_id", bits=60):
        return simhash_signature_sql(df, text_col, id_col, bits)
    try:
        dd.simhash_signature = sql_sig
        want = sorted(map(tuple, dd.simhash_pairs(
            docs, max_hamming=8).collect()))
    finally:
        dd.simhash_signature = real
    got = sorted(map(tuple, dd.simhash_pairs(
        docs, max_hamming=8).collect()))
    assert want == got
    assert any(r[0] == 1 and r[1] == 8 for r in got)  # exact copies
