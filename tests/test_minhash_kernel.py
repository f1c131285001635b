"""Differential pins for the Arrow md5-MinHash kernel
(`ext.dedup._minhash_base`) against the codegen SQL formulation it
replaced (`tests/sql_oracles.minhash_base_sql`).

The kernel must reproduce the SQL pipeline BIT-FOR-BIT: same
tokenizer (regex/lower/split/filter), same shingle geometry
(sequence/slice/concat_ws, multiset), same 60-bit md5 reduction, same
K affine minima.  `hs` comes back sorted (deterministic) where
collect_set was partition-order-dependent, so comparisons sort both
sides.
"""
from __future__ import annotations

import pytest

from pandas_alchemy_spark.ext import dedup, pipeline
from tests.sql_oracles import minhash_base_sql

# adversarial corpus: empty text, punctuation-only, NULL, non-ASCII
# (mixed scripts and an emoji — the tokenizer strips them to spaces),
# docs shorter than the shingle width, exact duplicates, repeated
# shingles inside one doc (multiset vs set), single token, numerals,
# mixed case, and a long document
_DOCS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, ""),
    (3, "!!! ... ---"),
    (4, None),
    (5, "naïve café déjà-vu ÉLAN"),
    (6, "日本語のテキスト and some ascii"),
    (7, "short doc"),
    (8, "one"),
    (9, "The quick brown fox jumps over the lazy dog"),
    (10, "a b a b a b a b a b a b"),
    (11, "Mixed CASE Tokens 123 456 mixed case tokens 123 456"),
    (12, "🙂 emoji 🙂 split 🙂 test"),
    (13, " ".join(f"tok{i % 37}" for i in range(400))),
    (14, "trailing space   "),
    (15, "42"),
]


def _canon(rows, id_col="doc_id"):
    return sorted((r[id_col], tuple(r["signature"]),
                   tuple(sorted(r["hs"]))) for r in rows)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


@pytest.mark.parametrize("num_hashes,shingle_n", [(16, 3), (8, 1),
                                                  (32, 5)])
def test_kernel_bit_identical_to_sql(spark, docs, num_hashes,
                                     shingle_n):
    sql = minhash_base_sql(docs, "text", "doc_id", num_hashes,
                           shingle_n).collect()
    ker = dedup._minhash_base(docs, "text", "doc_id", num_hashes,
                              shingle_n).collect()
    assert _canon(sql) == _canon(ker)
    # tokenless docs (2, 3) must be ABSENT from both (explode over an
    # empty shingle array); the NULL-text doc (4) must be PRESENT
    # with the single md5("") hash — the SQL pipeline's exact quirk
    # (greatest(NULL, 0) slips the size guard), replicated verbatim
    ids = {r["doc_id"] for r in ker}
    assert ids == {1, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15}
    null_row = [r for r in ker if r["doc_id"] == 4][0]
    assert list(null_row["hs"]) == [955282973525019424]


def test_kernel_hs_sorted_distinct(spark, docs):
    for r in dedup._minhash_base(docs, "text", "doc_id", 8,
                                 3).collect():
        assert list(r["hs"]) == sorted(set(r["hs"]))


def test_kernel_string_ids_and_schema(spark):
    sdf = spark.createDataFrame(
        [("a", "alpha beta gamma delta"), ("b", "beta gamma")],
        "k string, body string")
    out = dedup._minhash_base(sdf, "body", "k", 4, 2)
    assert [f.name for f in out.schema.fields] == ["k", "signature",
                                                   "hs"]
    assert out.schema["k"].dataType.simpleString() == "string"
    sql = minhash_base_sql(sdf, "body", "k", 4, 2)
    assert _canon(out.collect(), "k") == _canon(sql.collect(), "k")


# every public signature operator, called the way an old caller would
_SIGNATURE_OPS = {
    "minhash_signature": lambda d, **kw: dedup.minhash_signature(
        d, num_hashes=8, **kw),
    "minhash_lsh_pairs": lambda d, **kw: dedup.minhash_lsh_pairs(
        d, num_hashes=8, bands=4, **kw),
    "simhash_signature": lambda d, **kw: dedup.simhash_signature(
        d, **kw),
    "simhash_pairs": lambda d, **kw: dedup.simhash_pairs(d, **kw),
    "cross_dedup_pairs": lambda d, **kw: dedup.cross_dedup_pairs(
        d, d, num_hashes=8, bands=4, **kw),
    "dedup_against": lambda d, **kw: dedup.dedup_against(
        d, d, num_hashes=8, bands=4, **kw),
    "build_reference_index": lambda d, **kw: dedup.build_reference_index(
        d, num_hashes=8, bands=4, materialize=False, **kw).ref_sets,
    "importance_weights": lambda d, **kw: pipeline.importance_weights(
        d, d, buckets=64, **kw),
}


@pytest.mark.parametrize("op", sorted(_SIGNATURE_OPS))
def test_fast_hash_is_deprecated_and_ignored(spark, docs, op):
    # one transport per signature operator: the keyword warns and the
    # plan is the md5 Arrow kernel, never the xxhash64 SQL pipeline
    with pytest.warns(DeprecationWarning, match="fast_hash"):
        out = _SIGNATURE_OPS[op](docs, fast_hash=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "xxhash64" not in plan.lower()


def test_md5_path_plan_is_one_arrow_pass(spark, docs):
    out = dedup._minhash_base(docs, "text", "doc_id", 8, 3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "HashAggregate" not in plan
    assert "Generate" not in plan  # no explode


def test_lsh_pairs_identical_through_public_api(spark, docs):
    # end-to-end: pairs + jaccard through minhash_lsh_pairs must be
    # identical whichever transport computed the base
    import pandas_alchemy_spark.ext.dedup as dd
    real = dd._minhash_base
    try:
        dd._minhash_base = minhash_base_sql
        want = sorted(map(tuple, dd.minhash_lsh_pairs(
            docs, num_hashes=16, bands=4,
            threshold=0.3).collect()))
    finally:
        dd._minhash_base = real
    got = sorted(map(tuple, dd.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, threshold=0.3).collect()))
    assert want == got
    assert got  # the exact-duplicate pair (1, 9) must be present
    assert any(r[0] == 1 and r[1] == 9 for r in got)
