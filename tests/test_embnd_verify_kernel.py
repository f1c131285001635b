"""r13 optimization pin: embedding_near_dup_pairs' bucket-local numpy
verify kernel is BIT-identical to the pre-r13 row-materialized SQL
formulation (kept as verify_kernel="sql").

The numpy kernel replicates Catalyst's fold exactly — f32 products
(zip_with rounds each FloatType product to f32) accumulated
left-to-right in f64, norms taken from the SAME Catalyst norm_expr
column — plus the filter's rules: a NaN cosine is dropped (the SQL
path filters ``isnan``, since Spark sorts NaN above every number) and
``nullif(na*nb, 0.0)`` drops zero-norm pairs.  This file pins those claims on an adversarial
fixture the real testdata doesn't exercise: dense planted near-dup
clusters (hundreds of surviving pairs), a zero vector, a NaN element,
exact duplicates (cosine at the 1.0 boundary), and an over-cap
boilerplate flood.
"""
import math
import random
import struct

import pytest

from pandas_alchemy_spark.ext import similarity as S

from conftest import SF_DIR  # noqa: F401  (session fixture helpers)


def _bits(v: float) -> bytes:
    return struct.pack("<d", v)


def _collect(df):
    rows = df.collect()
    keys = {(r["id_a"], r["id_b"]) for r in rows}
    assert len(keys) == len(rows), "duplicate pair rows"
    return {(r["id_a"], r["id_b"]): r["cosine"] for r in rows}


def _assert_bit_equal(got, want):
    assert set(got) == set(want), (
        f"pair sets differ: extra={sorted(set(got) - set(want))[:5]} "
        f"missing={sorted(set(want) - set(got))[:5]}")
    for k, v in want.items():
        g = got[k]
        if isinstance(v, float) and math.isnan(v):
            assert isinstance(g, float) and math.isnan(g), k
        else:
            assert _bits(g) == _bits(v), (k, g, v)


def _adversarial_df(spark, dim=8, seed=7):
    rng = random.Random(seed)

    def unit():
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    rows, vid = [], 0
    # 40 planted clusters of 4 near-copies -> dense true pairs, many
    # of them close to the threshold
    for _ in range(40):
        c = unit()
        for _ in range(4):
            eps = rng.uniform(0.0, 0.25)
            v = [a + rng.gauss(0, eps / math.sqrt(dim)) for a in c]
            rows.append((vid, [float(x) for x in v])); vid += 1
    # 60 background vectors
    for _ in range(60):
        rows.append((vid, unit())); vid += 1
    # exact duplicates (cosine bit-exactly at / near 1.0)
    d = unit()
    for _ in range(3):
        rows.append((vid, list(d))); vid += 1
    # a zero vector: nullif(na*nb, 0.0) must drop every pair it forms
    rows.append((vid, [0.0] * dim)); vid += 1
    # a NaN element: its cosines are NaN, and both kernels drop them
    rows.append((vid, [float("nan")] + [1.0] * (dim - 1))); vid += 1
    return spark.createDataFrame(rows, "vec_id long, "
                                       "embedding array<float>"), dim


@pytest.mark.parametrize("kwargs", [
    dict(planes=4, tables=6, threshold=0.8),
    dict(planes=3, tables=8, threshold=0.95),
    dict(planes="auto", tables=4, target_recall=None, threshold=0.5),
])
def test_numpy_kernel_bit_equals_sql(spark, kwargs):
    df, dim = _adversarial_df(spark)
    got = _collect(S.embedding_near_dup_pairs(
        df, dim=dim, verify_kernel="numpy", **kwargs))
    want = _collect(S.embedding_near_dup_pairs(
        df, dim=dim, verify_kernel="sql", **kwargs))
    assert len(want) > 50, "fixture must produce dense pairs"
    _assert_bit_equal(got, want)


def test_numpy_kernel_nan_and_zero_norm_semantics(spark):
    df, dim = _adversarial_df(spark)
    # fixture vid layout: 40*4 clusters (0..159), 60 background
    # (160..219), 3 exact dups (220..222), zero (223), NaN (224)
    zero_id, nan_id = 223, 224
    # force every vector into one bucket so the NaN/zero vectors pair
    # with everything: planes=1 gives 2 buckets per table
    got = _collect(S.embedding_near_dup_pairs(
        df, dim=dim, planes=1, tables=2, threshold=0.9,
        bucket_cap=None, verify_kernel="numpy"))
    want = _collect(S.embedding_near_dup_pairs(
        df, dim=dim, planes=1, tables=2, threshold=0.9,
        bucket_cap=None, verify_kernel="sql"))
    _assert_bit_equal(got, want)
    assert got, "the one-bucket geometry must still produce pairs"
    for pairs in (got, want):
        # the zero vector forms NO pairs (NULL cosine dropped), nor
        # does the NaN vector (NaN cosine dropped)
        assert not any(zero_id in k for k in pairs)
        assert not any(nan_id in k for k in pairs)
        assert not any(math.isnan(v) for v in pairs.values())


def test_numpy_kernel_bucket_cap_drops_flood(spark):
    df, dim = _adversarial_df(spark)
    flood = [(1000 + i, [1.0] * dim) for i in range(30)]
    df2 = df.unionAll(df.sparkSession.createDataFrame(
        flood, df.schema))
    kw = dict(planes=4, tables=6, threshold=0.8, bucket_cap=10)
    got = _collect(S.embedding_near_dup_pairs(
        df2, dim=dim, verify_kernel="numpy", **kw))
    want = _collect(S.embedding_near_dup_pairs(
        df2, dim=dim, verify_kernel="sql", **kw))
    _assert_bit_equal(got, want)
    # the 30-member identical flood over-caps every bucket it lands
    # in: neither kernel emits its pairs
    assert not any(k[0] >= 1000 and k[1] >= 1000 for k in got)


def test_numpy_kernel_rejects_unknown(spark):
    df, dim = _adversarial_df(spark)
    with pytest.raises(ValueError, match="verify_kernel"):
        S.embedding_near_dup_pairs(df, dim=dim, verify_kernel="blas")


def test_auto_rule_pure_function():
    """The auto dispatch is a pure function of (n, planes, tables):
    the committed A/B geometries land on the measured sides
    (AB_EMBND_VERIFY_r13.json: est 7.8k -> sql 0.64x, est 27.4M ->
    numpy 6.74x; the 0.3M-5.5M band measured a wash, so the floor
    sits inside it)."""
    choice = S._near_dup_verify_choice
    k, est = choice(2000, 10, 4)          # sf0.1 bench leg
    assert k == "sql" and est < S._NEAR_DUP_VERIFY_FLOOR
    k, est = choice(202063, 13, 11)       # doc-scale bench leg
    assert k == "numpy" and est > 20e6
    # monotone in n: once numpy, larger corpora stay numpy
    ns = [1000, 10_000, 100_000, 1_000_000]
    kinds = [choice(n, 13, 11)[0] for n in ns]
    assert kinds == sorted(kinds, key=lambda s: s == "numpy")


def test_auto_dispatch_matches_explicit(spark):
    df, dim = _adversarial_df(spark)
    kw = dict(planes=4, tables=6, threshold=0.8)
    auto = _collect(S.embedding_near_dup_pairs(
        df, dim=dim, verify_kernel="auto", **kw))
    sql = _collect(S.embedding_near_dup_pairs(
        df, dim=dim, verify_kernel="sql", **kw))
    _assert_bit_equal(auto, sql)
