"""Differential pins for the Arrow DSIR feature-bucketing kernel
(`ext.pipeline._dsir_bucket_kernel`) against the codegen explode
formulation it replaced (`tests/sql_oracles.dsir_bucketed_sql`) —
exact BIGINT bucket counts, so `importance_weights`' model
joins and logw fold compute from identical inputs."""
from __future__ import annotations

from pyspark.sql import functions as F

from pandas_alchemy_spark.ext import pipeline
from tests.sql_oracles import dsir_bucketed_sql

_DOCS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, ""),
    (3, "!!! ... ---"),
    (4, None),
    (5, "naïve café déjà-vu ÉLAN"),
    (6, "one"),
    (7, "a b a b a b a b"),
    (8, "Mixed CASE 123 456 mixed case 123 456"),
    (9, " ".join(f"tok{i % 37}" for i in range(300))),
    (10, "The quick brown fox jumps over the lazy dog"),
]


def _docs(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


def test_per_doc_counts_bit_identical(spark):
    docs = _docs(spark)
    sql = (dsir_bucketed_sql(docs, "text", "doc_id", 4096)
           .groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
           .collect())
    ker = pipeline._dsir_bucket_kernel(docs, "text", "doc_id",
                                       4096).collect()
    assert sorted(map(tuple, sql)) == sorted(map(tuple, ker))
    # NULL/tokenless docs absent, like explode over an empty array
    assert {r["doc_id"] for r in ker} == {1, 5, 6, 7, 8, 9, 10}


def test_target_totals_bit_identical(spark):
    docs = _docs(spark)
    sql = (dsir_bucketed_sql(docs, "text", None, 512)
           .groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect())
    ker = (pipeline._dsir_bucket_kernel(docs, "text", None, 512)
           .groupBy("b").agg(F.sum("c").alias("c")).collect())
    assert sorted(map(tuple, sql)) == sorted(map(tuple, ker))


def test_importance_weights_values_unchanged(spark):
    # end to end: md5 kernel vs the old md5 SQL bucketing, logw and
    # n_grams equal on the driver's checksum grid (the fold itself is
    # unchanged SQL over identical exact-integer inputs, so values
    # are bit-equal - assert exactly)
    docs = _docs(spark)
    target = docs.filter("doc_id % 2 = 0")
    got = {r["doc_id"]: (r["n_grams"], r["logw"]) for r in
           pipeline.importance_weights(docs, target,
                                       buckets=512).collect()}
    real_kernel = pipeline._dsir_bucket_kernel
    try:
        # force the old md5 SQL transport through the kernel seam
        def sql_transport(df, text_col, id_col, buckets):
            base = dsir_bucketed_sql(df, text_col, id_col, buckets)
            if id_col is None:
                return (base.groupBy("b")
                        .agg(F.count(F.lit(1)).alias("c")))
            return (base.groupBy(id_col, "b")
                    .agg(F.count(F.lit(1)).alias("c")))
        pipeline._dsir_bucket_kernel = sql_transport
        want = {r["doc_id"]: (r["n_grams"], r["logw"]) for r in
                pipeline.importance_weights(docs, target,
                                            buckets=512).collect()}
    finally:
        pipeline._dsir_bucket_kernel = real_kernel
    assert got == want


def test_md5_path_plan_is_arrow(spark):
    docs = _docs(spark)
    plan = pipeline._dsir_bucket_kernel(
        docs, "text", "doc_id", 4096)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Generate" not in plan
