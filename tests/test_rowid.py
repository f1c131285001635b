"""Positional access: the id-bit rowid against its Window + broadcast-join
predecessor, the lazy ``tail``, count-free ``iat`` and negative
``head``/``tail``."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import DataFrame as SparkDF, Window
from pyspark.sql import functions as F

import pandas_alchemy_spark as pas
from pandas_alchemy_spark.operators.rowid import with_rowid
from pandas_alchemy_spark.plans import physical_plan
from tests.conftest import SF_DIR, jobs_started_by

_PART = "__pa_part"
_LOCAL = "__pa_local_rn"
_OFFSET = "__pa_part_offset"


def _with_rowid_window(sdf, name):
    """The partition-offset rowid as it was before the id-bit form:
    per-partition row_number window, counts collect, broadcast join of
    the offsets.  Kept as the oracle."""
    part = sdf.withColumn(_PART, F.spark_partition_id()).withColumn(
        _LOCAL,
        F.row_number().over(
            Window.partitionBy(_PART).orderBy(F.monotonically_increasing_id())
        ),
    )
    # O(#partitions) rows: safe to collect on any cluster size.
    counts = part.groupBy(_PART).count().collect()
    offsets, acc = {}, 0
    for row in sorted(counts, key=lambda r: r[_PART]):
        offsets[row[_PART]] = acc
        acc += row["count"]
    spark = sdf.sparkSession
    offset_df = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], f"{_PART} int, {_OFFSET} long"
    )
    return (
        part.join(F.broadcast(offset_df), _PART)
        .withColumn(name, (F.col(_LOCAL).cast("long") - 1 + F.col(_OFFSET)))
        .drop(_PART, _LOCAL, _OFFSET)
    )


def _inputs(spark):
    base = spark.range(0, 500).withColumn("v", (F.col("id") * 7919) % 503)
    return {
        "repartition7": base.repartition(7),
        "emptied_partitions": spark.range(0, 400, numPartitions=8)
        .filter((F.col("id") < 50) | (F.col("id") >= 300)),
        "zero_rows": base.filter(F.col("id") < 0),
        "post_groupby": base.groupBy((F.col("v") % 37).alias("k"))
        .agg(F.count("*").alias("n")).withColumnRenamed("k", "id"),
        "sorted": base.repartition(5).orderBy(F.col("v").desc(), "id"),
        "tiny_partitions": spark.range(0, 600, numPartitions=300),
    }


@pytest.mark.parametrize("case", ["repartition7", "emptied_partitions",
                                  "zero_rows", "post_groupby", "sorted",
                                  "tiny_partitions"])
def test_with_rowid_matches_window_oracle(spark, case):
    sdf = _inputs(spark)[case]
    got = sorted(tuple(r) for r in
                 with_rowid(sdf, "rid").select("rid", "id").collect())
    want = sorted(tuple(r) for r in
                  _with_rowid_window(sdf, "rid").select("rid", "id").collect())
    assert got == want
    assert [r[0] for r in got] == list(range(len(got)))


def test_with_rowid_plan_is_narrow(spark):
    scan = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    for sdf in (scan, spark.range(0, 600, numPartitions=300)):
        plan = physical_plan(with_rowid(sdf, "rid"))
        for node in ("Exchange", "Window", "BroadcastHashJoin"):
            assert node not in plan, plan


def test_with_rowid_literal_follows_frame_shape(spark):
    # few large partitions: the offsets as an array literal; many tiny
    # ones: as binary text, which each task copies instead of unboxing
    wide = physical_plan(
        with_rowid(spark.range(0, 10_000, numPartitions=4), "rid"))
    tiny = physical_plan(
        with_rowid(spark.range(0, 600, numPartitions=300), "rid"))
    assert "element_at" in wide and "substr" not in wide
    assert "substr" in tiny and "element_at" not in tiny


# -- negative head / tail ------------------------------------------------


@pytest.mark.parametrize("n", [0, 3, -3, 25, 30, -25, -30])
def test_head_tail_any_sign_match_pandas(spark, n):
    po = pd.read_parquet(f"{SF_DIR}/nation.parquet")
    df = pas.read_parquet(f"{SF_DIR}/nation.parquet")
    kw = dict(check_dtype=False, check_index_type=False)
    pd.testing.assert_frame_equal(df.head(n).to_pandas(), po.head(n), **kw)
    pd.testing.assert_frame_equal(df.tail(n).to_pandas(), po.tail(n), **kw)
    s, ps = df.n_name, po.n_name
    pd.testing.assert_series_equal(s.head(n).to_pandas(), ps.head(n), **kw)
    pd.testing.assert_series_equal(s.tail(n).to_pandas(), ps.tail(n), **kw)


# -- no count pass ---------------------------------------------------------


@pytest.fixture
def no_count(spark, monkeypatch):
    def refuse(self):
        raise AssertionError("DataFrame.count() called")
    # the session hands out a subclass that overrides count()
    for cls in {SparkDF, type(spark.range(1))}:
        monkeypatch.setattr(cls, "count", refuse)


def test_sort_tail_without_count_one_file(spark, no_count):
    po = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    o = pas.read_parquet(f"{SF_DIR}/orders.parquet")
    by = ["o_totalprice", "o_orderkey"]
    got = o.sort_values(by).tail(7).to_pandas()
    pd.testing.assert_frame_equal(got, po.sort_values(by).tail(7),
                                  check_dtype=False, check_index_type=False)


def test_sort_tail_without_count_multi_partition(spark, no_count):
    po = pd.read_parquet(f"{SF_DIR}/orders.parquet").set_index("o_custkey")
    sdf = spark.read.parquet(f"{SF_DIR}/orders.parquet").repartition(5)
    o = pas.from_spark(sdf, index="o_custkey")
    by = ["o_totalprice", "o_orderkey"]
    got = o.sort_values(by).tail(9).to_pandas()
    pd.testing.assert_frame_equal(got, po.sort_values(by).tail(9),
                                  check_dtype=False, check_index_type=False)


def test_iat_without_count(spark, no_count):
    po = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    o = pas.read_parquet(f"{SF_DIR}/orders.parquet")
    for r, c in [(0, 0), (3, 2), (777, 4), (1499, 1)]:
        assert o.iat[r, c] == po.iat[r, c]
    assert o.o_totalprice.iat[42] == po.o_totalprice.iat[42]
    cut = o[o.o_totalprice > 100_000]
    pcut = po[po.o_totalprice > 100_000]
    assert cut.iat[11, 3] == pcut.iat[11, 3]


def test_iat_out_of_range_message(spark):
    o = pas.read_parquet(f"{SF_DIR}/nation.parquet")
    with pytest.raises(IndexError, match="index 25 is out of bounds for "
                                         "axis 0 with size 25"):
        o.iat[25, 0]
    with pytest.raises(IndexError, match="index -26 is out of bounds for "
                                         "axis 0 with size 25"):
        o.n_name.iat[-26]
    assert o.iat[-25, 1] == pd.read_parquet(
        f"{SF_DIR}/nation.parquet").iat[0, 1]


def test_tail_runs_no_job_in_the_verb(spark):
    o = pas.read_parquet(f"{SF_DIR}/orders.parquet")
    (sorted_tail, dense_tail), jobs = jobs_started_by(
        spark, "lazy-tail",
        lambda: (o.sort_values(["o_totalprice", "o_orderkey"]).tail(5),
                 o.tail(5)))
    assert jobs == []
    assert "TakeOrderedAndProject" in physical_plan(sorted_tail)
    assert "TakeOrderedAndProject" in physical_plan(dense_tail)


def test_tail_after_rank_on_multi_file_scan(spark, tmp_path):
    # a multi-file scan has a monotonic mid; rank() reorders the plan,
    # so tail must number rows in index order, not plan order.  Spark
    # chooses the scan's file order, so compare with our own export.
    po = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    po.iloc[:700].to_parquet(tmp_path / "part-0.parquet")
    po.iloc[700:].to_parquet(tmp_path / "part-1.parquet")
    rk = pas.read_parquet(str(tmp_path)).o_totalprice.rank(method="first")
    assert rk._mid_index and not rk._mid_dense
    pd.testing.assert_series_equal(rk.tail(4).to_pandas(),
                                   rk.to_pandas().tail(4), check_dtype=False)


# -- tail under repeated labels, inplace negative n -------------------------


@pytest.mark.parametrize("k", [1, 2, 5, 8])
def test_tail_after_explode_follows_plan_order(spark, k):
    # explode repeats the default-index labels: the last rows are the
    # last in plan order, not the largest labels
    ps = pd.Series([[3 * i, 3 * i + 1, 3 * i + 2] for i in range(6)])
    got = pas.Series.from_pandas(ps).explode().tail(k).to_pandas()
    want = ps.explode().tail(k)
    assert got.tolist() == want.tolist()
    assert got.index.tolist() == want.index.tolist()


@pytest.mark.parametrize("k", [1, 3, 5])
def test_tail_after_concat_follows_plan_order(spark, k):
    a = pd.DataFrame({"x": range(5)})
    b = pd.DataFrame({"x": range(10, 15)})
    got = pas.concat([pas.DataFrame.from_pandas(a),
                      pas.DataFrame.from_pandas(b)]).tail(k).to_pandas()
    pd.testing.assert_frame_equal(got, pd.concat([a, b]).tail(k),
                                  check_dtype=False, check_index_type=False)


def _concat_parts():
    a = pd.DataFrame({"t": list("abcde"), "x": [3.0, 1.0, 4.0, 1.5, 9.0]})
    b = pd.DataFrame({"t": list("vwxyz"), "x": [2.0, 7.0, 1.0, 8.0, 2.5]})
    return a, b


@pytest.mark.parametrize("k", [None, 3, 5, 7])
def test_concat_of_default_index_frames_is_part_major(spark, k):
    # both parts hold the labels 0..4: export and tail follow part-major
    # plan order, never a re-sort by the repeated labels
    a, b = _concat_parts()
    got = pas.concat([pas.DataFrame.from_pandas(a),
                      pas.DataFrame.from_pandas(b)])
    want = pd.concat([a, b])
    if k is not None:
        got, want = got.tail(k), want.tail(k)
    pd.testing.assert_frame_equal(got.to_pandas(), want,
                                  check_dtype=False, check_index_type=False)


@pytest.mark.parametrize("ignore_index", [False, True])
def test_concat_part_keeps_its_own_export_order(spark, ignore_index):
    # rank() sorts the first part's plan by value; the part still joins
    # the union in the order its own export shows
    a, b = _concat_parts()
    ranked = pas.DataFrame.from_pandas(a).x.rank().to_frame()
    got = pas.concat([ranked, pas.DataFrame.from_pandas(b[["x"]])],
                     ignore_index=ignore_index).to_pandas()
    want = pd.concat([a.x.rank().to_frame(), b[["x"]]],
                     ignore_index=ignore_index)
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_index_type=False)


@pytest.mark.parametrize("verb,n", [("head", -2), ("tail", -2),
                                    ("head", 2), ("tail", 2)])
def test_head_tail_inplace_any_sign(spark, verb, n):
    pdf = pd.DataFrame({"x": range(5)})
    df = pas.DataFrame.from_pandas(pdf)
    assert getattr(df, verb)(n, inplace=True) is None
    pd.testing.assert_frame_equal(df.to_pandas(), getattr(pdf, verb)(n),
                                  check_dtype=False, check_index_type=False)
