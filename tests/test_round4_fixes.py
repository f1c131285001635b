"""Round-4 additions: Series.fillna, value_counts(normalize=) plan
shape, NTZ event timestamps, and the adapted TPC-H query block."""

from __future__ import annotations

import pandas as pd
import pytest

import pandas_alchemy_spark as pas


def test_series_fillna_scalar(spark):
    pdf = pd.DataFrame({"v": [1.0, None, 3.0, None]})
    s = pas.DataFrame.from_pandas(pdf).v.fillna(0.0)
    assert s.to_pandas().tolist() == [1.0, 0.0, 3.0, 0.0]


def test_series_fillna_composes_with_assign(spark):
    # lineage must survive fillna so assign stays a same-frame projection
    pdf = pd.DataFrame({"a": [1.0, None, 3.0], "b": [10.0, 20.0, 30.0]})
    df = pas.DataFrame.from_pandas(pdf)
    out = df.assign(c=df.a.fillna(-1.0) + df.b).to_pandas()
    want = pdf.assign(c=pdf.a.fillna(-1.0) + pdf.b)
    pd.testing.assert_frame_equal(out, want)


def test_value_counts_normalize_no_global_window(spark):
    o = pas.read_parquet("/root/testdata/sf0.001/orders.parquet")
    s = o.o_orderpriority.value_counts(normalize=True)
    from pandas_alchemy_spark.plans.audit import physical_plan
    plan = physical_plan(s.to_spark())
    assert "Window" not in plan
    got = s.to_pandas()
    assert abs(got.sum() - 1.0) < 1e-9


def test_events_ts_is_tz_timestamp(spark):
    from pandas_alchemy_spark.ext.events import load_events
    ev = load_events(spark, "/root/testdata/sf0.001/events.parquet")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    # unix_micros consumers (interval/as-of joins) must keep working
    from pyspark.sql import functions as F
    assert ev.select(F.unix_micros("ts")).first()[0] is not None


@pytest.mark.parametrize("qname", [
    "q7_volume", "q8_market_share", "q9_profit", "q13_distribution",
    "q14_promo", "q15_top_supplier", "q17_small_qty",
    "q22_rich_no_orders"])
def test_tpch_queries_run_small(spark, qname):
    import __spark_entry__ as E
    fn = getattr(E, qname)
    df = fn(spark, "/root/testdata/sf0.001")
    assert df.count() >= 0


def test_q13_includes_zero_order_customers(spark):
    import duckdb
    import __spark_entry__ as E
    sf = "/root/testdata/sf0.001"
    got = (E.q13_distribution(spark, sf).toPandas()
           .sort_values("n_orders").reset_index(drop=True))
    con = duckdb.connect()
    want = con.execute(f"""
        SELECT n_orders, count(*) AS n_custs FROM (
          SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
          FROM read_parquet('{sf}/customer.parquet') c
          LEFT JOIN read_parquet('{sf}/orders.parquet') o
            ON c.c_custkey = o.o_custkey
          GROUP BY 1)
        GROUP BY 1 ORDER BY 1""").fetchdf()
    assert got["n_orders"].tolist() == want["n_orders"].tolist()
    assert got["n_custs"].tolist() == want["n_custs"].tolist()


def test_series_ewm_global_scan_matches_pandas(spark):
    import numpy as np
    rng = np.random.default_rng(3)
    dense = rng.normal(10, 3, 5000).round(3)
    # 20% nulls, three of them leading: a null row repeats the last
    # mean, leading nulls stay NaN (pandas ignore_na=False)
    holes = rng.normal(0, 1, 400)
    holes[rng.random(400) < 0.2] = np.nan
    holes[:3] = np.nan
    for x, alpha in ((dense, 0.2), (holes, 0.3)):
        pdf = pd.DataFrame({"x": x})
        got = (pas.DataFrame.from_pandas(pdf).x.ewm(alpha=alpha)
               .mean().to_pandas())
        want = pdf.x.ewm(alpha=alpha, adjust=True).mean()
        assert (got.isna() == want.isna()).all()
        assert np.nanmax(np.abs(got.to_numpy() - want.to_numpy())) < 1e-10


def test_series_ewm_no_single_partition_window(spark):
    from pandas_alchemy_spark.plans.audit import physical_plan
    o = pas.read_parquet("/root/testdata/sf0.001/orders.parquet")
    s = o.set_index("o_orderkey").o_totalprice.ewm(alpha=0.3).mean()
    # the whole point of the segmented scan: no global Window
    assert "Window" not in physical_plan(s.to_spark())


def test_groupby_ewm_matches_pandas(spark):
    import numpy as np
    rng = np.random.default_rng(5)
    dense = pd.DataFrame({"g": rng.integers(0, 20, 2000),
                          "x": rng.normal(50, 9, 2000).round(2)})
    # 20% nulls, three of them leading, in four groups: a null row
    # repeats its group's last mean (at alpha=1 too), a leading null
    # stays NaN
    x = rng.normal(0, 1, 400)
    x[rng.random(400) < 0.2] = np.nan
    x[:3] = np.nan
    holes = pd.DataFrame({"g": rng.integers(0, 4, 400), "x": x})
    for pdf, alpha in ((dense, 0.4), (holes, 0.3), (holes, 1.0)):
        pdf.index.name = "i"
        df = pas.DataFrame.from_pandas(pdf.reset_index()).set_index("i")
        want = (pdf.sort_index().groupby("g")["x"].transform(
            lambda s: s.ewm(alpha=alpha, adjust=True).mean()))
        # the per-column form and the frame-level form
        for out in (df.groupby("g")["x"].ewm(alpha=alpha).mean(),
                    df.groupby("g").ewm(alpha).mean()["x"]):
            got = out.to_pandas().sort_index()
            assert (got.isna().to_numpy() == want.isna().to_numpy()).all()
            assert np.nanmax(np.abs(got.to_numpy()
                                    - want.to_numpy())) < 1e-9


def test_groupby_rolling_matches_pandas(spark):
    import numpy as np
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({"g": rng.integers(0, 8, 400),
                        "x": rng.normal(5, 2, 400).round(3)})
    pdf.index.name = "i"
    df = pas.DataFrame.from_pandas(pdf.reset_index()).set_index("i")
    got = df.groupby("g")["x"].rolling(3).mean().to_pandas().sort_index()
    want = (pdf.sort_index().groupby("g")["x"]
            .transform(lambda s: s.rolling(3).mean()))
    pd.testing.assert_series_equal(got, want, check_names=False)


def test_groupby_expanding_matches_pandas(spark):
    import numpy as np
    rng = np.random.default_rng(13)
    pdf = pd.DataFrame({"g": rng.integers(0, 8, 400),
                        "x": rng.normal(5, 2, 400).round(3)})
    pdf.index.name = "i"
    df = pas.DataFrame.from_pandas(pdf.reset_index()).set_index("i")
    got = df.groupby("g")["x"].expanding().sum().to_pandas().sort_index()
    want = (pdf.sort_index().groupby("g")["x"]
            .transform(lambda s: s.expanding().sum()))
    pd.testing.assert_series_equal(got, want, check_names=False)


def test_to_datetime_formats_and_coerce(spark):
    pdf = pd.DataFrame({"s": ["2021-03-04 05:06:07", "2022-12-31 23:59:59"],
                        "f": ["04/03/2021", "31/12/2022"],
                        "bad": ["2021-01-01 00:00:00", "not a date"]})
    df = pas.DataFrame.from_pandas(pdf)
    got = pas.to_datetime(df.s).to_pandas()
    want = pd.to_datetime(pdf.s)
    assert got.tolist() == want.tolist()
    got_f = pas.to_datetime(df.f, format="%d/%m/%Y").to_pandas()
    want_f = pd.to_datetime(pdf.f, format="%d/%m/%Y")
    assert got_f.tolist() == want_f.tolist()
    got_c = pas.to_datetime(df.bad, errors="coerce").to_pandas()
    assert got_c.isna().tolist() == [False, True]
    got_cf = pas.to_datetime(df.f, format="%d/%m/%Y",
                             errors="coerce").to_pandas()
    assert got_cf.isna().tolist() == [False, False]
    with pytest.raises(ValueError, match="errors"):
        pas.to_datetime(df.s, errors="ignore")


def test_at_label_scalar(spark):
    pdf = pd.DataFrame({"k": [10, 20, 30], "v": [1.5, 2.5, 3.5]})
    df = pas.DataFrame.from_pandas(pdf).set_index("k")
    assert df.at[20, "v"] == 2.5
    assert df.v.at[30] == 3.5
    with pytest.raises(KeyError):
        df.at[99, "v"]
    with pytest.raises(ValueError, match="scalar access"):
        df.at[20]
    dup = pas.DataFrame.from_pandas(
        pd.DataFrame({"k": [1, 1], "v": [5.0, 6.0]})).set_index("k")
    with pytest.raises(ValueError, match="scalar access"):
        dup.at[1, "v"]


def test_groupby_filter_matches_pandas(spark):
    pdf = pd.DataFrame({"g": ["a", "a", "b", "c", "c", "c"],
                        "x": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]})
    df = pas.DataFrame.from_pandas(pdf)
    got = (df.groupby("g").filter(lambda p: len(p) >= 2)
           .to_pandas().sort_index())
    want = pdf.groupby("g").filter(lambda p: len(p) >= 2)
    pd.testing.assert_frame_equal(got, want)
    got2 = (df.groupby("g").filter(lambda p: p.x.sum() > 5.0)
            .to_pandas().sort_index())
    want2 = pdf.groupby("g").filter(lambda p: p.x.sum() > 5.0)
    pd.testing.assert_frame_equal(got2, want2)


def test_from_spark_bridge(spark):
    sdf = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3], "v": [10.0, 20.0, 30.0]}))
    df = pas.from_spark(sdf)
    out = df.assign(w=df.v * 2)[df.k > 1].to_pandas()
    assert out["w"].tolist() == [40.0, 60.0]
    # with an index column promoted
    df2 = pas.from_spark(sdf, index=["k"])
    assert df2.at[2, "v"] == 20.0


def test_module_level_merge(spark):
    a = pas.DataFrame.from_pandas(pd.DataFrame({"k": [1, 2],
                                                "x": [10, 20]}))
    b = pas.DataFrame.from_pandas(pd.DataFrame({"k": [1, 3],
                                                "y": [7, 8]}))
    got = pas.merge(a, b, on="k").to_pandas()
    want = pd.merge(pd.DataFrame({"k": [1, 2], "x": [10, 20]}),
                    pd.DataFrame({"k": [1, 3], "y": [7, 8]}), on="k")
    pd.testing.assert_frame_equal(got, want)


def test_nunique_approx_hll(spark):
    o = pas.read_parquet("/root/testdata/sf0.001/orders.parquet")
    exact = o.o_custkey.nunique()
    approx = o.o_custkey.nunique(approx=True, rsd=0.02)
    assert abs(approx - exact) / exact < 0.1


def test_sample_stratified_deterministic_and_oracle(spark):
    import duckdb
    o = pas.read_parquet("/root/testdata/sf0.01/orders.parquet")
    fracs = {"1-URGENT": 0.5, "5-LOW": 0.1}
    s = o.sample_stratified(fracs, by="o_orderpriority", key="o_orderkey")
    got = (s.to_spark(index=False).groupBy("o_orderpriority").count()
           .toPandas().set_index("o_orderpriority")["count"].to_dict())
    # engine-portable: DuckDB computes the identical md5 buckets
    con = duckdb.connect()
    want = con.execute("""
        SELECT o_orderpriority, count(*) FROM
          read_parquet('/root/testdata/sf0.01/orders.parquet')
        WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT
              < CASE o_orderpriority
                  WHEN '1-URGENT' THEN CAST(0.5 * 2**60 AS BIGINT)
                  WHEN '5-LOW' THEN CAST(0.1 * 2**60 AS BIGINT)
                END
        GROUP BY 1""").fetchall()
    assert got == dict(want)
    # unlisted strata fully dropped; listed strata near their fracs
    assert set(got) == {"1-URGENT", "5-LOW"}
    n_urgent = con.execute("""
        SELECT count(*) FROM
        read_parquet('/root/testdata/sf0.01/orders.parquet')
        WHERE o_orderpriority = '1-URGENT'""").fetchone()[0]
    assert abs(got["1-URGENT"] / n_urgent - 0.5) < 0.05
