"""Differential tests for the distributed global cum*/rank segmented
scan (operators/segscan) — multi-partition inputs so the carry fold
and tie co-location actually engage (the 8-row fixtures in
test_analytic land in one partition)."""
from __future__ import annotations

import numpy as np
import pandas as pd
import pandas.testing as pdt
import pytest

import pandas_alchemy_spark as pas

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders_pdf():
    return (pd.read_parquet(f"{SF_DIR}/orders.parquet")
            .sort_values("o_orderkey").set_index("o_orderkey"))


@pytest.fixture(scope="module")
def orders(spark):
    return pas.read_parquet(f"{SF_DIR}/orders.parquet").set_index(
        "o_orderkey")


def _eq(ours, want, **kw):
    got = ours.to_pandas().sort_index()
    want = want.sort_index()
    want.name = got.name
    pdt.assert_series_equal(got, want, check_dtype=False,
                            check_index_type=False, **kw)


def test_cumsum_multi_partition(orders, orders_pdf):
    # float: the segmented fold regroups additions, so allow last-ulp
    _eq(orders["o_totalprice"].cumsum(),
        orders_pdf["o_totalprice"].cumsum(), rtol=1e-12)


def test_cumsum_integer_exact(orders, orders_pdf):
    _eq(orders["o_custkey"].cumsum(), orders_pdf["o_custkey"].cumsum())


def test_cummax_cummin_multi_partition(orders, orders_pdf):
    _eq(orders["o_totalprice"].cummax(),
        orders_pdf["o_totalprice"].cummax())
    _eq(orders["o_totalprice"].cummin(),
        orders_pdf["o_totalprice"].cummin())


def test_cumsum_null_holes_multi_partition(spark):
    rng = np.random.default_rng(7)
    v = rng.normal(size=5000)
    v[rng.integers(0, 5000, 400)] = np.nan
    pdf = pd.DataFrame({"v": v})
    df = pas.DataFrame.from_pandas(pdf)
    _eq(df.v.cumsum(), pdf.v.cumsum(), rtol=1e-12)


def test_cumprod_multi_partition(spark):
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({"v": rng.uniform(0.99, 1.01, size=3000)})
    df = pas.DataFrame.from_pandas(pdf)
    _eq(df.v.cumprod(), pdf.v.cumprod(), rtol=1e-10)


@pytest.mark.parametrize("method", ["min", "first", "dense",
                                    "average", "max"])
@pytest.mark.parametrize("ascending", [True, False])
def test_rank_all_methods_multi_partition(orders, orders_pdf, method,
                                          ascending):
    # o_custkey is duplicate-heavy -> ties MUST be co-located for
    # min/dense/average/max; 'first' spreads them on the tiebreak
    _eq(orders["o_custkey"].rank(method=method, ascending=ascending),
        orders_pdf["o_custkey"].rank(method=method, ascending=ascending))


def test_rank_with_nulls_multi_partition(spark):
    rng = np.random.default_rng(3)
    v = rng.integers(0, 50, size=4000).astype("float64")
    v[rng.integers(0, 4000, 300)] = np.nan
    pdf = pd.DataFrame({"v": v})
    df = pas.DataFrame.from_pandas(pdf)
    for method in ("min", "dense", "average"):
        _eq(df.v.rank(method=method), pdf.v.rank(method=method))


def test_rank_invalid_method_raises(orders):
    with pytest.raises(ValueError, match="method"):
        orders["o_custkey"].rank(method="bogus")


def test_expanding_multi_partition(orders, orders_pdf):
    for agg in ("sum", "mean", "max", "min", "count"):
        got = (getattr(orders["o_totalprice"].expanding(), agg)()
               .to_pandas().sort_index())
        want = getattr(orders_pdf["o_totalprice"].expanding(), agg)()
        want.name = got.name
        pdt.assert_series_equal(got, want.sort_index(),
                                check_dtype=False,
                                check_index_type=False, rtol=1e-12)


def test_expanding_nulls_and_min_periods(spark):
    rng = np.random.default_rng(13)
    v = rng.normal(size=4000)
    v[rng.integers(0, 4000, 500)] = np.nan
    v[:7] = np.nan  # leading nulls cross the gate logic
    pdf = pd.DataFrame({"v": v})
    df = pas.DataFrame.from_pandas(pdf)
    for agg in ("sum", "mean", "max", "count"):
        got = (getattr(df.v.expanding(min_periods=3), agg)()
               .to_pandas().sort_index())
        want = getattr(pdf.v.expanding(min_periods=3), agg)()
        want.name = got.name
        pdt.assert_series_equal(got, want, check_dtype=False,
                                check_index_type=False, rtol=1e-12)


def test_expanding_no_single_partition_window(spark, orders):
    from pandas_alchemy_spark.plans import physical_plan
    s = orders["o_totalprice"].expanding().sum()
    plan = physical_plan(s.to_spark())
    assert "SinglePartition" not in plan
    assert "Window" not in plan


@pytest.fixture()
def tiny_arrow_batches(spark):
    """Force partitions to span MULTIPLE Arrow batches (default batch =
    10k rows hid a real bug: pass B restarted the scan at every batch
    boundary, so any partition over 10k rows came out wrong)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, "10000")
    spark.conf.set(key, "64")
    yield
    spark.conf.set(key, old)


def test_cum_scans_span_arrow_batches(spark, tiny_arrow_batches):
    rng = np.random.default_rng(23)
    v = rng.normal(size=4000)
    v[rng.integers(0, 4000, 300)] = np.nan
    pdf = pd.DataFrame({"v": v})
    df = pas.DataFrame.from_pandas(pdf)
    # 4000 rows / 32 partitions = 125 rows/partition = 2 batches at 64
    _eq(df.v.cumsum(), pdf.v.cumsum(), rtol=1e-12)
    _eq(df.v.cummax(), pdf.v.cummax())
    _eq(df.v.cummin(), pdf.v.cummin())


def test_rank_spans_arrow_batches(spark, tiny_arrow_batches):
    # duplicate-heavy so tie groups straddle batch boundaries inside a
    # partition — average/max ranks need the whole tie group
    rng = np.random.default_rng(29)
    pdf = pd.DataFrame({"v": rng.integers(0, 40, size=4000)})
    df = pas.DataFrame.from_pandas(pdf)
    for method in ("min", "dense", "average", "max", "first"):
        _eq(df.v.rank(method=method), pdf.v.rank(method=method))


def test_rank_streaming_pass_b_variants(spark, tiny_arrow_batches):
    """The r7 streaming pass B (tie-group buffering instead of
    whole-partition concat): descending, nulls, pct, and a GIANT tie
    group spanning many batches all stay exact."""
    rng = np.random.default_rng(37)
    v = rng.integers(0, 8, size=4000).astype("float64")
    v[rng.integers(0, 4000, 500)] = np.nan  # nulls sort last
    pdf = pd.DataFrame({"v": v})
    df = pas.DataFrame.from_pandas(pdf)
    for method in ("min", "dense", "average", "max", "first"):
        _eq(df.v.rank(method=method), pdf.v.rank(method=method))
        _eq(df.v.rank(method=method, ascending=False),
            pdf.v.rank(method=method, ascending=False))
        _eq(df.v.rank(method=method, pct=True),
            pdf.v.rank(method=method, pct=True), rtol=1e-12)
    # one value holding 60% of rows: the tie group spans dozens of
    # 64-row batches — the buffer holds a tie group, never explodes
    w = rng.integers(0, 5, size=4000).astype("float64")
    w[rng.random(4000) < 0.6] = 2.0
    pdf2 = pd.DataFrame({"v": w})
    df2 = pas.DataFrame.from_pandas(pdf2)
    for method in ("average", "max", "min", "dense"):
        _eq(df2.v.rank(method=method), pdf2.v.rank(method=method))


def test_expanding_spans_arrow_batches(spark, tiny_arrow_batches):
    rng = np.random.default_rng(31)
    v = rng.normal(size=4000)
    v[rng.integers(0, 4000, 400)] = np.nan
    pdf = pd.DataFrame({"v": v})
    df = pas.DataFrame.from_pandas(pdf)
    for agg in ("sum", "mean", "max", "min", "count"):
        got = (getattr(pdf.v.expanding(min_periods=2), agg)())
        _eq(getattr(df.v.expanding(min_periods=2), agg)(), got,
            rtol=1e-12)


# ------------------------------------------------------------------ borders


@pytest.fixture(scope="module")
def noisy_pdf():
    rng = np.random.default_rng(41)
    v = rng.normal(size=6000) * 100
    v[rng.integers(0, 6000, 500)] = np.nan
    v[:5] = np.nan  # leading nulls cross the ffill carry logic
    v[-5:] = np.nan  # trailing nulls cross the bfill carry logic
    return pd.DataFrame({"v": v})


@pytest.fixture(scope="module")
def noisy(noisy_pdf, spark):
    return pas.DataFrame.from_pandas(noisy_pdf)


@pytest.mark.parametrize("periods", [1, 3, -2, 40])
def test_shift_multi_partition(noisy, noisy_pdf, periods):
    # 6000 rows / 32 partitions: every partition needs neighbor rows
    _eq(noisy.v.shift(periods), noisy_pdf.v.shift(periods))


def test_shift_fill_value_multi_partition(noisy, noisy_pdf):
    _eq(noisy.v.shift(2, fill_value=-1.5),
        noisy_pdf.v.shift(2, fill_value=-1.5))


def test_shift_integer_exact(orders, orders_pdf):
    _eq(orders["o_custkey"].shift(3), orders_pdf["o_custkey"].shift(3))


def test_diff_pct_change_multi_partition(noisy, noisy_pdf):
    _eq(noisy.v.diff(2), noisy_pdf.v.diff(2))
    _eq(noisy.v.pct_change(), noisy_pdf.v.pct_change(fill_method=None),
        rtol=1e-12)


@pytest.mark.parametrize("agg", ["sum", "mean", "max", "min", "std",
                                 "count"])
def test_rolling_multi_partition(noisy, noisy_pdf, agg):
    got = getattr(noisy.v.rolling(7, min_periods=3), agg)()
    if agg == "count":
        # pandas gates count on rows-in-frame, not non-null obs
        want = noisy_pdf.v.rolling(7, min_periods=3).count()
        want = want.where(pd.Series(range(len(want))) >= 2)
    else:
        want = getattr(noisy_pdf.v.rolling(7, min_periods=3), agg)()
    _eq(got, want, rtol=1e-9)


def test_rolling_window_exceeds_partition(spark):
    # window 150 > rows-per-partition (~31): borders must CHAIN
    # through several short partitions
    rng = np.random.default_rng(43)
    pdf = pd.DataFrame({"v": rng.normal(size=1000)})
    df = pas.DataFrame.from_pandas(pdf)
    _eq(df.v.rolling(150).sum(), pdf.v.rolling(150).sum(), rtol=1e-9)
    _eq(df.v.shift(150), pdf.v.shift(150))


def test_ffill_bfill_multi_partition(noisy, noisy_pdf):
    _eq(noisy.v.ffill(), noisy_pdf.v.ffill())
    _eq(noisy.v.bfill(), noisy_pdf.v.bfill())


def test_ffill_runs_span_partitions(spark):
    # null runs hundreds long: most partitions have NO non-null value,
    # so the scalar carries must chain across partitions
    v = np.full(4000, np.nan)
    v[::701] = np.arange(len(v[::701]), dtype="float64")
    pdf = pd.DataFrame({"v": v})
    df = pas.DataFrame.from_pandas(pdf)
    _eq(df.v.ffill(), pdf.v.ffill())
    _eq(df.v.bfill(), pdf.v.bfill())


def test_border_verbs_span_arrow_batches(spark, tiny_arrow_batches,
                                         noisy, noisy_pdf):
    _eq(noisy.v.shift(5), noisy_pdf.v.shift(5))
    _eq(noisy.v.rolling(9).mean(), noisy_pdf.v.rolling(9).mean(),
        rtol=1e-9)
    _eq(noisy.v.ffill(), noisy_pdf.v.ffill())
    _eq(noisy.v.bfill(), noisy_pdf.v.bfill())


def test_time_rolling_sql_peer_semantics(spark):
    # tied timestamps: the engine contract is the SQL RANGE frame (all
    # peers of t in (t - offset, t]) — pandas cuts at the current row,
    # so the expected values broadcast the tie group's last
    rng = np.random.default_rng(47)
    n = 3000
    secs = np.sort(rng.integers(0, 50_000, n))  # many exact ties
    ts = pd.to_datetime("2024-03-01") + pd.to_timedelta(secs, unit="s")
    pt = pd.DataFrame({"t": ts, "x": rng.normal(size=n)}).set_index("t")
    dt = pas.DataFrame.from_pandas(pt.reset_index()).set_index("t")
    for agg in ("sum", "max", "count"):
        got = (getattr(dt.x.rolling("30min"), agg)()
               .to_pandas().sort_index())
        r = getattr(pt.x.rolling(pd.Timedelta("30min"),
                                 min_periods=1), agg)()
        want = r.groupby(level=0).transform("last")
        assert np.allclose(got.to_numpy("float64"),
                           want.to_numpy("float64"), rtol=1e-9,
                           equal_nan=True)


def test_border_verbs_no_single_partition_window(spark, orders):
    from pandas_alchemy_spark.plans import physical_plan
    for s in (orders["o_totalprice"].shift(2),
              orders["o_totalprice"].diff(),
              orders["o_totalprice"].pct_change(),
              orders["o_totalprice"].rolling(3).sum(),
              orders["o_totalprice"].ffill()):
        plan = physical_plan(s.to_spark())
        assert "SinglePartition" not in plan
        assert "Window" not in plan


def test_border_cap_raises(spark, orders):
    from pandas_alchemy_spark.operators import segscan
    old = segscan._MAX_BORDER_ROWS
    segscan._MAX_BORDER_ROWS = 10
    try:
        with pytest.raises(ValueError, match="border exchange"):
            orders["o_totalprice"].rolling(500).sum().to_pandas()
    finally:
        segscan._MAX_BORDER_ROWS = old


# -------------------------------------------------------------- interpolate


@pytest.fixture(scope="module")
def holey_pdf():
    """Null holes of every shape: leading run, trailing run, interior
    runs of mixed lengths — spread over 32 partitions."""
    rng = np.random.default_rng(53)
    v = rng.normal(size=6000) * 50
    for start in rng.integers(10, 5900, 300):
        v[start:start + rng.integers(1, 9)] = np.nan
    v[:7] = np.nan
    v[-6:] = np.nan
    return pd.DataFrame({"v": v})


@pytest.fixture(scope="module")
def holey(holey_pdf, spark):
    return pas.DataFrame.from_pandas(holey_pdf)


@pytest.mark.parametrize("ld", ["forward", "backward", "both"])
def test_interpolate_directions(holey, holey_pdf, ld):
    _eq(holey.v.interpolate(limit_direction=ld),
        holey_pdf.v.interpolate(limit_direction=ld), rtol=1e-12)


@pytest.mark.parametrize("ld,limit", [("forward", 1), ("forward", 3),
                                      ("backward", 2), ("both", 1),
                                      ("both", 2)])
def test_interpolate_limit(holey, holey_pdf, ld, limit):
    _eq(holey.v.interpolate(limit=limit, limit_direction=ld),
        holey_pdf.v.interpolate(limit=limit, limit_direction=ld),
        rtol=1e-12)


def test_interpolate_int_input_promotes(orders, orders_pdf):
    # int column with a mask -> double output like pandas
    masked = orders["o_custkey"].where(orders["o_custkey"] % 7 != 0)
    want = (orders_pdf["o_custkey"]
            .where(orders_pdf["o_custkey"] % 7 != 0)
            .astype("float64").interpolate())
    _eq(masked.interpolate(), want, rtol=1e-12)


def test_interpolate_spans_arrow_batches(spark, tiny_arrow_batches):
    # a null run straddling Arrow batch boundaries inside a partition:
    # the filler lives in a later batch (the bfill-style concat path)
    rng = np.random.default_rng(59)
    v = rng.normal(size=4000)
    for start in rng.integers(0, 3900, 40):
        v[start:start + 90] = np.nan  # runs wider than the 64-row batch
    pdf = pd.DataFrame({"v": v})
    df = pas.DataFrame.from_pandas(pdf)
    _eq(df.v.interpolate(limit_direction="both"),
        pdf.v.interpolate(limit_direction="both"), rtol=1e-12)


def test_interpolate_all_null_and_single_value(spark):
    pdf = pd.DataFrame({"a": [np.nan] * 40,
                        "b": [np.nan] * 17 + [3.5] + [np.nan] * 22})
    df = pas.DataFrame.from_pandas(pdf)
    _eq(df.a.interpolate(), pdf.a.interpolate())
    _eq(df.b.interpolate(), pdf.b.interpolate())
    _eq(df.b.interpolate(limit_direction="both"),
        pdf.b.interpolate(limit_direction="both"))


def test_interpolate_grouped(spark):
    rng = np.random.default_rng(61)
    pdf = pd.DataFrame({"k": rng.integers(0, 12, 3000),
                        "v": rng.normal(size=3000) * 10})
    pdf.loc[rng.integers(0, 3000, 700), "v"] = np.nan
    df = pas.DataFrame.from_pandas(pdf)
    for kw in ({}, {"limit_direction": "both"},
               {"limit": 2}, {"limit": 1, "limit_direction": "both"}):
        got = (df.groupby("k")["v"].interpolate(**kw)
               .to_pandas().sort_index())
        want = (pdf.groupby("k")["v"]
                .transform(lambda s: s.interpolate(**kw)))
        want.name = got.name
        pdt.assert_series_equal(got, want, check_dtype=False,
                                check_index_type=False, rtol=1e-12)


def test_interpolate_no_single_partition_window(spark, orders):
    from pandas_alchemy_spark.plans import physical_plan
    masked = orders["o_totalprice"].where(orders["o_totalprice"] > 150)
    plan = physical_plan(masked.interpolate().to_spark())
    assert "SinglePartition" not in plan
    assert "Window" not in plan


def test_interpolate_arg_validation(orders):
    with pytest.raises(NotImplementedError, match="linear"):
        orders["o_totalprice"].interpolate(method="spline")
    with pytest.raises(ValueError, match="limit_direction"):
        orders["o_totalprice"].interpolate(limit_direction="sideways")
    with pytest.raises(ValueError, match="limit"):
        orders["o_totalprice"].interpolate(limit=0)


# ---------------------------------------------------------------- rank pct


@pytest.mark.parametrize("method", ["min", "dense", "average", "max",
                                    "first"])
def test_rank_pct_global(orders, orders_pdf, method):
    _eq(orders["o_custkey"].rank(method=method, pct=True),
        orders_pdf["o_custkey"].rank(method=method, pct=True))


def test_rank_pct_with_nulls(holey, holey_pdf):
    _eq(holey.v.rank(pct=True), holey_pdf.v.rank(method="min", pct=True))


def test_rank_pct_grouped(spark):
    rng = np.random.default_rng(67)
    pdf = pd.DataFrame({"k": rng.integers(0, 9, 2000),
                        "v": rng.integers(0, 25, 2000).astype("float64")})
    pdf.loc[rng.integers(0, 2000, 150), "v"] = np.nan
    df = pas.DataFrame.from_pandas(pdf)
    for method in ("min", "dense", "average", "max", "first"):
        got = (df.groupby("k")["v"].rank(method=method, pct=True)
               .to_pandas().sort_index())
        want = pdf.groupby("k")["v"].rank(method=method, pct=True)
        want.name = got.name
        pdt.assert_series_equal(got, want, check_dtype=False,
                                check_index_type=False)


# ------------------------------------------------------- var/std/median


def test_expanding_var_std_multi_partition(noisy, noisy_pdf):
    _eq(noisy.v.expanding().var(), noisy_pdf.v.expanding().var(),
        rtol=1e-9)
    _eq(noisy.v.expanding(min_periods=5).std(),
        noisy_pdf.v.expanding(min_periods=5).std(), rtol=1e-9)


def test_expanding_var_spans_arrow_batches(spark, tiny_arrow_batches):
    rng = np.random.default_rng(71)
    v = rng.normal(size=4000) * 7 + 100
    v[rng.integers(0, 4000, 350)] = np.nan
    pdf = pd.DataFrame({"v": v})
    df = pas.DataFrame.from_pandas(pdf)
    _eq(df.v.expanding().var(), pdf.v.expanding().var(), rtol=1e-9)


def test_expanding_var_grouped(spark):
    rng = np.random.default_rng(73)
    pdf = pd.DataFrame({"k": rng.integers(0, 8, 2000),
                        "v": rng.normal(size=2000)})
    pdf.loc[rng.integers(0, 2000, 100), "v"] = np.nan
    df = pas.DataFrame.from_pandas(pdf)
    got = (df.groupby("k")["v"].expanding().var()
           .to_pandas().sort_index())
    want = (pdf.groupby("k")["v"]
            .transform(lambda s: s.expanding().var()))
    want.name = got.name
    pdt.assert_series_equal(got, want, check_dtype=False,
                            check_index_type=False, rtol=1e-9)


def test_rolling_var_median_multi_partition(noisy, noisy_pdf):
    _eq(noisy.v.rolling(7).var(), noisy_pdf.v.rolling(7).var(),
        rtol=1e-9)
    _eq(noisy.v.rolling(5, min_periods=2).median(),
        noisy_pdf.v.rolling(5, min_periods=2).median())


def test_rolling_var_median_grouped(spark):
    rng = np.random.default_rng(79)
    pdf = pd.DataFrame({"k": rng.integers(0, 8, 2000),
                        "v": rng.normal(size=2000)})
    df = pas.DataFrame.from_pandas(pdf)
    for agg in ("var", "median"):
        got = (getattr(df.groupby("k")["v"].rolling(4), agg)()
               .to_pandas().sort_index())
        want = (pdf.groupby("k")["v"]
                .transform(lambda s: getattr(s.rolling(4), agg)()))
        want.name = got.name
        pdt.assert_series_equal(got, want, check_dtype=False,
                                check_index_type=False, rtol=1e-9)


def test_rolling_time_var_median(spark):
    rng = np.random.default_rng(83)
    n = 2000
    secs = np.sort(rng.integers(0, 40_000, n))
    secs = np.unique(secs)  # ties covered elsewhere; pandas parity here
    ts = pd.to_datetime("2024-05-01") + pd.to_timedelta(secs, unit="s")
    pt = pd.DataFrame({"t": ts,
                       "x": rng.normal(size=len(ts))}).set_index("t")
    dt = pas.DataFrame.from_pandas(pt.reset_index()).set_index("t")
    for agg in ("var", "median"):
        got = (getattr(dt.x.rolling("20min"), agg)()
               .to_pandas().sort_index())
        want = getattr(pt.x.rolling(pd.Timedelta("20min"),
                                    min_periods=1), agg)()
        assert np.allclose(got.to_numpy("float64"),
                           want.to_numpy("float64"), rtol=1e-9,
                           equal_nan=True)


def test_expanding_var_no_single_partition_window(spark, orders):
    from pandas_alchemy_spark.plans import physical_plan
    plan = physical_plan(
        orders["o_totalprice"].expanding().var().to_spark())
    assert "SinglePartition" not in plan
    assert "Window" not in plan


def test_rolling_time_median_grouped(spark):
    rng = np.random.default_rng(89)
    n = 1500
    secs = np.sort(rng.integers(0, 30_000, n))
    ts = pd.to_datetime("2024-06-01") + pd.to_timedelta(secs, unit="s")
    pt = pd.DataFrame({"t": ts, "k": rng.integers(0, 6, n),
                       "x": rng.normal(size=n)}).set_index("t")
    dt = pas.DataFrame.from_pandas(pt.reset_index()).set_index("t")
    got = dt.groupby("k")["x"].rolling("15min").median().to_pandas()
    want = (pt.groupby("k")["x"]
            .transform(lambda s: s.rolling(pd.Timedelta("15min"),
                                           min_periods=1).median()
                       .groupby(level=0).transform("last")))

    # timestamps tie ACROSS groups, so index order alone is ambiguous;
    # compare the (t, value) multisets via a lexsort on both
    def canon(s):
        v = s.to_numpy("float64")
        t = s.index.to_numpy("datetime64[ns]").astype("int64")
        order = np.lexsort((v, t))
        return v[order]

    assert np.allclose(canon(got), canon(want), rtol=1e-9,
                       equal_nan=True)


def test_frame_interpolate_fused(spark):
    rng = np.random.default_rng(107)
    pdf = pd.DataFrame({"a": rng.normal(size=3000),
                        "b": rng.normal(size=3000) * 10,
                        "s": ["t"] * 3000,
                        "i": rng.integers(0, 100, 3000).astype("float64")})
    for c in ("a", "b", "i"):
        pdf.loc[rng.integers(0, 3000, 500), c] = np.nan
    df = pas.DataFrame.from_pandas(pdf)
    got = df.interpolate(limit_direction="both").to_pandas().sort_index()
    want = pdf.copy()
    for c in ("a", "b", "i"):
        want[c] = pdf[c].interpolate(limit_direction="both")
    pdt.assert_frame_equal(got, want, check_dtype=False,
                           check_index_type=False, rtol=1e-12)


def test_frame_interpolate_one_scan(spark):
    # the fused form pays ONE range shuffle for all columns
    from pandas_alchemy_spark.plans import physical_plan
    pdf = pd.DataFrame({"a": [1.0, None, 3.0], "b": [None, 2.0, None]})
    df = pas.DataFrame.from_pandas(pdf)
    plan = physical_plan(df.interpolate().to_spark())
    assert plan.count("RangePartitioning") <= 1
    assert "SinglePartition" not in plan and "Window" not in plan


# --------------------------------------------- EWM var/std (round 5)

def test_ewm_var_global_differential(spark):
    import numpy as np
    rng = np.random.default_rng(11)
    walk = rng.normal(size=400).cumsum()
    # 20% nulls, three of them leading: weights decay per row position,
    # null rows included; a null row repeats the last biased variance
    holes = rng.normal(size=400)
    holes[rng.random(400) < 0.2] = np.nan
    holes[:3] = np.nan
    for x in (walk, holes):
        ps = pd.Series(x)
        s = pas.Series.from_pandas(ps)
        for alpha in (0.1, 0.5):
            for bias in (False, True):
                got = s.ewm(alpha).var(bias=bias).to_pandas() \
                    .sort_index().to_numpy()
                want = ps.ewm(alpha=alpha, adjust=True) \
                    .var(bias=bias).to_numpy()
                np.testing.assert_allclose(got, want, rtol=1e-8,
                                           equal_nan=True)
            gs = s.ewm(alpha).std().to_pandas().sort_index().to_numpy()
            ws = ps.ewm(alpha=alpha, adjust=True).std().to_numpy()
            np.testing.assert_allclose(gs, ws, rtol=1e-8,
                                       equal_nan=True)


def test_ewm_var_multibatch(spark):
    import numpy as np
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 64)
    try:
        rng = np.random.default_rng(3)
        ps = pd.Series(rng.normal(size=1000))
        s = pas.Series.from_pandas(ps)
        got = s.ewm(0.2).var().to_pandas().sort_index().to_numpy()
        want = ps.ewm(alpha=0.2, adjust=True).var().to_numpy()
        np.testing.assert_allclose(got, want, rtol=1e-8,
                                   equal_nan=True)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", 10000)


def test_ewm_var_grouped_differential(spark):
    import numpy as np
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({"k": rng.integers(0, 4, 200),
                        "v": rng.normal(size=200)})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.groupby("k")["v"].ewm(0.3).std().to_pandas() \
        .sort_index().to_numpy()
    want = pdf.groupby("k")["v"].transform(
        lambda g: g.ewm(alpha=0.3, adjust=True).std()).to_numpy()
    np.testing.assert_allclose(got, want, rtol=1e-10, equal_nan=True)


def test_ewm_var_no_single_partition(spark):
    # every global statistic of both handles is one segmented scan:
    # no window, no single-partition funnel, no join of two scans
    import numpy as np
    s = pas.Series.from_pandas(pd.Series(np.arange(64.0)))
    df = pas.DataFrame.from_pandas(pd.DataFrame(
        {"a": np.arange(64.0), "b": np.arange(64.0)[::-1]}))
    for h in (s.ewm(0.4), df.ewm(0.4)):
        for out in (h.var(), h.sum()):
            plan = (out._sdf._jdf.queryExecution()
                    .executedPlan().toString())
            assert "SinglePartition" not in plan
            assert "Window" not in plan
            assert "Join" not in plan


# -------------------- round-5 review findings (NaN/boolean/mp=0)

def test_cumsum_skips_arithmetic_nan(spark):
    """An IEEE NaN produced by 0/0 arithmetic must behave as missing
    (pandas) — the old JVM partial let it poison every later
    partition's carry."""
    import numpy as np
    a = pas.Series.from_list([0.0, 1.0, 2.0, 3.0], name="a")
    b = pas.Series.from_list([0.0, 1.0, 1.0, 1.0], name="b")
    s = a / b  # first element 0/0 -> NaN
    got = s.cumsum().to_pandas().sort_index()
    want = (pd.Series([0.0, 1.0, 2.0, 3.0])
            / pd.Series([0.0, 1.0, 1.0, 1.0])).cumsum()
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy(),
                               equal_nan=True)


def test_rank_treats_nan_as_missing(spark):
    import numpy as np
    a = pas.Series.from_list([0.0, 4.0, 3.0, 1.0], name="a")
    b = pas.Series.from_list([0.0, 1.0, 1.0, 1.0], name="b")
    s = a / b
    ps = pd.Series([0.0, 4.0, 3.0, 1.0]) / pd.Series([0.0, 1.0,
                                                      1.0, 1.0])
    for asc in (True, False):
        got = s.rank(method="min", ascending=asc) \
            .to_pandas().sort_index()
        want = ps.rank(method="min", ascending=asc)
        np.testing.assert_allclose(got.to_numpy(), want.to_numpy(),
                                   equal_nan=True)
    got = s.rank(method="dense", pct=True).to_pandas().sort_index()
    want = ps.rank(method="dense", pct=True)
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy(),
                               equal_nan=True)


def test_expanding_var_skips_nan(spark):
    import numpy as np
    a = pas.Series.from_list([0.0, 1.0, 2.0, 4.0, 8.0], name="a")
    b = pas.Series.from_list([0.0, 1.0, 1.0, 1.0, 1.0], name="b")
    s = a / b
    ps = pd.Series([0.0, 1.0, 2.0, 4.0, 8.0]) \
        / pd.Series([0.0, 1.0, 1.0, 1.0, 1.0])
    got = s.expanding(2).var().to_pandas().sort_index()
    want = ps.expanding(2).var()
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy(),
                               rtol=1e-9, equal_nan=True)


def test_boolean_diff(spark):
    s = pas.Series.from_list([False, True, False, False], name="f")
    got = s.diff().to_pandas().sort_index()
    want = pd.Series([False, True, False, False]).diff()
    assert got.isna().tolist() == want.isna().tolist()
    assert got.dropna().tolist() == want.dropna().tolist()


def test_rolling_min_periods_zero(spark):
    import numpy as np
    ps = pd.Series([None, None, 1.0, 2.0], dtype="float64")
    s = pas.Series.from_pandas(ps)
    got = s.rolling(2, min_periods=0).sum().to_pandas().sort_index()
    want = ps.rolling(2, min_periods=0).sum()
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy(),
                               equal_nan=True)


def test_huge_shift_small_frame(spark):
    """shift(periods) far beyond the row count: all-null result (the
    pandas contract), not a border-guard ValueError — the guard now
    falls back to the actual row count."""
    s = pas.Series.from_list(list(range(100)), name="v")
    out = s.shift(6_000_000).to_pandas().sort_index()
    assert out.isna().all()


# ---------------------------------------------------------------------------
# pin-cache collision guards (round 6)
# ---------------------------------------------------------------------------

def _forced_key(monkeypatch):
    """Make every _pin call compute the SAME cache key, simulating a
    full sha256+semanticHash collision."""
    from pandas_alchemy_spark.operators import segscan
    monkeypatch.setattr(
        segscan, "_pin_key",
        lambda sdf, order_exprs, n_part: ("collision",))


def test_pin_cache_schema_guard_trips(spark, monkeypatch):
    """Forced key collision between two frames with DIFFERENT pinned
    schemas (long vs double value column): the hit-time schema guard
    must discard the poisoned entry (with a warning) and both scans
    must still produce correct results."""
    import warnings as _w

    from pandas_alchemy_spark.operators import segscan
    segscan._PIN_CACHE.clear()
    _forced_key(monkeypatch)
    a = pas.Series.from_list([3, 1, 2], name="a")
    got_a = a.cumsum().to_pandas().sort_index().tolist()
    assert got_a == [3, 4, 6]
    # double value column -> different pinned field type
    b = pas.Series.from_list([10.0, 20.5], name="a")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        got_b = b.cumsum().to_pandas().sort_index().tolist()
    assert got_b == [10.0, 30.5]
    assert any("pin-cache entry schema mismatch" in str(w.message)
               for w in rec), [str(w.message) for w in rec]
    segscan._PIN_CACHE.clear()


def test_pin_cache_count_guard_trips(spark, monkeypatch):
    """Forced key collision between SAME-schema frames of different
    length with PAS_PIN_VERIFY_COUNT armed: the hit-time count check
    must raise rather than serve the wrong rows."""
    from pandas_alchemy_spark.operators import segscan
    segscan._PIN_CACHE.clear()
    _forced_key(monkeypatch)
    monkeypatch.setattr(segscan, "PIN_VERIFY_COUNT", True)
    a = pas.Series.from_list([1.0, 2.0, 3.0], name="v")
    assert a.cumsum().to_pandas().sort_index().tolist() == \
        [1.0, 3.0, 6.0]
    b = pas.Series.from_list([5.0, 5.0], name="v")
    with pytest.raises(RuntimeError, match="pin-cache count mismatch"):
        b.cumsum().to_pandas()
    segscan._PIN_CACHE.clear()


def test_pin_cache_key_tells_aliases_apart(spark):
    """Canonicalization erases alias names, so one plan projected
    under two aliases has one semanticHash and one plan JSON; the key
    still tells the two layouts apart — no schema-mismatch warning,
    and each pin keeps its own column names."""
    import warnings as _w

    from pyspark.sql import functions as F

    from pandas_alchemy_spark.operators import segscan
    segscan._PIN_CACHE.clear()
    base = spark.range(50).select(F.col("id").alias("__idx_0"),
                                  (F.col("id") * 1.5).alias("v"))
    order = [F.col("__idx_0")]
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        a = segscan._pin(base.select("__idx_0", F.col("v").alias("a")),
                         order)
        b = segscan._pin(base.select("__idx_0", F.col("v").alias("b")),
                         order)
    assert a.columns == ["__idx_0", "a", "__pid"]
    assert b.columns == ["__idx_0", "b", "__pid"]
    segscan._PIN_CACHE.clear()


def test_pin_cache_reuse_still_works(spark):
    """No collision forced: two scans of the same frame in the same
    order reuse one pinned layout (the memoization contract)."""
    from pandas_alchemy_spark.operators import segscan
    segscan._PIN_CACHE.clear()
    s = pas.read_parquet(f"{SF_DIR}/orders.parquet").set_index(
        "o_orderkey").o_totalprice
    _ = s.shift(2).to_pandas()
    n_after_first = len(segscan._PIN_CACHE)
    _ = s.diff(3).to_pandas()
    assert len(segscan._PIN_CACHE) == n_after_first  # hit, not re-pin
    segscan._PIN_CACHE.clear()


# ---------------------------------------------------------------------------
# global ffill/bfill with limit= (round 6: (value, age) carry)
# ---------------------------------------------------------------------------

def _holey(n=500, run=37, seed=7):
    """A float series whose null runs are long enough (up to `run`)
    to span 4-partition borders AND 64-row Arrow batches."""
    rng = np.random.default_rng(seed)
    v = rng.normal(size=n)
    s = pd.Series(v)
    i = 0
    while i < n:
        gap = int(rng.integers(1, run))
        keep = int(rng.integers(1, 9))
        s.iloc[i:i + gap] = np.nan
        i += gap + keep
    return s


@pytest.mark.parametrize("limit", [1, 3, 17, 80])
def test_ffill_limit_global(spark, limit):
    ps = _holey()
    s = pas.Series.from_pandas(ps)
    got = s.ffill(limit=limit).to_pandas().sort_index()
    want = ps.ffill(limit=limit)
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy(),
                               equal_nan=True)


@pytest.mark.parametrize("limit", [1, 3, 17, 80])
def test_bfill_limit_global(spark, limit):
    ps = _holey(seed=11)
    s = pas.Series.from_pandas(ps)
    got = s.bfill(limit=limit).to_pandas().sort_index()
    want = ps.bfill(limit=limit)
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy(),
                               equal_nan=True)


def test_fill_limit_multibatch(spark):
    """64-row Arrow batches force null runs to cross batch borders
    inside a partition — the streaming run-carry must keep counting."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 64)
    try:
        ps = _holey(n=1200, run=90, seed=3)
        s = pas.Series.from_pandas(ps)
        for lim in (5, 40):
            got = s.ffill(limit=lim).to_pandas().sort_index()
            np.testing.assert_allclose(
                got.to_numpy(), ps.ffill(limit=lim).to_numpy(),
                equal_nan=True)
            got = s.bfill(limit=lim).to_pandas().sort_index()
            np.testing.assert_allclose(
                got.to_numpy(), ps.bfill(limit=lim).to_numpy(),
                equal_nan=True)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", 10000)


def test_frame_fill_limit(spark):
    """DataFrame-level fused multi-column fill honors per-column null
    geometry under one shared limit."""
    pdf = pd.DataFrame({"a": _holey(300, seed=1),
                        "b": _holey(300, run=60, seed=2)})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.ffill(limit=4).to_pandas().sort_index()
    want = pdf.ffill(limit=4)
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_index_type=False)
    got = df.bfill(limit=4).to_pandas().sort_index()
    want = pdf.bfill(limit=4)
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_index_type=False)


def test_fill_no_limit_unchanged(spark):
    ps = _holey(200, seed=5)
    s = pas.Series.from_pandas(ps)
    got = s.ffill().to_pandas().sort_index()
    np.testing.assert_allclose(got.to_numpy(), ps.ffill().to_numpy(),
                               equal_nan=True)


def test_fill_limit_validation(spark):
    s = pas.Series.from_list([1.0, None, 2.0], name="v")
    with pytest.raises(ValueError, match="positive integer"):
        s.ffill(limit=0).to_pandas()
    with pytest.raises(ValueError, match="positive integer"):
        s.bfill(limit=-2).to_pandas()


def test_fill_limit_integer_dtype(spark):
    """limit= fill over nullable Int64 round-trips the masked dtype."""
    ps = pd.Series([None, 3, None, None, None, 7, None],
                   dtype="Int64")
    s = pas.Series.from_pandas(ps)
    got = s.ffill(limit=2).to_pandas().sort_index()
    want = ps.ffill(limit=2)
    assert got.fillna(-9).tolist() == want.fillna(-9).tolist()
    got = s.bfill(limit=1).to_pandas().sort_index()
    want = ps.bfill(limit=1)
    assert got.fillna(-9).tolist() == want.fillna(-9).tolist()
