"""Round-6 window sub-surface completion: rolling/expanding
sem/skew/kurt/rank/agg differential tests vs pandas — the top-level
API audit never walked these sub-objects, so they were the last
silent gaps."""
from __future__ import annotations

import numpy as np
import pandas as pd
import pandas.testing as pdt
import pytest

import pandas_alchemy_spark as pas

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def noisy_pdf():
    rng = np.random.default_rng(61)
    v = rng.normal(size=3000) * 10
    v[rng.integers(0, 3000, 250)] = np.nan
    return pd.DataFrame({"v": v})


@pytest.fixture(scope="module")
def noisy(noisy_pdf, spark):
    return pas.DataFrame.from_pandas(noisy_pdf)


def _eq(ours, want, **kw):
    got = ours.to_pandas().sort_index()
    want = want.sort_index()
    want.name = got.name
    pdt.assert_series_equal(got, want, check_dtype=False,
                            check_index_type=False, **kw)


@pytest.mark.parametrize("name", ["sem", "skew", "kurt", "rank"])
def test_rolling_pandas_kernels_global(noisy, noisy_pdf, name):
    got = getattr(noisy.v.rolling(7), name)()
    want = getattr(noisy_pdf.v.rolling(7), name)()
    _eq(got, want, rtol=1e-9)


@pytest.mark.parametrize("name", ["sem", "skew", "kurt", "rank"])
def test_rolling_pandas_kernels_grouped(spark, name):
    pdf = pd.read_parquet(f"{SF_DIR}/orders.parquet").sort_values(
        "o_orderkey").set_index("o_orderkey")
    df = pas.read_parquet(f"{SF_DIR}/orders.parquet").set_index(
        "o_orderkey")
    got = getattr(df.groupby("o_custkey")["o_totalprice"]
                  .rolling(3), name)()
    want = (getattr(pdf.groupby("o_custkey")["o_totalprice"]
                    .rolling(3, min_periods=3), name)()
            .reset_index(level=0, drop=True))
    _eq(got, want, rtol=1e-9)


def test_rolling_agg_dispatch(noisy, noisy_pdf):
    _eq(noisy.v.rolling(5).agg("mean"),
        noisy_pdf.v.rolling(5).agg("mean"), rtol=1e-12)
    with pytest.raises(ValueError, match="unknown rolling aggregate"):
        noisy.v.rolling(5).agg("bogus")
    with pytest.raises(NotImplementedError, match="assign"):
        noisy.v.rolling(5).agg(["sum", "mean"])


def test_rolling_rank_nondefault_raises(noisy):
    with pytest.raises(NotImplementedError, match="defaults"):
        noisy.v.rolling(5).rank(pct=True)


def test_expanding_sem_global(noisy, noisy_pdf):
    _eq(noisy.v.expanding(3).sem(), noisy_pdf.v.expanding(3).sem(),
        rtol=1e-9)


def test_expanding_sem_global_no_window(spark, noisy):
    from pandas_alchemy_spark.plans import physical_plan
    plan = physical_plan(noisy.v.expanding().sem().to_spark())
    assert "SinglePartition" not in plan and "Window" not in plan


@pytest.mark.parametrize("name", ["median", "skew", "kurt", "rank",
                                  "sem"])
def test_expanding_pandas_kernels_grouped(spark, name):
    pdf = pd.read_parquet(f"{SF_DIR}/orders.parquet").sort_values(
        "o_orderkey").set_index("o_orderkey")
    df = pas.read_parquet(f"{SF_DIR}/orders.parquet").set_index(
        "o_orderkey")
    got = getattr(df.groupby("o_custkey")["o_totalprice"]
                  .expanding(), name)()
    want = (getattr(pdf.groupby("o_custkey")["o_totalprice"]
                    .expanding(1), name)()
            .reset_index(level=0, drop=True))
    _eq(got, want, rtol=1e-9)


def test_expanding_quantile_and_apply_grouped(spark):
    pdf = pd.read_parquet(f"{SF_DIR}/orders.parquet").sort_values(
        "o_orderkey").set_index("o_orderkey")
    df = pas.read_parquet(f"{SF_DIR}/orders.parquet").set_index(
        "o_orderkey")
    got = df.groupby("o_custkey")["o_totalprice"].expanding() \
        .quantile(0.25)
    want = (pdf.groupby("o_custkey")["o_totalprice"].expanding()
            .quantile(0.25).reset_index(level=0, drop=True))
    _eq(got, want, rtol=1e-9)
    got = df.groupby("o_custkey")["o_totalprice"].expanding() \
        .apply(lambda a: a[-1] - a[0])
    want = (pdf.groupby("o_custkey")["o_totalprice"].expanding()
            .apply(lambda a: a[-1] - a[0], raw=True)
            .reset_index(level=0, drop=True))
    _eq(got, want, rtol=1e-9)


def test_expanding_global_unbounded_refusals(noisy):
    for name in ("median", "skew", "kurt", "rank"):
        with pytest.raises(NotImplementedError, match="bounded"):
            getattr(noisy.v.expanding(), name)()
    with pytest.raises(NotImplementedError, match="bounded"):
        noisy.v.expanding().apply(lambda a: a.sum())
    with pytest.raises(NotImplementedError, match="bounded"):
        noisy.v.expanding().quantile(0.5)


def test_expanding_agg_dispatch(noisy, noisy_pdf):
    _eq(noisy.v.expanding(2).agg("sum"),
        noisy_pdf.v.expanding(2).agg("sum"), rtol=1e-12)
    with pytest.raises(ValueError, match="unknown expanding"):
        noisy.v.expanding().agg("huh")


# ------------------------------------------------------------------ ewm

def test_ewm_sum_global(spark):
    rng = np.random.default_rng(77)
    ps = pd.Series(rng.normal(size=2000) * 5)
    s = pas.Series.from_pandas(ps)
    got = s.ewm(alpha=0.3).sum().to_pandas().sort_index()
    want = ps.ewm(alpha=0.3, adjust=True).sum()
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy(),
                               rtol=1e-9)
    # alpha=1 identity short-circuit
    got1 = s.ewm(alpha=1.0).sum().to_pandas().sort_index()
    np.testing.assert_allclose(
        got1.to_numpy(), ps.ewm(alpha=1.0, adjust=True).sum()
        .to_numpy(), rtol=1e-12)
    # 20% nulls, three of them leading: the weights decay per row
    # position, null rows included, and only non-null rows add weight
    rng = np.random.default_rng(41)
    x = rng.normal(size=400)
    x[rng.random(400) < 0.2] = np.nan
    x[:3] = np.nan
    ph = pd.Series(x)
    sh = pas.Series.from_pandas(ph)
    for alpha in (0.3, 1.0):
        got = sh.ewm(alpha=alpha).sum().to_pandas().sort_index()
        np.testing.assert_allclose(
            got.to_numpy(), ph.ewm(alpha=alpha, adjust=True).sum()
            .to_numpy(), rtol=1e-9, atol=1e-12)


def test_ewm_sum_grouped(spark):
    pdf = pd.read_parquet(f"{SF_DIR}/orders.parquet").sort_values(
        "o_orderkey").set_index("o_orderkey")
    df = pas.read_parquet(f"{SF_DIR}/orders.parquet").set_index(
        "o_orderkey")
    got = (df.groupby("o_custkey")["o_totalprice"].ewm(0.4).sum()
           .to_pandas().sort_index())
    want = (pdf.groupby("o_custkey")["o_totalprice"]
            .apply(lambda g: g.ewm(alpha=0.4, adjust=True).sum())
            .reset_index(level=0, drop=True).sort_index())
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy(),
                               rtol=1e-9)


def test_ewm_agg_and_refusals(spark):
    s = pas.Series.from_list([1.0, 2.0, 3.0], name="v")
    got = s.ewm(alpha=0.5).agg("mean").to_pandas().sort_index()
    want = pd.Series([1.0, 2.0, 3.0]).ewm(alpha=0.5).mean()
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy(),
                               rtol=1e-12)
    with pytest.raises(ValueError, match="unknown ewm"):
        s.ewm(alpha=0.5).agg("median")
    with pytest.raises(NotImplementedError, match="rolling"):
        s.ewm(alpha=0.5).corr(s)
    with pytest.raises(NotImplementedError, match="rolling"):
        s.ewm(alpha=0.5).cov(s)


def test_merge_ordered_left_by_list_on(spark):
    """left_by with a LIST on= key (review fix: by + [on] nested)."""
    lp = pd.DataFrame({"g": ["a", "a", "b"], "k1": [1, 2, 1],
                       "k2": [0, 0, 1], "lv": [10.0, 20.0, 30.0]})
    rp = pd.DataFrame({"k1": [1, 2], "k2": [0, 0],
                       "rv": [0.1, 0.2]})
    want = pd.merge_ordered(lp, rp, on=["k1", "k2"], left_by="g")
    got = (pas.merge_ordered(
        pas.DataFrame.from_pandas(lp), pas.DataFrame.from_pandas(rp),
        on=["k1", "k2"], left_by="g")
        .to_pandas().reset_index(drop=True)
        .sort_values(["g", "k1", "k2"]).reset_index(drop=True))
    want = want.sort_values(["g", "k1", "k2"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns], want,
                                  check_dtype=False)


def test_sql_view_hygiene(spark):
    """pas.sql must not clobber or leak temp views (review fix)."""
    pre = spark.range(3).withColumnRenamed("id", "x")
    pre.createOrReplaceTempView("hyg_t")
    out = pas.sql("SELECT count(*) AS n FROM hyg_t",
                  hyg_t=spark.range(7)).to_pandas()
    assert int(out.n.iloc[0]) == 7
    # the pre-existing view is restored, not clobbered
    assert spark.sql("SELECT count(*) AS n FROM hyg_t") \
        .collect()[0]["n"] == 3
    spark.catalog.dropTempView("hyg_t")
    # a view created only for the call is dropped afterwards
    pas.sql("SELECT 1 AS one FROM fresh_v", fresh_v=spark.range(2))
    assert not any(v.name == "fresh_v"
                   for v in spark.catalog.listTables())


def test_rolling_agg_quantile_refused(spark):
    s = pas.Series.from_list([1.0, 2.0, 3.0], name="v")
    with pytest.raises(ValueError, match="unknown rolling"):
        s.rolling(2).agg("quantile")


def test_time_rolling_rank_refused(spark):
    from pandas_alchemy_spark.operators import segscan
    with pytest.raises(NotImplementedError, match="time-offset"):
        segscan.rolling_time_scan(
            spark.range(3).selectExpr("id", "id * 1000000 AS ts"),
            "id", "ts", 1000000, "rank")
