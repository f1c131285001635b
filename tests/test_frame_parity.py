"""Frame-level scans + the alignment-based DataFrame/Series parity
batch (combine_first/update/equals/compare/reindex/dot/corrwith/...).

Frame cum*/shift/diff/pct_change run as ONE fused multi-column
segmented scan (segscan.cum_scan_multi / shift_delta_scan_multi);
rank chains one distributed value-partitioned scan per column.  All
differential vs pandas; plan audits assert no single-partition
window.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import pandas_alchemy_spark as pas

PDF = pd.DataFrame({
    "x": [1.0, np.nan, 3.0, 4.0, 2.0, 2.0],
    "y": [10, 20, 5, 40, 30, 30],
})


def _cmp(got, want):
    g = got.to_pandas().sort_index()
    np.testing.assert_allclose(g.to_numpy(dtype=float),
                               want.to_numpy(dtype=float),
                               rtol=1e-12, equal_nan=True)


# ----------------------------------------------- fused frame scans

@pytest.mark.parametrize("verb,args", [
    ("cumsum", ()), ("cumprod", ()), ("cummax", ()), ("cummin", ()),
    ("shift", (2,)), ("shift", (-1,)), ("diff", (1,)), ("diff", (2,)),
])
def test_frame_scan_parity(spark, verb, args):
    df = pas.DataFrame.from_pandas(PDF)
    _cmp(getattr(df, verb)(*args), getattr(PDF, verb)(*args))


def _holey_frame(n=400, seed=5):
    """``x``: a float column with scattered holes and one null run
    long enough to cross a range-partition border; ``d``: dense (the
    ewm scan's contract)."""
    rng = np.random.default_rng(seed)
    x = rng.normal(size=n)
    x[rng.random(n) < 0.2] = np.nan
    x[90:130] = np.nan
    return pd.DataFrame({"x": x, "d": rng.normal(size=n).cumsum()})


_ONE_SCAN_VERBS = {
    "cumsum": ("x", lambda o: o.cumsum()),
    "cumprod": ("x", lambda o: o.cumprod()),
    "cummax": ("x", lambda o: o.cummax()),
    "cummin": ("x", lambda o: o.cummin()),
    "shift": ("x", lambda o: o.shift(3)),
    "shift_back_fill": ("x", lambda o: o.shift(-2, fill_value=0.0)),
    "diff": ("x", lambda o: o.diff()),
    "diff_back": ("x", lambda o: o.diff(-2)),
    "pct_change": ("d", lambda o: o.pct_change()),
    "ffill": ("x", lambda o: o.ffill()),
    "ffill_limit": ("x", lambda o: o.ffill(limit=3)),
    "bfill_limit": ("x", lambda o: o.bfill(limit=3)),
    "interpolate": ("x", lambda o: o.interpolate()),
    "interpolate_both": (
        "x", lambda o: o.interpolate(limit=2, limit_direction="both")),
    "interpolate_backward": (
        "x", lambda o: o.interpolate(limit_direction="backward")),
    "rank": ("x", lambda o: o.rank(method="average")),
    "rolling_sum": ("x", lambda o: o.rolling(5).sum()),
    "rolling_mean_mp": ("x", lambda o: o.rolling(5, min_periods=2).mean()),
    "rolling_std": ("x", lambda o: o.rolling(5).std()),
    "rolling_median": ("x", lambda o: o.rolling(5).median()),
    "rolling_count": ("x", lambda o: o.rolling(5).count()),
    "rolling_quantile": ("x", lambda o: o.rolling(5).quantile(0.3)),
    "rolling_apply": (
        "x", lambda o: o.rolling(4, min_periods=1).apply(np.nanmax)),
    "ewm_mean": ("d", lambda o: o.ewm(alpha=0.3).mean()),
}


@pytest.mark.filterwarnings("error::RuntimeWarning")
@pytest.mark.parametrize("verb", list(_ONE_SCAN_VERBS))
def test_series_scan_is_one_column_frame_scan(spark, verb):
    """Every global scan verb runs one path: a Series gives exactly
    the one-column frame's result and both match pandas, on a
    multi-partition input with null holes.  A Series scan and a frame
    scan of one plan meeting in the pin cache raise no warning."""
    col, fn = _ONE_SCAN_VERBS[verb]
    pdf = _holey_frame()
    df = pas.DataFrame.from_pandas(pdf)
    got_s = fn(df[col]).to_pandas().sort_index()
    got_f = fn(df[[col]]).to_pandas().sort_index()[col]
    np.testing.assert_array_equal(got_s.to_numpy(float),
                                  got_f.to_numpy(float))
    want = fn(pdf[col])
    np.testing.assert_allclose(got_s.to_numpy(float),
                               want.to_numpy(float), rtol=1e-12,
                               equal_nan=True)


def test_frame_pct_change(spark):
    df = pas.DataFrame.from_pandas(PDF)
    _cmp(df.pct_change(1), PDF.pct_change(1, fill_method=None))


@pytest.mark.parametrize("method", ["min", "dense", "average", "max",
                                    "first"])
def test_frame_rank(spark, method):
    df = pas.DataFrame.from_pandas(PDF)
    _cmp(df.rank(method), PDF.rank(method=method))
    _cmp(df.rank(method, pct=True), PDF.rank(method=method, pct=True))


def test_frame_scan_no_single_partition(spark):
    df = pas.DataFrame.from_pandas(PDF)
    for out in (df.cumsum(), df.shift(1), df.rank("min")):
        plan = (out._sdf._jdf.queryExecution().executedPlan()
                .toString())
        assert "SinglePartition" not in plan
        assert "Window" not in plan


def test_frame_scan_multibatch(spark):
    """Carries must thread across Arrow batches (regression for the
    round-5 batch-boundary bug, multi-column flavor)."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 64)
    try:
        n = 4000
        pdf = pd.DataFrame({"a": np.arange(n, dtype=float),
                            "b": np.arange(n)[::-1].astype(float)})
        df = pas.DataFrame.from_pandas(pdf)
        _cmp(df.cumsum(), pdf.cumsum())
        _cmp(df.shift(3), pdf.shift(3))
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", 10000)


def test_frame_diff_numeric_only_raises(spark):
    df = pas.DataFrame.from_pandas(pd.DataFrame({"x": [1],
                                                 "s": ["a"]}))
    with pytest.raises(TypeError, match="numeric-only"):
        df.diff()
    with pytest.raises(TypeError, match="numeric-only"):
        df.cumsum()


def test_frame_shift_keeps_strings(spark):
    pdf = pd.DataFrame({"x": [1, 2, 3], "s": ["a", "b", "c"]})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.shift(1).to_pandas().sort_index()
    want = pdf.shift(1)
    assert got["s"].fillna("_").tolist() == \
        want["s"].fillna("_").tolist()


# ------------------------------------------------ frame reductions

@pytest.mark.parametrize("verb", ["var", "median", "prod", "sem",
                                  "skew", "kurt"])
def test_frame_reductions(spark, verb):
    df = pas.DataFrame.from_pandas(PDF)
    got = getattr(df, verb)().to_pandas().sort_index()
    want = getattr(PDF, verb)(numeric_only=True).sort_index()
    np.testing.assert_allclose(got.to_numpy(dtype=float),
                               want.to_numpy(dtype=float),
                               rtol=1e-12, equal_nan=True)


def test_frame_quantile_any_all(spark):
    df = pas.DataFrame.from_pandas(PDF)
    got = df.quantile(0.25).to_pandas().sort_index()
    want = PDF.quantile(0.25, numeric_only=True).sort_index()
    np.testing.assert_allclose(got.to_numpy(float),
                               want.to_numpy(float), rtol=1e-12)
    pdfb = pd.DataFrame({"a": [0, 0, 1], "b": [0, 0, 0]})
    dfb = pas.DataFrame.from_pandas(pdfb)
    assert df is not None
    assert dfb.any().to_pandas().sort_index().tolist() == \
        pdfb.any().sort_index().tolist()
    assert dfb.all().to_pandas().sort_index().tolist() == \
        pdfb.all().sort_index().tolist()


# -------------------------------------------- alignment-based verbs

def test_combine_first(spark):
    a = pd.DataFrame({"x": [1.0, np.nan], "y": [np.nan, 4.0]},
                     index=[0, 1])
    b = pd.DataFrame({"x": [9.0, 9.0, 9.0], "z": [7.0, 7.0, 7.0]},
                     index=[0, 1, 2])
    got = (pas.DataFrame.from_pandas(a)
           .combine_first(pas.DataFrame.from_pandas(b))
           .to_pandas().sort_index())
    want = a.combine_first(b).sort_index()
    pd.testing.assert_frame_equal(got[sorted(got.columns)],
                                  want[sorted(want.columns)],
                                  check_dtype=False, check_names=False)


def test_update(spark):
    a = pd.DataFrame({"x": [1.0, 2.0, 3.0], "y": [1.0, 1.0, 1.0]})
    b = pd.DataFrame({"x": [np.nan, 20.0]}, index=[1, 2])
    da = pas.DataFrame.from_pandas(a)
    da.update(pas.DataFrame.from_pandas(b))
    wa = a.copy()
    wa.update(b)
    pd.testing.assert_frame_equal(da.to_pandas().sort_index(), wa,
                                  check_dtype=False, check_names=False)


def test_equals(spark):
    a = pas.DataFrame.from_pandas(PDF)
    b = pas.DataFrame.from_pandas(PDF)
    c = pas.DataFrame.from_pandas(PDF.assign(y=PDF["y"] + 1))
    assert a.equals(b)
    assert not a.equals(c)


def test_compare(spark):
    a = pd.DataFrame({"x": [1.0, 2.0, 3.0], "y": [5.0, 6.0, 7.0]})
    b = pd.DataFrame({"x": [1.0, 99.0, 3.0], "y": [5.0, 6.0, 70.0]})
    got = (pas.DataFrame.from_pandas(a)
           .compare(pas.DataFrame.from_pandas(b))
           .to_pandas().sort_index())
    assert len(got) == 2  # rows 1 and 2 differ
    assert got.loc[1, "x_self"] == 2.0 and got.loc[1, "x_other"] == 99.0
    assert np.isnan(got.loc[1, "y_self"])
    assert got.loc[2, "y_other"] == 70.0


def test_reindex(spark):
    a = pd.DataFrame({"x": [1.0, 2.0, 3.0]})
    got = (pas.DataFrame.from_pandas(a).reindex([2, 0, 5])
           .to_pandas().sort_index())
    want = a.reindex([2, 0, 5]).sort_index()
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_names=False)


def test_rename_axis_squeeze_pop_insert(spark):
    df = pas.DataFrame.from_pandas(PDF)
    assert list(df.rename_axis("rid")._index) == ["rid"]
    one = pas.DataFrame.from_pandas(PDF[["x"]])
    s = one.squeeze()
    assert s.to_pandas().sort_index().tolist()[2] == 3.0
    d2 = pas.DataFrame.from_pandas(PDF.copy())
    popped = d2.pop("x")
    assert list(d2.columns) == ["y"]
    assert popped.to_pandas().sort_index().fillna(-1).tolist() == \
        PDF["x"].fillna(-1).tolist()
    d2.insert(0, "z", 1.5)
    assert list(d2.columns) == ["z", "y"]
    assert d2.to_pandas()["z"].iloc[0] == 1.5


def test_to_dict_and_valid_index(spark):
    df = pas.DataFrame.from_pandas(PDF)
    assert df.to_dict()["y"][3] == 40
    holes = pd.DataFrame({"x": [np.nan, 1.0, np.nan, 2.0, np.nan]})
    dh = pas.DataFrame.from_pandas(holes)
    assert dh.first_valid_index() == holes.first_valid_index()
    assert dh.last_valid_index() == holes.last_valid_index()


def test_corrwith_dot_mode(spark):
    a = PDF.fillna(0.0)
    b = pd.DataFrame({"x": a["x"] * 2 + 1, "y": -a["y"]})
    got = (pas.DataFrame.from_pandas(a)
           .corrwith(pas.DataFrame.from_pandas(b))
           .to_pandas().sort_index())
    want = a.corrwith(b).sort_index()
    np.testing.assert_allclose(got.to_numpy(float),
                               want.to_numpy(float), rtol=1e-9)
    w = pd.DataFrame({"p": [1.0, 0.5], "q": [0.0, 2.0]},
                     index=["x", "y"])
    gdot = pas.DataFrame.from_pandas(a).dot(w).to_pandas().sort_index()
    pd.testing.assert_frame_equal(gdot, a.dot(w), check_dtype=False,
                                  check_names=False)
    gm = pas.DataFrame.from_pandas(a).mode()
    wm = a.mode()
    np.testing.assert_allclose(gm[["x", "y"]].to_numpy(float),
                               wm.to_numpy(float), equal_nan=True)


# -------------------------------------------------- Series batch

def test_series_rename_reset_index(spark):
    s = pas.Series.from_list([1, 2, 3], name="v")
    assert s.rename("w").name == "w"
    ren = s.rename({0: 10}).to_pandas().sort_index()
    assert 10 in ren.index
    fr = s.reset_index()
    assert fr.to_pandas().shape == (3, 2)
    dropped = s.reset_index(drop=True)
    assert dropped.to_pandas().sort_index().tolist() == [1, 2, 3]


def test_series_item_squeeze_equals(spark):
    one = pas.Series.from_list([42], name="v")
    assert one.item() == 42
    assert one.squeeze() == 42
    many = pas.Series.from_list([1, 2], name="v")
    with pytest.raises(ValueError, match="size 1"):
        many.item()
    assert many.squeeze() is many
    assert many.equals(pas.Series.from_list([1, 2]))
    assert not many.equals(pas.Series.from_list([1, 3]))


def test_series_update_repeat(spark):
    s = pas.Series.from_list([1.0, 2.0, 3.0], name="v")
    o = pas.Series.from_list([10.0, np.nan, 30.0], name="v")
    s.update(o)
    ps = pd.Series([1.0, 2.0, 3.0])
    ps.update(pd.Series([10.0, np.nan, 30.0]))
    assert s.to_pandas().sort_index().tolist() == ps.tolist()
    r = pas.Series.from_list([1, 2], name="v").repeat(3)
    pr = pd.Series([1, 2]).repeat(3)
    assert sorted(r.to_pandas().tolist()) == sorted(pr.tolist())
    assert len(r.to_pandas().index) == 6


def test_series_searchsorted_factorize(spark):
    s = pas.Series.from_list([1, 3, 3, 7], name="v")
    ps = pd.Series([1, 3, 3, 7])
    for side in ("left", "right"):
        assert s.searchsorted(3, side=side) == \
            ps.searchsorted(3, side=side)
    assert s.searchsorted([0, 3, 9]) == [0, 1, 4]
    codes, uniq = s.factorize()
    pc, pu = ps.factorize()
    assert list(codes) == list(pc)
    assert list(uniq) == list(pu)


# ------------------------------------------- rolling pair stats, eval

def test_rolling_corr_cov_global(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0, 4.0, 3.0, 5.0, 8.0, 7.0],
                        "y": [2.0, 1.0, 3.0, 6.0, 4.0, 9.0, 8.0]})
    df = pas.DataFrame.from_pandas(pdf)
    for stat in ("corr", "cov"):
        got = getattr(df["x"].rolling(3), stat)(df["y"]) \
            .to_pandas().sort_index()
        want = getattr(pdf["x"].rolling(3), stat)(pdf["y"])
        np.testing.assert_allclose(got.to_numpy(float),
                                   want.to_numpy(float),
                                   rtol=1e-9, equal_nan=True)


def test_rolling_corr_grouped(spark):
    pdf = pd.DataFrame({"k": ["a"] * 5 + ["b"] * 5,
                        "x": [1.0, 2.0, 4.0, 3.0, 5.0] * 2,
                        "y": [2.0, 1.0, 3.0, 6.0, 4.0] * 2})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.groupby("k")["x"].rolling(3).corr("y") \
        .to_pandas().sort_index()
    want = (pdf.groupby("k")
            .apply(lambda g: g["x"].rolling(3).corr(g["y"]),
                   include_groups=False)
            .reset_index(level=0, drop=True).sort_index())
    np.testing.assert_allclose(got.to_numpy(float),
                               want.to_numpy(float),
                               rtol=1e-9, equal_nan=True)


def test_expanding_corr_grouped(spark):
    pdf = pd.DataFrame({"k": ["a"] * 5 + ["b"] * 5,
                        "x": [1.0, 2.0, 4.0, 3.0, 5.0] * 2,
                        "y": [2.0, 1.0, 3.0, 6.0, 5.0] * 2})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.groupby("k")["x"].expanding(2).cov("y") \
        .to_pandas().sort_index()
    want = (pdf.groupby("k")
            .apply(lambda g: g["x"].expanding(2).cov(g["y"]),
                   include_groups=False)
            .reset_index(level=0, drop=True).sort_index())
    np.testing.assert_allclose(got.to_numpy(float),
                               want.to_numpy(float),
                               rtol=1e-9, equal_nan=True)


def test_expanding_corr_cov_global(spark):
    """Global expanding pair stats: the six-scalar co-moment carry
    (bivariate Chan combine) must match pandas incl. null-pair
    handling and the NaN pattern."""
    rng = np.random.default_rng(13)
    x = pd.Series(rng.normal(size=300).cumsum())
    y = pd.Series(rng.normal(size=300) + 0.3 * x)
    x[::17] = np.nan
    sx, sy = pas.Series.from_pandas(x), pas.Series.from_pandas(y)
    for stat in ("corr", "cov"):
        got = getattr(sx.expanding(3), stat)(sy) \
            .to_pandas().sort_index().to_numpy()
        want = getattr(x.expanding(3), stat)(y).to_numpy()
        np.testing.assert_allclose(got, want, rtol=1e-9,
                                   equal_nan=True)
    plan = (sx.expanding(3).corr(sy)._sdf._jdf.queryExecution()
            .executedPlan().toString())
    assert "SinglePartition" not in plan and "Window" not in plan


def test_expanding_pair_multibatch(spark):
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 64)
    try:
        rng = np.random.default_rng(21)
        x = pd.Series(rng.normal(size=800))
        y = pd.Series(rng.normal(size=800))
        sx = pas.Series.from_pandas(x)
        sy = pas.Series.from_pandas(y)
        got = sx.expanding(2).cov(sy).to_pandas().sort_index() \
            .to_numpy()
        want = x.expanding(2).cov(y).to_numpy()
        np.testing.assert_allclose(got, want, rtol=1e-9,
                                   equal_nan=True)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", 10000)


def test_eval(spark):
    pdf = pd.DataFrame({"a": [1.0, 2.0, 3.0], "b": [10.0, 20.0, 30.0]})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.eval("c = a * 2 + b").to_pandas().sort_index()
    want = pdf.eval("c = a * 2 + b")
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_names=False)
    s = df.eval("a + b").to_pandas().sort_index()
    np.testing.assert_allclose(s.to_numpy(float),
                               pdf.eval("a + b").to_numpy(float))


# --------------------------------------- frame-level global rolling

@pytest.mark.parametrize("agg", ["sum", "mean", "min", "max",
                                 "count", "std", "var", "median"])
def test_frame_rolling(spark, agg):
    df = pas.DataFrame.from_pandas(PDF)
    got = getattr(df.rolling(3), agg)().to_pandas().sort_index()
    want = getattr(PDF.rolling(3), agg)()
    np.testing.assert_allclose(got.to_numpy(float),
                               want.to_numpy(float),
                               rtol=1e-12, equal_nan=True)


def test_frame_rolling_min_periods_and_plan(spark):
    df = pas.DataFrame.from_pandas(PDF)
    got = df.rolling(3, min_periods=1).sum().to_pandas().sort_index()
    want = PDF.rolling(3, min_periods=1).sum()
    np.testing.assert_allclose(got.to_numpy(float),
                               want.to_numpy(float), equal_nan=True)
    plan = (df.rolling(3).mean()._sdf._jdf.queryExecution()
            .executedPlan().toString())
    assert "SinglePartition" not in plan and "Window" not in plan
    with pytest.raises(NotImplementedError, match="per-column"):
        df.rolling("7D")
    with pytest.raises(NotImplementedError, match="per-column"):
        df.expanding()


def test_frame_ewm_mean(spark):
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({"a": rng.normal(size=300),
                        "b": rng.normal(size=300).cumsum()})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.ewm(0.3).mean().to_pandas().sort_index()
    want = pdf.ewm(alpha=0.3, adjust=True).mean()
    np.testing.assert_allclose(got.to_numpy(float),
                               want.to_numpy(float), rtol=1e-10)
    plan = (df.ewm(0.3).mean()._sdf._jdf.queryExecution()
            .executedPlan().toString())
    assert "SinglePartition" not in plan and "Window" not in plan
    with pytest.raises(ValueError, match="alpha"):
        df.ewm(1.5)


def test_frame_ewm_multibatch(spark):
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 64)
    try:
        pdf = pd.DataFrame({"a": np.arange(500, dtype="float64"),
                            "b": np.arange(500)[::-1]
                            .astype("float64")})
        df = pas.DataFrame.from_pandas(pdf)
        got = df.ewm(0.1).mean().to_pandas().sort_index()
        want = pdf.ewm(alpha=0.1, adjust=True).mean()
        np.testing.assert_allclose(got.to_numpy(float),
                                   want.to_numpy(float), rtol=1e-10)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", 10000)


def test_rolling_corr_zero_variance_is_null(spark):
    """Spark 4 ANSI mode: the builtin corr RAISES DIVIDE_BY_ZERO on a
    constant window — the engine's gated form must yield null
    (pandas NaN) instead."""
    pdf = pd.DataFrame({"k": ["a"] * 4,
                        "x": [1.0, 2.0, 3.0, 4.0],
                        "y": [5.0, 5.0, 5.0, 5.0]})
    df = pas.DataFrame.from_pandas(pdf)
    out = df.groupby("k")["x"].rolling(3).corr("y") \
        .to_pandas().sort_index()
    assert out.isna().all()
    want = pdf["x"].rolling(3).corr(pdf["y"])
    assert bool(np.all(want.isna()))  # pandas agrees: all NaN
    m = df.groupby("k").corr().to_pandas()
    assert m["x__y"].isna().all()


# ------------------------- core.py review-finding regressions


def test_transform_preserves_sorted_order(spark):
    pdf = pd.DataFrame({"a": [3.0, 1.0, 2.0]})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.sort_values("a").transform(lambda s: s + 1).to_pandas()
    want = pdf.sort_values("a").transform(lambda s: s + 1)
    assert got["a"].tolist() == want["a"].tolist()


def test_asof_nan_and_listlike(spark):
    a = pas.Series.from_list([0.0, 1.0, 2.0], name="a")
    b = pas.Series.from_list([0.0, 1.0, 1.0], name="b")
    fr = (a / b).to_frame("v")  # first row 0/0 -> NaN
    assert fr.asof(10)["v"] == 2.0  # NaN row skipped
    pdf = pd.DataFrame({"v": [1.0, 2.0]}, index=[10, 20])
    df = pas.DataFrame.from_pandas(pdf)
    got = df.asof(np.array([15, 25]))
    want = pdf.asof(np.array([15, 25]))
    assert got["v"].tolist() == want["v"].tolist()
    got = df.asof(pd.Index([15]))
    assert got["v"].tolist() == [1.0]
    empty = df.asof([])
    assert len(empty) == 0


def test_grouped_ffill_limit(spark):
    pdf = pd.DataFrame({"k": ["a"] * 5,
                        "v": [1.0, None, None, None, 5.0]})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.groupby("k")["v"].ffill(limit=1).to_pandas().sort_index()
    want = pdf.groupby("k")["v"].ffill(limit=1)
    assert got.fillna(-1).tolist() == want.fillna(-1).tolist()
    # round 6: the GLOBAL flavors support limit= too ((value, age)
    # carry — tests/test_segscan.py covers the partition-border cases)
    g1 = df["v"].ffill(limit=1).to_pandas().sort_index()
    assert g1.fillna(-1).tolist() == \
        pdf["v"].ffill(limit=1).fillna(-1).tolist()
    g2 = df.ffill(limit=2).to_pandas().sort_index()
    assert g2["v"].fillna(-1).tolist() == \
        pdf.ffill(limit=2)["v"].fillna(-1).tolist()
