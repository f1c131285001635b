"""Mechanical pandas-parity batch: aliases, label filters, positional
take, case_when, GroupBy get_group/ngroups/ohlc.  Differential vs
pandas where pandas has the verb."""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import pandas_alchemy_spark as pas

PDF = pd.DataFrame({
    "k": ["a", "a", "b", "b", "c"],
    "x": [1.0, 4.0, 2.0, 5.0, 3.0],
    "y": [10, 40, 20, 50, 30],
})


def test_frame_aliases(spark):
    df = pas.DataFrame.from_pandas(PDF[["x", "y"]])
    np.testing.assert_allclose(
        df.divide(2).to_pandas().sort_index().to_numpy(float),
        (PDF[["x", "y"]] / 2).to_numpy(float))
    np.testing.assert_allclose(
        df.multiply(3).to_pandas().sort_index().to_numpy(float),
        (PDF[["x", "y"]] * 3).to_numpy(float))
    np.testing.assert_allclose(
        df.subtract(1).to_pandas().sort_index().to_numpy(float),
        (PDF[["x", "y"]] - 1).to_numpy(float))
    assert df.copy() is not df
    assert list(df.keys()) == ["x", "y"]
    assert df.get("missing", "dflt") == "dflt"
    assert df.get("x") is not None
    assert df.convert_dtypes() is df


def test_frame_mask_filter_truncate_take(spark):
    df = pas.DataFrame.from_pandas(PDF[["x", "y"]])
    got = df.mask(df.x > 2).to_pandas().sort_index()
    want = PDF[["x", "y"]].mask(PDF["x"] > 2)
    np.testing.assert_allclose(got.to_numpy(float),
                               want.to_numpy(float), equal_nan=True)
    assert df.filter(like="x").columns.tolist() == ["x"]
    assert df.filter(regex="^y$").columns.tolist() == ["y"]
    assert df.filter(items=["y", "x"]).to_pandas().shape == (5, 2)
    got = df.filter(items=[1, 3], axis=0).to_pandas().sort_index()
    want = PDF[["x", "y"]].filter(items=[1, 3], axis=0)
    np.testing.assert_allclose(got.to_numpy(float),
                               want.to_numpy(float))
    got = df.truncate(1, 3).to_pandas().sort_index()
    want = PDF[["x", "y"]].truncate(1, 3)
    np.testing.assert_allclose(got.to_numpy(float),
                               want.to_numpy(float))
    got = df.take([0, 2, -1]).to_pandas().sort_index()
    want = PDF[["x", "y"]].take([0, 2, -1]).sort_index()
    np.testing.assert_allclose(got.to_numpy(float),
                               want.to_numpy(float))


def test_frame_set_axis_reindex_like_values(spark):
    df = pas.DataFrame.from_pandas(PDF[["x", "y"]])
    assert df.set_axis(["p", "q"]).columns.tolist() == ["p", "q"]
    other = pas.DataFrame.from_pandas(PDF[["x"]].iloc[[0, 3]])
    got = df.reindex_like(other).to_pandas().sort_index()
    assert sorted(got.index.tolist()) == [0, 3]
    assert df.to_numpy().shape == (5, 2)
    assert df.values.shape == (5, 2)


def test_series_batch(spark):
    s = pas.Series.from_list([3.0, 1.0, 4.0, 1.5], name="v")
    ps = pd.Series([3.0, 1.0, 4.0, 1.5], name="v")
    assert s.divide(2).to_pandas().sort_index().tolist() == \
        (ps / 2).tolist()
    assert s.dtype == np.dtype("float64")
    assert s.argmax() == ps.argmax()
    assert s.argmin() == ps.argmin()
    assert not s.hasnans
    assert s.is_unique
    s2 = pas.Series.from_list([1.0, 1.0, None], name="v")
    assert s2.hasnans
    assert not s2.is_unique
    assert s.to_list() == ps.tolist()
    assert s.to_numpy().shape == (4,)
    assert s.to_dict() == ps.to_dict()
    got = s.drop([1, 2]).to_pandas().sort_index()
    want = ps.drop([1, 2])
    assert got.tolist() == want.tolist()
    assert s.truncate(1, 2).to_pandas().sort_index().tolist() == \
        ps.truncate(1, 2).tolist()
    assert s.take([0, 3]).to_pandas().sort_index().tolist() == \
        ps.take([0, 3]).sort_index().tolist()
    assert s.get(2) == 4.0
    assert s.get(99, "dflt") == "dflt"
    # dot: alignment + sum of products
    assert abs(s.dot(s) - ps.dot(ps)) < 1e-9


def test_series_valid_index_filter(spark):
    ps = pd.Series([np.nan, 2.0, np.nan, 5.0, np.nan])
    s = pas.Series.from_pandas(ps)
    assert s.first_valid_index() == ps.first_valid_index()
    assert s.last_valid_index() == ps.last_valid_index()
    sf = pas.Series.from_list([10, 20, 30], name="v")
    assert sf.filter(items=[0, 2]).to_pandas().sort_index().tolist() \
        == [10, 30]


def test_series_case_when(spark):
    pdf = PDF[["x", "y"]]
    df = pas.DataFrame.from_pandas(pdf)
    got = df.x.case_when([(df.x > 3, -1.0), (df.y > 15, -2.0)]) \
        .to_pandas().sort_index()
    want = pdf["x"].case_when([(pdf["x"] > 3, -1.0),
                               (pdf["y"] > 15, -2.0)])
    np.testing.assert_allclose(got.to_numpy(float),
                               want.to_numpy(float))


def test_groupby_tail_batch(spark):
    df = pas.DataFrame.from_pandas(PDF)
    gb = df.groupby("k")
    assert gb.ngroups == 3
    got = gb.get_group("b").to_pandas().sort_index()
    want = PDF.groupby("k").get_group("b")
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_names=False)
    o = gb.ohlc().to_pandas().sort_index()
    want = PDF.groupby("k")[["x", "y"]].ohlc().sort_index()
    for col in ("x", "y"):
        for stat in ("open", "high", "low", "close"):
            np.testing.assert_allclose(
                o[f"{col}_{stat}"].to_numpy(float),
                want[(col, stat)].to_numpy(float),
                err_msg=f"{col}_{stat}")
    assert gb.pipe(lambda g: g.ngroups) == 3
    agg = gb.aggregate({"x": "sum"}).to_pandas().sort_index()
    np.testing.assert_allclose(
        agg["x"].to_numpy(float),
        PDF.groupby("k")["x"].sum().sort_index().to_numpy(float))


def test_series_groupby(spark):
    pdf = pd.DataFrame({"k": ["a", "b", "a", "b", "a"],
                        "v": [1.0, 2.0, 3.0, 4.0, 5.0]})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.v.groupby(df.k).sum().to_pandas().sort_index()
    want = pdf["v"].groupby(pdf["k"]).sum().sort_index()
    assert got.tolist() == want.tolist()
    assert got.index.name == "k"
    t = df.v.groupby(df.k).cumsum().to_pandas().sort_index()
    assert t.tolist() == pdf["v"].groupby(pdf["k"]).cumsum().tolist()
    df2 = df.set_index("k")
    gl = df2.v.groupby(level=0).mean().to_pandas().sort_index()
    wl = pdf.set_index("k")["v"].groupby(level=0).mean().sort_index()
    np.testing.assert_allclose(gl.to_numpy(float),
                               wl.to_numpy(float))
    with pytest.raises(TypeError, match="exactly one"):
        df.v.groupby()


def test_groupby_pairwise_corr_cov(spark):
    pdf = pd.DataFrame({"k": ["a"] * 4 + ["b"] * 4,
                        "x": [1.0, 2.0, 4.0, 3.0, 5.0, 8.0, 7.0, 6.0],
                        "y": [2.0, 1.0, 3.0, 6.0, 4.0, 9.0, 8.0, 5.0]})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.groupby("k").corr().to_pandas().sort_index()
    want = pdf.groupby("k").apply(
        lambda g: g["x"].corr(g["y"]), include_groups=False)
    np.testing.assert_allclose(got["x__y"].to_numpy(float),
                               want.sort_index().to_numpy(float),
                               rtol=1e-12)
    gotc = df.groupby("k").cov().to_pandas().sort_index()
    wantc = pdf.groupby("k").apply(
        lambda g: g["x"].cov(g["y"]), include_groups=False)
    np.testing.assert_allclose(gotc["x__y"].to_numpy(float),
                               wantc.sort_index().to_numpy(float),
                               rtol=1e-12)


def test_groupby_resample(spark):
    pdf = pd.DataFrame({
        "u": ["a", "a", "a", "b", "b"],
        "ts": pd.to_datetime(["2024-01-01 01:00", "2024-01-01 23:00",
                              "2024-01-02 05:00", "2024-01-01 02:00",
                              "2024-01-03 04:00"]),
        "v": [1.0, 2.0, 3.0, 4.0, 5.0]})
    df = pas.DataFrame.from_pandas(pdf)
    got = (df.groupby("u").resample("D", on="ts")
           .agg(total=("v", "sum")).to_pandas().sort_index())
    want = pdf.groupby("u").resample("D", on="ts")["v"].sum()
    want = want[want != 0]  # engine contract: sparse buckets
    assert got["total"].tolist() == want.sort_index().tolist()


def test_frame_align(spark):
    a = pd.DataFrame({"x": [1.0, 2.0], "y": [3.0, 4.0]}, index=[0, 1])
    b = pd.DataFrame({"y": [9.0, 8.0], "z": [7.0, 6.0]}, index=[1, 2])
    da, db = (pas.DataFrame.from_pandas(a)
              .align(pas.DataFrame.from_pandas(b)))
    wa, wb = a.align(b)
    pd.testing.assert_frame_equal(da.to_pandas().sort_index(), wa,
                                  check_dtype=False, check_names=False)
    pd.testing.assert_frame_equal(db.to_pandas().sort_index(), wb,
                                  check_dtype=False, check_names=False)


def test_frame_combine(spark):
    a = pd.DataFrame({"x": [1.0, 5.0], "y": [3.0, 1.0]})
    b = pd.DataFrame({"x": [4.0, 2.0], "y": [0.0, 9.0]})
    got = (pas.DataFrame.from_pandas(a)
           .combine(pas.DataFrame.from_pandas(b),
                    lambda s1, s2: s1.where(s1 > s2, s2))
           .to_pandas().sort_index())
    want = a.combine(b, lambda s1, s2: s1.where(s1 > s2, s2))
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_names=False)


def test_series_unstack(spark):
    pdf = pd.DataFrame({"r": ["a", "a", "b", "b"],
                        "c": ["p", "q", "p", "q"],
                        "v": [1.0, 2.0, 3.0, 4.0]})
    df = pas.DataFrame.from_pandas(pdf).set_index(["r", "c"])
    got = df.v.unstack().to_pandas().sort_index()
    want = pdf.set_index(["r", "c"])["v"].unstack().sort_index()
    np.testing.assert_allclose(got[["p", "q"]].to_numpy(float),
                               want[["p", "q"]].to_numpy(float))


def test_series_combine_asof(spark):
    a = pd.Series([1.0, 5.0, 2.0])
    b = pd.Series([4.0, 2.0, 9.0])
    sa, sb = pas.Series.from_pandas(a), pas.Series.from_pandas(b)
    got = sa.combine(sb, lambda x, y: x.where(x > y, y)) \
        .to_pandas().sort_index()
    want = a.combine(b, max)
    assert got.tolist() == want.tolist()
    ps = pd.Series([1.0, np.nan, 3.0], index=[10, 20, 30])
    s = pas.Series.from_pandas(ps)
    assert s.asof(25) == ps.asof(25)
    assert s.asof(9) is None and np.isnan(ps.asof(9))
    got = s.asof([15, 25, 35])
    want = ps.asof([15, 25, 35])
    assert got.tolist() == want.tolist()


def test_time_of_day_and_xs(spark):
    idx = pd.date_range("2024-01-01", periods=48, freq="h")
    pdf = pd.DataFrame({"v": range(48)}, index=idx)
    df = pas.DataFrame.from_pandas(pdf.reset_index()) \
        .set_index("index")
    got = df.at_time("09:00").to_pandas().sort_index()
    want = pdf.at_time("09:00")
    assert got["v"].tolist() == want["v"].tolist()
    got = df.between_time("22:00", "01:00").to_pandas().sort_index()
    want = pdf.between_time("22:00", "01:00").sort_index()
    assert got["v"].tolist() == want["v"].tolist()
    # the Series path shares the frame's body
    got = df.v.at_time("09:00").to_pandas().sort_index()
    assert got.tolist() == pdf.v.at_time("09:00").tolist()
    got = df.v.between_time("22:00", "01:00").to_pandas().sort_index()
    assert got.tolist() == pdf.v.between_time("22:00", "01:00").tolist()
    # xs on a MultiIndex frame
    pm = pd.DataFrame({"r": ["a", "a", "b"], "c": ["p", "q", "p"],
                       "v": [1, 2, 3]})
    dm = pas.DataFrame.from_pandas(pm).set_index(["r", "c"])
    got = dm.xs("a").to_pandas().sort_index()
    want = pm.set_index(["r", "c"]).xs("a").sort_index()
    assert got["v"].tolist() == want["v"].tolist()


def test_groupby_take(spark):
    got = (pas.DataFrame.from_pandas(PDF).groupby("k").take([0, -1])
           .to_pandas().sort_index())
    # per group: first and last member rows (by index order)
    want_idx = sorted({g.index[0] for _, g in PDF.groupby("k")}
                      | {g.index[-1] for _, g in PDF.groupby("k")})
    assert got.index.tolist() == want_idx


def test_frame_fill_asof_transform(spark):
    pdf = pd.DataFrame({"a": [np.nan, 1.0, np.nan, 3.0],
                        "b": [10.0, np.nan, np.nan, 40.0]})
    df = pas.DataFrame.from_pandas(pdf)
    for verb in ("ffill", "bfill"):
        got = getattr(df, verb)().to_pandas().sort_index()
        want = getattr(pdf, verb)()
        np.testing.assert_allclose(got.to_numpy(float),
                                   want.to_numpy(float),
                                   equal_nan=True)
    pdf3 = pd.DataFrame({"p": [1.0, 2.0, np.nan, 4.0],
                         "q": [1.0, np.nan, 3.0, 4.0]},
                        index=[10, 20, 30, 40])
    df3 = pas.DataFrame.from_pandas(pdf3)
    assert df3.asof(35).tolist() == pdf3.asof(35).tolist()
    assert df3.asof([15, 45]).values.tolist() == \
        pdf3.asof([15, 45]).values.tolist()
    dt = pas.DataFrame.from_pandas(pdf.fillna(0.0))
    got = dt.transform(lambda s: s * 2 + 1).to_pandas().sort_index()
    want = pdf.fillna(0.0).transform(lambda s: s * 2 + 1)
    np.testing.assert_allclose(got.to_numpy(float),
                               want.to_numpy(float))


def test_groupby_frame_ewm_and_corrwith(spark):
    pdf = pd.DataFrame({"k": ["a"] * 5 + ["b"] * 5,
                        "x": np.arange(10, dtype=float),
                        "y": np.arange(10)[::-1].astype(float)})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.groupby("k").ewm(0.4).mean().to_pandas().sort_index()
    want = pdf.groupby("k")[["x", "y"]].transform(
        lambda s: s.ewm(alpha=0.4, adjust=True).mean())
    np.testing.assert_allclose(got.to_numpy(float),
                               want.to_numpy(float), rtol=1e-12)
    other = pas.DataFrame.from_pandas(
        pd.DataFrame({"x": pdf["x"] * 2 + pdf.index,
                      "y": -pdf["y"]}))
    got = df.groupby("k").corrwith(other).to_pandas().sort_index()
    want = pdf.groupby("k").apply(
        lambda g: pd.Series({
            "x": g["x"].corr(g["x"] * 2 + g.index.to_series()),
            "y": g["y"].corr(-g["y"])}), include_groups=False)
    np.testing.assert_allclose(got.to_numpy(float),
                               want.sort_index().to_numpy(float),
                               rtol=1e-9)


def test_series_closure_bits(spark):
    s = pas.Series.from_list([3, 1, 2], name="v")
    assert s.T is s and s.transpose() is s
    assert s.convert_dtypes() is s
    assert s.set_axis(["a", "b", "c"]).to_pandas().sort_index() \
        .index.tolist() == ["a", "b", "c"]
    other = pas.Series.from_list([9, 9], name="v")
    rl = s.reindex_like(other).to_pandas()
    assert sorted(rl.index.tolist()) == [0, 1]
    ps = pd.Series([3, 1, 2])
    assert list(s.argsort()) == list(ps.argsort())
    sc = pas.Series.from_list([1.0, 5.0], name="v")
    oc = pas.Series.from_list([1.0, 7.0], name="v")
    cmp_out = sc.compare(oc).to_pandas()
    assert cmp_out["self"].tolist() == [5.0]
    assert cmp_out["other"].tolist() == [7.0]
    sp = pas.Series.from_list([10, 20, 30], name="v")
    assert sp.pop(1) == 20
    assert sp.to_pandas().sort_index().tolist() == [10, 30]


def test_series_drop_errors(spark):
    s = pas.Series.from_list([10, 20, 30], name="v")
    with pytest.raises(KeyError, match="not all found"):
        s.drop([0, 99])
    out = s.drop([0, 99], errors="ignore").to_pandas().sort_index()
    assert out.tolist() == [20, 30]


# ----------------------- round-5 relational review findings


def test_query_eval_quoted_literals(spark):
    pdf = pd.DataFrame({"genre": ["rock and roll", "jazz"],
                        "n": [1, 2]})
    df = pas.DataFrame.from_pandas(pdf)
    out = df.query("genre == 'rock and roll'").to_pandas()
    assert out["n"].tolist() == [1]
    s = df.eval("'rock and roll' == genre").to_pandas().sort_index()
    assert s.tolist() == [True, False]


def test_eval_replaces_existing_column(spark):
    pdf = pd.DataFrame({"a": [1.0, 2.0], "b": [10.0, 20.0]})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.eval("a = a * 2").to_pandas().sort_index()
    want = pdf.eval("a = a * 2")
    assert list(got.columns) == ["a", "b"]
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_names=False)


def test_groupby_sample_is_row_level(spark):
    """Hashing the group key would keep/drop whole groups; the
    default must sample rows WITHIN groups (index hash)."""
    pdf = pd.DataFrame({"k": ["a"] * 200 + ["b"] * 200,
                        "v": range(400)})
    df = pas.DataFrame.from_pandas(pdf)
    out = df.groupby("k").sample(0.5).to_pandas()
    kept = out.groupby("k").size()
    assert set(kept.index) == {"a", "b"}  # both groups survive
    for g in ("a", "b"):
        assert 0.25 < kept[g] / 200 < 0.75  # partial within group


def test_corrwith_skips_non_numeric(spark):
    a = pd.DataFrame({"name": ["x", "y", "z"],
                      "v": [1.0, 2.0, 3.0]})
    b = pd.DataFrame({"name": ["x", "y", "z"],
                      "v": [2.0, 4.0, 6.0]})
    got = (pas.DataFrame.from_pandas(a)
           .corrwith(pas.DataFrame.from_pandas(b))
           .to_pandas())
    assert list(got.index) == ["v"]
    np.testing.assert_allclose(got["v"], 1.0)


def test_qcut_default_labels(spark):
    vals = [float(x) for x in range(20)]
    s = pas.Series.from_list(vals, name="v")
    got = pas.qcut(s, 4, labels=None).to_pandas().sort_index()
    want = pd.qcut(pd.Series(vals), 4).astype(str)
    assert got.tolist() == want.tolist()


def test_pivot_infers_values(spark):
    pdf = pd.DataFrame({"r": ["a", "a", "b"], "c": ["p", "q", "p"],
                        "v": [1.0, 2.0, 3.0]})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.pivot(index="r", columns="c").to_pandas().sort_index()
    want = pdf.pivot(index="r", columns="c", values="v").sort_index()
    np.testing.assert_allclose(got[["p", "q"]].to_numpy(float),
                               want[["p", "q"]].to_numpy(float),
                               equal_nan=True)


def test_series_pop_null_value(spark):
    s = pas.Series.from_pandas(pd.Series([1.0, np.nan, 3.0]))
    v = s.pop(1)
    assert v is None or (isinstance(v, float) and np.isnan(v))
    assert s.to_pandas().sort_index().tolist() == [1.0, 3.0]
    with pytest.raises(KeyError):
        s.pop(99)


def test_update_keeps_null_index_rows(spark):
    a = pd.DataFrame({"x": [1.0, 2.0]}, index=[0.0, np.nan])
    b = pd.DataFrame({"x": [10.0]}, index=[0.0])
    da = pas.DataFrame.from_pandas(a)
    da.update(pas.DataFrame.from_pandas(b))
    out = da.to_pandas()
    assert len(out) == 2  # the null-label row survives
    assert sorted(out["x"].tolist()) == [2.0, 10.0]
