"""Differential tests for Series.str / Series.dt vs real pandas
(the reference's own oracle model, SURVEY.md §5.2)."""

import pandas as pd
import pandas.testing as pdt
import pytest

import pandas_alchemy_spark as pas


@pytest.fixture(scope="module")
def str_pdf():
    return pd.DataFrame({
        "s": ["Hello World", "  spam  ", "", None, "Ab1 c2", "ZZ top",
              "a-b-c", "UPPER lower"],
        "k": list(range(8)),
    })


@pytest.fixture(scope="module")
def ts_pdf():
    return pd.DataFrame({
        "t": pd.to_datetime([
            "2024-01-01 00:30:00", "2024-02-29 13:45:10",
            "2024-07-04 23:59:59", None, "1999-12-31 06:00:00",
        ]),
        "k": list(range(5)),
    })


def _series_eq(ours, pds, check_dtype=False):
    got = ours.to_pandas().reset_index(drop=True)
    want = pds.reset_index(drop=True)
    want.name = got.name
    pdt.assert_series_equal(got, want, check_dtype=check_dtype)


STR_CASES = [
    ("lower", lambda s: s.str.lower()),
    ("upper", lambda s: s.str.upper()),
    ("title", lambda s: s.str.title()),
    ("len", lambda s: s.str.len()),
    ("strip", lambda s: s.str.strip()),
    ("lstrip", lambda s: s.str.lstrip()),
    ("rstrip", lambda s: s.str.rstrip()),
    ("contains_re", lambda s: s.str.contains(r"[A-Z]{2}")),
    ("contains_lit", lambda s: s.str.contains("lo", regex=False)),
    ("startswith", lambda s: s.str.startswith("He")),
    ("endswith", lambda s: s.str.endswith("c2")),
    ("replace_lit", lambda s: s.str.replace("-", "_")),
    ("replace_re", lambda s: s.str.replace(r"[0-9]", "#", regex=True)),
    ("slice", lambda s: s.str.slice(1, 4)),
    ("slice_open", lambda s: s.str.slice(2)),
    ("slice_neg_start", lambda s: s.str.slice(-3)),
    ("slice_neg_stop", lambda s: s.str.slice(1, -1)),
    ("slice_reversed", lambda s: s.str.slice(None, None, -1)),
    ("slice_neg_stepped", lambda s: s.str.slice(-4, -1, 2)),
    ("get", lambda s: s.str.get(1)),
    ("zfill", lambda s: s.str.zfill(6)),
    ("pad_r", lambda s: s.str.pad(10, side="right", fillchar=".")),
]


@pytest.mark.parametrize("name,fn", STR_CASES, ids=[c[0] for c in STR_CASES])
def test_str_differential(spark, str_pdf, name, fn):
    df = pas.DataFrame.from_pandas(str_pdf)
    _series_eq(fn(df.s), fn(str_pdf.s))


DT_CASES = [
    ("year", lambda s: s.dt.year),
    ("month", lambda s: s.dt.month),
    ("day", lambda s: s.dt.day),
    ("hour", lambda s: s.dt.hour),
    ("minute", lambda s: s.dt.minute),
    ("second", lambda s: s.dt.second),
    ("dayofweek", lambda s: s.dt.dayofweek),
    ("dayofyear", lambda s: s.dt.dayofyear),
    ("quarter", lambda s: s.dt.quarter),
    ("floor_D", lambda s: s.dt.floor("D")),
    ("strftime", lambda s: s.dt.strftime("%Y-%m-%d %H:%M")),
]


@pytest.mark.parametrize("name,fn", DT_CASES, ids=[c[0] for c in DT_CASES])
def test_dt_differential(spark, ts_pdf, name, fn):
    df = pas.DataFrame.from_pandas(ts_pdf)
    got = fn(df.t).to_pandas().reset_index(drop=True)
    want = fn(ts_pdf.t).reset_index(drop=True)
    want.name = got.name
    if name == "floor_D":
        got = pd.to_datetime(got)
    pdt.assert_series_equal(got, want, check_dtype=False)


def test_str_filter_lineage(spark, str_pdf):
    """mask from .str stays in-plan (no join) and matches pandas."""
    df = pas.DataFrame.from_pandas(str_pdf)
    ours = df[df.s.str.contains("o", regex=False)][["k"]].to_pandas()
    want = str_pdf[str_pdf.s.str.contains("o", regex=False).fillna(False)][["k"]]
    assert sorted(ours.k.tolist()) == sorted(want.k.tolist())


def test_str_extract_count_find_repeat_capitalize(spark):
    pdf = pd.DataFrame({"s": ["foo123bar", "no digits", "a1b2c3", "XYZ"]})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.s.str.extract(r"([0-9]+)").to_pandas().reset_index(drop=True)
    want = pdf["s"].str.extract(r"([0-9]+)", expand=False).reset_index(drop=True)
    pd.testing.assert_series_equal(got, want, check_names=False)
    got = df.s.str.count(r"[0-9]").to_pandas().reset_index(drop=True)
    want = pdf["s"].str.count(r"[0-9]").reset_index(drop=True)
    pd.testing.assert_series_equal(got, want, check_dtype=False, check_names=False)
    got = df.s.str.find("b").to_pandas().reset_index(drop=True)
    want = pdf["s"].str.find("b").reset_index(drop=True)
    pd.testing.assert_series_equal(got, want, check_dtype=False, check_names=False)
    got = df.s.str.repeat(2).to_pandas().reset_index(drop=True)
    want = pdf["s"].str.repeat(2).reset_index(drop=True)
    pd.testing.assert_series_equal(got, want, check_names=False)
    got = df.s.str.capitalize().to_pandas().reset_index(drop=True)
    want = pdf["s"].str.capitalize().reset_index(drop=True)
    pd.testing.assert_series_equal(got, want, check_names=False)


def test_dt_calendar_extras(spark):
    ts = pd.to_datetime(["2024-01-01 00:00:00", "2024-02-29 12:30:00",
                         "2023-12-31 23:59:59", "2024-06-15 08:00:00"])
    pdf = pd.DataFrame({"t": ts})
    df = pas.DataFrame.from_pandas(pdf)
    for attr in ["days_in_month", "is_month_start", "is_month_end"]:
        got = getattr(df.t.dt, attr).to_pandas().reset_index(drop=True)
        want = getattr(pdf["t"].dt, attr).reset_index(drop=True)
        pd.testing.assert_series_equal(got, want, check_dtype=False,
                                       check_names=False)
    got = df.t.dt.month_name().to_pandas().reset_index(drop=True)
    want = pdf["t"].dt.month_name().reset_index(drop=True)
    pd.testing.assert_series_equal(got, want, check_names=False)
    got = df.t.dt.day_name().to_pandas().reset_index(drop=True)
    want = pdf["t"].dt.day_name().reset_index(drop=True)
    pd.testing.assert_series_equal(got, want, check_names=False)


# -- Series.arr (array accessor; beyond-pandas) ---------------------------

def _arr_series():
    import pandas_alchemy_spark as pas
    return pas.Series.from_list(
        [[1.0, 2.0, 3.0], [4.0, 0.5, -1.0], [], None], name="a")


def _nl(xs):
    """NULL comes back as NaN through pandas float columns; normalize
    both to None for comparison."""
    return [None if x is None or x != x else x for x in xs]


def test_arr_len_get_contains(spark):
    s = _arr_series()
    assert _nl(s.arr.len().to_pandas().tolist()) == [3, 3, 0, None]
    assert _nl(s.arr.get(0).to_pandas().tolist()) == [1.0, 4.0, None, None]
    assert _nl(s.arr.get(-1).to_pandas().tolist()) == [3.0, -1.0, None, None]
    assert _nl(s.arr.contains(2.0).to_pandas().tolist()) == [
        True, False, False, None]


def test_arr_elementwise_stats(spark):
    s = _arr_series()
    assert _nl(s.arr.sum().to_pandas().tolist()) == [6.0, 3.5, 0.0, None]
    got = s.arr.mean().to_pandas().tolist()
    assert got[0] == 2.0 and abs(got[1] - 3.5 / 3) < 1e-12
    assert got[2] is None or got[2] != got[2]  # empty -> NA
    assert _nl(s.arr.min().to_pandas().tolist()) == [1.0, -1.0, None, None]
    assert _nl(s.arr.max().to_pandas().tolist()) == [3.0, 4.0, None, None]
    assert list(s.arr.slice(0, 2).to_pandas().tolist()[0]) == [1.0, 2.0]
    assert list(s.arr.sort(ascending=False).to_pandas().tolist()[1]) == [
        4.0, 0.5, -1.0]


def test_arr_dot_norm_cosine(spark):
    import math
    s = _arr_series()
    dots = s.arr.dot([1.0, 1.0, 1.0]).to_pandas().tolist()
    assert dots[0] == 6.0 and dots[1] == 3.5
    norms = s.arr.norm().to_pandas().tolist()
    assert abs(norms[0] - math.sqrt(14.0)) < 1e-12
    # self-cosine is exactly 1 for non-degenerate rows, NULL for empty
    cos = s.arr.cosine(s).to_pandas().tolist()
    assert abs(cos[0] - 1.0) < 1e-12 and abs(cos[1] - 1.0) < 1e-12
    assert cos[2] is None or cos[2] != cos[2]
    # list operand: cos([1,2,3],[3,2,1]) = 10/14
    c2 = s.arr.cosine([3.0, 2.0, 1.0]).to_pandas().tolist()
    assert abs(c2[0] - 10.0 / 14.0) < 1e-12


def test_arr_real_embeddings(spark):
    import pandas_alchemy_spark as pas
    emb = pas.read_parquet(
        "/root/testdata/sf0.001/embeddings.parquet").set_index("vec_id")
    e = emb.embedding
    import pandas as pd
    pdf = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")
    want = pdf.embedding.map(len)
    got = e.arr.len().to_pandas().sort_index()
    assert got.tolist() == want.tolist()
    import numpy as np
    wn = pdf.embedding.map(lambda v: float(np.sqrt((np.asarray(v, dtype="float64") ** 2).sum())))
    gn = e.arr.norm().to_pandas().sort_index()
    assert np.allclose(gn.to_numpy(), wn.to_numpy())


def test_str_cat_elementwise(spark):
    import pandas_alchemy_spark as pas
    import pandas as pd
    import pytest
    a = pas.Series.from_list(["x", None, "z"], name="a")
    b = pas.Series.from_list(["1", "2", None], name="b")
    got = _nl(a.str.cat(b, sep="-").to_pandas().tolist())
    want = _nl(pd.Series(["x", None, "z"]).str.cat(
        pd.Series(["1", "2", None]), sep="-").tolist())
    assert got == want  # NaN propagates, like pandas na_rep=None
    assert _nl(a.str.cat("!", sep="").to_pandas().tolist()) == [
        "x!", None, "z!"]
    with pytest.raises(NotImplementedError, match="bounded"):
        a.str.cat()


def test_str_join_array(spark):
    import pandas_alchemy_spark as pas
    s = pas.Series.from_list(["a b c", "d e"], name="t")
    toks = s.str.split()
    assert toks.str.join("-").to_pandas().tolist() == ["a-b-c", "d-e"]


# -------------------- round-5 accessor review regressions


def test_str_review_fixes(spark):
    import pandas as pd

    import pandas_alchemy_spark as pas
    s = pas.Series.from_pandas(pd.Series([" a b ", "x", None]))
    ps = pd.Series([" a b ", "x", None])
    got = s.str.split().to_pandas().sort_index()
    want = ps.str.split()
    assert list(got.iloc[0]) == list(want.iloc[0]) == ["a", "b"]
    # count: NULL -> NULL, not -1
    cnt = s.str.count("a").to_pandas().sort_index()
    assert pd.isna(cnt.iloc[2])
    # extract: non-participating optional group -> NULL
    e = pas.Series.from_pandas(pd.Series(["a", "ab"]))
    ext = e.str.extract("a(b)?").to_pandas().sort_index()
    assert pd.isna(ext.iloc[0]) and ext.iloc[1] == "b"
    # zfill: sign-aware
    z = pas.Series.from_pandas(pd.Series(["-1", "+2", "3"]))
    assert z.str.zfill(5).to_pandas().sort_index().tolist() == \
        pd.Series(["-1", "+2", "3"]).str.zfill(5).tolist()
    # title: unicode word boundaries
    t = pas.Series.from_pandas(pd.Series(["héllo wörld", "a-b"]))
    assert t.str.title().to_pandas().sort_index().tolist() == \
        pd.Series(["héllo wörld", "a-b"]).str.title().tolist()
    # cat: left join (labels only in others don't appear)
    a = pas.Series.from_pandas(pd.Series(["x", "y"], index=[0, 1]))
    b = pas.Series.from_pandas(pd.Series(["p", "q"], index=[1, 2]))
    c = a.str.cat(b, sep="-").to_pandas().sort_index()
    assert c.index.tolist() == [0, 1]
    assert pd.isna(c.iloc[0]) and c.iloc[1] == "y-p"


def test_to_datetime_raise_probe(spark):
    import pandas as pd
    import pytest

    import pandas_alchemy_spark as pas
    s = pas.Series.from_pandas(pd.Series(["2024-01-01", "garbage"]))
    with pytest.raises(ValueError, match="offending"):
        pas.to_datetime(s, format="%Y-%m-%d")
    ok = pas.to_datetime(s, format="%Y-%m-%d", errors="coerce")
    assert ok.to_pandas().sort_index().isna().tolist() == [False, True]


def test_strftime_reserved_literals(spark):
    import pandas as pd

    import pandas_alchemy_spark as pas
    s = pas.Series.from_pandas(
        pd.Series(pd.to_datetime(["2024-02-03"])))
    out = s.dt.strftime("%Y#%j").to_pandas().tolist()
    assert out == ["2024#034"]


def test_arr_dot_length_mismatch_raises(spark):
    import pandas as pd
    import pytest

    import pandas_alchemy_spark as pas
    s = pas.Series.from_pandas(pd.Series([[1.0, 2.0, 3.0]]))
    with pytest.raises(Exception, match="lengths differ"):
        s.arr.dot([1.0, 2.0]).to_pandas()
