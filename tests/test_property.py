"""Property-based differential tests (hypothesis): generated inputs
through the hardest semantic layer — IEEE arithmetic, broadcast
alignment, fill_value — compared against pandas on every example."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

import pandas_alchemy_spark as pas

_float = st.one_of(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    st.just(0.0), st.just(-0.0), st.just(float("nan")),
)
_vals = st.lists(_float, min_size=1, max_size=6)

_SLOW = settings(max_examples=15, deadline=None,
                 suppress_health_check=[HealthCheck.too_slow])


def _norm(x):
    """NaN/inf -> comparable sentinels (NaN != NaN breaks equality)."""
    out = []
    for v in x:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            out.append("nan")
        elif v == float("inf"):
            out.append("inf")
        elif v == float("-inf"):
            out.append("-inf")
        else:
            out.append(round(float(v), 9))
    return out


@pytest.mark.parametrize("op", ["add", "sub", "mul", "truediv",
                                "floordiv", "mod", "pow"])
def test_series_binop_differential_generated(spark, op):
    @_SLOW
    @given(a=_vals, b=_vals)
    def check(a, b):
        n = min(len(a), len(b))
        a, b = a[:n], b[:n]
        pa, pb = pd.Series(a), pd.Series(b)
        want = getattr(pa, op)(pb)
        sa = pas.Series.from_pandas(pa)
        sb = pas.Series.from_pandas(pb)
        got = getattr(sa, op)(sb).to_pandas()
        if op == "pow":
            # java.lang.Math.pow and C libm pow are each allowed to
            # miss correct rounding by an ulp, so large-magnitude
            # results can differ in the last place (hypothesis found
            # 1e-05 ** -1.8984375: 3105900223.6247044 vs ...48) —
            # the contract for pow is ~1-ulp RELATIVE, not absolute
            assert _close(got.tolist(), want.tolist()), (op, a, b)
        else:
            assert _norm(got.tolist()) == _norm(want.tolist()), (op, a,
                                                                 b)

    check()


def _close(xs, ys, rel=1e-12, ab=1e-9):
    if len(xs) != len(ys):
        return False
    for x, y in zip(xs, ys):
        nx = x is None or (isinstance(x, float) and math.isnan(x))
        ny = y is None or (isinstance(y, float) and math.isnan(y))
        if nx or ny:
            if nx != ny:
                return False
            continue
        if math.isinf(x) or math.isinf(y):
            if x != y:
                return False
            continue
        if not math.isclose(x, y, rel_tol=rel, abs_tol=ab):
            return False
    return True


def test_fill_value_differential_generated(spark):
    opt_float = st.one_of(_float, st.none())

    @_SLOW
    @given(a=st.lists(opt_float, min_size=3, max_size=5),
           b=st.lists(opt_float, min_size=3, max_size=5),
           fv=st.floats(min_value=-10, max_value=10, allow_nan=False))
    def check(a, b, fv):
        n = min(len(a), len(b))
        pa, pb = pd.Series(a[:n], dtype="float64"), pd.Series(
            b[:n], dtype="float64")
        want = pa.add(pb, fill_value=fv)
        got = (pas.Series.from_pandas(pa)
               .add(pas.Series.from_pandas(pb), fill_value=fv)
               .to_pandas())
        assert _norm(got.tolist()) == _norm(want.tolist()), (a, b, fv)

    check()


def test_outer_alignment_differential_generated(spark):
    keys = st.lists(st.integers(min_value=0, max_value=6), min_size=1,
                    max_size=5, unique=True)

    @_SLOW
    @given(ka=keys, kb=keys)
    def check(ka, kb):
        pa = pd.Series(range(len(ka)), index=ka, dtype="float64")
        pb = pd.Series(range(len(kb)), index=kb, dtype="float64")
        want = (pa + pb).sort_index()
        got = ((pas.Series.from_pandas(pa) + pas.Series.from_pandas(pb))
               .to_pandas().sort_index())
        assert _norm(got.tolist()) == _norm(want.tolist()), (ka, kb)
        assert got.index.tolist() == want.index.tolist()

    check()


def test_ewm_grouped_differential_generated(spark):
    @_SLOW
    @given(xs=st.lists(st.floats(min_value=-100, max_value=100,
                                 allow_nan=False), min_size=2,
                       max_size=12),
           gs=st.lists(st.integers(min_value=0, max_value=2),
                       min_size=2, max_size=12),
           alpha=st.floats(min_value=0.05, max_value=0.95))
    def check(xs, gs, alpha):
        n = min(len(xs), len(gs))
        pdf = pd.DataFrame({"g": gs[:n], "x": xs[:n]})
        pdf.index.name = "i"
        df = pas.DataFrame.from_pandas(pdf.reset_index()).set_index("i")
        got = (df.groupby("g")["x"].ewm(alpha=alpha).mean()
               .to_pandas().sort_index())
        want = (pdf.groupby("g")["x"]
                .transform(lambda s: s.ewm(alpha=alpha,
                                           adjust=True).mean()))
        assert _norm(got.tolist()) == _norm(want.tolist()), (xs, gs,
                                                             alpha)

    check()


def test_series_fillna_differential_generated(spark):
    opt_float = st.one_of(st.floats(min_value=-50, max_value=50,
                                    allow_nan=False), st.none())

    @_SLOW
    @given(xs=st.lists(opt_float, min_size=1, max_size=8),
           fv=st.floats(min_value=-9, max_value=9, allow_nan=False))
    def check(xs, fv):
        ps = pd.Series(xs, dtype="float64")
        want = ps.fillna(fv)
        got = pas.Series.from_pandas(ps).fillna(fv).to_pandas()
        assert _norm(got.tolist()) == _norm(want.tolist()), (xs, fv)

    check()


def test_exact_cents_engine_identical_generated(spark):
    """The tpch_suite contract: (price*100)*(100 - disc*100) summed is
    BIT-identical between Spark and DuckDB for 2-decimal money —
    regardless of row order or grouping."""
    import duckdb

    cents = st.integers(min_value=0, max_value=10_500_000)
    disc_c = st.integers(min_value=0, max_value=10)

    @_SLOW
    @given(rows=st.lists(st.tuples(cents, disc_c), min_size=1,
                         max_size=40))
    def check(rows):
        pdf = pd.DataFrame({"p": [c / 100.0 for c, _ in rows],
                            "d": [dc / 100.0 for _, dc in rows]})
        sdf = spark.createDataFrame(pdf)
        got = (sdf.selectExpr("sum((p*100) * (100 - d*100)) / 10000.0 "
                              "AS s").collect()[0]["s"])
        con = duckdb.connect()
        con.register("t", pdf)
        want = con.execute(
            "SELECT sum((p*100) * (100 - d*100)) / 10000.0 FROM t"
        ).fetchone()[0]
        import struct as _st
        assert _st.pack("d", got) == _st.pack("d", want), rows

    check()


def test_interpolate_differential_generated(spark):
    """Generated null patterns through the distributed interpolate:
    every (values, direction, limit) example must match pandas."""
    _vals_or_null = st.lists(
        st.one_of(st.floats(min_value=-1e6, max_value=1e6,
                            allow_nan=False),
                  st.none()),
        min_size=1, max_size=12)

    @_SLOW
    @given(vals=_vals_or_null,
           ld=st.sampled_from(["forward", "backward", "both"]),
           limit=st.sampled_from([None, 1, 2]))
    def check(vals, ld, limit):
        pa = pd.Series(vals, dtype="float64")
        want = pa.interpolate(limit_direction=ld, limit=limit)
        got = (pas.Series.from_pandas(pa)
               .interpolate(limit_direction=ld, limit=limit)
               .to_pandas().sort_index())
        assert _norm(got.tolist()) == _norm(want.tolist())
    check()


def test_rank_pct_differential_generated(spark):
    @_SLOW
    @given(vals=st.lists(st.one_of(
        st.integers(min_value=-5, max_value=5).map(float),
        st.none()), min_size=1, max_size=12),
        method=st.sampled_from(["min", "dense", "average", "max",
                                "first"]))
    def check(vals, method):
        pa = pd.Series(vals, dtype="float64")
        want = pa.rank(method=method, pct=True)
        got = (pas.Series.from_pandas(pa).rank(method=method, pct=True)
               .to_pandas().sort_index())
        assert _norm(got.tolist()) == _norm(want.tolist())
    check()


# ------------------------- fused multi-column scans (round-5) -------

_scan_col = st.lists(
    st.one_of(st.floats(min_value=-1e3, max_value=1e3,
                        allow_nan=False),
              st.none()),
    min_size=2, max_size=12)


@_SLOW
@given(a=_scan_col, b=_scan_col)
def _check_frame_scans(spark, a, b):
    n = min(len(a), len(b))
    pdf = pd.DataFrame({"a": pd.array(a[:n], dtype="float64"),
                        "b": pd.array(b[:n], dtype="float64")})
    df = pas.DataFrame.from_pandas(pdf)
    for verb, args in (("cumsum", ()), ("cummax", ()),
                       ("shift", (2,)), ("diff", (1,))):
        got = getattr(df, verb)(*args).to_pandas().sort_index()
        want = getattr(pdf, verb)(*args)
        for c in ("a", "b"):
            assert _norm(got[c].tolist()) == _norm(want[c].tolist()), \
                (verb, c, pdf.to_dict())


def test_frame_scans_generated(spark):
    _check_frame_scans(spark)


@_SLOW
@given(a=_scan_col)
def _check_frame_rank(spark, a):
    pdf = pd.DataFrame({"a": pd.array(a, dtype="float64")})
    df = pas.DataFrame.from_pandas(pdf)
    for m in ("min", "dense", "average", "max", "first"):
        got = df.rank(m).to_pandas().sort_index()["a"]
        want = pdf.rank(method=m)["a"]
        assert _norm(got.tolist()) == _norm(want.tolist()), (m, a)


def test_frame_rank_generated(spark):
    _check_frame_rank(spark)


def _exact_pair_scan(x, y, win, mp, stat):
    """Two-pass (mean-centered) per-window corr/cov — the exact
    oracle.  Pandas' own rolling kernel is ONLINE (add/remove over
    the traversal prefix) and loses up to ~1e-2 on adversarial
    windows whose values sit at f32-epsilon scale below earlier
    large values; the engine's border-exchange scan restarts that
    state at every partition border and can come out MORE accurate
    than single-node pandas (hypothesis found such a case in r10).
    Differential assertions accept the engine when it matches EITHER
    pandas or this exact value."""
    import numpy as np
    xv = np.asarray(x, dtype="float64")
    yv = np.asarray(y, dtype="float64")
    out = []
    for i in range(len(xv)):
        lo = 0 if win is None else max(0, i - win + 1)
        xs, ys = xv[lo:i + 1], yv[lo:i + 1]
        m = ~(np.isnan(xs) | np.isnan(ys))
        k = int(m.sum())
        if k < mp or k < 2:
            out.append(float("nan"))
            continue
        xc = xs[m] - xs[m].mean()
        yc = ys[m] - ys[m].mean()
        c = float((xc * yc).sum() / (k - 1))
        if stat == "cov":
            out.append(c)
        else:
            d = float(np.sqrt((xc * xc).sum() / (k - 1)
                              * (yc * yc).sum() / (k - 1)))
            out.append(c / d if d > 0 else float("nan"))
    return out


@_SLOW
@given(a=_scan_col, b=_scan_col)
def _check_pair_scans(spark, a, b):
    n = min(len(a), len(b))
    if n < 3:
        return
    x = pd.Series(pd.array(a[:n], dtype="float64"), dtype="float64")
    y = pd.Series(pd.array(b[:n], dtype="float64"), dtype="float64")
    sx, sy = pas.Series.from_pandas(x), pas.Series.from_pandas(y)
    got_r = sx.rolling(3).corr(sy).to_pandas().sort_index()
    want_r = x.rolling(3).corr(y)
    exact_r = _exact_pair_scan(x, y, 3, 3, "corr")
    got_e = sx.expanding(2).cov(sy).to_pandas().sort_index()
    want_e = x.expanding(2).cov(y)
    exact_e = _exact_pair_scan(x, y, None, 2, "cov")
    for g, w, ex in ((got_r, want_r, exact_r),
                     (got_e, want_e, exact_e)):
        gn, wn = _norm(g.tolist()), _norm(w.tolist())
        en = _norm(ex)
        for gi, wi, ei in zip(gn, wn, en):
            if isinstance(gi, float) and isinstance(wi, float):
                ok_pd = abs(gi - wi) <= 1e-6 * max(abs(wi), 1.0)
                ok_ex = (isinstance(ei, float)
                         and abs(gi - ei) <= 1e-6 * max(abs(ei), 1.0))
                assert ok_pd or ok_ex, (a, b, gn, wn, en)
            else:
                # inf/-inf can't arise; NaN-pattern must agree with
                # pandas or the exact oracle
                assert gi == wi or gi == ei, (a, b, gn, wn, en)


def test_pair_scans_generated(spark):
    _check_pair_scans(spark)


def test_fill_limit_differential_generated(spark):
    """Generated null geometries through the (value, age)-carry fill
    scan: ffill/bfill with random limits vs pandas.  Series are long
    enough to span the 4 test partitions so the cross-border carry
    engages on most examples."""
    @_SLOW
    @given(holes=st.lists(st.booleans(), min_size=8, max_size=80),
           limit=st.one_of(st.none(), st.integers(1, 6)),
           seed=st.integers(0, 2**16))
    def check(holes, limit, seed):
        import numpy as np
        rng = np.random.default_rng(seed)
        vals = [None if h else float(rng.integers(-50, 50))
                for h in holes]
        ps = pd.Series(vals, dtype="float64")
        s = pas.Series.from_pandas(ps)
        got_f = s.ffill(limit=limit).to_pandas().sort_index()
        want_f = ps.ffill(limit=limit)
        assert _norm(got_f.tolist()) == _norm(want_f.tolist())
        got_b = s.bfill(limit=limit).to_pandas().sort_index()
        want_b = ps.bfill(limit=limit)
        assert _norm(got_b.tolist()) == _norm(want_b.tolist())

    check()


# ------------------------------ EWM statistics on holey input -------

_EWM_STATS = (("mean", {}), ("sum", {}), ("var", {}),
              ("var", {"bias": True}), ("std", {}),
              ("std", {"bias": True}))


def _ewm_agrees(got, x, alpha, stat, kw):
    """The engine's EWM ``stat`` of ``x`` against pandas.  The
    tolerance follows the conditioning of the four weighted totals the
    scan carries (Σw·x, Σw·x², Σw, Σw²): the variance is
    Σw·x²/Σw − mean², whose rounding error scales with max x² (std is
    compared squared, as a variance), and the unbiased factor
    (Σw)²/((Σw)² − Σw²) amplifies it.  The unbiased statistics skip
    the rows where pandas' own factor is rounding noise: at or after a
    value where fewer than two values carry weight (pandas reads 0 or
    NaN for the same exact value), and deep in a null run, where
    pandas recomputes the factor from weight totals that underflow
    while the engine repeats the value at the last observation."""
    import numpy as np
    want = getattr(x.ewm(alpha=alpha, adjust=True), stat)(**kw).to_numpy()
    got = np.asarray(got, dtype="float64")
    big = float(np.nanmax(np.abs(x))) if x.notna().any() else 0.0
    keep = np.ones(len(x), dtype=bool)
    if stat in ("mean", "sum"):
        tol = 1e-12 * big / alpha
    else:
        if stat == "std":
            got, want = got * got, want * want
        factor = 1.0
        if not kw.get("bias"):
            seen = x.notna()
            sw = seen.astype("float64").ewm(alpha=alpha).sum()
            sw2 = (seen.astype("float64")
                   .ewm(alpha=1.0 - (1.0 - alpha) ** 2).sum())
            rel = (1.0 - sw2 / (sw * sw)).where(seen).ffill().to_numpy()
            keep = (rel > 1e-6) & (sw.to_numpy() ** 2 > 1e-290)
            factor = 1.0 / np.where(keep, rel, 1.0)
        tol = 1e-12 * big * big * factor
    assert (np.isnan(got) == np.isnan(want))[keep].all(), (stat, kw)
    both = keep & ~np.isnan(want)
    assert (np.abs(got - want) <= tol + 1e-9 * np.abs(want))[both].all(), \
        (stat, kw, np.abs(got - want)[both].max())


def _check_ewm_handles(x, alpha, stat, kw):
    """``stat`` of the Series ``x`` and of the frame holding ``x`` and
    an all-null column, both against pandas."""
    import numpy as np
    pdf = pd.DataFrame({"a": x, "b": np.nan})
    df = pas.DataFrame.from_pandas(pdf)
    got_s = getattr(df["a"].ewm(alpha), stat)(**kw).to_pandas()
    got_f = getattr(df.ewm(alpha), stat)(**kw).to_pandas()
    for got, c in ((got_s, "a"), (got_f["a"], "a"), (got_f["b"], "b")):
        _ewm_agrees(got.sort_index(), pdf[c], alpha, stat, kw)


def test_ewm_holey_generated(spark):
    """Every global EWM statistic of both handles on holey input —
    leading nulls, an all-null column, ``alpha=1`` and a null run that
    underflows w^k — with small Arrow batches over the 4 test
    partitions, so the carries cross batches and partitions."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 5)
    try:
        lead_holes = pd.Series([None, None, 1.5, None, -2.0, 4.0, None,
                                None, 0.5, 3.0, None, -1.0],
                               dtype="float64")
        long_run = pd.Series([1.5, -2.0, None, 4.0] + [None] * 450
                             + [3.0, 0.5, None, 4.0], dtype="float64")
        for stat, kw in _EWM_STATS:
            _check_ewm_handles(lead_holes, 1.0, stat, kw)
            _check_ewm_handles(long_run, 0.9, stat, kw)

        @_SLOW
        @given(xs=st.lists(st.one_of(st.floats(min_value=-100,
                                               max_value=100,
                                               allow_nan=False),
                                     st.none()),
                           min_size=1, max_size=40),
               lead=st.integers(min_value=0, max_value=3),
               alpha=st.one_of(st.just(1.0),
                               st.floats(min_value=0.05, max_value=1.0)),
               which=st.integers(min_value=0,
                                 max_value=len(_EWM_STATS) - 1))
        def check(xs, lead, alpha, which):
            stat, kw = _EWM_STATS[which]
            _check_ewm_handles(pd.Series([None] * lead + xs,
                                         dtype="float64"),
                               alpha, stat, kw)

        check()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       10000)
