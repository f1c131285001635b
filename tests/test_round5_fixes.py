"""Round-5 ADVICE fixes.

- alpha validation on every ewm entry point (pandas contract:
  0 < alpha <= 1).
- the grouped pow-trick window RAISES on overflow-length groups
  instead of silently returning NaN; ``mean(exact=True)`` is the
  unbounded escape hatch.
- GroupBy.filter hands ``fn`` the group's ORIGINAL index.
- stateful_ewm follows pandas on null values, as the batch scan does.
- content-addressed sample thresholds round half-even, matching
  DuckDB's CAST(frac * 2**60 AS BIGINT) exactly.
"""
from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

import pandas_alchemy_spark as pas
from pandas_alchemy_spark.operators import scan

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- alpha

@pytest.mark.parametrize("alpha", [0.0, -0.5, 1.0001, 2.0])
def test_ewm_alpha_validation(spark, alpha):
    s = pas.Series.from_list([1.0, 2.0, 3.0])
    with pytest.raises(ValueError, match="alpha"):
        s.ewm(alpha)
    df = pas.DataFrame.from_pandas(
        pd.DataFrame({"k": [1, 1, 2], "v": [1.0, 2.0, 3.0]}))
    with pytest.raises(ValueError, match="alpha"):
        df.groupby("k")["v"].ewm(alpha)
    with pytest.raises(ValueError, match="alpha"):
        scan.ewm_multi(df.to_spark(), ["v"], ["k"], alpha,
                       out_cols=["ewm"])


def test_ewm_alpha_one_is_identity(spark):
    """alpha=1 (w=0): adjust=True mean_t == x_t; the old pow-trick
    would have produced pow(0,-rn)=inf garbage."""
    pdf = pd.DataFrame({"k": [1, 1, 1, 2, 2], "v": [3.0, 1.0, 4.0, 1.0, 5.0]})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.groupby("k")["v"].ewm(1.0).mean().to_pandas()
    want = pdf.groupby("k")["v"].transform(
        lambda s: s.ewm(alpha=1.0, adjust=True).mean())
    assert (got.sort_index().to_numpy() == want.to_numpy()).all()


# ------------------------------------------------- grouped ewm overflow

def test_grouped_ewm_overflow_raises_not_nan(spark):
    """A group longer than pow_trick_max_rows(alpha) must raise loudly
    (raise_error in the plan), never return silent NaN."""
    alpha = 0.9
    nmax = scan.pow_trick_max_rows(alpha)
    assert nmax < 500  # the test stays cheap
    n = nmax + 50
    pdf = pd.DataFrame({"k": [1] * n, "v": [float(i % 7) for i in range(n)]})
    df = pas.DataFrame.from_pandas(pdf)
    with pytest.raises(Exception, match="ewm pow-trick overflow"):
        df.groupby("k")["v"].ewm(alpha).mean().to_pandas()


def test_grouped_ewm_exact_path_unbounded(spark):
    """mean(exact=True) routes through the applyInPandas recurrence —
    exact at any group length, including past the pow-trick bound."""
    alpha = 0.9
    n = scan.pow_trick_max_rows(alpha) + 50
    pdf = pd.DataFrame({"k": [1] * n + [2] * 5,
                        "v": [float(i % 7) for i in range(n + 5)]})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.groupby("k")["v"].ewm(alpha).mean(exact=True).to_pandas()
    want = pdf.groupby("k")["v"].transform(
        lambda s: s.ewm(alpha=alpha, adjust=True).mean())
    assert ((got.sort_index().to_numpy() - want.to_numpy()) ** 2
            ).max() < 1e-18


def test_grouped_ewm_guard_does_not_change_valid_results(spark):
    """Groups under the bound produce the same values as before the
    guard (the CASE only reroutes overflow rows)."""
    pdf = pd.DataFrame({"k": [1, 1, 1, 2, 2], "v": [3.0, 1.0, 4.0, 1.0, 5.0]})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.groupby("k")["v"].ewm(0.25).mean().to_pandas()
    want = pdf.groupby("k")["v"].transform(
        lambda s: s.ewm(alpha=0.25, adjust=True).mean())
    assert ((got.sort_index().to_numpy() - want.to_numpy()) ** 2
            ).max() < 1e-18


# ------------------------------------------------- GroupBy.filter index

def test_groupby_filter_sees_original_index(spark):
    """pandas parity: the frame handed to fn carries the group's real
    index labels, so predicates over p.index work."""
    pdf = pd.DataFrame({"k": ["a", "a", "b", "b", "b"],
                        "v": [1.0, 2.0, 3.0, 4.0, 5.0]},
                       index=[10, 11, 20, 21, 22])
    df = pas.DataFrame.from_pandas(pdf)
    got = df.groupby("k").filter(lambda p: p.index.max() > 15).to_pandas()
    want = pdf.groupby("k").filter(lambda p: p.index.max() > 15)
    assert sorted(got["v"].tolist()) == sorted(want["v"].tolist())
    assert sorted(got.index.tolist()) == sorted(want.index.tolist())


# ------------------------------------------------ stateful_ewm contract

def test_stateful_ewm_alpha_validation(spark):
    from pandas_alchemy_spark.streaming import stateful
    with pytest.raises(ValueError, match="alpha"):
        stateful.stateful_ewm(None, alpha=0.0)


def test_stateful_ewm_nulls_follow_pandas(spark, tmp_path):
    """Null values follow pandas' ``ignore_na=False``, as in the batch
    scan: no weight of their own, but they decay the weights before
    them — neither dropped nor imputed as 0."""
    from pandas_alchemy_spark.streaming import stateful, stream_events
    pdf = pd.DataFrame({
        "event_id": range(6),
        "ts": pd.to_datetime(
            ["2024-01-01 00:00:00", "2024-01-01 01:00:00",
             "2024-01-01 02:00:00", "2024-01-01 03:00:00",
             "2024-01-01 04:00:00", "2024-01-01 05:00:00"]),
        "user_id": [7, 7, 7, 7, 7, 7],
        "event_type": ["x"] * 6,
        "value": [10.0, None, 30.0, None, 50.0, 70.0],
        "props": ["{}"] * 6,
    })
    d = tmp_path / "null_stream"
    d.mkdir()
    pdf.to_parquet(d / "part-00.parquet", index=False,
                   coerce_timestamps="us", allow_truncated_timestamps=True)
    stream = stream_events.read_event_stream(spark, str(d),
                                             max_files_per_trigger=None)
    q = (stateful.stateful_ewm(stream, alpha=0.25)
         .writeStream.outputMode("update")
         .format("memory").queryName("t_r5_null_ewm")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
        got = spark.table("t_r5_null_ewm").toPandas()
        final = float(got.groupby("user_id").last()["ewm_value"].iloc[0])
        want = float(pdf["value"]
                     .ewm(alpha=0.25, adjust=True).mean().iloc[-1])
        assert abs(final - want) < 1e-12
    finally:
        q.stop()


# ------------------------------------------- sample threshold rounding

@pytest.mark.parametrize("frac", [0.1, 0.3, 0.5, 0.07, 0.9999])
def test_hash_threshold_matches_duckdb_cast(frac):
    from pandas_alchemy_spark.relational import _hash_threshold
    want = duckdb.sql(
        f"SELECT CAST({frac!r} * 1152921504606846976 AS BIGINT)"
    ).fetchone()[0]
    assert _hash_threshold(frac, 1 << 60) == want


def test_sample_threshold_boundary_portable(spark):
    """End-to-end: the engine's md5-bucket sample and DuckDB's CAST
    oracle keep identical rows — including any boundary bucket."""
    o = pas.read_parquet(f"{SF_DIR}/orders.parquet")
    got = (o.sample(0.3, key="o_orderkey").to_spark(index=False)
           .selectExpr("count(*) AS n", "sum(o_orderkey) AS s")
           .collect()[0])
    want = duckdb.sql(f"""
        SELECT count(*) AS n, sum(o_orderkey) AS s
        FROM '{SF_DIR}/orders.parquet'
        WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT
              < CAST(0.3 * 1152921504606846976 AS BIGINT)
    """).fetchone()
    assert (got["n"], got["s"]) == want


# ------------------------------------- connected_components iteration guard

def _chain_pairs(spark, n):
    """Path graph 0-1-2-...-n: min-label propagation moves the label
    one hop per round, so convergence needs ~n rounds — the
    pathological-diameter shape the guard exists for."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long")


def test_cc_nonconvergence_raises(spark, monkeypatch):
    from pandas_alchemy_spark.ext import dedup
    # force the DISTRIBUTED loop (r13: graphs under the driver floor
    # are solved exactly by union-find and never hit the budget)
    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGE_FLOOR", 0)
    pairs = _chain_pairs(spark, 8)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iters=2).collect()


def test_cc_nonconvergence_warn_mode(spark, monkeypatch):
    import warnings
    from pandas_alchemy_spark.ext import dedup
    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGE_FLOOR", 0)
    pairs = _chain_pairs(spark, 8)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = dedup.connected_components(
            pairs, max_iters=2, on_nonconverged="warn")
        assert out.count() == 9  # partial labels still returned
        assert any("did not converge" in str(x.message) for x in w)


def test_cc_converges_within_budget(spark):
    from pandas_alchemy_spark.ext import dedup
    pairs = _chain_pairs(spark, 4)
    out = dedup.connected_components(pairs, max_iters=10).toPandas()
    assert sorted(out["component"].unique()) == [0]  # one component

    with pytest.raises(ValueError, match="on_nonconverged"):
        dedup.connected_components(pairs, on_nonconverged="bogus")


# ----------------------------------------------- DataFrame.apply(axis=1)

def test_apply_axis1_matches_pandas(spark):
    pdf = pd.DataFrame({"a": [1.0, 2.0, 3.0], "b": [10.0, 20.0, 30.0]},
                       index=[5, 6, 7])
    df = pas.DataFrame.from_pandas(pdf)
    got = df.apply(lambda r: r["a"] * 2 + r["b"], axis=1).to_pandas()
    want = pdf.apply(lambda r: r["a"] * 2 + r["b"], axis=1)
    assert got.sort_index().tolist() == want.tolist()
    assert got.sort_index().index.tolist() == want.index.tolist()


def test_apply_axis0_not_implemented(spark):
    pdf = pd.DataFrame({"a": [1.0], "b": [2.0]})
    df = pas.DataFrame.from_pandas(pdf)
    with pytest.raises(NotImplementedError, match="axis=0"):
        df.apply(sum, axis=0)


# ------------------------------------------------------ dt.epoch_day

def test_epoch_day_matches_pandas(spark):
    ts = pd.to_datetime(["1970-01-01", "1970-01-02", "1995-06-15",
                         "2024-02-29"])
    pdf = pd.DataFrame({"t": ts})
    df = pas.DataFrame.from_pandas(pdf)
    got = df.t.dt.epoch_day.to_pandas().sort_index()
    want = (ts.normalize() - pd.Timestamp("1970-01-01")).days
    assert got.tolist() == list(want)


def test_epoch_day_date_arithmetic(spark):
    pdf = pd.DataFrame({"a": pd.to_datetime(["1995-01-01", "1995-04-01"]),
                        "b": pd.to_datetime(["1995-03-15", "1995-04-02"])})
    df = pas.DataFrame.from_pandas(pdf)
    got = (df.b.dt.epoch_day - df.a.dt.epoch_day).to_pandas()
    want = (pdf.b - pdf.a).dt.days
    assert got.sort_index().tolist() == want.tolist()


# ------------------------------------------------- GroupBy.quantile

def test_groupby_quantile_matches_pandas(spark):
    rng = np.random.default_rng(97)
    pdf = pd.DataFrame({"k": rng.integers(0, 5, 500),
                        "v": rng.normal(size=500),
                        "w": rng.uniform(0, 10, 500)})
    df = pas.DataFrame.from_pandas(pdf)
    for q in (0.5, 0.25, 0.9):
        got = df.groupby("k").quantile(q).to_pandas().sort_index()
        want = pdf.groupby("k")[["v", "w"]].quantile(q)
        assert np.allclose(got.to_numpy(), want.to_numpy(), rtol=1e-12)
    sgot = (df.groupby("k")["v"].quantile(0.75)
            .to_pandas().sort_index())
    swant = pdf.groupby("k")["v"].quantile(0.75)
    assert np.allclose(sgot.to_numpy(), swant.to_numpy(), rtol=1e-12)
    with pytest.raises(ValueError, match="q must be"):
        df.groupby("k").quantile(1.5)


def test_quantile_approx_within_rank_error(spark):
    rng = np.random.default_rng(101)
    pdf = pd.DataFrame({"v": rng.normal(size=5000)})
    df = pas.DataFrame.from_pandas(pdf)
    exact = df.v.quantile(0.9)
    approx = df.v.quantile(0.9, approx=True, accuracy=10000)
    # rank error <= 1/accuracy: at 5000 rows the sketch is exact-ish
    assert abs(approx - pdf.v.quantile(0.9, interpolation="nearest")) \
        < abs(pdf.v.quantile(0.95) - pdf.v.quantile(0.85))
    assert abs(exact - pdf.v.quantile(0.9)) < 1e-12
    gq = (pas.DataFrame.from_pandas(
        pd.DataFrame({"k": rng.integers(0, 4, 1000),
                      "v": rng.normal(size=1000)}))
        .groupby("k").quantile(0.5, approx=True))
    assert len(gq.to_pandas()) == 4


# ------------------------------------------------ axis=1 reductions

def test_row_reductions_match_pandas(spark):
    rng = np.random.default_rng(103)
    pdf = pd.DataFrame({"a": rng.normal(size=300),
                        "b": rng.normal(size=300),
                        "c": rng.normal(size=300),
                        "s": ["x"] * 300})
    pdf.loc[rng.integers(0, 300, 60), "a"] = np.nan
    pdf.loc[5, ["a", "b", "c"]] = np.nan  # all-null row
    df = pas.DataFrame.from_pandas(pdf)
    for how in ("sum", "mean", "min", "max"):
        got = getattr(df, how)(axis=1).to_pandas().sort_index()
        want = getattr(pdf[["a", "b", "c"]], how)(axis=1)
        want.name = got.name
        pd.testing.assert_series_equal(got, want, check_dtype=False,
                                       check_index_type=False,
                                       rtol=1e-12)


def test_row_reduction_stays_in_plan(spark):
    from pandas_alchemy_spark.plans import physical_plan
    pdf = pd.DataFrame({"a": [1.0, 2.0], "b": [3.0, 4.0]})
    df = pas.DataFrame.from_pandas(pdf)
    plan = physical_plan(df.sum(axis=1).to_spark())
    assert "Exchange" not in plan  # pure projection


def test_groupby_idxmax_idxmin(spark):
    rng = np.random.default_rng(109)
    n = 400
    pdf = pd.DataFrame({"k": rng.integers(0, 6, n),
                        "v": rng.permutation(n).astype("float64"),
                        "w": rng.permutation(n).astype("float64")},
                       index=pd.RangeIndex(n))
    pdf.index.name = "rid"
    df = pas.DataFrame.from_pandas(pdf.reset_index()).set_index("rid")
    got = df.groupby("k").idxmax().to_pandas().sort_index()
    want = pdf.groupby("k")[["v", "w"]].idxmax()
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_index_type=False,
                                  check_names=False)
    got2 = df.groupby("k").idxmin().to_pandas().sort_index()
    want2 = pdf.groupby("k")[["v", "w"]].idxmin()
    pd.testing.assert_frame_equal(got2, want2, check_dtype=False,
                                  check_index_type=False,
                                  check_names=False)


def test_densify_time_fills_gaps(spark):
    from pandas_alchemy_spark.ext import events as ev
    df = ev.load_events(spark, "/root/testdata/sf0.001/events.parquet")
    agg = ev.tumbling_window_agg(df)
    dense = ev.densify_time(
        agg.withColumnRenamed("window_start", "ts"), "ts", 3600,
        by="event_type", fill="zero")
    n_types = df.select("event_type").distinct().count()
    hours = dense.select("ts").distinct().count()
    # complete grid: every (hour, type) cell exists exactly once
    assert dense.count() == hours * n_types
    assert dense.count() > agg.count()  # gaps were filled
    # zero-filled cells, not nulls
    assert dense.filter("n_events IS NULL").count() == 0
    # data cells survive the join unchanged
    sparse_total = agg.agg({"n_events": "sum"}).collect()[0][0]
    dense_total = dense.agg({"n_events": "sum"}).collect()[0][0]
    assert sparse_total == dense_total


def test_rolling_apply_global_and_grouped(spark):
    rng = np.random.default_rng(113)
    pdf = pd.DataFrame({"k": rng.integers(0, 5, 1200),
                        "v": rng.normal(size=1200)})
    df = pas.DataFrame.from_pandas(pdf)
    fn = lambda a: (a.max() - a.min())  # noqa: E731  window range
    got = df.v.rolling(4).apply(fn).to_pandas().sort_index()
    want = pdf.v.rolling(4).apply(fn, raw=True)
    want.name = got.name
    pd.testing.assert_series_equal(got, want, check_dtype=False,
                                   check_index_type=False, rtol=1e-12)
    gg = (df.groupby("k")["v"].rolling(3).apply(fn)
          .to_pandas().sort_index())
    gw = pdf.groupby("k")["v"].transform(
        lambda s: s.rolling(3).apply(fn, raw=True))
    gw.name = gg.name
    pd.testing.assert_series_equal(gg, gw, check_dtype=False,
                                   check_index_type=False, rtol=1e-12)


def test_autocorr_matches_pandas(spark):
    rng = np.random.default_rng(127)
    s = pd.Series(np.cumsum(rng.normal(size=800)))
    ours = pas.Series.from_pandas(s)
    for lag in (1, 3):
        assert abs(ours.autocorr(lag) - s.autocorr(lag)) < 1e-9


def test_is_monotonic(spark):
    inc = pas.Series.from_list([1.0, 2.0, 2.0, 5.0])
    dec = pas.Series.from_list([5.0, 3.0, 3.0, 1.0])
    mix = pas.Series.from_list([1.0, 3.0, 2.0])
    withnan = pas.Series.from_list([1.0, None, 3.0])
    assert inc.is_monotonic_increasing and not inc.is_monotonic_decreasing
    assert dec.is_monotonic_decreasing and not dec.is_monotonic_increasing
    assert not mix.is_monotonic_increasing
    assert not withnan.is_monotonic_increasing
    one = pas.Series.from_list([7.0])
    assert one.is_monotonic_increasing and one.is_monotonic_decreasing


def test_dedup_paragraphs_semantics(spark):
    from pandas_alchemy_spark.ext import dedup
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["alpha shared-para unique-one",
                 "shared-para unique-two x",
                 "unique-three shared-para shared-para"]})
    docs = spark.createDataFrame(pdf)
    out = (dedup.dedup_paragraphs(docs, sep=" ", min_chars=2)
           .orderBy("doc_id").toPandas())
    # 'shared-para' survives only in doc 1 (first occurrence);
    # single-char 'x' is exempt from dedup
    assert out.text_deduped.tolist() == [
        "alpha shared-para unique-one",
        "unique-two x",
        "unique-three"]
    assert out.n_paras.tolist() == [3, 3, 3]
    assert out.n_kept.tolist() == [3, 2, 1]


def test_merge_validate(spark):
    from pandas.errors import MergeError
    left = pas.DataFrame.from_pandas(
        pd.DataFrame({"k": [1, 2, 2], "a": [1.0, 2.0, 3.0]}))
    uniq = pas.DataFrame.from_pandas(
        pd.DataFrame({"k": [1, 2], "b": [9.0, 8.0]}))
    # m:1 passes (right unique), 1:1 and 1:m fail (left dupes)
    assert len(left.merge(uniq, on="k", validate="m:1").to_pandas()) == 3
    with pytest.raises(MergeError, match="left dataset"):
        left.merge(uniq, on="k", validate="1:1")
    with pytest.raises(MergeError, match="left dataset"):
        left.merge(uniq, on="k", validate="one_to_many")
    with pytest.raises(MergeError, match="right dataset"):
        uniq.merge(left, on="k", validate="m:1")
    with pytest.raises(ValueError, match="Not a valid argument"):
        left.merge(uniq, on="k", validate="bogus")


def test_series_gapfill_verbs(spark):
    pdf = pd.Series([3.0, 1.0, 3.0, None, 2.0, 1.0],
                    index=[10, 11, 12, 13, 14, 15], name="v")
    s = pas.Series.from_pandas(pdf)
    # apply == map (elementwise)
    got = s.apply(lambda v: None if v is None else v * 2).to_pandas()
    assert got.sort_index().tolist()[:3] == [6.0, 2.0, 6.0]
    # dropna
    assert len(s.dropna().to_pandas()) == 5
    # sort_index
    assert (s.sort_index(ascending=False).to_pandas().index.tolist()
            == [15, 14, 13, 12, 11, 10])
    # duplicated / drop_duplicates — pandas parity
    for keep in ("first", "last", False):
        got = s.duplicated(keep=keep).to_pandas().sort_index()
        want = pdf.duplicated(keep=keep)
        assert got.tolist() == want.tolist(), keep
        gd = (s.drop_duplicates(keep=keep).to_pandas().sort_index())
        wd = pdf.drop_duplicates(keep=keep)
        assert gd.index.tolist() == wd.index.tolist(), keep
    # sample returns a plausible subset
    assert 0 <= len(s.sample(0.5, seed=7).to_pandas()) <= 6


def test_series_align(spark):
    a = pd.Series([1.0, 2.0, 3.0], index=[1, 2, 3], name="a")
    b = pd.Series([10.0, 30.0, 40.0], index=[1, 3, 4], name="b")
    sa, sb = (pas.Series.from_pandas(a)
              .align(pas.Series.from_pandas(b)))
    wa, wb = a.align(b)
    ga = sa.to_pandas().sort_index()
    gb = sb.to_pandas().sort_index()
    assert ga.index.tolist() == wa.index.tolist()
    assert _nan_eq(ga.tolist(), wa.tolist())
    assert _nan_eq(gb.tolist(), wb.tolist())


def _nan_eq(xs, ys):
    return all((pd.isna(x) and pd.isna(y)) or x == y
               for x, y in zip(xs, ys)) and len(xs) == len(ys)


def test_frame_surface_completion(spark):
    pdf = pd.DataFrame({"a": [1.0, 5.0, 3.0], "b": [9.0, 2.0, 7.0],
                        "s": ["x", "y", "x"]}, index=[10, 11, 12])
    df = pas.DataFrame.from_pandas(pdf.reset_index()).set_index("index")
    # idxmin / idxmax
    assert df[["a", "b"]].idxmin().to_pandas().tolist() == [10, 11]
    assert df[["a", "b"]].idxmax().to_pandas().tolist() == [11, 10]
    # isin (list + dict forms)
    got = df.isin([1.0, 7.0, "x"]).to_pandas().sort_index()
    want = pdf.isin([1.0, 7.0, "x"])
    assert got.values.tolist() == want.values.tolist()
    got = df.isin({"a": [5.0]}).to_pandas().sort_index()
    want = pdf.isin({"a": [5.0]})
    assert got.values.tolist() == want.values.tolist()
    # select_dtypes
    assert list(df.select_dtypes(include="number").columns) == ["a", "b"]
    assert list(df.select_dtypes(exclude="number").columns) == ["s"]
    # agg dict (single + multi fn)
    one = df.agg({"a": "sum", "b": "max"}).to_pandas()
    assert one["a"] == 9.0 and one["b"] == 9.0
    multi = df.agg({"a": ["sum", "min"]})
    assert multi.loc["sum", "a"] == 9.0 and multi.loc["min", "a"] == 1.0
    # where with a Series mask
    m = df.a > 2.0
    got = df[["a", "b"]].where(m).to_pandas().sort_index()
    want = pdf[["a", "b"]].where(pdf.a > 2.0)
    assert got.isna().values.tolist() == want.isna().values.tolist()
    # value_counts
    vc = df[["s"]].value_counts().to_pandas()
    assert sorted(vc.tolist()) == [1, 2]


def test_frame_pivot(spark):
    pdf = pd.DataFrame({"r": [1, 1, 2, 2], "c": ["x", "y", "x", "y"],
                        "v": [1.0, 2.0, 3.0, 4.0]})
    df = pas.DataFrame.from_pandas(pdf)
    got = (df.pivot(index="r", columns="c", values="v")
           .to_pandas().sort_index())
    want = pdf.pivot(index="r", columns="c", values="v")
    assert got.values.tolist() == want.values.tolist()
    dup = pas.DataFrame.from_pandas(
        pd.DataFrame({"r": [1, 1], "c": ["x", "x"], "v": [1.0, 2.0]}))
    with pytest.raises(ValueError, match="duplicate"):
        dup.pivot(index="r", columns="c", values="v")


def test_rolling_quantile(spark):
    rng = np.random.default_rng(131)
    pdf = pd.DataFrame({"k": rng.integers(0, 4, 1000),
                        "v": rng.normal(size=1000)})
    pdf.loc[rng.integers(0, 1000, 80), "v"] = np.nan
    df = pas.DataFrame.from_pandas(pdf)
    for q in (0.5, 0.25):
        got = (df.v.rolling(6, min_periods=3).quantile(q)
               .to_pandas().sort_index())
        want = pdf.v.rolling(6, min_periods=3).quantile(q)
        want.name = got.name
        pd.testing.assert_series_equal(got, want, check_dtype=False,
                                       check_index_type=False,
                                       rtol=1e-12)
    gg = (df.groupby("k")["v"].rolling(4).quantile(0.75)
          .to_pandas().sort_index())
    gw = pdf.groupby("k")["v"].transform(
        lambda s: s.rolling(4).quantile(0.75))
    gw.name = gg.name
    pd.testing.assert_series_equal(gg, gw, check_dtype=False,
                                   check_index_type=False, rtol=1e-12)
    with pytest.raises(ValueError, match="q must be"):
        df.v.rolling(3).quantile(1.5)


# ---------------------------------------------------------------------------
# round 6: bounded driver-side materializers (mode / factorize caps)
# ---------------------------------------------------------------------------

def test_mode_cap_raises_on_distinct_ties(spark):
    import pandas_alchemy_spark as pas
    s = pas.Series.from_list(list(range(50)), name="v")
    with pytest.raises(ValueError, match="tie for the max count"):
        s.mode(max_modes=10)
    # explicit wider cap materializes the full tie set
    assert len(s.mode(max_modes=64)) == 50


def test_mode_still_correct_under_cap(spark):
    import pandas as pd

    import pandas_alchemy_spark as pas
    ps = pd.Series([1, 2, 2, 3, 3, None])
    s = pas.Series.from_pandas(ps)
    got = sorted(s.mode())
    assert got == [2.0, 3.0]


def test_factorize_cap_raises(spark):
    import pandas_alchemy_spark as pas
    s = pas.read_parquet(f"{SF_DIR}/orders.parquet").set_index(
        "o_orderkey").o_orderpriority
    with pytest.raises(ValueError, match="max_rows"):
        s.factorize(max_rows=100)
    codes, uniq = s.factorize()
    assert len(uniq) == 5
