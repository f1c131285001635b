"""Beyond-reference relational verbs: groupby/agg, sort, merge, dropna/
fillna, astype, set_index/reset_index, value_counts, drop_duplicates.

The reference implements none of these (SURVEY.md §2.3, §2.5 — no
filters, no aggregations beyond COUNT(*)); they are the natural Spark
extension mandated by the build plan (SURVEY.md §7 Phase 4).  All are
plan rewrites over the reserved positional layout; aggregates stay
JVM-side (map-side partial aggregation for free), joins go through
Catalyst/AQE which picks broadcast vs sort-merge at runtime — the
100 TB story is Spark's own.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from . import internal as I

_AGG_FUNCS = {
    "sum": F.sum,
    "mean": F.mean,
    "avg": F.mean,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "std": F.stddev_samp,
    "var": F.var_samp,
    "first": F.first,
    "last": F.last,
    "nunique": F.countDistinct,
    "approx_nunique": F.approx_count_distinct,
    "median": F.median,
    "prod": F.product,
}


_NUMERIC_TYPES = ("bigint", "int", "smallint", "tinyint", "double",
                  "float")


def _py_expr_to_sql(expr: str) -> str:
    """Translate Python boolean operators (and/or/not/==) to SQL,
    QUOTE-AWARE: segments inside single- or double-quoted string
    literals pass through untouched (a blind replace would corrupt
    literals like 'rock and roll')."""
    import re
    out, i, n = [], 0, len(expr)
    while i < n:
        ch = expr[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n and expr[j] != ch:
                j += 1
            out.append(expr[i:j + 1])
            i = j + 1
            continue
        j = i
        while j < n and expr[j] not in ("'", '"'):
            j += 1
        seg = expr[i:j]
        seg = re.sub(r"\band\b", "AND", seg)
        seg = re.sub(r"\bor\b", "OR", seg)
        seg = re.sub(r"\bnot\b", "NOT", seg)
        seg = seg.replace("==", "=")
        out.append(seg)
        i = j
    return "".join(out)


def _hash_threshold(frac: float, scale: int) -> int:
    """Content-addressed sampling threshold, PINNED to the SQL-oracle
    rule: the DECIMAL numeral of ``frac`` (its shortest repr — the
    numeral a user writes in SQL) times ``scale``, exactly, rounded to
    the nearest integer.  This is precisely what DuckDB computes for
    ``CAST(0.1 * 1152921504606846976 AS BIGINT)`` (``0.1`` parses as
    DECIMAL, the product is exact, the cast rounds), so the boundary
    bucket classifies identically across engines.  The previous
    ``int(frac * scale)`` double-truncation could disagree with the
    oracle by a few ulps of bucket space at the boundary.  Ties at
    exactly .5 are unreachable for decimal fracs (``2^60 mod 10 = 6``;
    a d-digit decimal times 2^60 never has fractional part .5)."""
    from decimal import ROUND_HALF_EVEN, Decimal
    prod = Decimal(repr(frac)) * scale
    return int(prod.quantize(Decimal(1), rounding=ROUND_HALF_EVEN))


def _resolve_agg(fn):
    if callable(fn):
        return fn
    if fn in _AGG_FUNCS:
        return _AGG_FUNCS[fn]
    raise ValueError(f"Unknown aggregation: {fn}")


class GroupBy:
    """``df.groupby(keys)`` — group keys become the result's index
    levels, mirroring pandas.  Aggregation is a single Spark groupBy:
    partial (map-side) aggregation + one shuffle on the keys."""

    def __init__(self, df, by):
        if not isinstance(by, list):
            by = [by]
        self._df = df
        self._by = by
        self._key_cols = [df._col_at(df._columns.get_loc(b)) for b in by]

    def __getitem__(self, label):
        """Grouped column handle: transforms (shift/cumsum/rank/...)
        window over partitionBy(keys) — the scalable flavor — and
        reductions collapse to one row per group."""
        from .operators.analytic import SeriesGroupBy
        return SeriesGroupBy(self._df, self._by, label)

    def agg(self, spec=None, **named):
        """``agg({"col": "sum"})`` / ``agg(out=("col", "mean"))``.

        Result: DataFrame indexed by the group keys with one column per
        aggregate; output labels follow pandas ("col" for dict form,
        the kwarg name for named form)."""
        df = self._df
        exprs, labels = [], []
        if spec is not None:
            for col, fns in spec.items():
                if not isinstance(fns, list):
                    fns = [fns]
                for fn in fns:
                    src = df._col_at(df._columns.get_loc(col))
                    exprs.append(_resolve_agg(fn)(src))
                    labels.append(col if len(fns) == 1 else f"{col}_{fn}")
        for out, (col, fn) in named.items():
            src = df._col_at(df._columns.get_loc(col))
            exprs.append(_resolve_agg(fn)(src))
            labels.append(out)
        keys = [k.alias(I.idx_name(i)) for i, k in enumerate(self._key_cols)]
        sdf = df._sdf.groupBy(*keys).agg(
            *[e.alias(I.col_name(i)) for i, e in enumerate(exprs)])
        from .core import DataFrame
        return DataFrame(pd.Index(self._by), pd.Index(labels), sdf)

    def apply(self, fn, schema):
        """Arbitrary per-group pandas transform via ``applyInPandas``
        (grouped-map Pandas UDF): ``fn(pdf) -> pdf`` runs once per
        group on an Arrow batch of that group's rows, executor-side.
        ``schema`` is the output schema ("a long, b double, ...").

        This is the escape hatch for semantics the built-in operators
        can't express; groups shuffle to executors but never to the
        driver.  Per-group size must fit an executor's memory — at
        100 TB keep keys fine-grained or pre-aggregate."""
        from .core import DataFrame
        df = self._df
        labels = [str(c) for c in df._columns]
        named = df._sdf.select(
            *[df._col_at(i).alias(lab) for i, lab in enumerate(labels)])
        out = (named.groupBy(*[str(b) for b in self._by])
               .applyInPandas(fn, schema))
        out_labels = out.columns
        sel = [F.monotonically_increasing_id().alias(I.idx_name(0))]
        sel += [F.col(c).alias(I.col_name(j))
                for j, c in enumerate(out_labels)]
        return DataFrame(pd.Index((None,)), pd.Index(out_labels),
                         out.select(*sel))._fresh_mid()

    def filter(self, fn):
        """pandas groupby filter: keep the member ROWS of every group
        for which ``fn(group_pdf)`` is truthy — the same
        ``applyInPandas`` transport as :meth:`apply` (groups go
        executor-side, never to the driver); the group either passes
        through intact or vanishes, preserving the parent schema and
        the original index columns.  The frame handed to ``fn``
        carries the group's ORIGINAL index (pandas parity — predicates
        over ``p.index`` see the real labels, not a fresh default)."""
        from .core import DataFrame
        df = self._df
        n = df._n_idx()
        idx_names = [I.idx_name(i) for i in range(n)]
        idx_level_names = list(df._index)
        labels = [str(c) for c in df._columns]
        named = df._sdf.select(
            *[F.col(nm) for nm in idx_names],
            *[df._col_at(i).alias(f"__d_{i}") for i in range(len(labels))])
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in named.schema.fields)
        data_cols = [f"__d_{i}" for i in range(len(labels))]
        rename = dict(zip(data_cols, labels))

        def keep(pdf):
            user = pdf[data_cols].rename(columns=rename)
            if n == 1:
                user.index = pd.Index(pdf[idx_names[0]].to_numpy(),
                                      name=idx_level_names[0])
            else:
                user.index = pd.MultiIndex.from_arrays(
                    [pdf[nm].to_numpy() for nm in idx_names],
                    names=idx_level_names)
            return pdf if fn(user) else pdf.iloc[0:0]

        key_positions = [df._columns.get_loc(b) for b in self._by]
        out = (named.groupBy(*[f"__d_{p}" for p in key_positions])
               .applyInPandas(keep, schema))
        sel = [F.col(nm) for nm in idx_names]
        sel += [F.col(f"__d_{i}").alias(I.col_name(i))
                for i in range(len(labels))]
        return DataFrame(df._index, df._columns,
                         out.select(*sel))._carry(df, reordered=True)

    def _simple(self, fn):
        labels = [c for c in self._df._columns if c not in self._by]
        return self.agg({c: fn for c in labels})

    def sum(self):
        return self._simple("sum")

    def mean(self):
        return self._simple("mean")

    def min(self):
        return self._simple("min")

    def max(self):
        return self._simple("max")

    def count(self):
        return self._simple("count")

    def std(self):
        return self._simple("std")

    def var(self):
        return self._simple("var")

    def median(self):
        return self._simple("median")

    def quantile(self, q=0.5, approx=False, accuracy=10000):
        """Per-group quantile: one hash aggregate, map-side partials.
        Default: exact linear interpolation (pandas contract) via
        Spark's ``percentile``.  ``approx=True``: ``percentile_approx``
        (Greenwald-Khanna sketch, rank error ≤ 1/``accuracy``) —
        constant per-group state, the 100 TB path."""
        q = float(q)
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"q must be in [0, 1], got {q}")
        if approx:
            return self._simple(
                lambda c: F.percentile_approx(c, F.lit(q),
                                              F.lit(int(accuracy))))
        return self._simple(lambda c: F.percentile(c, F.lit(q)))

    def nunique(self):
        return self._simple("nunique")

    def idxmax(self):
        """Per-group index label at each column's maximum —
        ``max_by`` (one hash aggregate, map-side partials, no sort).
        Ties: any maximizing label (pandas picks the first by
        position; at cluster scale that order is what you pay a sort
        for, so the engine documents the relaxation instead).
        Single-level index only."""
        return self._arg_extreme(F.max_by)

    def idxmin(self):
        return self._arg_extreme(F.min_by)

    def _arg_extreme(self, fn):
        if self._df._n_idx() != 1:
            raise NotImplementedError(
                "GroupBy.idxmax/idxmin need a single-level index")
        idx0 = self._df._idx_at(0)
        return self._simple(lambda c: fn(idx0, c))

    def first(self):
        return self._simple("first")

    def last(self):
        return self._simple("last")

    def size(self):
        df = self._df
        keys = [k.alias(I.idx_name(i)) for i, k in enumerate(self._key_cols)]
        sdf = df._sdf.groupBy(*keys).agg(
            F.count(F.lit(1)).alias(I.col_name(0)))
        from .core import Series
        return Series(pd.Index(self._by), pd.Index([None]), sdf, None)

    # ---- frame-level grouped transforms (pandas gb.shift() etc.) ----

    def _capture(self, label):
        """A SeriesGroupBy whose ``_wrap`` returns the raw Column
        expression instead of packaging a Series — lets the
        frame-level transforms assemble every column's grouped window
        expression into ONE select (all windows share
        partitionBy(keys), so Catalyst fuses them: one shuffle)."""
        from .operators.analytic import SeriesGroupBy

        class _Cap(SeriesGroupBy):
            def _wrap(self, fn):
                col = self._df._col_at(
                    self._df._columns.get_loc(self._label))
                return fn(col)

        return _Cap(self._df, self._by, label)

    def _transform_frame_fn(self, make_col):
        """``make_col(capture) -> Column`` applied to every non-key
        column, assembled into ONE select (single fused shuffle)."""
        from pyspark.sql import Column

        from .core import DataFrame
        df = self._df
        labels = [c for c in df._columns if c not in self._by]
        n = df._n_idx()
        sel = [df._idx_at(i).alias(I.idx_name(i)) for i in range(n)]
        for j, lab in enumerate(labels):
            expr = make_col(self._capture(lab))
            if not isinstance(expr, Column):
                raise NotImplementedError(
                    "this verb is not expression-backed in the "
                    "grouped flavor; use the per-column form "
                    "gb[col].<verb>() instead")
            sel.append(expr.alias(I.col_name(j)))
        return DataFrame(df._index, pd.Index(labels),
                         df._sdf.select(*sel))._carry(df, reordered=True)

    def _transform_frame(self, verb, *args, **kw):
        return self._transform_frame_fn(
            lambda cap: getattr(cap, verb)(*args, **kw))

    def rolling(self, window, min_periods=None):
        """Frame-level grouped rolling: every non-key column's
        rolling aggregate in one fused Window select (single shuffle).
        A str window ('7D') switches to the time-offset RANGE frame."""
        from .operators.analytic import Rolling
        return _FrameGroupedWindow(
            self, lambda cap: Rolling(cap, window, min_periods))

    def expanding(self, min_periods: int = 1):
        from .operators.analytic import Expanding
        return _FrameGroupedWindow(
            self, lambda cap: Expanding(cap, min_periods))

    def ewm(self, alpha: float):
        """Frame-level grouped EWM (mean only): every non-key column's
        pow-trick window expression (the per-column
        ``groupby(k)[c].ewm(alpha).mean()``) fused into one select —
        single shuffle on the keys, codegen, the same overflow
        guard."""
        from .operators.scan import _check_alpha
        _check_alpha(float(alpha))
        gb = self

        class _FrameGroupedEwm:
            def mean(self):
                return gb._transform_frame_fn(
                    lambda cap: cap.ewm(alpha).mean())

        return _FrameGroupedEwm()

    def shift(self, periods: int = 1, fill_value=None):
        """pandas gb.shift(): every non-key column lagged within its
        group — one fused Window over the keys, single shuffle."""
        return self._transform_frame("shift", periods, fill_value)

    def diff(self, periods: int = 1):
        return self._transform_frame("diff", periods)

    def pct_change(self, periods: int = 1):
        return self._transform_frame("pct_change", periods)

    def cumsum(self):
        return self._transform_frame("cumsum")

    def cumprod(self):
        return self._transform_frame("cumprod")

    def cummax(self):
        return self._transform_frame("cummax")

    def cummin(self):
        return self._transform_frame("cummin")

    def ffill(self):
        return self._transform_frame("ffill")

    def bfill(self):
        return self._transform_frame("bfill")

    def rank(self, method: str = "min", ascending: bool = True,
             pct: bool = False):
        return self._transform_frame("rank", method, ascending, pct)

    def interpolate(self, method: str = "linear", limit=None,
                    limit_direction=None):
        """pandas gb.interpolate(): every non-key column's null holes
        filled within its group — the pure-JVM window expressions,
        fused into one select (single shuffle)."""
        return self._transform_frame("interpolate", method, limit,
                                     limit_direction)

    def transform(self, how):
        """pandas gb.transform('mean'): every non-key column replaced
        by its group aggregate, broadcast onto the member rows — one
        unordered window over the keys (single shuffle)."""
        return self._transform_frame("transform", how)

    def cumcount(self, ascending: bool = True):
        """0-based position of each row within its group — one
        row_number window over the keys (single shuffle)."""
        from pyspark.sql import Window

        from .core import Series
        from .operators.analytic import _order_cols
        df = self._df
        order = ([c.asc() for c in _order_cols(df)] if ascending
                 else [c.desc() for c in _order_cols(df)])
        w = Window.partitionBy(*self._key_cols).orderBy(*order)
        n = df._n_idx()
        sel = [df._idx_at(i).alias(I.idx_name(i)) for i in range(n)]
        sel.append((F.row_number().over(w) - F.lit(1))
                   .alias(I.col_name(0)))
        return Series(df._index, None, df._sdf.select(*sel),
                      None)._carry(df, reordered=True)

    def ngroup(self):
        """Group number in sorted-key order (pandas sort=True
        iteration order): the dense rank of the key, minus 1 — rides
        the engine's DISTRIBUTED rank scan (range-partition on the
        value; no single-partition window).  Single grouping key only
        (a multi-key ngroup would need a struct-ordered range
        partitioner)."""
        if len(self._by) > 1:
            raise NotImplementedError(
                "ngroup needs a single grouping key; for multi-key "
                "groups rank a precomputed key column instead")
        r = self._df[self._by[0]].rank(method="dense")
        return (r - 1).astype("long")

    # ---- positional row slices per group ----

    def _pos_filter(self, pred):
        """Keep member rows by their position within the group: one
        row_number (+count when needed) window over the keys — single
        shuffle, parent schema preserved."""
        from pyspark.sql import Window

        from .core import DataFrame
        from .operators.analytic import _order_cols
        df = self._df
        n = df._n_idx()
        asc = Window.partitionBy(*self._key_cols).orderBy(
            *[c.asc() for c in _order_cols(df)])
        cnt_w = Window.partitionBy(*self._key_cols)
        rn = F.row_number().over(asc)
        cnt = F.count(F.lit(1)).over(cnt_w)
        sel = [df._idx_at(i).alias(I.idx_name(i)) for i in range(n)]
        sel += [df._col_at(i).alias(I.col_name(i))
                for i in range(len(df._columns))]
        sel.append(pred(rn, cnt).alias("__keep"))
        out = (df._sdf.select(*sel).where(F.col("__keep"))
               .drop("__keep"))
        return DataFrame(df._index, df._columns,
                         out)._carry(df, reordered=True)

    def head(self, n: int = 5):
        """First ``n`` member rows of every group (negative ``n``:
        all but the last |n|, pandas contract)."""
        if n >= 0:
            return self._pos_filter(lambda rn, cnt: rn <= n)
        return self._pos_filter(lambda rn, cnt: rn <= cnt + n)

    def tail(self, n: int = 5):
        if n >= 0:
            return self._pos_filter(lambda rn, cnt: rn > cnt - n)
        return self._pos_filter(lambda rn, cnt: rn > -n)

    def nth(self, n: int):
        """The ``n``-th member row of every group (0-based; negative
        counts from the end); groups shorter than |n| drop."""
        if n >= 0:
            return self._pos_filter(lambda rn, cnt: rn == n + 1)
        return self._pos_filter(lambda rn, cnt: rn == cnt + n + 1)

    def take(self, positions):
        """Member rows at the given 0-based positions within each
        group (negative from the end) — one row_number window, a
        single IN predicate."""
        pos = [int(p) for p in positions]
        plus = [p + 1 for p in pos if p >= 0]
        neg = [p for p in pos if p < 0]

        def pred(rn, cnt):
            cond = None
            if plus:
                cond = rn.isin(plus)
            for p in neg:
                c = rn == cnt + p + 1
                cond = c if cond is None else (cond | c)
            return cond if cond is not None else F.lit(False)
        return self._pos_filter(pred)

    # ---- extra grouped aggregations ----

    def _numeric_simple(self, fn):
        """Like ``_simple`` but over numeric non-key columns only
        (pandas ``numeric_only`` behavior for the moment stats)."""
        df = self._df
        num = {"bigint", "int", "smallint", "tinyint", "double",
               "float"}
        labels = [c for i, c in enumerate(df._columns)
                  if c not in self._by
                  and df._dtypes()[i].simpleString() in num]
        return self.agg({c: fn for c in labels})

    def prod(self):
        return self._numeric_simple("prod")

    def any(self):
        return self._simple(lambda c: F.coalesce(
            F.max(c.cast("boolean")), F.lit(False)))

    def all(self):
        return self._simple(lambda c: F.coalesce(
            F.min(c.cast("boolean")), F.lit(True)))

    def sem(self):
        """Per-group standard error of the mean (std / sqrt(n)) —
        fused into the one hash aggregate."""
        return self._numeric_simple(
            lambda c: F.stddev_samp(c) / F.sqrt(F.count(c)))

    def skew(self):
        """pandas bias-corrected sample skewness per group: Spark's
        population g1 rescaled by sqrt(n(n-1))/(n-2) (n<3 -> NULL,
        like pandas NaN) — still one aggregate pass."""
        def fn(c):
            n = F.count(c)
            adj = F.sqrt(n * (n - F.lit(1))) / (n - F.lit(2))
            return F.when(n >= 3, F.skewness(c.cast("double")) * adj)
        return self._numeric_simple(fn)

    def kurt(self):
        """pandas bias-corrected excess kurtosis per group from
        Spark's population excess g2:
        ((n+1)g2 + 6)(n-1)/((n-2)(n-3))."""
        def fn(c):
            n = F.count(c)
            num = ((n + F.lit(1)) * F.kurtosis(c.cast("double"))
                   + F.lit(6)) \
                * (n - F.lit(1))
            return F.when(n >= 4, num / ((n - F.lit(2))
                                         * (n - F.lit(3))))
        return self._numeric_simple(fn)

    kurtosis = kurt

    def describe(self, percentiles=(0.25, 0.5, 0.75)):
        """Per-group describe: count/mean/std/min/percentiles/max for
        every numeric non-key column, fused into ONE hash aggregate
        (map-side partials).  Columns flatten to ``col_stat`` labels
        (the engine has no MultiIndex columns — documented
        deviation)."""
        df = self._df
        exprs, labels = [], []
        dtypes = df._dtypes()
        for lab in [c for c in df._columns if c not in self._by]:
            pos = df._columns.get_loc(lab)
            c = df._col_at(pos)
            if dtypes[pos].simpleString() not in _NUMERIC_TYPES:
                continue
            stats = [("count", F.count(c)), ("mean", F.mean(c)),
                     ("std", F.stddev_samp(c)), ("min", F.min(c))]
            stats += [(f"{int(p * 100)}%", F.percentile(c, F.lit(p)))
                      for p in percentiles]
            stats.append(("max", F.max(c)))
            for nm, e in stats:
                exprs.append(e)
                labels.append(f"{lab}_{nm}")
        keys = [k.alias(I.idx_name(i))
                for i, k in enumerate(self._key_cols)]
        sdf = df._sdf.groupBy(*keys).agg(
            *[e.alias(I.col_name(i)) for i, e in enumerate(exprs)])
        from .core import DataFrame
        return DataFrame(pd.Index(self._by), pd.Index(labels), sdf)

    def value_counts(self, normalize: bool = False):
        """Per-group counts of unique non-key row combinations —
        keys+values hash aggregate (one shuffle); ``normalize``
        divides by the group size via a count window on the keys.
        Row order is engine-undefined (sort afterwards if needed,
        pandas sorts by count within group)."""
        from pyspark.sql import Window

        from .core import Series
        df = self._df
        labels = [c for c in df._columns if c not in self._by]
        nk = len(self._by)
        keys = [k.alias(I.idx_name(i))
                for i, k in enumerate(self._key_cols)]
        vals = [df._col_at(df._columns.get_loc(lab))
                .alias(I.idx_name(nk + j))
                for j, lab in enumerate(labels)]
        grouped = df._sdf.groupBy(*keys, *vals).agg(
            F.count(F.lit(1)).alias("__n"))
        if normalize:
            tot = F.sum("__n").over(Window.partitionBy(
                *[I.idx_name(i) for i in range(nk)]))
            out = grouped.select(
                *[I.idx_name(i) for i in range(nk + len(labels))],
                (F.col("__n") / tot).alias(I.col_name(0)))
            name = "proportion"
        else:
            out = grouped.select(
                *[I.idx_name(i) for i in range(nk + len(labels))],
                F.col("__n").alias(I.col_name(0)))
            name = "count"
        return Series(pd.Index(self._by + labels), None, out,
                      name)._carry(reordered=True)

    def sample(self, frac: float, key: str = None,
               fast_hash: bool = False):
        """Per-group deterministic sample — delegates to the engine's
        content-addressed :meth:`RelationalMixin.sample_stratified`
        machinery with the SAME fraction for every group (one CASE-free
        scan, zero shuffles).  ``key`` defaults to the first grouping
        column (the hash input must identify a row's stratum
        deterministically)."""
        df = self._df
        if key is None:
            # hash the INDEX (row identity): hashing the grouping
            # column would keep/drop whole GROUPS as units
            from decimal import ROUND_HALF_EVEN  # noqa: F401
            k = df._idx_at(0)
            if fast_hash:
                bucket = F.pmod(F.xxhash64(k), F.lit(1 << 32))
                scale = 1 << 32
            else:
                bucket = F.conv(
                    F.substring(F.md5(k.cast("string")), 1, 15),
                    16, 10).cast("long")
                scale = 1 << 60
            new = df._shallow_copy()
            new._sdf = df._sdf.filter(
                bucket < F.lit(_hash_threshold(frac, scale)))
            return new
        return df.sample(frac, key=key, fast_hash=fast_hash)

    def aggregate(self, *args, **kwargs):
        return self.agg(*args, **kwargs)

    def pipe(self, fn, *args, **kwargs):
        return fn(self, *args, **kwargs)

    def get_group(self, key):
        """The member rows of one group — an in-plan, pushdown-eligible
        equality filter on the key column(s)."""
        vals = key if isinstance(key, tuple) else (key,)
        if len(vals) != len(self._by):
            raise KeyError(
                f"get_group key must have {len(self._by)} "
                f"component(s), got {len(vals)}")
        df = self._df
        cond = None
        for k, v in zip(self._key_cols, vals):
            c = k == F.lit(v)
            cond = c if cond is None else (cond & c)
        new = df._shallow_copy()
        new._sdf = df._sdf.filter(cond)
        return new

    @property
    def ngroups(self):
        """Number of distinct groups — one countDistinct aggregate."""
        row = self._df._sdf.agg(
            F.count_distinct(*self._key_cols).alias("n")).collect()[0]
        return int(row["n"])

    def resample(self, rule: str, on: str):
        """``df.groupby(user).resample('1D', on=ts)`` — the per-entity
        time-bucketing idiom: buckets the timestamp column (same
        floor/date_trunc rewrite as frame resample) and regroups on
        (keys + bucket).  Still ONE hash aggregate downstream.

        SPARSE buckets (same contract as frame resample): periods with
        no rows don't appear — pandas emits zero-filled gap buckets.
        Compose with :func:`ext.events.densify_time` for the dense
        grid (a generate-series explode, the scalable form)."""
        df = self._df
        bucketed = df.resample(rule, on=on)  # GroupBy on the bucket
        return GroupBy(bucketed._df, self._by + [on])

    def corr(self):
        """Per-group pairwise Pearson correlation of every numeric
        column pair — ONE hash aggregate (all pairs fused); columns
        flatten to ``a__b`` labels (no MultiIndex columns; the
        diagonal is identically 1 and omitted).  Zero-variance groups
        yield NULL (ANSI-safe gated form)."""
        from .operators.analytic import safe_corr
        return self._pairwise(safe_corr)

    def cov(self):
        """Per-group pairwise sample covariance (ddof=1), same
        flattening as :meth:`corr`."""
        return self._pairwise(F.covar_samp)

    def corrwith(self, other):
        """Per-group pairwise correlation with ``other``'s matching
        columns — one index-align join + ONE hash aggregate (every
        shared column's per-group corr fused)."""
        df = self._df
        shared = [c for i, c in enumerate(df._columns)
                  if c in other._columns and c not in self._by
                  and df._dtypes()[i].simpleString() in _NUMERIC_TYPES]
        joined, lcol, rcol, idx, names = df._join_idx(other)
        keys = [lcol(df._columns.get_loc(b)).alias(I.idx_name(i))
                for i, b in enumerate(self._by)]
        aggs = []
        for j, lab in enumerate(shared):
            li = df._columns.get_loc(lab)
            ri = other._columns.get_loc(lab)
            from .operators.analytic import safe_corr
            aggs.append(safe_corr(lcol(li).cast("double"),
                                  rcol(ri).cast("double"))
                        .alias(I.col_name(j)))
        sdf = joined.groupBy(*keys).agg(*aggs)
        from .core import DataFrame
        return DataFrame(pd.Index(self._by), pd.Index(shared), sdf)

    def _pairwise(self, fn):
        df = self._df
        num = {"bigint", "int", "smallint", "tinyint", "double",
               "float"}
        cols = [(i, lab) for i, lab in enumerate(df._columns)
                if lab not in self._by
                and df._dtypes()[i].simpleString() in num]
        exprs, labels = [], []
        for a, (i, la) in enumerate(cols):
            for j, lb in cols[a + 1:]:
                exprs.append(fn(df._col_at(i).cast("double"),
                               df._col_at(j).cast("double")))
                labels.append(f"{la}__{lb}")
        keys = [k.alias(I.idx_name(i))
                for i, k in enumerate(self._key_cols)]
        sdf = df._sdf.groupBy(*keys).agg(
            *[e.alias(I.col_name(i)) for i, e in enumerate(exprs)])
        from .core import DataFrame
        return DataFrame(pd.Index(self._by), pd.Index(labels), sdf)

    def ohlc(self):
        """Per-group open/high/low/close (first/max/min/last in index
        order) for every numeric non-key column — ONE hash aggregate;
        flattened ``col_stat`` labels (no MultiIndex columns)."""
        df = self._df
        num = {"bigint", "int", "smallint", "tinyint", "double",
               "float"}
        exprs, labels = [], []
        order = [df._idx_at(i) for i in range(df._n_idx())]
        ostruct = F.struct(*order)
        for i, lab in enumerate(df._columns):
            if lab in self._by:
                continue
            if df._dtypes()[i].simpleString() not in num:
                continue
            c = df._col_at(i)
            for nm, e in (("open", F.min_by(c, ostruct)),
                          ("high", F.max(c)), ("low", F.min(c)),
                          ("close", F.max_by(c, ostruct))):
                exprs.append(e)
                labels.append(f"{lab}_{nm}")
        keys = [k.alias(I.idx_name(i))
                for i, k in enumerate(self._key_cols)]
        sdf = df._sdf.groupBy(*keys).agg(
            *[e.alias(I.col_name(i)) for i, e in enumerate(exprs)])
        from .core import DataFrame
        return DataFrame(pd.Index(self._by), pd.Index(labels), sdf)


class _FrameGroupedWindow:
    """Frame-flavor grouped rolling/expanding handle: each aggregate
    fans the per-column window expressions into one fused select."""

    _AGGS = ("sum", "mean", "min", "max", "std", "var", "count",
             "median", "quantile")

    def __init__(self, gb, make_handle):
        self._gb = gb
        self._make = make_handle

    def _agg(self, name, *args):
        return self._gb._transform_frame_fn(
            lambda cap: getattr(self._make(cap), name)(*args))

    def __getattr__(self, name):
        if name in self._AGGS:
            return lambda *args: self._agg(name, *args)
        raise AttributeError(name)


class RelationalMixin:
    """DataFrame verbs beyond the reference surface."""

    def groupby(self, by):
        return GroupBy(self, by)

    #: calendar frequencies -> Spark date_trunc unit (period-START
    #: labels; pandas' default right/end-edge labels for W/M are a
    #: documented divergence — 'MS'/'W-MON'/'QS'/'YS' match exactly)
    _CAL_FREQ = {"MS": "month", "M": "month", "W": "week",
                 "W-MON": "week", "QS": "quarter", "Q": "quarter",
                 "YS": "year", "Y": "year", "A": "year"}

    def resample(self, rule: str, on: str = None):
        """pandas ``df.resample(rule, on=col)``: bucket timestamps and
        return the engine GroupBy over the bucket — every downstream
        ``.agg``/``.sum``/``.count`` is ONE hash aggregate (map-side
        partial, single shuffle), because the bucket expression inlines
        into the scan projection (same-lineage assign).

        Fixed frequencies ('15min', '2h', 'D', ...) truncate epoch
        microseconds (``dt.floor``); calendar frequencies map to
        ``date_trunc`` with period-START labels.  A datetime index is
        not supported — pass ``on=`` (the engine keeps time as ordinary
        columns; at 100 TB the time column is usually also the
        partition key, which keeps the shuffle partition-local)."""
        if on is None:
            raise NotImplementedError(
                "resample requires on=<timestamp column>; the engine "
                "has no datetime index")
        # __getitem__, not getattr: a column named like a frame method
        # ("count", "sum") must still resolve to the column
        s = self[on]
        unit = self._CAL_FREQ.get(rule)
        if unit is not None:
            in_type = s._dtypes()[0].simpleString()
            bucket = s._app(
                lambda c: F.date_trunc(unit, c).cast(in_type))
        else:
            bucket = s.dt.floor(rule)
        return self.assign(**{on: bucket}).groupby(on)

    # -- pipeline control (thin wrappers over the Spark plan) ----------

    def cache(self):
        """Persist the underlying plan (MEMORY_AND_DISK).  Use before
        fanning one frame into several downstream branches — Spark
        otherwise re-executes the shared subtree per branch."""
        new = self._shallow_copy()
        new._sdf = self._sdf.cache()
        return new

    persist = cache

    def unpersist(self):
        self._sdf.unpersist()
        return self

    def repartition(self, num_partitions=None, by=None):
        """Explicit repartition: by columns (hash-partitions on the
        labels — pre-shuffle for a co-located join or to spread skew)
        and/or to a partition count.  A shuffle; use deliberately."""
        new = self._shallow_copy()
        if by is not None:
            by = by if isinstance(by, list) else [by]
            cols = [self._col_at(self._columns.get_loc(b)) for b in by]
            new._sdf = (self._sdf.repartition(num_partitions, *cols)
                        if num_partitions else self._sdf.repartition(*cols))
        else:
            new._sdf = self._sdf.repartition(num_partitions)
        return new

    def to_parquet(self, path, mode="overwrite", partition_by=None):
        """Write as parquet via the engine's sink (sources/io.py):
        data columns under their labels, optional directory
        partitioning."""
        from .sources.io import to_parquet as _tp
        _tp(self, path, mode=mode, partition_by=partition_by)

    def sort_values(self, by, ascending=True):
        if not isinstance(by, list):
            by = [by]
        if not isinstance(ascending, list):
            ascending = [ascending] * len(by)
        order = []
        for b, asc in zip(by, ascending):
            c = self._col_at(self._columns.get_loc(b))
            order.append(c.asc() if asc else c.desc())
        new = self._shallow_copy()
        new._sdf = self._sdf.orderBy(*order)
        return new._impose_order()

    def sort_index(self, ascending=True):
        order = [c.asc() if ascending else c.desc() for c in self._idx_cols()]
        new = self._shallow_copy()
        new._sdf = self._sdf.orderBy(*order)
        return new._impose_order()

    @staticmethod
    def _dup_keys_exist(frame, keys) -> bool:
        cols = [frame._col_at(frame._columns.get_loc(k)) for k in keys]
        dup = (frame._sdf.groupBy(*cols)
               .agg(F.count(F.lit(1)).alias("__n"))
               .filter(F.col("__n") > 1).limit(1).count())
        return dup > 0

    def _validate_merge(self, right, left_on, right_on, validate):
        try:
            from pandas.errors import MergeError
        except ImportError:  # pragma: no cover
            MergeError = ValueError
        forms = {"1:1": "one_to_one", "one_to_one": "one_to_one",
                 "1:m": "one_to_many", "one_to_many": "one_to_many",
                 "m:1": "many_to_one", "many_to_one": "many_to_one",
                 "m:m": "many_to_many",
                 "many_to_many": "many_to_many"}
        if validate not in forms:
            raise ValueError(f'Not a valid argument for validate: '
                             f'"{validate}"')
        form = forms[validate]
        if form in ("one_to_one", "one_to_many") \
                and self._dup_keys_exist(self, left_on):
            raise MergeError(
                "Merge keys are not unique in left dataset; not a "
                f"{form} merge")
        if form in ("one_to_one", "many_to_one") \
                and self._dup_keys_exist(right, right_on):
            raise MergeError(
                "Merge keys are not unique in right dataset; not a "
                f"{form} merge")

    def nlargest(self, n, columns):
        return self.sort_values(columns, ascending=False).head(n)

    def nsmallest(self, n, columns):
        return self.sort_values(columns, ascending=True).head(n)

    def merge(self, right, how="inner", on=None, left_on=None, right_on=None,
              suffixes=("_x", "_y"), broadcast=False, indicator=False,
              validate=None):
        """Relational join on data columns (pandas.merge semantics for
        the label bookkeeping).  ``broadcast=True`` hints the right side
        — use for dimension tables; AQE also auto-broadcasts small
        sides at runtime.  ``indicator=True`` appends a ``_merge``
        column (``both``/``left_only``/``right_only`` as plain strings,
        not pandas' categorical) via constant presence flags — robust
        to NULL join keys, where testing the key columns would lie.
        ``validate='1:1'|'1:m'|'m:1'|'m:m'`` checks join-key
        cardinality like pandas (MergeError on violation) — an EAGER
        duplicate probe per constrained side (one aggregate + LIMIT 1,
        cheap next to the join it guards)."""
        from .core import DataFrame
        if how == "cross":
            left_on = right_on = []
        elif on is not None:
            left_on = right_on = on if isinstance(on, list) else [on]
        else:
            if left_on is None or right_on is None:
                raise ValueError("must specify on or left_on/right_on")
            left_on = left_on if isinstance(left_on, list) else [left_on]
            right_on = right_on if isinstance(right_on, list) else [right_on]
        if validate is not None:
            self._validate_merge(right, left_on, right_on, validate)
        l = self._rename_all(self._sdf, "l_")
        r = self._rename_all(right._sdf, "r_")
        if indicator:
            if how in ("semi", "anti", "cross"):
                raise ValueError(
                    "indicator is not supported for semi/anti/cross "
                    "merges (the right side never lands in the result)")
            l = l.withColumn("__l_present", F.lit(1))
            r = r.withColumn("__r_present", F.lit(1))
        if broadcast:
            r = F.broadcast(r)
        cond = None
        for lo, ro in zip(left_on, right_on):
            li = self._columns.get_loc(lo)
            ri = right._columns.get_loc(ro)
            c = l[f"l_{I.col_name(li)}"] == r[f"r_{I.col_name(ri)}"]
            cond = c if cond is None else (cond & c)
        if how in ("semi", "anti"):
            # existence joins (beyond pandas.merge): only left columns
            # survive; Spark's left_semi/left_anti never materialize
            # the right side's payload (build-side is keys only).
            # Left rows pass through unchanged, so ALL left index
            # levels are kept (a MultiIndex left frame keeps its
            # MultiIndex, like a boolean-mask filter).
            joined = l.join(r, cond, f"left_{how}")
            sel = [l[f"l_{I.idx_name(i)}"].alias(I.idx_name(i))
                   for i in range(self._n_idx())]
            sel += [l[f"l_{I.col_name(i)}"].alias(I.col_name(i))
                    for i in range(len(self._columns))]
            return DataFrame(self._index, self._columns,
                             joined.select(*sel))._carry(self, reordered=True)
        joined = l.crossJoin(r) if how == "cross" else l.join(r, cond, how)
        # result columns: left data cols + right data cols (minus
        # right-side join keys when joining `on` shared labels)
        out_labels, out_exprs = [], []
        overlap = set(self._columns) & set(right._columns)
        drop_right = set(right_on) if on is not None else set()
        for i, lab in enumerate(self._columns):
            name = f"{lab}{suffixes[0]}" if lab in overlap and lab not in drop_right else lab
            out_labels.append(name)
            expr = l[f"l_{I.col_name(i)}"]
            if lab in drop_right and how in ("outer", "full", "full_outer",
                                             "right"):
                # pandas coalesces shared `on` keys: right-only rows
                # carry the RIGHT key, not NULL
                j = right._columns.get_loc(lab)
                expr = F.coalesce(expr, r[f"r_{I.col_name(j)}"])
            out_exprs.append(expr)
        for j, lab in enumerate(right._columns):
            if lab in drop_right:
                continue
            name = f"{lab}{suffixes[1]}" if lab in overlap else lab
            out_labels.append(name)
            out_exprs.append(r[f"r_{I.col_name(j)}"])
        if indicator:
            out_labels.append("_merge")
            out_exprs.append(
                F.when(joined["__l_present"].isNotNull()
                       & joined["__r_present"].isNotNull(), F.lit("both"))
                .when(joined["__l_present"].isNotNull(),
                      F.lit("left_only"))
                .otherwise(F.lit("right_only")))
        # pandas.merge resets the result index to a RangeIndex — emit a
        # fresh provisional rowid (densified only when observed) instead
        # of passing the left index through: a MultiIndex left frame
        # would otherwise claim n_idx>=2 levels over a 1-column plan and
        # silently consume data columns as index levels on export.
        sel = [F.monotonically_increasing_id().alias(I.idx_name(0))]
        sel += [e.alias(I.col_name(k)) for k, e in enumerate(out_exprs)]
        return DataFrame(pd.Index((None,)), pd.Index(out_labels),
                         joined.select(*sel))._fresh_mid()

    def join(self, other, how="left", lsuffix="", rsuffix=""):
        """pandas DataFrame.join: join on the INDEX (all levels,
        null-safe).  ``how`` in left/inner/outer/right; overlapping
        column labels need suffixes, like pandas.  One keyed shuffle
        (AQE broadcasts a small side automatically)."""
        from .core import DataFrame
        if how not in ("left", "inner", "outer", "right"):
            raise ValueError(f"join how={how!r}")
        this, oth = self._mids_aligned(other)
        if this._n_idx() != oth._n_idx():
            raise ValueError(
                "cannot join frames with different index level counts")
        overlap = sorted(set(this._columns) & set(oth._columns))
        if overlap and not (lsuffix or rsuffix):
            raise ValueError(
                f"columns overlap but no suffix specified: {overlap}")
        l = this._rename_all(this._sdf, "l_")
        r = this._rename_all(oth._sdf, "r_")
        cond = None
        for i in range(this._n_idx()):
            c = l[f"l_{I.idx_name(i)}"].eqNullSafe(r[f"r_{I.idx_name(i)}"])
            cond = c if cond is None else (cond & c)
        spark_how = {"left": "left", "inner": "inner",
                     "outer": "full_outer", "right": "right"}[how]
        joined = l.join(r, cond, spark_how)
        if how == "right":
            idx = [joined[f"r_{I.idx_name(i)}"]
                   for i in range(this._n_idx())]
        elif how == "outer":
            idx = [F.coalesce(joined[f"l_{I.idx_name(i)}"],
                              joined[f"r_{I.idx_name(i)}"])
                   for i in range(this._n_idx())]
        else:
            idx = [joined[f"l_{I.idx_name(i)}"]
                   for i in range(this._n_idx())]
        labels, exprs = [], []
        for i, lab in enumerate(this._columns):
            labels.append(f"{lab}{lsuffix}" if lab in overlap else lab)
            exprs.append(joined[f"l_{I.col_name(i)}"])
        for j, lab in enumerate(oth._columns):
            labels.append(f"{lab}{rsuffix}" if lab in overlap else lab)
            exprs.append(joined[f"r_{I.col_name(j)}"])
        sel = [e.alias(I.idx_name(i)) for i, e in enumerate(idx)]
        sel += [e.alias(I.col_name(k)) for k, e in enumerate(exprs)]
        # when both sides still hold mids they joined on them raw, so
        # the output index holds mid values: the state must say so or
        # raw mids leak as labels
        return DataFrame(this._index, pd.Index(labels),
                         joined.select(*sel))._join_state(this, oth)

    def explode(self, column):
        """pandas DataFrame.explode: unnest one array column, other
        columns and index repeated per element (explode_outer keeps
        empty/NULL rows).  Generator in-stage; no shuffle."""
        new = self._shallow_copy()
        pos = new._columns.get_loc(column)
        idx = [new._idx_at(i) for i in range(new._n_idx())]
        data = [F.explode_outer(new._col_at(i)) if i == pos
                else new._col_at(i) for i in range(new._n_cols())]
        new._sdf = new._project(idx, data)
        return new

    def sample(self, frac, key=None, seed=None, fast_hash=False):
        """Row sample.  With ``key``: DETERMINISTIC content-addressed
        sample — md5 the key's string form and keep rows whose top 60
        hash bits fall under ``frac``.  Reproducible across runs AND
        engines (DuckDB/Trino compute the identical bucket), works for
        any key type (strings hash as-is, no cast to NULL), and always
        non-negative (a plain ``%`` on a Spark long keeps the
        dividend's sign and can overflow for large keys, silently
        sampling everything — the md5 bucket has neither failure
        mode).  The md5 predicate is NOT parquet-pushable and costs a
        string hash per row; ``fast_hash=True`` swaps in
        ``pmod(xxhash64(key), 2^32)`` — a whole-stage-codegen'd JVM
        hash, ~free per row, same determinism across RUNS but
        Spark-only (mirrors ext.dedup's fast_hash production path).
        Without ``key``: Spark's Bernoulli sample with ``seed``."""
        new = self._shallow_copy()
        if key is None:
            new._sdf = new._sdf.sample(fraction=frac, seed=seed)
        else:
            c = new._col_at(new._columns.get_loc(key))
            if fast_hash:
                bucket = F.pmod(F.xxhash64(c), F.lit(1 << 32))
                cond = bucket < F.lit(_hash_threshold(frac, 1 << 32))
            else:
                bucket = F.conv(
                    F.substring(F.md5(c.cast("string")), 1, 15), 16, 10
                ).cast("long")
                cond = bucket < F.lit(_hash_threshold(frac, 1 << 60))
            new._sdf = new._sdf.filter(cond)
        return new

    def sample_stratified(self, fracs, by, key, fast_hash=False):
        """Deterministic per-stratum sample: ``fracs`` maps stratum
        value -> fraction; rows in unlisted strata drop.  Same
        content-addressed hash predicate as :meth:`sample` (md5 bucket,
        engine-portable; ``fast_hash`` for the xxhash64 production
        path), with the threshold chosen per stratum via a CASE over
        ``by`` — one scan, zero shuffles, no per-stratum branching of
        the plan.  The training-data rebalancing primitive (e.g.
        downsample boilerplate-heavy sources, keep rare languages).

        Threshold rounding is PINNED to round-half-even of the double
        product ``frac * 2^60`` (see :func:`_hash_threshold`) so the
        boundary bucket classifies identically across engines."""
        new = self._shallow_copy()
        k = new._col_at(new._columns.get_loc(key))
        s = new._col_at(new._columns.get_loc(by))
        if fast_hash:
            bucket = F.pmod(F.xxhash64(k), F.lit(1 << 32))
            scale = 1 << 32
        else:
            bucket = F.conv(
                F.substring(F.md5(k.cast("string")), 1, 15), 16, 10
            ).cast("long")
            scale = 1 << 60
        thr = F.lit(None).cast("long")
        for v, fr in fracs.items():
            thr = F.when(s == F.lit(v), F.lit(_hash_threshold(fr, scale))) \
                .otherwise(thr)
        new._sdf = new._sdf.filter(bucket < thr)
        return new

    def drop(self, labels=None, axis=1, columns=None, index=None,
             level=None, errors="raise"):
        """Drop columns (axis=1 / columns=...): a metadata update + one
        projection, no data movement.

        Drop rows (axis=0 / index=...): an index-label anti-filter —
        ``NOT IN (literals)``, pushdown-eligible, no shuffle.  With
        ``errors='raise'`` (pandas default) one tiny aggregate job
        verifies every label exists (count of distinct matches — O(1)
        result); pass ``errors='ignore'`` to skip that job at scale.
        ``level`` selects the MultiIndex level to match (default 0)."""
        if index is not None:
            axis, labels = 0, index
        if axis in (0, "index") and columns is None:
            to_drop = labels if isinstance(labels, list) else [labels]
            lv = self._level_of(level) if level is not None else 0
            idx = self._sdf[I.idx_name(lv)]
            if errors == "raise":
                found = self._sdf.filter(idx.isin(to_drop)).select(
                    F.countDistinct(idx).alias("n")).take(1)[0]["n"]
                if found != len(set(to_drop)):
                    raise KeyError(
                        f"labels {to_drop} not found in axis")
            new = self._shallow_copy()
            new._sdf = self._sdf.filter(~idx.isin(to_drop))
            return new
        to_drop = columns if columns is not None else labels
        if not isinstance(to_drop, list):
            to_drop = [to_drop]
        keep = [c for c in self._columns if c not in to_drop]
        for c in to_drop:
            self._columns.get_loc(c)  # KeyError parity on unknown label
        return self[keep]

    def query(self, expr):
        """pandas DataFrame.query: a boolean expression over column
        NAMES, compiled to a Spark SQL predicate (F.expr) over a
        label-named projection — stays in-plan and pushdown-eligible.
        Python operators (`and/or/not/==`) are accepted and mapped to
        SQL."""
        sql = _py_expr_to_sql(expr)
        labels = [str(c) for c in self._columns]
        named = self._sdf.select(
            *[self._idx_at(i) for i in range(self._n_idx())],
            *[self._col_at(i).alias(lab) for i, lab in enumerate(labels)])
        kept = named.filter(F.expr(sql))
        back = kept.select(
            *[F.col(I.idx_name(i)) for i in range(self._n_idx())],
            *[F.col(lab).alias(I.col_name(i))
              for i, lab in enumerate(labels)])
        new = self._shallow_copy()
        new._sdf = back
        return new

    def eval(self, expr):
        """pandas ``df.eval``: an arithmetic/boolean expression over
        column NAMES, compiled to a Spark SQL expression over a
        label-named projection (same translator as :meth:`query` —
        stays in-plan, codegen).  ``'out = a + b'`` returns the frame
        with the new column appended; a bare expression returns the
        Series."""
        import re

        from .core import DataFrame, Series
        m = re.match(r"^\s*([A-Za-z_]\w*)\s*=(?!=)\s*(.+)$", expr,
                     re.S)
        rhs = (m.group(2) if m else expr)
        sql = _py_expr_to_sql(rhs)
        labels = [str(c) for c in self._columns]
        n = self._n_idx()
        named = self._sdf.select(
            *[self._idx_at(i).alias(I.idx_name(i)) for i in range(n)],
            *[self._col_at(i).alias(lab)
              for i, lab in enumerate(labels)])
        val = F.expr(sql)
        if m is None:
            body = named.select(
                *[F.col(I.idx_name(i)) for i in range(n)],
                val.alias(I.col_name(0)))
            out = Series(self._index, None, body, None)
        else:
            # pandas eval REPLACES an existing target column
            target = m.group(1)
            exprs = [F.col(lab) for lab in labels]
            out_labels = list(labels)
            if target in labels:
                exprs[labels.index(target)] = val
            else:
                out_labels.append(target)
                exprs.append(val)
            body = named.select(
                *[F.col(I.idx_name(i)) for i in range(n)],
                *[e.alias(I.col_name(i))
                  for i, e in enumerate(exprs)])
            out = DataFrame(self._index, pd.Index(out_labels), body)
        out._carry(self)
        return out

    def nunique(self):
        """Distinct count per column -> pandas Series (one aggregate
        pass; exact)."""
        return self._reduce_columns(F.countDistinct, numeric_only=False)

    def idxmax(self):
        """Index label of each column's max -> pandas Series (max_by
        against the first index level, one pass)."""
        return self._frame_arg_extreme(F.max_by)

    def idxmin(self):
        """Index label of each column's min (min_by, one pass)."""
        return self._frame_arg_extreme(F.min_by)

    def _frame_arg_extreme(self, fn):
        from .core import Series
        idx = self._idx_at(0)
        row = self._sdf.agg(
            *[fn(idx, self._col_at(i)).alias(f"__r{i}")
              for i in range(self._n_cols())]).collect()[0]
        ser = pd.Series({self._columns[i]: row[f"__r{i}"]
                         for i in range(self._n_cols())})
        return Series.from_pandas(ser)

    def isin(self, values):
        """Elementwise membership -> boolean frame (one projection,
        stays in codegen).  ``values`` is a list (every column) or a
        dict of column -> list (other columns are all-False, like
        pandas)."""
        new = self._shallow_copy()
        sel = [self._idx_at(i).alias(I.idx_name(i))
               for i in range(self._n_idx())]
        for i in range(self._n_cols()):
            c = self._col_at(i)
            if isinstance(values, dict):
                vals = values.get(self._columns[i])
                expr = (F.lit(False) if vals is None
                        else c.isin(list(vals)))
            else:
                expr = c.isin(list(values))
            sel.append(F.coalesce(expr, F.lit(False))
                       .alias(I.col_name(i)))
        new._sdf = self._sdf.select(*sel)
        return new

    def select_dtypes(self, include=None, exclude=None):
        """Column subset by dtype family — metadata-only (no job).
        Families: 'number', 'integer', 'floating', 'bool', 'object'/
        'string', 'datetime'."""
        fams = {
            "number": ("bigint", "int", "smallint", "tinyint",
                       "double", "float"),
            "integer": ("bigint", "int", "smallint", "tinyint"),
            "floating": ("double", "float"),
            "bool": ("boolean",),
            "boolean": ("boolean",),
            "object": ("string",),
            "string": ("string",),
            "datetime": ("timestamp", "timestamp_ntz", "date"),
        }

        def expand(spec):
            if spec is None:
                return None
            spec = [spec] if isinstance(spec, str) else list(spec)
            out = set()
            for s in spec:
                out.update(fams.get(str(s), (str(s),)))
            return out

        inc, exc = expand(include), expand(exclude)
        keep = []
        for i, t in enumerate(self._dtypes()):
            ts = t.simpleString()
            if inc is not None and ts not in inc:
                continue
            if exc is not None and ts in exc:
                continue
            keep.append(self._columns[i])
        return self[list(keep)]

    def value_counts(self, ascending=False):
        """Distinct-row counts (pandas ``df.value_counts()``): one
        hash aggregate over all columns; the row values become the
        result's index levels."""
        return self.groupby(list(self._columns)).size() \
            .sort_values(ascending=ascending)

    def agg(self, spec):
        """pandas ``df.agg``: a string/callable (every column, ==
        the dedicated reductions) or a dict col -> fn | [fns] — ALL
        requested aggregates fused into ONE Spark pass, returned as
        a small pandas object (materializer, like pandas)."""
        if isinstance(spec, str):
            return getattr(self, spec)()
        if not isinstance(spec, dict):
            raise TypeError("agg expects a string or a dict of "
                            "column -> function(s)")
        exprs, keys = [], []
        for col, fns in spec.items():
            fns = fns if isinstance(fns, list) else [fns]
            src = self._col_at(self._columns.get_loc(col))
            for fn in fns:
                name = fn if isinstance(fn, str) else getattr(
                    fn, "__name__", str(fn))
                exprs.append(_resolve_agg(fn)(src)
                             .alias(f"__a{len(exprs)}"))
                keys.append((col, name))
        row = self._sdf.agg(*exprs).collect()[0]
        multi = any(len(v) > 1 for v in
                    (s if isinstance(s, list) else [s]
                     for s in spec.values()))
        if not multi:
            from .core import Series
            ser = pd.Series({c: row[f"__a{j}"]
                             for j, (c, _) in enumerate(keys)})
            return Series.from_pandas(ser)
        out = pd.DataFrame(index=sorted({n for _, n in keys}),
                           columns=list(spec))
        for j, (c, n) in enumerate(keys):
            out.loc[n, c] = row[f"__a{j}"]
        return out

    def where(self, cond, other=None):
        """Frame-level ``where`` with a BOOLEAN SERIES row mask
        (aligned on the index): kept rows pass through, masked rows
        null out (or take scalar ``other``) in every column — the
        common pandas idiom.  A boolean FRAME condition (per-cell
        masks) is not supported; mask columns individually."""
        from .core import Series
        if not isinstance(cond, Series):
            raise NotImplementedError(
                "DataFrame.where needs a boolean Series row mask "
                "(per-cell boolean-frame conds: mask each column)")
        new = self.assign(__cond=cond)
        flag = new._col_at(new._columns.get_loc("__cond"))
        sel = [new._idx_at(i).alias(I.idx_name(i))
               for i in range(new._n_idx())]
        oth = F.lit(None) if other is None else F.lit(other)
        for i, lab in enumerate(self._columns):
            c = new._col_at(new._columns.get_loc(lab))
            sel.append(F.when(flag, c).otherwise(oth)
                       .alias(I.col_name(i)))
        from .core import DataFrame
        return DataFrame(self._index, self._columns,
                         new._sdf.select(*sel))._carry(new)

    def pivot(self, index=None, columns=None, values=None):
        """pandas ``df.pivot``: reshape WITHOUT aggregation — raises
        like pandas when an (index, columns) cell holds more than one
        row (checked with one aggregate + LIMIT 1), else delegates to
        the pivot_table machinery with 'first'.  ``values=None``
        infers the single remaining column (pandas contract); several
        remaining columns raise toward an explicit choice."""
        if values is None:
            rest = [c for c in self._columns
                    if c not in (index, columns)]
            if len(rest) != 1:
                raise NotImplementedError(
                    f"pivot with values=None needs exactly one "
                    f"remaining column, found {rest}; pass values=")
            values = rest[0]
        dup = (self._sdf.groupBy(
            self._col_at(self._columns.get_loc(index)),
            self._col_at(self._columns.get_loc(columns)))
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1).limit(1).count())
        if dup:
            raise ValueError(
                "Index contains duplicate entries, cannot reshape")
        return self.pivot_table(values=values, index=index,
                                columns=columns, aggfunc="first")

    def corr(self):
        """Pairwise correlation matrix of numeric columns — ALL k²/2
        corr aggregates fused into ONE Spark pass, returned as a small
        pandas frame (materializer, like pandas)."""
        num_types = ("bigint", "int", "smallint", "tinyint", "double",
                     "float")
        cols = [(str(self._columns[i]), self._col_at(i))
                for i, t in enumerate(self._dtypes())
                if t.simpleString() in num_types]
        aggs = []
        for i, (_, ci) in enumerate(cols):
            for j, (_, cj) in enumerate(cols):
                if j >= i:
                    aggs.append(F.corr(ci, cj).alias(f"__c{i}_{j}"))
        row = self._sdf.agg(*aggs).collect()[0]
        labels = [lab for lab, _ in cols]
        data = [[row[f"__c{min(i, j)}_{max(i, j)}"]
                 for j in range(len(cols))] for i in range(len(cols))]
        return pd.DataFrame(data, index=labels, columns=labels)

    def cov(self):
        """Pairwise sample-covariance matrix of numeric columns — all
        k²/2 covar_samp aggregates fused into ONE Spark pass (same
        shape as :meth:`corr`)."""
        num_types = ("bigint", "int", "smallint", "tinyint", "double",
                     "float")
        cols = [(str(self._columns[i]), self._col_at(i))
                for i, t in enumerate(self._dtypes())
                if t.simpleString() in num_types]
        aggs = []
        for i, (_, ci) in enumerate(cols):
            for j, (_, cj) in enumerate(cols):
                if j >= i:
                    aggs.append(F.covar_samp(ci, cj).alias(f"__c{i}_{j}"))
        row = self._sdf.agg(*aggs).collect()[0]
        labels = [lab for lab, _ in cols]
        data = [[row[f"__c{min(i, j)}_{max(i, j)}"]
                 for j in range(len(cols))] for i in range(len(cols))]
        return pd.DataFrame(data, index=labels, columns=labels)

    def _reduce_columns(self, fn, numeric_only=True):
        """Column-wise reduction to a pandas-style Series (one Spark
        aggregate pass over every column, then a literal frame — the
        result is ncols-sized, driver-side by definition)."""
        from .core import Series
        num_types = ("bigint", "int", "smallint", "tinyint", "double",
                     "float", "boolean")
        pairs = []
        for i, t in enumerate(self._dtypes()):
            if numeric_only and t.simpleString() not in num_types:
                continue
            c = self._col_at(i)
            if t.simpleString() == "boolean":
                c = c.cast("int")  # pandas reduces booleans as ints
            pairs.append((self._columns[i], c))
        row = self._sdf.agg(
            *[fn(c).alias(f"__r{j}") for j, (_, c) in enumerate(pairs)]
        ).collect()[0]
        ser = pd.Series({lab: row[f"__r{j}"]
                         for j, (lab, _) in enumerate(pairs)})
        return Series.from_pandas(ser)

    def _row_reduce(self, how):
        """Row-wise (axis=1) reduction over the numeric columns — a
        pure projection (no shuffle, stays in whole-stage codegen),
        pandas NaN-skipping semantics: sum of an all-null row is 0.0,
        mean/min/max are null."""
        from .core import Series
        num_types = ("bigint", "int", "smallint", "tinyint", "double",
                     "float", "boolean")
        cols = []
        for i, t in enumerate(self._dtypes()):
            if t.simpleString() not in num_types:
                continue
            c = self._col_at(i).cast("double")
            cols.append(c)
        if not cols:
            raise ValueError("axis=1 reduction needs at least one "
                             "numeric column")
        nn = [F.when(c.isNotNull(), 1).otherwise(0) for c in cols]
        n = sum(nn[1:], nn[0])
        z = [F.coalesce(c, F.lit(0.0)) for c in cols]
        total = sum(z[1:], z[0])
        if how == "sum":
            expr = total
        elif how == "mean":
            expr = F.when(n > 0, total / n)
        elif how == "min":
            expr = F.least(*cols) if len(cols) > 1 else cols[0]
        elif how == "max":
            expr = F.greatest(*cols) if len(cols) > 1 else cols[0]
        else:
            raise ValueError(f"unsupported axis=1 reduction {how!r}")
        sel = [self._idx_at(i).alias(I.idx_name(i))
               for i in range(self._n_idx())]
        sel.append(expr.alias(I.col_name(0)))
        return Series(self._index, None, self._sdf.select(*sel),
                      None)._carry(self)

    def sum(self, axis=0, numeric_only=True):
        """Column sums (axis=0, a one-row aggregate) or row sums
        (axis=1, an in-plan projection — Spark's least/greatest and
        coalesce keep pandas' NaN-skipping semantics)."""
        if axis in (1, "columns"):
            return self._row_reduce("sum")
        return self._reduce_columns(F.sum, numeric_only)

    def mean(self, axis=0, numeric_only=True):
        if axis in (1, "columns"):
            return self._row_reduce("mean")
        return self._reduce_columns(F.mean, numeric_only)

    def min(self, axis=0, numeric_only=True):
        if axis in (1, "columns"):
            return self._row_reduce("min")
        return self._reduce_columns(F.min, numeric_only)

    def max(self, axis=0, numeric_only=True):
        if axis in (1, "columns"):
            return self._row_reduce("max")
        return self._reduce_columns(F.max, numeric_only)

    def count(self):
        return self._reduce_columns(F.count, numeric_only=False)

    def std(self, numeric_only=True):
        return self._reduce_columns(F.stddev_samp, numeric_only)

    def var(self, numeric_only=True):
        return self._reduce_columns(F.var_samp, numeric_only)

    def median(self, numeric_only=True):
        return self._reduce_columns(F.median, numeric_only)

    def prod(self, numeric_only=True):
        return self._reduce_columns(F.product, numeric_only)

    product = prod

    def quantile(self, q=0.5, numeric_only=True):
        q = float(q)
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"q must be in [0, 1], got {q}")
        return self._reduce_columns(
            lambda c: F.percentile(c, F.lit(q)), numeric_only)

    def sem(self, numeric_only=True):
        """Column standard errors of the mean — std and count fused
        into the one aggregate pass."""
        return self._reduce_columns(
            lambda c: F.stddev_samp(c) / F.sqrt(F.count(c)),
            numeric_only)

    def skew(self, numeric_only=True):
        """pandas bias-corrected sample skewness per column (Spark's
        population g1 rescaled by sqrt(n(n-1))/(n-2), n<3 -> null)."""
        def fn(c):
            n = F.count(c)
            adj = F.sqrt(n * (n - F.lit(1))) / (n - F.lit(2))
            return F.when(n >= 3, F.skewness(c.cast("double")) * adj)
        return self._reduce_columns(fn, numeric_only)

    def kurt(self, numeric_only=True):
        """pandas bias-corrected excess kurtosis per column:
        ((n+1)g2 + 6)(n-1)/((n-2)(n-3)) over Spark's population g2."""
        def fn(c):
            n = F.count(c)
            num = ((n + F.lit(1)) * F.kurtosis(c.cast("double"))
                   + F.lit(6)) * (n - F.lit(1))
            return F.when(n >= 4, num / ((n - F.lit(2))
                                         * (n - F.lit(3))))
        return self._reduce_columns(fn, numeric_only)

    kurtosis = kurt

    def any(self):
        """Column-wise any over the numeric/boolean columns (pandas:
        NULL skipped, empty -> False)."""
        return self._reduce_columns(
            lambda c: F.coalesce(F.max(c.cast("boolean")),
                                 F.lit(False)))

    def all(self):
        return self._reduce_columns(
            lambda c: F.coalesce(F.min(c.cast("boolean")),
                                 F.lit(True)))

    def duplicated(self, subset=None, keep="first"):
        """Boolean Series marking duplicate rows.  ``keep='first'``:
        row_number over a window partitioned by the key columns,
        ordered by the positional index (first occurrence wins) —
        one shuffle on the keys.  ``keep=False``: a count window (all
        members of any duplicate group are True)."""
        from pyspark.sql import Window

        from .core import Series
        cols = subset if subset is not None else list(self._columns)
        if not isinstance(cols, list):
            cols = [cols]
        keys = [self._col_at(self._columns.get_loc(c)) for c in cols]
        if keep == "first":
            order = [self._idx_at(i).asc() for i in range(self._n_idx())]
            w = Window.partitionBy(*keys).orderBy(*order)
            expr = F.row_number().over(w) > 1
        elif keep == "last":
            order = [self._idx_at(i).desc() for i in range(self._n_idx())]
            w = Window.partitionBy(*keys).orderBy(*order)
            expr = F.row_number().over(w) > 1
        elif keep is False:
            w = Window.partitionBy(*keys)
            expr = F.count(F.lit(1)).over(w) > 1
        else:
            raise ValueError(
                'keep must be either "first", "last" or False')
        idx = [self._idx_at(i) for i in range(self._n_idx())]
        sel = [e.alias(I.idx_name(i)) for i, e in enumerate(idx)]
        sel.append(expr.alias(I.col_name(0)))
        return Series(self._index, None, self._sdf.select(*sel),
                      None)._carry(self, reordered=True)

    def drop_duplicates(self, subset=None):
        """Exact dedup.  With ``subset``, keeps one arbitrary row per
        key via max-struct (single shuffle, no window sort)."""
        from .core import DataFrame
        if subset is None:
            data = [c.alias(I.col_name(i)) for i, c in enumerate(self._data_cols())]
            sdf = self._sdf.select(*data).dropDuplicates()
            sdf = sdf.select(F.monotonically_increasing_id().alias(I.idx_name(0)),
                             *[I.col_name(i) for i in range(self._n_cols())])
            return DataFrame(pd.Index((None,)), self._columns,
                             sdf)._fresh_mid()
        keys = [self._col_at(self._columns.get_loc(s)).alias(f"__k_{j}")
                for j, s in enumerate(subset)]
        others = F.struct(*self._idx_cols(), *self._data_cols()).alias("__all")
        agg = self._sdf.select(*keys, others) \
            .groupBy(*[f"__k_{j}" for j in range(len(subset))]) \
            .agg(F.min("__all").alias("__all"))
        n = self._n_idx()
        sel = [F.col(f"__all.{I.idx_name(i)}").alias(I.idx_name(i)) for i in range(n)]
        sel += [F.col(f"__all.{I.col_name(i)}").alias(I.col_name(i))
                for i in range(self._n_cols())]
        return DataFrame(self._index, self._columns, agg.select(*sel))

    def dropna(self, subset=None, how="any", thresh=None):
        """Drop rows with NULLs.  ``how='any'|'all'``; ``thresh=n``
        keeps rows with at least n non-null values (overrides how) —
        all pure filter predicates, pushdown-eligible."""
        cols = self._data_cols() if subset is None else \
            [self._col_at(self._columns.get_loc(s)) for s in subset]
        if thresh is not None:
            n_ok = None
            for c in cols:
                k = c.isNotNull().cast("int")
                n_ok = k if n_ok is None else (n_ok + k)
            cond = n_ok >= thresh
        elif how == "all":
            cond = None
            for c in cols:
                k = c.isNotNull()
                cond = k if cond is None else (cond | k)
        else:
            cond = None
            for c in cols:
                k = c.isNotNull()
                cond = k if cond is None else (cond & k)
        new = self._shallow_copy()
        new._sdf = self._sdf.filter(cond)
        return new

    def fillna(self, value):
        """Fill NULLs: a scalar fills every column; a dict fills per
        column label (pandas semantics — unlisted columns untouched)."""
        new = self._shallow_copy()
        if isinstance(value, dict):
            pos = {self._columns.get_loc(k): v for k, v in value.items()}
            exprs = [F.coalesce(c, F.lit(pos[i])) if i in pos else c
                     for i, c in enumerate(self._data_cols())]
        else:
            exprs = [F.coalesce(c, F.lit(value))
                     for c in self._data_cols()]
        new._sdf = self._project(self._idx_cols(), exprs)
        return new

    def rename(self, columns=None):
        new = self._shallow_copy()
        if columns:
            new._columns = pd.Index(
                [columns.get(c, c) for c in self._columns])
        return new

    def astype(self, dtype):
        """Cast every column, or per-column with a ``{label: dtype}``
        dict (pandas astype) — one projection either way."""
        mapping = {"int64": "long", "int32": "int", "float64": "double",
                   "float32": "float", "str": "string", "string": "string",
                   "bool": "boolean"}
        if isinstance(dtype, dict):
            labels = list(self._columns)
            unknown = [k for k in dtype if k not in labels]
            if unknown:
                raise KeyError(
                    "Only a column name can be used for the key in a "
                    f"dtype mappings argument. '{unknown[0]}' not found "
                    "in columns.")
            if any(str(t) == "category" for t in dtype.values()):
                raise NotImplementedError(
                    "category casts are Series-level here: "
                    "df[col].astype('category')")
            exprs = []
            for i, lab in enumerate(labels):
                c = self._col_at(i)
                if lab in dtype:
                    t = str(dtype[lab])
                    c = c.cast(mapping.get(t, t))
                exprs.append(c)
            new = self._shallow_copy()
            new._sdf = self._project(self._idx_cols(), exprs)
            return new
        return self._cast(mapping.get(str(dtype), str(dtype)))

    def transpose(self, max_rows: int = 10_000):
        """pandas ``df.T`` — a MATERIALIZER: the transposed frame has
        one column per input ROW, which only makes sense for small
        frames (stats summaries, describe-style outputs).  BOUNDED like
        ``unique``/``get_dummies``: collects at most ``max_rows``+1
        rows and raises beyond that instead of silently building an
        absurdly wide frame; returns a plain pandas DataFrame."""
        pdf = self._limited_pandas(max_rows)
        return pdf.T

    @property
    def T(self):
        return self.transpose()

    def _limited_pandas(self, max_rows: int):
        pdf = self.head(max_rows + 1).to_pandas()
        if len(pdf) > max_rows:
            raise ValueError(
                f"transpose: frame has more than {max_rows} rows; a "
                "transposed frame that wide is driver-side only — pass "
                "a larger max_rows via .transpose() if you really want "
                "it")
        return pdf

    def set_index(self, keys):
        """Promote data column(s) to the index (replaces current index,
        like pandas set_index with drop=True)."""
        from .core import DataFrame
        if not isinstance(keys, list):
            keys = [keys]
        key_pos = [self._columns.get_loc(k) for k in keys]
        rest = [(i, lab) for i, lab in enumerate(self._columns) if i not in key_pos]
        idx_exprs = [self._col_at(p) for p in key_pos]
        sel = [e.alias(I.idx_name(i)) for i, e in enumerate(idx_exprs)]
        sel += [self._col_at(i).alias(I.col_name(j)) for j, (i, _) in enumerate(rest)]
        return DataFrame(pd.Index(keys), pd.Index([lab for _, lab in rest]),
                         self._sdf.select(*sel))

    def reset_index(self):
        """Demote index levels to data columns; new provisional rowid
        index (densified only when observed)."""
        from .core import DataFrame
        idx_labels = [n if n is not None else "index" for n in self._index]
        sel = [F.monotonically_increasing_id().alias(I.idx_name(0))]
        sel += [self._idx_at(i).alias(I.col_name(i)) for i in range(self._n_idx())]
        sel += [self._col_at(i).alias(I.col_name(self._n_idx() + i))
                for i in range(self._n_cols())]
        labels = pd.Index(idx_labels + list(self._columns))
        return DataFrame(pd.Index((None,)), labels,
                         self._sdf.select(*sel))._fresh_mid()

    # -- alignment-based frame verbs (pandas parity batch) -------------

    def combine_first(self, other):
        """pandas ``df.combine_first(other)``: self's values with
        other's filling the nulls — outer column alignment (metadata)
        + ONE full-outer index join, ``coalesce(l, r)`` per column."""
        from .core import DataFrame
        joined_labels, lpos, rpos = self._join_cols(self._columns,
                                                    other._columns)
        joined, lcol, rcol, idx, idx_names = self._join_idx(other)
        cols = [F.coalesce(lcol(i), rcol(j))
                for i, j in zip(lpos, rpos)]
        from . import base
        sdf = base.BaseFrame(idx_names, joined_labels,
                             joined)._project(idx, cols)
        return DataFrame(idx_names, joined_labels,
                         sdf)._join_state(self, other)

    def update(self, other):
        """pandas ``df.update(other)`` (in place): other's non-null
        values overwrite self's on shared labels/index — LEFT join on
        the index (self's rows all survive), ``coalesce(r, l)`` on the
        shared columns.  One shuffle; AQE broadcasts a small other."""
        if self._is_mindex or other._is_mindex:
            raise NotImplementedError(
                "update needs single-level indexes on both sides")
        shared = [c for c in self._columns if c in other._columns]
        # LEFT join (not the full-outer alignment): pandas update
        # keeps EXACTLY self's rows — including null index labels,
        # which an isNotNull filter would silently drop
        l = self._rename_all(self._sdf, "l_")
        r = self._rename_all(other._sdf, "r_")
        lk, rk = f"l_{I.idx_name(0)}", f"r_{I.idx_name(0)}"
        joined = l.join(r, l[lk].eqNullSafe(r[rk]) & l[lk].isNotNull(),
                        "left")
        cols = []
        for i, lab in enumerate(self._columns):
            lc = joined[f"l_{I.col_name(i)}"]
            if lab in shared:
                j = other._columns.get_loc(lab)
                cols.append(F.coalesce(joined[f"r_{I.col_name(j)}"],
                                       lc))
            else:
                cols.append(lc)
        from . import base
        self._sdf = base.BaseFrame(self._index, self._columns,
                                   joined)._project([joined[lk]],
                                                    cols)
        self._streamed()
        return None

    def equals(self, other):
        """Exact frame equality (labels, index, values; null == null)
        — a COUNT of full-outer-join mismatches (one shuffle, one
        scalar to the driver)."""
        if list(self._columns) != list(other._columns):
            return False
        if self._n_idx() != other._n_idx():
            return False
        joined, lcol, rcol, idx, idx_names = self._join_idx(other)
        lk = joined[f"l_{I.idx_name(0)}"]
        rk = joined[f"r_{I.idx_name(0)}"]
        mism = lk.isNull() | rk.isNull()
        for i, lab in enumerate(self._columns):
            j = other._columns.get_loc(lab)
            mism = mism | ~lcol(i).eqNullSafe(rcol(j))
        n = joined.where(mism).limit(1).count()
        return n == 0

    def compare(self, other):
        """pandas ``df.compare(other)``: the differing cells, as
        ``col_self`` / ``col_other`` columns (the engine has no
        MultiIndex columns — documented flattening), rows restricted
        to those with at least one difference.  Columns must match
        (pandas contract); all-equal column pairs keep their (all
        null) columns rather than dropping them — dropping would need
        an eager extra aggregate."""
        from .core import DataFrame
        if list(self._columns) != list(other._columns):
            raise ValueError(
                "Can only compare identically-labeled DataFrame "
                "objects")
        joined, lcol, rcol, idx, idx_names = self._join_idx(other)
        diffs = [~lcol(i).eqNullSafe(rcol(i))
                 for i in range(len(self._columns))]
        any_diff = diffs[0]
        for d in diffs[1:]:
            any_diff = any_diff | d
        cols, labels = [], []
        for i, lab in enumerate(self._columns):
            cols.append(F.when(diffs[i], lcol(i)))
            labels.append(f"{lab}_self")
            cols.append(F.when(diffs[i], rcol(i)))
            labels.append(f"{lab}_other")
        from . import base
        marked = base.BaseFrame(idx_names, pd.Index(labels), joined) \
            ._project(idx, cols + [any_diff])
        # the any-diff flag rides as one extra projected column, then
        # filters and drops — no second join
        flag = I.col_name(len(labels))
        return DataFrame(idx_names, pd.Index(labels),
                         marked.where(F.col(flag)).drop(flag)) \
            ._join_state(self, other)

    def reindex(self, index):
        """Conform to a new index: LEFT join from the requested labels
        (a literal frame) onto self — missing labels become all-null
        rows, unrequested rows drop.  One shuffle on the index (the
        label side must be row-preserved, so it cannot be the
        broadcast build side; AQE still picks the cheap plan).
        ``index`` is a list/pd.Index of labels."""
        from .core import DataFrame
        if self._n_idx() != 1:
            raise NotImplementedError(
                "reindex needs a single-level index")
        spark = self._sdf.sparkSession
        labels = pd.Index(index)
        lit = spark.createDataFrame(
            pd.DataFrame({I.idx_name(0): labels}))
        joined = lit.join(self._sdf, on=I.idx_name(0), how="left")
        return DataFrame(self._index, self._columns,
                         joined)._carry(reordered=True)

    def squeeze(self):
        """1-column frame -> Series (1x1 -> scalar), like pandas."""
        if self._n_cols() == 1:
            return self[self._columns[0]].squeeze()
        return self

    def pop(self, label):
        """Remove column ``label`` from this frame (in place) and
        return it as a Series — metadata + one projection."""
        s = self[label]
        pos = self._columns.get_loc(label)
        keep = [i for i in range(self._n_cols()) if i != pos]
        idx = [self._idx_at(i) for i in range(self._n_idx())]
        cols = [self._col_at(i) for i in keep]
        from . import base
        self._sdf = base.BaseFrame(self._index, self._columns,
                                   self._sdf)._project(idx, cols)
        self._columns = pd.Index([self._columns[i] for i in keep])
        return s

    def insert(self, loc, column, value):
        """Insert a column at position ``loc`` (in place).  ``value``:
        scalar or Series (aligned by the assign machinery)."""
        if column in self._columns:
            raise ValueError(f"cannot insert {column}, already exists")
        appended = self.assign(**{str(column): value})
        order = list(self._columns)
        order.insert(loc, column)
        reordered = appended[order]
        self._sdf = reordered._sdf
        self._columns = reordered._columns
        self._index = reordered._index

    def to_dict(self, orient="dict"):
        """Materializer: collect and delegate to pandas."""
        return self.to_pandas().to_dict(orient)

    def to_csv(self, path, mode: str = "overwrite",
               header: bool = True):
        """Write as CSV — delegates to :func:`sources.io.to_csv`."""
        from .sources.io import to_csv
        return to_csv(self, path, mode=mode, header=header)

    def first_valid_index(self):
        """Index label of the first row with any non-null data value
        (index order) — one filtered min_by aggregate."""
        return self._valid_index_end(first=True)

    def last_valid_index(self):
        return self._valid_index_end(first=False)

    def _valid_index_end(self, first: bool):
        if self._n_idx() != 1:
            raise NotImplementedError(
                "first/last_valid_index need a single-level index")
        some = self._col_at(0).isNotNull()
        for i in range(1, self._n_cols()):
            some = some | self._col_at(i).isNotNull()
        idx0 = self._idx_at(0)
        fn = F.min_by if first else F.max_by
        row = self._sdf.where(some).agg(
            fn(idx0, idx0).alias("v")).collect()
        return row[0]["v"] if row else None

    def corrwith(self, other):
        """Pairwise Pearson correlation of the matching numeric
        columns — one index-align join + ONE fused aggregate (every
        pair's corr in a single pass); returns a pandas-backed
        Series, like pandas."""
        from .core import Series
        shared = [c for i, c in enumerate(self._columns)
                  if c in other._columns
                  and self._dtypes()[i].simpleString()
                  in _NUMERIC_TYPES]
        joined, lcol, rcol, idx, idx_names = self._join_idx(other)
        aggs = []
        for j, lab in enumerate(shared):
            li = self._columns.get_loc(lab)
            ri = other._columns.get_loc(lab)
            from .operators.analytic import safe_corr
            aggs.append(safe_corr(lcol(li).cast("double"),
                                  rcol(ri).cast("double"))
                        .alias(f"__r{j}"))
        row = joined.agg(*aggs).collect()[0]
        ser = pd.Series({lab: row[f"__r{j}"]
                         for j, lab in enumerate(shared)})
        return Series.from_pandas(ser)

    def dot(self, other):
        """Matrix product with a SMALL right operand (a pandas
        DataFrame/engine frame that fits the driver): self (n×d) ·
        other (d×m) -> n×m.  The right side collects once and becomes
        plain column expressions — pure projection, no shuffle, no
        UDF; the canonical 100 TB embedding-projection pattern.
        Labels must align (self.columns == other.index)."""
        from .core import DataFrame
        w = other.to_pandas() if hasattr(other, "to_pandas") else other
        if list(self._columns) != list(w.index):
            raise ValueError("matrices are not aligned")
        n = self._n_idx()
        sel = [self._idx_at(i).alias(I.idx_name(i)) for i in range(n)]
        for j, out_lab in enumerate(w.columns):
            expr = None
            for i, lab in enumerate(self._columns):
                term = self._col_at(i) * F.lit(float(w.loc[lab,
                                                           out_lab]))
                expr = term if expr is None else expr + term
            sel.append(expr.alias(I.col_name(j)))
        return DataFrame(self._index, pd.Index(list(w.columns)),
                         self._sdf.select(*sel))._carry(self)

    def align(self, other, join="outer"):
        """pandas ``df.align(other)``: both frames conformed onto the
        union of labels and index — ONE full-outer index join feeding
        BOTH results (outer column alignment is metadata)."""
        from .core import DataFrame
        if join != "outer":
            raise NotImplementedError("align supports join='outer'")
        joined_labels, lpos, rpos = self._join_cols(self._columns,
                                                    other._columns)
        joined, lcol, rcol, idx, names = self._join_idx(other)
        from . import base

        def side(col_fn, positions):
            sdf = base.BaseFrame(names, joined_labels, joined) \
                ._project(idx, [col_fn(p) for p in positions])
            return DataFrame(names, joined_labels,
                             sdf)._join_state(self, other)

        return side(lcol, lpos), side(rcol, rpos)

    def combine(self, other, func, fill_value=None):
        """pandas ``df.combine(other, func)``: align columns and rows,
        then ``func(left_series, right_series)`` per column pair —
        ``func`` must compose ENGINE Series operations (its result
        stays one projection over the join; arbitrary elementwise
        Python belongs in applymap).  ``fill_value`` patches each
        side's nulls before combining."""
        from . import base
        from .core import DataFrame
        joined_labels, lpos, rpos = self._join_cols(self._columns,
                                                    other._columns)
        joined, lcol, rcol, idx, names = self._join_idx(other)
        k = len(joined_labels)

        def patched(e):
            return (e if fill_value is None
                    else F.coalesce(e, F.lit(fill_value)))

        # project the join into ONE canonical frame (left columns then
        # right columns) so func's inputs share a lineage root with
        # the standard layout — func then composes expressions over it
        pair_sdf = base.BaseFrame(names, None, joined)._project(
            idx, [patched(lcol(i)) for i in lpos]
            + [patched(rcol(j)) for j in rpos])
        pair_labels = ([f"__l{m}" for m in range(k)]
                       + [f"__r{m}" for m in range(k)])
        jdf = DataFrame(names, pd.Index(pair_labels), pair_sdf)
        cols = []
        for m in range(k):
            res = func(jdf[f"__l{m}"], jdf[f"__r{m}"])
            if (not hasattr(res, "_lineage_root")
                    or res._lineage_root is not jdf._sdf):
                raise ValueError(
                    "combine func must return an expression over its "
                    "two inputs (engine Series ops); got a foreign "
                    "plan")
            cols.append(res._lineage_expr)
        n = len(idx)
        sdf = pair_sdf.select(
            *[F.col(I.idx_name(i)) for i in range(n)],
            *[e.alias(I.col_name(m)) for m, e in enumerate(cols)])
        return DataFrame(names, joined_labels,
                         sdf)._join_state(self, other)

    def mode(self, max_modes=10_000):
        """Per-column mode(s), pandas-shaped (columns padded with NaN
        to the longest mode list) — a materializer composed of each
        column's Series.mode (each bounded by ``max_modes``)."""
        outs = {str(lab): self[lab].mode(max_modes=max_modes)
                for lab in self._columns}
        width = max((len(v) for v in outs.values()), default=0)
        data = {lab: list(v) + [float("nan")] * (width - len(v))
                for lab, v in outs.items()}
        return pd.DataFrame(data)

    # -- mechanical pandas-parity batch (aliases + thin wrappers) ------

    def xs(self, key, level=0):
        """Cross-section: rows where MultiIndex ``level`` equals
        ``key``, with that level dropped — one filter + projection."""
        from .core import DataFrame
        p = self._level_of(level)
        keep = [k for k in range(self._n_idx()) if k != p]
        if not keep:
            raise NotImplementedError(
                "xs on the only index level: use loc")
        body = self._sdf.filter(self._idx_at(p) == F.lit(key)).select(
            *[self._idx_at(k).alias(I.idx_name(m))
              for m, k in enumerate(keep)],
            *[self._col_at(i).alias(I.col_name(i))
              for i in range(self._n_cols())])
        return DataFrame(pd.Index([self._index[k] for k in keep]),
                         self._columns, body)._carry(self)

    def map(self, func, na_action=None):
        """pandas 2.1 name for elementwise ``applymap``."""
        return self.applymap(func, na_action=na_action)

    def keys(self):
        return self.columns

    def get(self, key, default=None):
        """Column by label, or ``default`` when absent (metadata
        check, no job)."""
        if key in self._columns:
            return self[key]
        return default

    def mask(self, cond, other=None):
        """Inverse of :meth:`where`: replace where ``cond`` IS true."""
        return self.where(~cond, other)

    def set_axis(self, labels, axis=1):
        """Relabel columns (axis=1) or index levels (axis=0) —
        metadata only."""
        new = self._shallow_copy()
        if axis in (1, "columns"):
            if len(labels) != self._n_cols():
                raise ValueError(
                    f"Length mismatch: expected {self._n_cols()} "
                    f"labels, got {len(labels)}")
            new._columns = pd.Index(labels)
        elif axis in (0, "index"):
            raise NotImplementedError(
                "set_axis(axis=0) would relabel every row; use "
                "set_index/reset_index or reindex")
        else:
            raise ValueError(f"No axis named {axis}")
        return new

    def reindex_like(self, other):
        """Conform to ``other``'s index — the reindex LEFT join with
        the other frame's (distinct) index as the label side; no
        driver collect."""
        from .core import DataFrame
        if self._n_idx() != 1 or other._n_idx() != 1:
            raise NotImplementedError(
                "reindex_like needs single-level indexes")
        labels = other._sdf.select(
            other._idx_at(0).alias(I.idx_name(0))).distinct()
        joined = labels.join(self._sdf, on=I.idx_name(0), how="left")
        return DataFrame(self._index, self._columns,
                         joined)._carry(reordered=True)

    def filter(self, items=None, like=None, regex=None, axis=1):
        """pandas ``df.filter``: select columns by label (axis=1 —
        pure metadata, no job) or rows by index label (axis=0 — an
        in-plan, pushdown-eligible predicate)."""
        given = sum(x is not None for x in (items, like, regex))
        if given != 1:
            raise TypeError(
                "filter needs exactly one of items, like, regex")
        if axis in (1, "columns"):
            if items is not None:
                keep = [c for c in self._columns if c in set(items)]
            elif like is not None:
                keep = [c for c in self._columns if like in str(c)]
            else:
                import re
                pat = re.compile(regex)
                keep = [c for c in self._columns
                        if pat.search(str(c))]
            return self[keep]
        if axis in (0, "index"):
            idx = self._idx_at(0)
            if items is not None:
                cond = idx.isin(list(items))
            elif like is not None:
                cond = idx.cast("string").contains(like)
            else:
                cond = idx.cast("string").rlike(regex)
            new = self._shallow_copy()
            new._sdf = self._sdf.filter(cond)
            return new
        raise ValueError(f"No axis named {axis}")

    def infer_objects(self):
        return self

    def info(self):
        """Schema summary without collecting data (one count job)."""
        n = len(self)
        lines = [f"{type(self).__name__}: {n} rows x "
                 f"{self._n_cols()} columns"]
        for lab, t in zip(self._columns, self._dtypes()):
            lines.append(f"  {lab}: {t.simpleString()}")
        print("\n".join(lines))


def cut(ser, bins, labels=None, right=True):
    """pandas.cut with explicit edges: a CASE ladder per row (codegen,
    no shuffle).  ``labels`` defaults to pandas' interval strings —
    generated by pandas ITSELF on an empty series, so the precision-3
    edge formatting matches exactly (pandas prints ``1.9375`` as
    ``1.938`` in labels even for explicit bins; hypothesis-found).
    Bucketing always compares against the EXACT edges; only the label
    text goes through pandas' display rounding.
    Out-of-range values -> NULL, matching pandas NaN."""
    if labels is None:
        cats = pd.cut(pd.Series([], dtype="float64"), bins,
                      right=right).cat.categories
        labels = [str(c) for c in cats]

    def fn(c):
        out = F.lit(None).cast("string")
        for i in range(len(bins) - 1):
            lo, hi = F.lit(bins[i]), F.lit(bins[i + 1])
            cond = ((c > lo) & (c <= hi)) if right else ((c >= lo) & (c < hi))
            out = F.when(cond, F.lit(str(labels[i]))).otherwise(out)
        return out
    return ser._app(fn)


def qcut(ser, q, labels=False, duplicates="raise"):
    """Quantile binning (pandas.qcut): exact interpolated quantile
    edges in ONE aggregate pass, then the same CASE ladder as
    :func:`cut`.  ``labels=False`` (default) yields integer bin codes
    0..q-1; pass explicit labels otherwise.  First bin is closed on
    the left (pandas semantics).  ``duplicates='drop'`` collapses
    repeated edges on skewed data (pandas contract: fewer bins)
    instead of raising."""
    qs = ([i / q for i in range(q + 1)] if isinstance(q, int)
          else list(q))
    row = ser._sdf.select(
        F.percentile(ser._the_col,
                     F.array(*[F.lit(float(x)) for x in qs])).alias("e")
    ).take(1)
    edges = list(row[0]["e"])
    if len(set(edges)) != len(edges):
        if duplicates == "drop":
            seen, dedup = set(), []
            for e in edges:
                if e not in seen:
                    seen.add(e)
                    dedup.append(e)
            edges = dedup
            if labels is not False and labels is not None:
                labels = list(labels)[:max(len(edges) - 1, 0)]
        elif duplicates == "raise":
            raise ValueError(
                "Bin edges must be unique; set duplicates='drop' for "
                "skewed data")
        else:
            raise ValueError(
                f"invalid duplicates value {duplicates!r}")
    if labels is False:
        labels = list(range(len(edges) - 1))
    elif labels is None:
        # pandas' own interval strings for the computed edges (same
        # display-rounding trick as cut)
        cats = pd.cut(pd.Series([], dtype="float64"), edges,
                      right=True, include_lowest=True).cat.categories
        labels = [str(c) for c in cats]

    def fn(c):
        out = F.lit(None)
        for i in range(len(edges) - 1):
            lo, hi = F.lit(edges[i]), F.lit(edges[i + 1])
            cond = (c >= lo) & (c <= hi) if i == 0 else (c > lo) & (c <= hi)
            out = F.when(cond, F.lit(labels[i])).otherwise(out)
        return out
    return ser._app(fn)


def crosstab(index, columns, values=None, aggfunc="count",
             index_values=None, columns_values=None):
    """pandas.crosstab over two Series from the SAME frame: one
    groupBy().pivot() pass (count by default, or an aggregate of
    ``values``).  Pass ``columns_values`` (the pivot domain) at scale
    to skip the distinct-values planning job; ``index_values``
    restricts the ROW domain with a pushdown-eligible IN filter."""
    from .core import DataFrame
    root = index._lineage_root
    if root is None or root is not (columns._lineage_root or object()):
        raise ValueError(
            "crosstab requires two Series from the same frame")
    fn = (F.count if values is None else _resolve_agg(aggfunc))
    val = (F.lit(1) if values is None else values._lineage_expr)
    body = root.select(index._lineage_expr.alias("__xi"),
                       columns._lineage_expr.alias("__xc"),
                       val.alias("__xv"))
    if index_values is not None:
        body = body.filter(F.col("__xi").isin(list(index_values)))
    g = body.groupBy("__xi")
    piv = (g.pivot("__xc", columns_values) if columns_values is not None
           else g.pivot("__xc"))
    agged = piv.agg(fn("__xv"))
    out_labels = [c for c in agged.columns if c != "__xi"]
    sel = [F.col("__xi").alias(I.idx_name(0))]
    sel += [F.coalesce(F.col(f"`{c}`"),
                       F.lit(0) if values is None else F.lit(None))
            .alias(I.col_name(j)) for j, c in enumerate(out_labels)]
    return DataFrame(pd.Index([index.name]), pd.Index(out_labels),
                     agged.select(*sel))


def get_dummies(ser, prefix=None, categories=None, max_categories=64):
    """One-hot encode a Series into a 0/1 DataFrame (pandas
    ``get_dummies``).  Pass ``categories`` (the value domain) to skip
    the distinct-collect job — at 100 TB always pass it; each dummy is
    then a codegen'd CASE column, zero extra jobs.

    Without ``categories`` the distinct domain is collected to the
    driver, but BOUNDED: the collect is limited to ``max_categories+1``
    rows and a domain larger than ``max_categories`` raises instead of
    silently pulling an unbounded value set (and emitting an absurdly
    wide frame).  Raise the cap explicitly if you really want more."""
    from .core import DataFrame
    if categories is None:
        rows = (ser._sdf.select(ser._the_col.alias("v")).distinct()
                .limit(max_categories + 1).collect())
        if len(rows) > max_categories:
            raise ValueError(
                f"get_dummies: column has more than {max_categories} "
                "distinct values; pass categories=[...] (the explicit "
                "domain) or raise max_categories")
        categories = sorted(r[0] for r in rows if r[0] is not None)
    base = prefix if prefix is not None else (ser.name or "")
    labels = [f"{base}_{v}" if base else str(v) for v in categories]
    idx = [ser._idx_at(i) for i in range(ser._n_idx())]
    data = [(ser._the_col == F.lit(v)).cast("int") for v in categories]
    return DataFrame(ser._index, pd.Index(labels),
                     ser._project(idx, data))._carry(ser)


class ReshapeMixin:
    """pivot_table / melt / describe — Spark-native reshapes
    (beyond-reference; SURVEY.md §8.2)."""

    def pivot_table(self, values, index, columns, aggfunc="sum",
                    columns_values=None):
        """Spark ``groupBy(index).pivot(columns).agg``: one shuffle on
        the index keys; each pivoted value becomes a map-side CASE
        aggregate.  Pass ``columns_values`` (the distinct pivot domain)
        to skip the distinct-values job Spark otherwise runs at plan
        time — at 100 TB always pass it."""
        from .core import DataFrame
        fn = _resolve_agg(aggfunc)
        body = self._sdf.select(
            self._col_at(self._columns.get_loc(index)).alias("__pi"),
            self._col_at(self._columns.get_loc(columns)).alias("__pc"),
            self._col_at(self._columns.get_loc(values)).alias("__pv"))
        g = body.groupBy("__pi")
        piv = (g.pivot("__pc", columns_values) if columns_values is not None
               else g.pivot("__pc"))
        # pandas: a PRESENT (index, column) cell whose values are all
        # NaN sums to 0.0 / counts 0; an ABSENT combination is NaN.
        # Spark's pivot emits NULL for both, so carry a presence count
        # to tell them apart.
        zero_fill = aggfunc in ("sum", "count")
        if zero_fill:
            agged = piv.agg(fn("__pv").alias("s"),
                            F.count(F.lit(1)).alias("n"))
            out_labels = sorted({c[:-2] for c in agged.columns
                                 if c.endswith("_s")})
            cells = [F.when(F.col(f"`{c}_n`").isNotNull(),
                            F.coalesce(F.col(f"`{c}_s`"), F.lit(0.0)))
                     for c in out_labels]
        else:
            agged = piv.agg(fn("__pv"))
            out_labels = [c for c in agged.columns if c != "__pi"]
            cells = [F.col(f"`{c}`") for c in out_labels]
        sel = [F.col("__pi").alias(I.idx_name(0))]
        sel += [e.alias(I.col_name(j)) for j, e in enumerate(cells)]
        out_sdf = agged.select(*sel)
        # pandas dropna=True: rows whose cells are ALL NaN are dropped
        keep = None
        for j in range(len(out_labels)):
            c = F.col(I.col_name(j)).isNotNull()
            keep = c if keep is None else (keep | c)
        if keep is not None:
            out_sdf = out_sdf.filter(keep)
        return DataFrame(pd.Index([index]), pd.Index(out_labels),
                         out_sdf)

    def unstack(self, level=-1, agg: str = "first",
                level_values=None):
        """Pivot an index level into columns (pandas unstack) —
        groupBy(remaining levels) + pivot(level).  With several data
        columns the result gets pandas' MultiIndex-style tuple labels
        ``(data_label, level_value)``, one pivot pass aggregating all
        data columns together.  Pass ``level_values`` at scale to skip
        the distinct-values planning job."""
        from .core import DataFrame
        p = self._level_of(level)
        keep = [k for k in range(len(self._index)) if k != p]
        if not keep:
            raise NotImplementedError("unstack needs a remaining level")
        fn = _resolve_agg(agg)
        n_data = self._n_cols()
        body = self._sdf.select(
            *[self._idx_at(k).alias(f"__k{m}") for m, k in enumerate(keep)],
            self._idx_at(p).alias("__pc"),
            *[self._col_at(j).alias(f"__pv{j}") for j in range(n_data)])
        g = body.groupBy(*[f"__k{m}" for m in range(len(keep))])
        piv = (g.pivot("__pc", level_values) if level_values is not None
               else g.pivot("__pc"))
        if n_data == 1:
            agged = piv.agg(fn("__pv0"))
            pivot_vals = [c for c in agged.columns
                          if not c.startswith("__k")]
            out_labels = list(pivot_vals)
            out_cols = [F.col(f"`{c}`") for c in pivot_vals]
        else:
            # multi-agg pivot names columns "<pivot_value>_<agg_alias>"
            marker = "xqzagg"  # collision-safe suffix marker
            agged = piv.agg(*[fn(f"__pv{j}").alias(f"{marker}{j}")
                              for j in range(n_data)])
            pivot_vals = sorted({c[: c.rfind(f"_{marker}")]
                                 for c in agged.columns
                                 if not c.startswith("__k")})
            out_labels, out_cols = [], []
            # pandas column order: data label major, level value minor
            for j in range(n_data):
                for v in pivot_vals:
                    out_labels.append((self._columns[j], v))
                    out_cols.append(F.col(f"`{v}_{marker}{j}`"))
        sel = [F.col(f"__k{m}").alias(I.idx_name(m))
               for m in range(len(keep))]
        sel += [e.alias(I.col_name(j)) for j, e in enumerate(out_cols)]
        return DataFrame(pd.Index([self._index[k] for k in keep]),
                         pd.Index(out_labels), agged.select(*sel))

    def stack(self):
        """pandas stack for single-level columns: each row becomes one
        row per column, labels pushed into a new innermost index level
        -> a Series with a (index..., label) MultiIndex.  One `stack`
        generator in-stage — no shuffle, no join.  Values cast to
        double (pandas would object-box mixed types; numeric columns
        are the meaningful case)."""
        from .core import Series
        n = self._n_cols()
        parts = []
        for i, lab in enumerate(self._columns):
            lab_sql = str(lab).replace("'", "''")
            parts.append(f"'{lab_sql}', cast(`{I.col_name(i)}` as double)")
        gen = F.expr(f"stack({n}, {', '.join(parts)})").alias(
            "__sk", "__sv")
        body = self._sdf.select(
            *[self._idx_at(i) for i in range(self._n_idx())], gen)
        sel = [F.col(I.idx_name(i)) for i in range(self._n_idx())]
        sel.append(F.col("__sk").alias(I.idx_name(self._n_idx())))
        sel.append(F.col("__sv").alias(I.col_name(0)))
        names = list(self._index) + [None]
        out = Series(pd.Index(names), None,
                     body.select(*sel), None)
        return out

    def melt(self, id_vars, value_vars, var_name="variable",
             value_name="value"):
        """Unpivot via Spark's native ``unpivot`` (a generator, not a
        UNION ALL of N scans)."""
        from .core import DataFrame
        if not isinstance(id_vars, list):
            id_vars = [id_vars]
        if not isinstance(value_vars, list):
            value_vars = [value_vars]
        named = self._sdf.select(
            *[self._col_at(self._columns.get_loc(c)).alias(c)
              for c in id_vars + value_vars])
        un = named.unpivot(id_vars, value_vars, var_name, value_name)
        labels = id_vars + [var_name, value_name]
        sel = [F.monotonically_increasing_id().alias(I.idx_name(0))]
        sel += [F.col(c).alias(I.col_name(j)) for j, c in enumerate(labels)]
        from .core import DataFrame as DF
        return DF(pd.Index((None,)), pd.Index(labels),
                  un.select(*sel))._fresh_mid()

    def describe(self, percentiles=(0.25, 0.5, 0.75)):
        """pandas describe() for numeric columns: ONE Spark aggregate
        (count/mean/std/min/exact percentiles/max for every column in
        a single pass), returned as a small pandas frame — this is a
        materializer, like pandas."""
        num_pos = [i for i, t in enumerate(self._dtypes())
                   if t.simpleString() in ("bigint", "int", "smallint",
                                           "tinyint", "double", "float")]
        aggs, names = [], []
        for i in num_pos:
            c = self._col_at(i)
            lab = str(self._columns[i])
            aggs += [F.count(c).alias(f"{lab}__count"),
                     F.mean(c).alias(f"{lab}__mean"),
                     F.stddev_samp(c).alias(f"{lab}__std"),
                     F.min(c).alias(f"{lab}__min"),
                     F.max(c).alias(f"{lab}__max")]
            for p in percentiles:
                aggs.append(F.percentile(c, F.lit(p)).alias(f"{lab}__p{p}"))
            names.append(lab)
        row = self._sdf.agg(*aggs).collect()[0].asDict()
        stats = (["count", "mean", "std", "min"]
                 + [f"{int(p * 100)}%" for p in percentiles] + ["max"])
        data = {}
        for lab in names:
            vals = [row[f"{lab}__count"], row[f"{lab}__mean"],
                    row[f"{lab}__std"], row[f"{lab}__min"]]
            vals += [row[f"{lab}__p{p}"] for p in percentiles]
            vals += [row[f"{lab}__max"]]
            data[lab] = vals
        return pd.DataFrame(data, index=stats)


class SeriesAggMixin:
    """Series reductions (materializing) + value_counts/unique."""

    def astype(self, dtype):
        if str(dtype) == "category" or isinstance(dtype, pd.CategoricalDtype):
            return self._as_categorical(dtype)
        mapping = {"int64": "long", "int32": "int", "float64": "double",
                   "float32": "float", "str": "string", "string": "string",
                   "bool": "boolean"}
        return self._cast(mapping.get(str(dtype), str(dtype)))

    def _as_categorical(self, dtype, max_categories=65536):
        """``astype("category")`` — tag the Series with its category
        domain (accessors.CategoricalMethods holds the semantics).

        Bare ``"category"`` infers the domain with ONE bounded distinct
        aggregate (sorted ascending, like pandas; cap policy of
        ``unique``).  A ``pd.CategoricalDtype`` with explicit
        categories costs ZERO jobs and nulls out out-of-domain values
        (pandas: they become NaN) — at 100 TB always pass the domain."""
        from .accessors import tag_categorical
        if isinstance(dtype, pd.CategoricalDtype) \
                and dtype.categories is not None:
            cats = list(dtype.categories)
            out = self._app(lambda c: F.when(c.isin(cats), c))
            return tag_categorical(out, cats, bool(dtype.ordered))
        cats = sorted(v for v in self.unique(max_values=max_categories)
                      if v is not None)
        return tag_categorical(self._shallow_copy(), cats, False)

    def agg(self, funcs):
        """``s.agg("sum")`` -> scalar; ``s.agg(["sum","mean"])`` ->
        pandas Series — the list form fuses every aggregate into ONE
        Spark pass."""
        if not isinstance(funcs, list):
            return getattr(self, funcs)()
        exprs = [_resolve_agg(f)(self._the_col).alias(f"__a{i}")
                 for i, f in enumerate(funcs)]
        row = self._sdf.agg(*exprs).collect()[0]
        return pd.Series({f: row[f"__a{i}"] for i, f in enumerate(funcs)})

    def _reduce(self, fn):
        row = self._sdf.select(fn(self._the_col).alias("v")).take(1)
        return row[0]["v"]

    def sum(self):
        return self._reduce(F.sum)

    def mean(self):
        return self._reduce(F.mean)

    def min(self):
        return self._reduce(F.min)

    def max(self):
        return self._reduce(F.max)

    def std(self):
        return self._reduce(F.stddev_samp)

    def var(self):
        return self._reduce(F.var_samp)

    def count(self):
        return self._reduce(F.count)

    def prod(self):
        return self._reduce(F.product)

    product = prod

    def any(self):
        """True if any value is truthy (pandas skipna: NULL counts as
        False) — one aggregate, map-side partial."""
        v = self._reduce(lambda c: F.max(c.cast("boolean")))
        return bool(v) if v is not None else False

    def all(self):
        """True if every value is truthy (NULL skipped, like pandas)."""
        v = self._reduce(lambda c: F.min(c.cast("boolean")))
        return bool(v) if v is not None else True

    def sem(self):
        """Standard error of the mean — std and count fused into one
        aggregate pass."""
        row = self._sdf.agg(
            F.stddev_samp(self._the_col).alias("s"),
            F.count(self._the_col).alias("n")).collect()[0]
        if not row["n"] or row["s"] is None:
            return float("nan")
        return row["s"] / row["n"] ** 0.5

    def skew(self):
        """pandas bias-corrected sample skewness: Spark's population
        g1 rescaled by sqrt(n(n-1))/(n-2) — one fused aggregate."""
        row = self._sdf.agg(
            F.skewness(self._the_col).alias("g1"),
            F.count(self._the_col).alias("n")).collect()[0]
        n, g1 = row["n"], row["g1"]
        if n < 3 or g1 is None:
            return float("nan")
        return g1 * (n * (n - 1)) ** 0.5 / (n - 2)

    def kurt(self):
        """pandas bias-corrected excess kurtosis from Spark's
        population excess g2: ((n+1)g2 + 6)(n-1)/((n-2)(n-3))."""
        row = self._sdf.agg(
            F.kurtosis(self._the_col).alias("g2"),
            F.count(self._the_col).alias("n")).collect()[0]
        n, g2 = row["n"], row["g2"]
        if n < 4 or g2 is None:
            return float("nan")
        return ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))

    kurtosis = kurt

    def mode(self, max_modes=10_000):
        """Most frequent value(s) -> pandas Series (a materializer,
        like pandas).  One hash-aggregate for the counts, then the max
        count as a SCALAR aggregate broadcast back as a join filter —
        no unpartitioned window, which would funnel every distinct
        value through a single task on high-cardinality columns.  The
        counts frame is persisted for the two passes and released.

        BOUNDED like ``unique``/``get_dummies``: an all-distinct
        column makes EVERY value a mode, so the collect is capped at
        ``max_modes`` tied values and raises beyond that instead of
        OOMing the driver — raise the cap explicitly if a wider tie
        set is really wanted."""
        cnt = (self._sdf.filter(self._the_col.isNotNull())
               .groupBy(self._the_col.alias("v"))
               .agg(F.count(F.lit(1)).alias("n"))).persist()
        try:
            mx = cnt.agg(F.max("n").alias("mx"))
            rows = (cnt.join(F.broadcast(mx), F.col("n") == F.col("mx"))
                    .orderBy("v").select("v")
                    .limit(int(max_modes) + 1).collect())
        finally:
            cnt.unpersist()
        if len(rows) > max_modes:
            raise ValueError(
                f"mode(): more than {max_modes} values tie for the "
                "max count (near-distinct column?); pass a larger "
                "max_modes to materialize a wider tie set")
        return pd.Series([r["v"] for r in rows], name=self.name)

    def quantile(self, q=0.5, approx=False, accuracy=10000):
        """Quantile of the series.  Default: exact linear-interpolated
        (pandas contract) via Spark's ``percentile`` aggregate — one
        JVM pass, but its state grows with the value multiset.
        ``approx=True``: ``percentile_approx`` (Greenwald-Khanna
        sketch, rank error ≤ 1/``accuracy``) — constant-size state,
        the 100 TB path (same trade as ``nunique(approx=True)``)."""
        q = float(q)
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"q must be in [0, 1], got {q}")
        if approx:
            return self._reduce(
                lambda c: F.percentile_approx(c, F.lit(q),
                                              F.lit(int(accuracy))))
        return self._reduce(lambda c: F.percentile(c, F.lit(q)))

    def median(self):
        return self.quantile(0.5)

    def idxmax(self):
        """Index label at the max value — ``max_by`` aggregate (single
        pass, map-side partial; no sort)."""
        return self._reduce_pair(F.max_by)

    def idxmin(self):
        return self._reduce_pair(F.min_by)

    def _reduce_pair(self, fn):
        row = self._sdf.select(
            fn(self._idx_at(0), self._the_col).alias("v")).take(1)
        return row[0]["v"]

    def _corr_like(self, other, fn):
        """Align the two Series on their index (full-outer join, same
        machinery as binary ops) then run one bivariate aggregate."""
        joined, lcol, rcol, _idx, _names = self._join_idx(other)
        row = joined.select(fn(lcol(0), rcol(0)).alias("v")).take(1)
        return row[0]["v"]

    def corr(self, other):
        return self._corr_like(other, F.corr)

    def cov(self, other):
        return self._corr_like(other, F.covar_samp)

    def nunique(self, approx=False, rsd=0.05):
        """Distinct count.  ``approx=True`` switches to HyperLogLog++
        (``approx_count_distinct``, relative error ``rsd``) — the
        100 TB path: exact countDistinct is a two-phase expand
        aggregate whose intermediate grows with the domain, HLL state
        is a few KB regardless of cardinality."""
        if approx:
            return self._reduce(
                lambda c: F.approx_count_distinct(c, rsd=rsd))
        return self._reduce(F.countDistinct)

    def unique(self, max_values=1_000_000):
        """Distinct values as a Python list (a materializer, like
        pandas).  BOUNDED: collects at most ``max_values``+1 distinct
        rows and raises beyond that instead of silently pulling an
        unbounded domain to the driver (same policy as get_dummies) —
        raise the cap explicitly when a wider domain is really wanted."""
        rows = (self._sdf.select(self._the_col.alias("v")).distinct()
                .limit(max_values + 1).collect())
        if len(rows) > max_values:
            raise ValueError(
                f"unique(): column has more than {max_values} distinct "
                "values; pass a larger max_values to materialize a "
                "wider domain (or stay distributed with "
                "drop_duplicates)")
        return [r[0] for r in rows]

    def nlargest(self, n=5):
        new = self.sort_values(ascending=False)
        return new.head(n)

    def nsmallest(self, n=5):
        new = self.sort_values(ascending=True)
        return new.head(n)

    def sort_values(self, ascending=True):
        new = self._shallow_copy()
        c = new._the_col
        new._sdf = new._sdf.orderBy(c.asc() if ascending else c.desc())
        new._impose_order()
        return new

    def describe(self, percentiles=(0.25, 0.5, 0.75)):
        """pandas Series.describe() — the frame describe's single
        aggregate pass on a one-column frame, returned as a pandas
        Series."""
        return self.to_frame().describe(percentiles).iloc[:, 0]

    def value_counts(self, normalize=False, ascending=False, dropna=True):
        from .core import Series
        body = self._sdf
        if dropna:
            body = body.filter(self._the_col.isNotNull())
        agged = (body.groupBy(self._the_col.alias(I.idx_name(0)))
                 .agg(F.count(F.lit(1)).alias("__n")))
        if normalize:
            # Scalar total re-aggregated and broadcast back as a 1-row
            # cross join.  An unpartitioned window over the counts
            # frame would funnel every distinct value through ONE task
            # (the hazard mode() had) — the broadcast form instead pays
            # one extra single-column scan when exchange reuse doesn't
            # canonicalize (measured: the metadata-rowid projection
            # blocks it), which parallelizes at any cardinality.  A
            # rollup+grouping_id single-pass form was tried and
            # rejected: its Expand doubles map-side rows and STILL
            # re-scans per branch.
            total = agged.agg(F.sum("__n").alias("__tot"))
            agged = agged.crossJoin(F.broadcast(total))
            val = (F.col("__n") / F.col("__tot")).alias(I.col_name(0))
            label = "proportion"
        else:
            val = F.col("__n").alias(I.col_name(0))
            label = "count"
        order = (F.col(I.col_name(0)).asc() if ascending
                 else F.col(I.col_name(0)).desc())
        sdf = agged.select(I.idx_name(0), val).orderBy(order)
        return Series(pd.Index([self.name]), pd.Index([label]), sdf,
                      label)._impose_order()


class SeriesRelationalMixin:
    """Series row-level verbs that mirror the DataFrame machinery
    (round-5 surface completion: apply/dropna/sample/sort_index/
    duplicated/drop_duplicates/align)."""

    def apply(self, func, convert_dtype=True, args=(), **kwargs):
        """pandas ``Series.apply`` — elementwise, an alias of ``map``
        (the vectorized Arrow path); args/kwargs forward to
        ``func``."""
        if args or kwargs:
            return self.map(lambda v: func(v, *args, **kwargs))
        return self.map(func)

    def dropna(self):
        """Drop null rows — a pure filter (pushdown-eligible)."""
        new = self._shallow_copy()
        new._sdf = self._sdf.filter(self._the_col.isNotNull())
        return new

    def sort_index(self, ascending: bool = True):
        order = [self._idx_at(i).asc() if ascending
                 else self._idx_at(i).desc()
                 for i in range(self._n_idx())]
        new = self._shallow_copy()
        new._sdf = self._sdf.orderBy(*order)
        new._impose_order()
        return new

    def sample(self, frac, seed=None):
        """Bernoulli row sample (Spark's split-deterministic sampler;
        use the frame-level keyed sample for cross-engine
        determinism)."""
        new = self._shallow_copy()
        new._sdf = self._sdf.sample(fraction=frac, seed=seed)
        return new

    def duplicated(self, keep="first"):
        """Boolean mask of repeated VALUES (pandas semantics: the kept
        occurrence is decided in index order) — one shuffle on the
        value, same machinery as the frame flavor."""
        from pyspark.sql import Window

        from .core import Series
        c = self._the_col
        if keep == "first":
            w = Window.partitionBy(c).orderBy(
                *[self._idx_at(i).asc() for i in range(self._n_idx())])
            expr = F.row_number().over(w) > 1
        elif keep == "last":
            w = Window.partitionBy(c).orderBy(
                *[self._idx_at(i).desc() for i in range(self._n_idx())])
            expr = F.row_number().over(w) > 1
        elif keep is False:
            expr = F.count(F.lit(1)).over(Window.partitionBy(c)) > 1
        else:
            raise ValueError(
                'keep must be either "first", "last" or False')
        sel = [self._idx_at(i).alias(I.idx_name(i))
               for i in range(self._n_idx())]
        sel.append(expr.alias(I.col_name(0)))
        return Series(self._index, None, self._sdf.select(*sel),
                      self.name)._carry(self, reordered=True)

    def drop_duplicates(self, keep="first"):
        """Keep one occurrence per distinct value (first/last in index
        order, or drop all repeats with ``keep=False``)."""
        from pyspark.sql import Window
        c = self._the_col
        if keep in ("first", "last"):
            asc = keep == "first"
            w = Window.partitionBy(c).orderBy(
                *[self._idx_at(i).asc() if asc else self._idx_at(i).desc()
                  for i in range(self._n_idx())])
            cond = F.row_number().over(w) == 1
        elif keep is False:
            cond = F.count(F.lit(1)).over(Window.partitionBy(c)) == 1
        else:
            raise ValueError(
                'keep must be either "first", "last" or False')
        new = self._shallow_copy()
        new._sdf = (self._sdf.withColumn("__keep", cond)
                    .filter(F.col("__keep")).drop("__keep"))
        new._carry(reordered=True)
        return new

    def align(self, other, join="outer"):
        """pandas ``Series.align`` (join='outer'): the pair reindexed
        onto the union index — ONE full-outer index join feeding BOTH
        results, exactly the alignment machinery binary ops use."""
        if join != "outer":
            raise NotImplementedError("align supports join='outer'")
        from .core import Series
        joined, lcol, rcol, idx_exprs, names = self._join_idx(other)
        sel_idx = [e.alias(I.idx_name(i))
                   for i, e in enumerate(idx_exprs)]

        def side(col_fn, name):
            body = joined.select(*sel_idx,
                                 col_fn(0).alias(I.col_name(0)))
            return Series(names, None, body, name)._join_state(self, other)

        return side(lcol, self.name), side(rcol, other.name)

    def rename(self, name):
        """Set the series name (metadata only).  Index re-labeling via
        a dict maps labels through a CASE expression (small dicts;
        codegen)."""
        from .core import Series
        if callable(name):
            raise NotImplementedError(
                "rename with a callable is not supported; rename the "
                "index with a dict or set a scalar name")
        if isinstance(name, dict):
            idx = self._idx_at(0)
            expr = None
            for old, newv in name.items():
                cond = idx == F.lit(old)
                expr = (F.when(cond, F.lit(newv)) if expr is None
                        else expr.when(cond, F.lit(newv)))
            expr = expr.otherwise(idx) if expr is not None else idx
            body = self._sdf.select(
                expr.alias(I.idx_name(0)),
                self._the_col.alias(I.col_name(0)))
            return Series(self._index, None, body, self.name)._carry(self)
        new = self._shallow_copy()
        new.name = name
        return new

    def reset_index(self, drop: bool = False):
        """Demote the index: ``drop=False`` -> a 2-column DataFrame
        (index + values, pandas naming); ``drop=True`` -> the same
        series on a fresh positional index."""
        frame = self.to_frame(self.name if self.name is not None
                              else 0).reset_index()
        if drop:
            val_lab = frame._columns[-1]
            out = frame[val_lab]
            out.name = self.name
            return out
        return frame

    def item(self):
        """The single value of a length-1 series (pandas contract:
        anything else raises)."""
        rows = self._sdf.limit(2).collect()
        if len(rows) != 1:
            raise ValueError(
                "can only convert an array of size 1 to a Python "
                "scalar")
        return rows[0][I.col_name(0)]

    def squeeze(self):
        """Length-1 -> scalar, otherwise self (pandas contract)."""
        rows = self._sdf.limit(2).collect()
        if len(rows) == 1:
            return rows[0][I.col_name(0)]
        return self

    def equals(self, other):
        """Exact value+index equality (null == null) — one full-outer
        join mismatch probe, LIMIT 1."""
        joined, lcol, rcol, idx, names = self._join_idx(other)
        lk = joined[f"l_{I.idx_name(0)}"]
        rk = joined[f"r_{I.idx_name(0)}"]
        mism = (lk.isNull() | rk.isNull()
                | ~lcol(0).eqNullSafe(rcol(0)))
        return joined.where(mism).limit(1).count() == 0

    def update(self, other):
        """pandas ``Series.update`` (in place): other's non-null
        values overwrite self's at shared labels — LEFT-preserved
        full-outer join + coalesce(r, l)."""
        if self._is_mindex or other._is_mindex:
            raise NotImplementedError(
                "update needs single-level indexes on both sides")
        l = self._rename_all(self._sdf, "l_")
        r = self._rename_all(other._sdf, "r_")
        lk, rk = f"l_{I.idx_name(0)}", f"r_{I.idx_name(0)}"
        joined = l.join(r, l[lk].eqNullSafe(r[rk]) & l[lk].isNotNull(),
                        "left")
        body = joined.select(
            joined[lk].alias(I.idx_name(0)),
            F.coalesce(joined[f"r_{I.col_name(0)}"],
                       joined[f"l_{I.col_name(0)}"])
            .alias(I.col_name(0)))
        self._sdf = body
        self._streamed()
        return None

    def repeat(self, repeats: int):
        """Each element repeated ``repeats`` times (index labels
        repeat with their values) — ``explode(array_repeat(...))``,
        a pure generator projection, no shuffle."""
        from .core import Series
        if not isinstance(repeats, int) or repeats < 0:
            raise ValueError(
                f"repeats must be a non-negative int, got {repeats!r}")
        body = self._sdf.select(
            F.col(I.idx_name(0)),
            F.explode(F.array_repeat(self._the_col,
                                     repeats)).alias(I.col_name(0)))
        return Series(self._index, None, body,
                      self.name)._carry(reordered=True)

    def searchsorted(self, value, side: str = "left"):
        """Insertion point(s) that keep a SORTED series sorted:
        ``side='left'`` counts values strictly below, ``'right'``
        counts <= — one fused aggregate for any number of probe
        values, no sort, no collect of data rows."""
        if side not in ("left", "right"):
            raise ValueError(f"side must be 'left' or 'right', "
                             f"got {side!r}")
        vals = value if isinstance(value, (list, tuple)) else [value]
        c = self._the_col
        aggs = [F.count(F.when(c < F.lit(v) if side == "left"
                               else c <= F.lit(v), 1)).alias(f"__s{j}")
                for j, v in enumerate(vals)]
        row = self._sdf.agg(*aggs).collect()[0]
        out = [row[f"__s{j}"] for j in range(len(vals))]
        return out[0] if not isinstance(value, (list, tuple)) else out

    def factorize(self, max_rows=10_000_000):
        """pandas ``factorize`` — returns (codes ndarray, uniques
        Index), which is a DRIVER-SIDE materializer by contract (the
        codes array is row-length).  BOUNDED: counts first and raises
        past ``max_rows`` so 100 TB misuse fails loud instead of
        OOMing the driver.  For the distributed analogs use
        ``rank(method='dense')`` (codes as a lazy column) or
        ``groupby(...).ngroup()``."""
        # LIMIT-bounded probe: scans at most max_rows+1 rows instead
        # of a full count pass over the source
        n = self._sdf.limit(int(max_rows) + 1).count()
        if n > max_rows:
            raise ValueError(
                f"factorize(): more than {max_rows} rows (max_rows); "
                "the codes array is driver-side by contract — use "
                "rank(method='dense') or groupby(...).ngroup() to "
                "stay distributed, or raise max_rows explicitly")
        return self.to_pandas().factorize()

    # -- mechanical pandas-parity batch (aliases + thin wrappers) ------

    def pad(self):
        """pandas alias of ffill."""
        return self.ffill()

    def backfill(self):
        return self.bfill()

    def transform(self, func):
        """Series.transform: elementwise for callables (the Arrow
        ``map`` path).  Named-string transforms are not supported —
        call the method directly."""
        if callable(func):
            return self.map(func)
        raise NotImplementedError(
            "Series.transform supports callables; for named "
            f"transforms call .{func}() directly")

    @property
    def dtype(self):
        """numpy-style dtype of the values (mapped from the Spark
        type; metadata only)."""
        import numpy as np
        m = {"bigint": np.dtype("int64"), "int": np.dtype("int32"),
             "smallint": np.dtype("int16"), "tinyint": np.dtype("int8"),
             "double": np.dtype("float64"), "float": np.dtype("float32"),
             "boolean": np.dtype("bool"), "date": np.dtype("O"),
             "string": np.dtype("O")}
        t = self._dtypes()[0].simpleString()
        if t.startswith("timestamp"):
            return np.dtype("datetime64[us]")
        return m.get(t, np.dtype("O"))

    dtypes = dtype

    def dot(self, other):
        """Inner product with another Series — index alignment + one
        sum-of-products aggregate; returns a scalar."""
        return (self * other).sum()

    def drop(self, labels, errors: str = "raise"):
        """Drop rows by index label — an anti-filter (``NOT IN``
        literals, pushdown-eligible).  ``errors='raise'`` (pandas
        default) verifies every label exists with one tiny distinct
        count; pass ``errors='ignore'`` to skip that job at scale."""
        if not isinstance(labels, list):
            labels = [labels]
        from .core import Series
        idx = self._idx_at(0)
        if errors == "raise":
            found = self._sdf.where(idx.isin(labels)).agg(
                F.countDistinct(idx).alias("n")).collect()[0]["n"]
            if found != len(set(labels)):
                raise KeyError(
                    f"labels {labels} not all found in index")
        elif errors != "ignore":
            raise ValueError(
                f"errors must be 'raise' or 'ignore', got {errors!r}")
        body = self._sdf.filter(~idx.isin(labels))
        return Series(self._index, None,
                      body.select(
                          *[F.col(I.idx_name(i))
                            for i in range(self._n_idx())],
                          F.col(I.col_name(0))), self.name)._carry(self)

    def filter(self, items=None, like=None, regex=None):
        """Rows by index label (in-plan predicate, like the frame's
        axis=0 filter)."""
        given = sum(x is not None for x in (items, like, regex))
        if given != 1:
            raise TypeError(
                "filter needs exactly one of items, like, regex")
        idx = self._idx_at(0)
        if items is not None:
            cond = idx.isin(list(items))
        elif like is not None:
            cond = idx.cast("string").contains(like)
        else:
            cond = idx.cast("string").rlike(regex)
        new = self._shallow_copy()
        new._sdf = self._sdf.filter(cond)
        return new

    def first_valid_index(self):
        """Index label of the first non-null value (index order) —
        one filtered min_by aggregate."""
        return self._valid_end(first=True)

    def last_valid_index(self):
        return self._valid_end(first=False)

    def _valid_end(self, first: bool):
        idx0 = self._idx_at(0)
        fn = F.min_by if first else F.max_by
        rows = self._sdf.where(self._the_col.isNotNull()).agg(
            fn(idx0, idx0).alias("v")).collect()
        return rows[0]["v"] if rows else None

    def get(self, label, default=None):
        """Value(s) at an index label, or ``default`` when absent."""
        try:
            out = self.loc[label]
        except KeyError:
            return default
        if hasattr(out, "_sdf"):
            p = out.to_pandas()
            if len(p) == 0:
                return default
            return p.iloc[0] if len(p) == 1 else p
        return out

    @property
    def hasnans(self):
        """True if any value is null — one aggregate."""
        row = self._sdf.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(self._the_col).alias("nn")).collect()[0]
        return row["n"] != row["nn"]

    @property
    def is_unique(self):
        """True when no value repeats — count vs distinct (nulls:
        pandas counts NaN as a value; countDistinct skips them, so
        null multiplicity is checked separately)."""
        row = self._sdf.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(self._the_col).alias("nn"),
            F.countDistinct(self._the_col).alias("nd")).collect()[0]
        n_null = row["n"] - row["nn"]
        return row["nn"] == row["nd"] and n_null <= 1

    def reindex(self, index):
        """Conform to new index labels (missing -> null), via the
        frame reindex join."""
        name = self.name if self.name is not None else "__v"
        out = self.to_frame(name).reindex(index)[name]
        out.name = self.name
        return out

    def to_dict(self):
        return self.to_pandas().to_dict()

    def to_list(self):
        return self.to_pandas().tolist()

    tolist = to_list

    def to_csv(self, path, mode: str = "overwrite",
               header: bool = True):
        name = self.name if self.name is not None else "0"
        return self.to_frame(name).to_csv(path, mode=mode,
                                          header=header)

    def argmax(self):
        """POSITION of the maximum (pandas argmax) — idxmax over the
        densified positional index (one count pass + one max_by)."""
        return self._arg_extreme_pos(first=False)

    def argmin(self):
        return self._arg_extreme_pos(first=True)

    def _arg_extreme_pos(self, first: bool):
        s = self.reset_index(drop=True)
        s._densify()
        return int(s.idxmin() if first else s.idxmax())

    def case_when(self, caselist):
        """pandas 2.2 ``Series.case_when``: replace values where each
        condition holds (first match wins), else keep self — ONE
        chained CASE projection over the parent plan (codegen, no
        shuffle).  Condition/replacement Series must share this
        series' lineage root (same parent frame); scalars always
        work."""
        if not caselist:
            raise ValueError("caselist must be non-empty")
        root = self._lineage_root
        if root is None:
            raise ValueError(
                "case_when needs a lineage-backed series (a column "
                "of a frame); use where/mask chains otherwise")

        def as_expr(x, what):
            if hasattr(x, "_lineage_root"):
                if x._lineage_root is not root:
                    raise ValueError(
                        f"case_when {what} must share this series' "
                        "parent frame; align first")
                return x._lineage_expr
            return F.lit(x)

        expr = None
        for cond, val in caselist:
            c = as_expr(cond, "condition")
            v = as_expr(val, "replacement")
            expr = (F.when(c, v) if expr is None
                    else expr.when(c, v))
        expr = expr.otherwise(self._lineage_expr)
        from .core import Series
        return Series(self._index, None, None, self.name,
                      lineage=self._lineage.derive(expr))._carry(self)

    def groupby(self, by=None, level=None):
        """``series.groupby(key_series)`` / ``groupby(level=i)`` — the
        grouped-series handle (same SeriesGroupBy machinery frames
        use: transforms window over the keys, reductions collapse).

        ``by``: a Series sharing this series' plan (lineage fast path
        — zero joins) or an index-aligned Series (one join).
        ``level``: group by an index level (no join at all)."""
        from .core import DataFrame, Series
        from .operators.analytic import SeriesGroupBy
        if (by is None) == (level is None):
            raise TypeError("groupby needs exactly one of by, level")
        n = self._n_idx()
        idx = [self._idx_at(i).alias(I.idx_name(i)) for i in range(n)]
        if level is not None:
            lvl = self._level_of(level)
            body = self._sdf.select(
                *idx,
                self._idx_at(lvl).alias(I.col_name(0)),
                self._the_col.alias(I.col_name(1)))
        else:
            root = self._lineage_root
            if (root is not None
                    and getattr(by, "_lineage_root", None) is root):
                body = root.select(
                    *[F.col(I.idx_name(i)) for i in range(n)],
                    by._lineage_expr.alias(I.col_name(0)),
                    self._lineage_expr.alias(I.col_name(1)))
            else:
                aligned = self.to_frame("__v").assign(__by=by)
                body = aligned._sdf.select(
                    *[F.col(I.idx_name(i)) for i in range(n)],
                    aligned._col_at(1).alias(I.col_name(0)),
                    aligned._col_at(0).alias(I.col_name(1)))
        if level is not None:
            key = self._index[self._level_of(level)] or "__key"
        else:
            key = getattr(by, "name", None) or "__key"
        if key == "__v":
            key = "__key"
        frame = DataFrame(self._index, pd.Index([key, "__v"]), body)
        frame._carry(self)
        return SeriesGroupBy(frame, [key], "__v")

    def unstack(self, level=-1, agg: str = "first",
                level_values=None):
        """Pivot a MultiIndex series level into columns — the frame
        unstack (groupBy remaining levels + pivot) on a one-column
        frame."""
        name = self.name if self.name is not None else "__v"
        return self.to_frame(name).unstack(level, agg, level_values)

    def combine(self, other, func, fill_value=None):
        """pandas ``Series.combine``: align with ``other`` and apply
        ``func(left, right)`` — same canonical-pair projection as the
        frame combine (func composes engine expressions, one
        projection, no extra joins)."""
        name = self.name
        left = self.to_frame("__v")
        right = other.to_frame("__v")
        out = left.combine(right, func, fill_value=fill_value)["__v"]
        out.name = name
        return out

    def asof(self, where):
        """pandas ``Series.asof``: the last non-null value whose index
        label is <= ``where`` — one filtered ``max_by`` aggregate per
        probe, ALL probes fused into a single pass (no sort, no
        collect of data rows).  The series must be sorted by index
        (pandas precondition)."""
        probes = where if isinstance(where, (list, tuple)) else [where]
        idx0 = self._idx_at(0)
        c = self._the_col
        aggs = [F.max_by(c, F.when(c.isNotNull()
                                   & (idx0 <= F.lit(p)), idx0))
                .alias(f"__a{j}") for j, p in enumerate(probes)]
        row = self._sdf.agg(*aggs).collect()[0]
        out = [row[f"__a{j}"] for j in range(len(probes))]
        if not isinstance(where, (list, tuple)):
            return out[0]
        return pd.Series(out, index=pd.Index(probes))

    @property
    def T(self):
        """Series transpose is the identity (pandas parity)."""
        return self

    def transpose(self):
        return self

    def compare(self, other):
        """pandas ``Series.compare``: the differing value pairs as a
        (self, other) frame — the frame compare on one column."""
        out = self.to_frame("v").compare(other.to_frame("v"))
        return out.set_axis(["self", "other"])

    def info(self):
        n = len(self)
        t = self._dtypes()[0].simpleString()
        print(f"Series: {n} values, dtype {t}, name {self.name!r}")

    def pop(self, label):
        """Remove the row(s) at an index label (in place), returning
        the removed value (scalar when unique; None values are values,
        not missing labels — existence is probed separately)."""
        idx = self._idx_at(0)
        rows = self._sdf.where(idx == F.lit(label)) \
            .select(F.col(I.col_name(0))).limit(2).collect()
        if not rows:
            raise KeyError(label)
        val = (rows[0][I.col_name(0)] if len(rows) == 1
               else self.get(label))
        self._sdf = self._sdf.filter(~(idx == F.lit(label)))
        return val

    def reindex_like(self, other):
        """Conform to another series' index (join-based, no driver
        collect)."""
        from .core import Series
        labels = other._sdf.select(
            other._idx_at(0).alias(I.idx_name(0))).distinct()
        joined = labels.join(
            self._sdf.select(self._idx_at(0).alias(I.idx_name(0)),
                             self._the_col.alias(I.col_name(0))),
            on=I.idx_name(0), how="left")
        return Series(self._index, None, joined,
                      self.name)._carry(reordered=True)

    def set_axis(self, labels):
        """Replace the index with the given labels, positionally — a
        rowid paste against a literal label frame (one join on the
        densified position).  ``labels`` is an in-memory list by
        definition, so this is inherently a SMALL-DATA verb (the
        whole label set ships as a broadcast literal); at scale
        derive the index from data columns (set_index) instead."""
        from .core import Series
        labels = list(labels)
        n = len(self)
        if len(labels) != n:
            raise ValueError(
                f"Length mismatch: expected {n} labels, "
                f"got {len(labels)}")
        flat = self.reset_index(drop=True)
        flat._densify()
        spark = self._sdf.sparkSession
        lit = spark.createDataFrame(
            pd.DataFrame({"__pos": range(n), "__lab": labels}))
        body = (flat._sdf
                .join(F.broadcast(lit),
                      flat._sdf[I.idx_name(0)] == lit["__pos"],
                      "inner")
                .select(F.col("__lab").alias(I.idx_name(0)),
                        F.col(I.col_name(0))))
        return Series(pd.Index([None]), None, body,
                      self.name)._carry(reordered=True)

    def xs(self, key, level=0):
        """Cross-section of a MultiIndex series."""
        name = self.name if self.name is not None else "__v"
        out = self.to_frame(name).xs(key, level)[name]
        out.name = self.name
        return out

    def to_json(self, path, mode: str = "overwrite"):
        name = self.name if self.name is not None else "0"
        return self.to_frame(name).to_json(path, mode=mode)

    def argsort(self):
        """Positions that would sort the series — an inherently
        positional-ARRAY result, so this is a documented MATERIALIZER
        (collects like pandas' returned ndarray does).  For a
        distributed sort-position column use ``rank(method='first')``."""
        return self.to_pandas().argsort()


def merge_ordered(left, right, on=None, left_on=None, right_on=None,
                  how: str = "outer", fill_method=None,
                  suffixes=("_x", "_y"), left_by=None):
    """pandas ``merge_ordered``: an ordered outer merge for time-series
    frames — the engine composes merge + (optional) forward fill.
    ``fill_method='ffill'`` fills every column's holes in merged key
    order via the fused multi-column fill scan.

    ``left_by`` replays pandas' group-wise form (the per-ticker
    idiom): the right frame merges into EVERY left group — expressed
    as one distinct-groups × right expansion (broadcast: the group
    list is small by construction) followed by a single merge on
    (groups + key) and a GROUPED fill, so no per-group Python loop
    and one shuffle for the whole verb.  Groups come out in the LEFT
    frame's appearance order (pandas semantics), recovered as one
    O(#groups) min-position aggregate over the scalable
    partition-offset rowid and broadcast back onto the result."""
    key = on if on is not None else left_on
    if key is None:
        raise ValueError("merge_ordered needs on= or left_on=")
    if fill_method not in (None, "ffill"):
        raise ValueError(
            f"fill_method must be None or 'ffill', got {fill_method!r}")
    if left_by is not None:
        by = [left_by] if isinstance(left_by, str) else list(left_by)
        ons = [on] if isinstance(on, str) else list(on)
        if left_on is not None or right_on is not None:
            raise NotImplementedError(
                "merge_ordered(left_by=) supports the on= form")
        if any(not isinstance(b, str) for b in by):
            raise NotImplementedError(
                "merge_ordered(left_by=) needs string group labels")
        groups = left[by].drop_duplicates()
        # pandas keeps groups in the LEFT frame's appearance order,
        # not lexicographic: one min(position) per group over the
        # partition-offset rowid, broadcast back for the final sort.
        from .core import DataFrame as _DF
        from .operators.rowid import with_rowid
        gsel = [left._col_at(left._columns.get_loc(b)).alias(b)
                for b in by]
        pos = with_rowid(left._sdf, "__pa_gpos").select(*gsel,
                                                        "__pa_gpos")
        gord = pos.groupBy(*by).agg(
            F.min("__pa_gpos").alias("__pa_gord"))
        gord_df = _DF.from_spark(gord)

        def _order(frame):
            o = frame.merge(gord_df, how="left", on=by,
                            broadcast=True)
            o = o.sort_values(["__pa_gord"] + ons)
            return o.drop(columns=["__pa_gord"])

        # replicate right into every left group (pandas semantics:
        # each group merges against the WHOLE right frame)
        rx = groups.merge(right, how="cross", broadcast=True)
        out = left.merge(rx, how=how, on=by + ons, suffixes=suffixes)
        if fill_method is None:
            return _order(out)
        # grouped fill orders by the frame INDEX, so promote the keys
        # first — fills then run in key order within each group
        keyed = out.set_index(ons)
        if any(not isinstance(c, str) for c in keyed.columns):
            raise NotImplementedError(
                "merge_ordered(left_by=, fill_method=) needs string "
                "column labels (the grouped fill reassigns by name)")
        filled = keyed
        for c in keyed.columns:
            if c in by:
                continue
            filled = filled.assign(
                **{str(c): filled.groupby(by)[c].ffill()})
        return _order(filled.reset_index())
    out = left.merge(right, how=how, on=on, left_on=left_on,
                     right_on=right_on, suffixes=suffixes)
    out = out.sort_values(key)
    if fill_method is None:
        return out
    filled = out.set_index(key).ffill().reset_index()
    return filled


def json_normalize(ser, schema: str):
    """Flatten a JSON-string Series into a DataFrame of columns — the
    training-pipeline idiom for semi-structured metadata (events
    ``props``).  ``schema`` is a Spark DDL struct ("a INT, b STRING");
    one ``from_json`` + struct expansion, codegen, no UDF."""
    from .core import DataFrame
    from .functions.json import from_json
    parsed = from_json(ser, schema)
    n = parsed._n_idx()
    fields = parsed._sdf.select(
        parsed._the_col.alias("__s")).schema[0].dataType.fieldNames()
    sel = [parsed._idx_at(i).alias(I.idx_name(i)) for i in range(n)]
    sel += [parsed._the_col.getField(f).alias(I.col_name(j))
            for j, f in enumerate(fields)]
    return DataFrame(parsed._index, pd.Index(list(fields)),
                     parsed._sdf.select(*sel))._carry(ser)


def to_numeric(ser, errors: str = "raise"):
    """pandas ``to_numeric``: parse strings to doubles.
    ``errors='coerce'`` nulls unparseable values (Spark try_cast);
    'raise' verifies with one bounded probe first (LIMIT 1 on
    unparseable rows) so the error is eager and names an offender."""
    if errors not in ("raise", "coerce"):
        raise ValueError(f"errors must be 'raise' or 'coerce', "
                         f"got {errors!r}")
    if errors == "raise":
        # one projection holds the raw and the parsed value
        raw = ser._the_col
        bad = ser._sdf.where(
            raw.try_cast("double").isNull()
            & raw.isNotNull()).limit(1).collect()
        if bad:
            raise ValueError(
                f"Unable to parse value at index "
                f"{bad[0][I.idx_name(0)]}")
    return ser._app(lambda c: c.try_cast("double"))


def date_range(start, end=None, periods=None, freq="D", name=None):
    """pandas ``date_range`` as an engine Series — pandas generates
    the (driver-side, bounded) label sequence, Arrow ships it.  For
    data-derived dense grids at scale use ``ext.events.densify_time``
    (a generate-series explode, no driver data)."""
    from .core import Series
    idx = pd.date_range(start, end, periods=periods, freq=freq,
                        name=name)
    return Series.from_pandas(pd.Series(idx, name=name))


def wide_to_long(df, stubnames, i: str, j: str, sep: str = ""):
    """pandas ``wide_to_long``: stacked reshape of ``stub<suffix>``
    columns — one explode over a struct array (a generator projection,
    no shuffle), the same machinery as melt."""
    from .core import DataFrame
    stubs = ([stubnames] if isinstance(stubnames, str)
             else list(stubnames))
    suffixes = sorted({str(c)[len(s) + len(sep):]
                       for c in df._columns for s in stubs
                       if str(c).startswith(s + sep)
                       and len(str(c)) > len(s)})
    if not suffixes:
        raise ValueError("no stub columns found")
    ic = df._col_at(df._columns.get_loc(i))
    rows = []
    for suf in suffixes:
        entry = [F.lit(suf).alias("__j")]
        for s in stubs:
            lab = f"{s}{sep}{suf}"
            entry.append(
                (df._col_at(df._columns.get_loc(lab))
                 if lab in df._columns else F.lit(None)).alias(s))
        rows.append(F.struct(*entry))
    exploded = df._sdf.select(
        ic.alias("__i"), F.explode(F.array(*rows)).alias("__e"))
    sel = [F.col("__i").alias(I.idx_name(0)),
           F.col("__e.__j").alias(I.idx_name(1))]
    sel += [F.col(f"__e.{s}").alias(I.col_name(k))
            for k, s in enumerate(stubs)]
    return DataFrame(pd.Index([i, j]), pd.Index(stubs),
                     exploded.select(*sel))._carry(reordered=True)
