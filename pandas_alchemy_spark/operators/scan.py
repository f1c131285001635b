"""Exponentially-weighted mean as a distributed scan.

pandas' ``Series.ewm(alpha).mean()`` is a sequential recurrence — the
one window-family verb Spark has no native operator for.  Three
formulations, picked by shape:

- ``ewm_mean_grouped`` (JVM window, no UDF): the adjust=True weighted
  sum ``num_t = pow(w, rn_t) * running_sum(x_i * pow(w, -rn_i))``
  over an ordered per-group window.  Running window sums evaluate in
  frame order on every engine, so the result is BIT-IDENTICAL to the
  same SQL on DuckDB — it is the oracle-checkable form.  Bounded:
  ``pow(w, -rn)`` overflows past ``rn > log(DBL_MAX)/-log(w)`` rows
  per group (~700 rows at alpha=0.65, ~9700 at alpha=0.07), so it is
  the small-bounded-groups fast path.
- ``ewm_mean`` with ``by=``: applyInPandas per group — pandas' own
  stable recurrence, any group length, state bounded by the group.
- ``ewm_mean_multi`` (``ewm_mean`` without ``by=``): an exact
  two-pass segmented scan over one or many columns.  Pass A
  computes one carry per partition (the partition-local unnormalized
  tail sum); the driver folds the P carries into prefix states (P ~
  thousands, scalars only — never row data); pass B rebuilds the
  exact global recurrence from each partition's prefix.  No global
  window, no single-task funnel — this is how a sequential recurrence
  scales to 100 TB.

No counterpart in the reference (pandas-alchemy has no ewm); the
pandas API contract is the spec.
"""

from __future__ import annotations

import math
import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import Window
from pyspark.sql import functions as F


def _check_alpha(alpha: float) -> None:
    """pandas contract: ``ewm`` requires ``0 < alpha <= 1`` (outside it
    the closed-form denominators divide by zero or alternate sign)."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(
            f"alpha must satisfy 0 < alpha <= 1, got {alpha!r}")


# headroom (in nats) reserved for |x| and the 1/(1-w) factor inside the
# window sums: e^80 ~ 5.5e34 covers any realistic metric magnitude.
_GUARD_MARGIN_NATS = 80.0


def pow_trick_max_rows(alpha: float) -> int:
    """Largest per-group length the ``pow(w,-rn)`` window form can
    handle before its running sums overflow double (with margin for
    value magnitude).  ~615 rows at alpha=0.65, ~8700 at alpha=0.07."""
    w = 1.0 - alpha
    if w <= 0.0:
        return sys.maxsize  # alpha == 1: no pow in the plan at all
    return max(1, int((math.log(sys.float_info.max) - _GUARD_MARGIN_NATS)
                      / -math.log(w)))


def ewm_mean_grouped(sdf: SparkDF, value_col: str, order_cols,
                     by, alpha: float, out_col: str = "ewm") -> SparkDF:
    """adjust=True EWM mean per group, as pure JVM window expressions:
    ``sum(x*pow(w,-rn)) / sum(pow(w,-rn))`` over the ordered running
    frame (the common ``pow(w, rn)`` rescale cancels exactly).

    One shuffle on the group keys, two window passes over it, fully
    codegen — the bounded-group fast path.  ``pow(w,-rn)`` overflows
    past ``rn > log(DBL_MAX)/-log(w)`` rows per group, so a runtime
    guard RAISES (``raise_error``) on any group longer than
    :func:`pow_trick_max_rows` instead of silently returning inf/inf =
    NaN; use ``ewm_mean(by=...)`` beyond that bound."""
    _check_alpha(alpha)
    w = 1.0 - alpha
    by = [by] if isinstance(by, str) else list(by)
    order_cols = ([order_cols] if isinstance(order_cols, str)
                  else list(order_cols))
    if w == 0.0:
        # alpha == 1: adjust=True mean_t == x_t exactly (zero memory)
        return sdf.withColumn(out_col, F.col(value_col).cast("double"))
    nmax = pow_trick_max_rows(alpha)
    win = (Window.partitionBy(*by).orderBy(*order_cols)
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    rn = F.row_number().over(
        Window.partitionBy(*by).orderBy(*order_cols))
    d = sdf.withColumn("__rn", rn)
    num = F.sum(F.col(value_col) * F.pow(F.lit(w), -F.col("__rn"))).over(win)
    den = F.sum(F.pow(F.lit(w), -F.col("__rn"))).over(win)
    guarded = F.when(
        F.col("__rn") > F.lit(nmax),
        F.raise_error(F.lit(
            f"ewm pow-trick overflow: a group exceeds {nmax} rows at "
            f"alpha={alpha}; use the exact scan path "
            "(ewm_mean(by=...) / .ewm(alpha).mean(exact=True))"))
        .cast("double")
    ).otherwise(num / den)
    return d.withColumn(out_col, guarded).drop("__rn")


def ewm_mean(sdf: SparkDF, value_col: str, order_cols, alpha: float,
             by=None, out_col: str = "ewm",
             num_partitions: int | None = None,
             stat: str = "mean") -> SparkDF:
    """pandas ``ewm(alpha, adjust=True).mean()`` over ``order_col``.

    ``by=`` groups: one applyInPandas per group (exact for any group
    length; ``stat`` may also be "sum" there — same recurrence minus
    the weight normalization).  Global: :func:`ewm_mean_multi` over
    the one column (mean only — Ewm.sum composes it with the
    closed-form weight total).  Nulls follow pandas' default
    ``ignore_na=False`` on both paths.
    """
    _check_alpha(alpha)
    if stat not in ("mean", "sum"):
        raise ValueError(f"stat must be 'mean' or 'sum', got {stat!r}")
    if stat != "mean" and by is None:
        raise ValueError("global ewm stat 'sum' composes at the Ewm "
                         "level; the scan computes the mean")
    order_cols = ([order_cols] if isinstance(order_cols, str)
                  else list(order_cols))
    if by is not None:
        byl = [by] if isinstance(by, str) else list(by)
        cols = sdf.columns

        def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(order_cols, kind="mergesort")
            pdf[out_col] = getattr(
                pdf[value_col].astype("float64")
                .ewm(alpha=alpha, adjust=True), stat)()
            return pdf

        schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in sdf.schema.fields) + f", {out_col} double"
        return (sdf.groupBy(*byl).applyInPandas(per_group, schema)
                .select(*cols, out_col))

    return ewm_mean_multi(sdf, [value_col], order_cols, alpha,
                          out_cols=[out_col],
                          num_partitions=num_partitions)


def _partition_scan2(it, alpha):
    """Per-partition pass A for :func:`ewm_var`: fold every Arrow
    batch, emitting ONE carry row (pid, n, tail1=Σw^Δ·x, tail2=Σw^Δ·x²)."""
    w = 1.0 - alpha
    t1 = t2 = 0.0
    n = 0
    pid = None
    for pdf in it:
        if len(pdf) == 0:
            continue
        pid = int(pdf["__pid"].iloc[0])
        x = pdf["__x"].astype("float64")
        k = len(x)
        den_end = (1.0 - w ** k) / (1.0 - w) if w != 0.0 else 1.0
        m1 = x.ewm(alpha=alpha, adjust=True).mean()
        m2 = (x * x).ewm(alpha=alpha, adjust=True).mean()
        t1 = t1 * (w ** k) + float(m1.iloc[-1]) * den_end
        t2 = t2 * (w ** k) + float(m2.iloc[-1]) * den_end
        n += k
    if pid is not None:
        yield pd.DataFrame({"pid": [pid], "n": [n],
                            "t1": [t1], "t2": [t2]})


def ewm_var(sdf: SparkDF, value_col: str, order_cols, alpha: float,
            by=None, out_col: str = "ewmv", std: bool = False,
            bias: bool = False,
            num_partitions: int | None = None) -> SparkDF:
    """pandas ``ewm(alpha, adjust=True).var(bias=False)`` (or std).

    ``by=`` groups: one applyInPandas per group — exact for any group
    length, bounded per-group state, one shuffle (the 100 TB path for
    keyed data).  Global: the mean scan's segmented machinery with a
    SECOND moment channel — per-partition tails of Σw^Δ·x and
    Σw^Δ·x², one 2-scalar carry per partition, and the closed-form
    weight sums den=(1−w^t)/(1−w), den²ᵢ=(1−w^{2t})/(1−w²) (weights
    are a pure function of the global row position, so only the data
    channels need carrying).  bias=False applies pandas' reliability
    correction den²/(den²−Σw²).  Nulls unsupported — filter first
    (the closed-form weight sums count every row)."""
    _check_alpha(alpha)
    order_cols = ([order_cols] if isinstance(order_cols, str)
                  else list(order_cols))
    w = 1.0 - alpha

    def _finish(r):
        return np.sqrt(r) if std else r

    if by is not None:
        byl = [by] if isinstance(by, str) else list(by)
        cols = sdf.columns

        def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(order_cols, kind="mergesort")
            x = pdf[value_col].astype("float64")
            e = x.ewm(alpha=alpha, adjust=True)
            v = e.var(bias=bias)
            pdf[out_col] = _finish(v.to_numpy())
            return pdf

        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in sdf.schema.fields) + f", {out_col} double"
        return sdf.groupBy(*byl).applyInPandas(per_group, schema)

    from .segscan import _pin
    base = _pin(sdf, [F.col(c) for c in order_cols], num_partitions)
    carries = (base.select("__pid", F.col(value_col).cast("double")
                           .alias("__x"))
               .mapInPandas(lambda it: _partition_scan2(it, alpha),
                            "pid int, n long, t1 double, t2 double")
               .collect())
    carries.sort(key=lambda r: r["pid"])
    pref1: dict[int, float] = {}
    pref2: dict[int, float] = {}
    pref_n: dict[int, int] = {}
    p1 = p2 = 0.0
    off = 0
    for r in carries:
        pref1[r["pid"]] = p1
        pref2[r["pid"]] = p2
        pref_n[r["pid"]] = off
        p1 = p1 * (w ** r["n"]) + r["t1"]
        p2 = p2 * (w ** r["n"]) + r["t2"]
        off += r["n"]

    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in sdf.schema.fields) + f", {out_col} double"

    def pass_b(it):
        carry = None  # (tail1, tail2, t_local)
        for pdf in it:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            if carry is None:
                carry = (pref1.get(pid, 0.0), pref2.get(pid, 0.0), 0)
            in1, in2, t0 = carry
            x = pdf[value_col].astype("float64")
            k = len(x)
            pos = np.arange(1, k + 1, dtype="float64")
            den_local = ((1.0 - w ** pos) / (1.0 - w) if w != 0.0
                         else np.ones(k))
            m1 = x.ewm(alpha=alpha, adjust=True).mean().to_numpy()
            m2 = (x * x).ewm(alpha=alpha,
                             adjust=True).mean().to_numpy()
            decay = w ** pos
            num1 = m1 * den_local + in1 * decay
            num2 = m2 * den_local + in2 * decay
            gpos = pref_n.get(pid, 0) + t0 + pos
            if w != 0.0:
                den = (1.0 - w ** gpos) / (1.0 - w)
                den2 = (1.0 - (w * w) ** gpos) / (1.0 - w * w) \
                    if w != 1.0 else gpos
            else:
                den = np.ones(k)
                den2 = np.ones(k)
            with np.errstate(divide="ignore", invalid="ignore"):
                mean = num1 / den
                var_b = num2 / den - mean * mean
                var_b = np.maximum(var_b, 0.0)  # fp cancellation guard
                if bias:
                    out = var_b
                else:
                    out = var_b * den * den / (den * den - den2)
            res = pdf.drop(columns=["__pid"]).copy()
            res[out_col] = _finish(out)
            carry = (in1 * (w ** k) + m1[-1] * den_local[-1],
                     in2 * (w ** k) + m2[-1] * den_local[-1],
                     t0 + k)
            yield res

    return base.mapInPandas(pass_b, out_fields)


def _ewm_sums(x: pd.Series, alpha: float, num: float, den: float,
              decay: np.ndarray):
    """One batch of one column: the running weighted value total and
    weight total over its NON-NULL rows, both continued from the
    carried totals ``num``/``den`` (``decay`` = w^1..w^k), plus the
    non-null mask.  Weights decay per row position, nulls included
    (pandas ``ignore_na=False``)."""
    obs = x.notna().to_numpy()
    e = dict(alpha=alpha, adjust=True)
    n_loc = x.ewm(**e).sum().fillna(0.0).to_numpy()
    d_loc = pd.Series(obs, dtype="float64").ewm(**e).sum().to_numpy()
    return n_loc + num * decay, d_loc + den * decay, obs


def _partition_scan_multi(it, alpha, ncols):
    """Pass A for :func:`ewm_mean_multi`: one carry row per partition
    with every column's weighted value and weight totals at the
    partition's end and at its last non-null row (``l*``; position
    ``p*``, 0 when the partition holds no value)."""
    w = 1.0 - alpha
    tails = [(0.0, 0.0)] * ncols
    last = [(0.0, 0.0, 0)] * ncols
    n = 0
    pid = None
    for pdf in it:
        if len(pdf) == 0:
            continue
        pid = int(pdf["__pid"].iloc[0])
        k = len(pdf)
        decay = w ** np.arange(1, k + 1, dtype="float64")
        for j in range(ncols):
            num, den, obs = _ewm_sums(pdf[f"__x{j}"].astype("float64"),
                                      alpha, *tails[j], decay)
            if obs.any():
                q = int(np.flatnonzero(obs)[-1])
                last[j] = (num[q], den[q], n + q + 1)
            tails[j] = (num[-1], den[-1])
        n += k
    if pid is not None:
        out = {"pid": [pid], "n": [n]}
        for j in range(ncols):
            out.update({f"t{j}": [tails[j][0]], f"d{j}": [tails[j][1]],
                        f"l{j}": [last[j][0]], f"ld{j}": [last[j][1]],
                        f"p{j}": [last[j][2]]})
        yield pd.DataFrame(out)


def ewm_mean_multi(sdf: SparkDF, value_cols, order_cols, alpha: float,
                   *, out_cols,
                   num_partitions: int | None = None) -> SparkDF:
    """Global exact EWM mean as a two-pass segmented scan: every
    column's recurrence in ONE scan.  Range-partition on the scan
    order and pin the layout (``segscan._pin``: repartitionByRange
    samples, the checkpoint makes the layout a fact, and an EWM over
    the same frame and order as other scan verbs reuses their
    shuffle); pass A folds each partition into one carry row holding
    every column's weighted tails (P rows to the driver, never row
    data); pass B rebuilds the exact global recurrence from each
    partition's prefix.

    Nulls follow pandas (``adjust=True, ignore_na=False``): the
    weight total runs over non-null rows only, a null row repeats
    the last mean, and leading nulls stay NaN."""
    _check_alpha(alpha)
    w = 1.0 - alpha
    ncols = len(value_cols)
    from .segscan import _pin
    base = _pin(sdf, [F.col(c) for c in order_cols], num_partitions)
    proj = base.select(
        "__pid", *[F.col(c).cast("double").alias(f"__x{j}")
                   for j, c in enumerate(value_cols)])
    schema = "pid int, n long, " + ", ".join(
        f"t{j} double, d{j} double, l{j} double, ld{j} double, "
        f"p{j} long" for j in range(ncols))
    carries = proj.mapInPandas(
        lambda it: _partition_scan_multi(it, alpha, ncols),
        schema).collect()
    carries.sort(key=lambda r: r["pid"])
    # per column: (value total, weight total, last mean) before each
    # partition; the last mean is kept apart because the totals of a
    # long null run can underflow to 0/0
    prefix: dict[int, list] = {}
    acc = [(0.0, 0.0, math.nan)] * ncols
    for r in carries:
        prefix[r["pid"]] = list(acc)
        for j, (num, den, mean) in enumerate(acc):
            if r[f"p{j}"]:
                f = w ** r[f"p{j}"]
                mean = ((r[f"l{j}"] + num * f)
                        / (r[f"ld{j}"] + den * f))
            f = w ** r["n"]
            acc[j] = (num * f + r[f"t{j}"], den * f + r[f"d{j}"], mean)

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in sdf.schema.fields)
    fields += "".join(f", {oc} double" for oc in out_cols)

    def pass_b(it):
        state = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if state is None:
                state = list(prefix.get(int(pdf["__pid"].iloc[0]),
                                        [(0.0, 0.0, math.nan)] * ncols))
            decay = w ** np.arange(1, len(pdf) + 1, dtype="float64")
            res = pdf.drop(columns=["__pid"]).copy()
            for j, (c, oc) in enumerate(zip(value_cols, out_cols)):
                num, den, mean = state[j]
                num, den, obs = _ewm_sums(pdf[c].astype("float64"),
                                          alpha, num, den, decay)
                with np.errstate(divide="ignore", invalid="ignore"):
                    m = np.where(obs, num / den, np.nan)
                out = pd.Series(m).ffill()
                if mean == mean:
                    out = out.fillna(mean)
                res[oc] = out.to_numpy()
                state[j] = (num[-1], den[-1], out.iloc[-1])
            yield res

    return base.mapInPandas(pass_b, fields)
