"""Exponentially-weighted statistics as distributed scans.

pandas' ``ewm(alpha)`` statistics are sequential recurrences — the
one window family Spark has no native operator for.  Two kernels:

- ``ewm_multi``: the one global kernel.  mean, sum, var and std
  (``bias`` both ways) of one or many columns from an exact two-pass
  segmented scan over four weighted totals per column.  Pass A
  computes one carry row per partition; the driver folds the P carries
  into prefix states (P ~ thousands, scalars only — never row data);
  pass B rebuilds the exact global recurrence from each partition's
  prefix.  No global window, no single-task funnel — this is how a
  sequential recurrence scales to 100 TB.
- ``ewm_mean_grouped`` (JVM window, no UDF): the grouped mean as the
  adjust=True weighted sum ``sum(x * pow(w, -rn)) / sum(pow(w, -rn))``
  over an ordered per-group window.  Running window sums evaluate in
  frame order on every engine, so the result is BIT-IDENTICAL to the
  same SQL on DuckDB — it is the oracle-checkable form.  Bounded:
  ``pow(w, -rn)`` overflows past ``rn > log(DBL_MAX)/-log(w)`` rows
  per group (~700 rows at alpha=0.65, ~9700 at alpha=0.07), so it is
  the small-bounded-groups fast path; the exact grouped statistics
  run pandas' own recurrence per group
  (``analytic._GroupedEwm``, one applyInPandas on the keys).

Nulls follow pandas (``adjust=True, ignore_na=False``) everywhere:
weights decay per row position, null rows included, and only
non-null rows add weight.

No counterpart in the reference (pandas-alchemy has no ewm); the
pandas API contract is the spec.
"""

from __future__ import annotations

import math
import sys

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import Window
from pyspark.sql import functions as F


def _check_alpha(alpha: float) -> None:
    """pandas contract: ``ewm`` requires ``0 < alpha <= 1`` (outside it
    the weights 1 - alpha grow or alternate sign)."""
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


def ewm_mean_grouped(x: Column, by, order, alpha: float) -> Column:
    """adjust=True EWM mean of ``x`` per group of ``by`` in ``order``,
    as pure JVM window expressions: ``sum(x*pow(w,-rn)) /
    sum(pow(w,-rn))`` over the ordered running frame (the common
    ``pow(w, rn)`` rescale cancels exactly), the weight total over
    non-null rows only — a null row repeats the last mean and a
    leading null stays null, as in pandas.

    One shuffle on the group keys, codegen.  ``pow(w,-rn)`` overflows
    past ``rn > log(DBL_MAX)/-log(w)`` rows per group, so a runtime
    guard RAISES (``raise_error``) on any group longer than
    :func:`pow_trick_max_rows` instead of silently returning inf/inf =
    NaN; ``mean(exact=True)`` runs past that bound."""
    _check_alpha(alpha)
    w = 1.0 - alpha
    owin = Window.partitionBy(*by).orderBy(*order)
    run = owin.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    if w == 0.0:
        # alpha == 1: the mean is the last non-null value (zero memory)
        return F.last(x, ignorenulls=True).over(run).cast("double")
    nmax = pow_trick_max_rows(alpha)
    rn = F.row_number().over(owin)
    wt = F.pow(F.lit(w), -rn)
    num = F.sum(x * wt).over(run)
    den = F.sum(F.when(x.isNotNull(), wt)).over(run)
    return F.when(
        rn > F.lit(nmax),
        F.raise_error(F.lit(
            f"ewm pow-trick overflow: a group exceeds {nmax} rows at "
            f"alpha={alpha}; use the exact per-group path "
            "groupby(...)[col].ewm(alpha).mean(exact=True)"))
        .cast("double")
    ).otherwise(num / den)


def _ewm_sums(x: pd.Series, alpha: float, carry) -> tuple:
    """One batch of one column: the running totals Σw·x, Σw·x², Σw
    and Σw² over its NON-NULL rows (the rows of a 4×k array), each
    continued from the carried totals ``carry``, plus the non-null
    mask.  Weights decay per row position, nulls included (pandas
    ``ignore_na=False``): by w, and by w² for Σw²."""
    w = 1.0 - alpha
    obs = x.notna().to_numpy()
    seen = pd.Series(obs, dtype="float64")
    local = [x.ewm(alpha=alpha, adjust=True).sum().fillna(0.0),
             (x * x).ewm(alpha=alpha, adjust=True).sum().fillna(0.0),
             seen.ewm(alpha=alpha, adjust=True).sum(),
             seen.ewm(alpha=1.0 - w * w, adjust=True).sum()]
    return (np.array([s.to_numpy() for s in local])
            + _decayed(carry, w, np.arange(1, len(x) + 1)), obs)


def _decayed(sums, w: float, pos) -> np.ndarray:
    """The four totals ``sums`` after ``pos`` more rows: one column
    per position when ``pos`` is an array."""
    d = w ** np.asarray(pos, dtype="float64")
    return np.stack([sums[0] * d, sums[1] * d, sums[2] * d,
                     sums[3] * d * d])


def _ewm_stat(s: np.ndarray, stat: str, bias: bool) -> np.ndarray:
    """The statistic at a non-null row from its four totals ``s``:
    mean = Σw·x/Σw; biased var = Σw·x²/Σw − mean² (clamped at 0
    against cancellation); unbiased var = biased var · (Σw)²/((Σw)² −
    Σw²), NaN when that denominator is not positive; std = √var.  For
    the sum it is the mean, which is NaN before the first value."""
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = s[0] / s[2]
        if stat in ("mean", "sum"):
            return mean
        var = np.maximum(s[1] / s[2] - mean * mean, 0.0)
        if not bias:
            sq = s[2] * s[2]
            d = sq - s[3]
            var = np.where(d > 0, var * sq / d, np.nan)
    return np.sqrt(var) if stat == "std" else var


def _partition_scan_multi(it, alpha, ncols):
    """Pass A for :func:`ewm_multi`: one carry row per partition with
    every column's four totals at the partition's end (``t*``) and at
    its last non-null row (``l*``; position ``p*``, 0 when the
    partition holds no value)."""
    tails = [np.zeros(4)] * ncols
    last = [(np.zeros(4), 0)] * ncols
    n = 0
    pid = None
    for pdf in it:
        if len(pdf) == 0:
            continue
        pid = int(pdf["__pid"].iloc[0])
        for j in range(ncols):
            s, obs = _ewm_sums(pdf[f"__x{j}"].astype("float64"), alpha,
                               tails[j])
            if obs.any():
                q = int(np.flatnonzero(obs)[-1])
                last[j] = (s[:, q], n + q + 1)
            tails[j] = s[:, -1]
        n += len(pdf)
    if pid is not None:
        out = {"pid": [pid], "n": [n]}
        for j in range(ncols):
            out.update({f"t{j}": [tails[j].tolist()],
                        f"l{j}": [last[j][0].tolist()],
                        f"p{j}": [last[j][1]]})
        yield pd.DataFrame(out)


def ewm_multi(sdf: SparkDF, value_cols, order_cols, alpha: float, *,
              out_cols, stat: str = "mean", bias: bool = False,
              num_partitions: int | None = None) -> SparkDF:
    """Global exact EWM ``stat`` (mean, sum, var or std; ``bias`` as
    in pandas) as a two-pass segmented scan: every column's
    recurrence in ONE scan.  Range-partition on the scan order and pin
    the layout (``segscan._pin``: repartitionByRange samples, the
    checkpoint makes the layout a fact, and an EWM over the same frame
    and order as other scan verbs reuses their shuffle).  Every
    statistic reads four totals per column — Σw·x, Σw·x², Σw and Σw²
    over non-null rows: pass A folds each partition into one carry row
    of them (P rows to the driver, never row data); pass B rebuilds
    the exact global recurrence from each partition's prefix.

    Nulls follow pandas (``adjust=True, ignore_na=False``): a null row
    repeats the statistic at the last value (the sum decays with its
    weights), and leading nulls stay NaN.  The repeated value is
    carried, not recomputed, so ``alpha=1`` and long null runs (totals
    underflowing to 0/0) keep it; deep in such a run pandas recomputes
    the unbiased factor from underflowed totals and reads NaN."""
    _check_alpha(alpha)
    w = 1.0 - alpha
    ncols = len(value_cols)
    from .segscan import _pin
    base = _pin(sdf, [F.col(c) for c in order_cols], num_partitions)
    proj = base.select(
        "__pid", *[F.col(c).cast("double").alias(f"__x{j}")
                   for j, c in enumerate(value_cols)])
    schema = "pid int, n long, " + ", ".join(
        f"t{j} array<double>, l{j} array<double>, p{j} long"
        for j in range(ncols))
    carries = proj.mapInPandas(
        lambda it: _partition_scan_multi(it, alpha, ncols),
        schema).collect()
    carries.sort(key=lambda r: r["pid"])
    # per column: (four totals, statistic at the last value) before
    # each partition
    start = [(np.zeros(4), math.nan)] * ncols
    prefix: dict[int, list] = {}
    acc = list(start)
    for r in carries:
        prefix[r["pid"]] = list(acc)
        for j, (sums, b) in enumerate(acc):
            if r[f"p{j}"]:
                at = np.array(r[f"l{j}"]) + _decayed(sums, w, r[f"p{j}"])
                b = float(_ewm_stat(at, stat, bias))
            acc[j] = (np.array(r[f"t{j}"]) + _decayed(sums, w, r["n"]), b)

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in sdf.schema.fields)
    fields += "".join(f", {oc} double" for oc in out_cols)

    def pass_b(it):
        state = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if state is None:
                state = list(prefix.get(int(pdf["__pid"].iloc[0]), start))
            k = len(pdf)
            res = pdf.drop(columns=["__pid"]).copy()
            for j, (c, oc) in enumerate(zip(value_cols, out_cols)):
                sums, b = state[j]
                s, obs = _ewm_sums(pdf[c].astype("float64"), alpha, sums)
                at = np.maximum.accumulate(
                    np.where(obs, np.arange(k), -1))
                vals = np.where(at >= 0, _ewm_stat(s, stat, bias)[at], b)
                state[j] = (s[:, -1], vals[-1])
                if stat == "sum":
                    vals = np.where(np.isnan(vals), np.nan, s[0])
                res[oc] = vals
            yield res

    return base.mapInPandas(pass_b, fields)
