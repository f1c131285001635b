"""Distributed global scans: cum*/rank without a single-partition window.

pandas' global ``cumsum``/``cummax``/``rank`` need a TOTAL row order;
the naive Spark form is an unpartitioned window — one task sees every
row, the known scale cliff of the parity layer.  This module ports the
``scan.ewm_mean_multi`` two-pass segmented technique to the whole
cum*/rank family:

- **Pin the layout**: range-partition on the scan order (index for
  cum*, value for rank), sort within partitions, ``localCheckpoint``
  so both passes see identical partitions (same trade as
  ``scan.ewm_mean_multi``: the checkpoint stores partitions on
  executors; at a real cluster scale point a reliable checkpoint dir
  instead).
- **Pass A (JVM)**: one aggregate row per partition (sum/max/count/
  countDistinct of the partition) — P scalars to the driver, never row
  data.
- **Driver fold**: prefix-combine the P carries (associative ops, so
  the fold order is the partition order).
- **Pass B (mapInPandas)**: per-partition vectorized pandas
  cum*/rank + the partition's prefix carry from the closure — no
  shuffle, no window, rows never leave their partition.

Total movement: ONE range shuffle.  Float caveat: cumsum/cumprod group
additions as (partition-local scan) ∘ (carry fold), so the last ulp
can differ from pandas' strictly sequential fold — same contract as
the EWM scan (≤1e-13 relative on 50k-row differential tests).

Rank correctness depends on range partitioning placing EQUAL values in
the same partition (RangePartitioner assigns by binary search over
sampled boundaries — a pure function of the key), so per-partition
pandas ``rank(method=...)`` plus a row/distinct-count offset is exact
for every method.  ``method='first'`` additionally range-partitions on
the positional tiebreak, so duplicate-heavy columns still spread.

Round 5 extends the same machinery to the BORDER-STATE verbs —
shift/diff/pct_change/rolling and ffill/bfill — whose per-row state is
a k-row window border (or one non-null scalar) rather than a prefix:

- **Border exchange**: each partition emits its first/last k rows of
  the scan column (one cheap pass over the pinned layout, ~(k·P) rows
  to the driver — the k-row generalization of the one-scalar carry);
  the driver chains them so partition j sees exactly the k rows
  preceding (following) it, and pass B prepends them before a
  partition-local vectorized pandas computation.  Guarded by
  ``_MAX_BORDER_ROWS`` so a pathological window cannot turn the driver
  into the bottleneck.
- **Time-offset rolling** borders are data-dependent (every preceding
  row within ``offset`` of a partition's min timestamp), so pass A
  first collects per-partition min timestamps (P scalars), then a
  filter pass emits exactly the qualifying border rows.

One segmented scan per window verb: every global kernel a verb
calls (``cum_scan_multi``, ``shift_delta_scan_multi``,
``fill_scan_multi``, ``interpolate_scan_multi``,
``rolling_scan_multi``, ``rank_scan_multi``, ``scan.ewm_mean_multi``)
takes ``(sdf, value_cols, order_cols, ..., out_cols=)`` over the
layout ``BaseFrame._scan`` projects, and a Series is its one-column
case.

No counterpart in the reference (pandas-alchemy has no analytic
verbs); the pandas API contract is the spec.
"""

from __future__ import annotations

import hashlib
import os
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F

_CUM_OPS = {
    "sum": (F.sum, lambda s: s.cumsum(), lambda loc, c: loc + c,
            lambda s: s.sum(min_count=1)),
    "prod": (F.product, lambda s: s.cumprod(), lambda loc, c: loc * c,
             lambda s: s.prod(min_count=1)),
    "max": (F.max, lambda s: s.cummax(),
            lambda loc, c: loc.clip(lower=c), lambda s: s.max()),
    "min": (F.min, lambda s: s.cummin(),
            lambda loc, c: loc.clip(upper=c), lambda s: s.min()),
}

_CUM_FOLD = {
    "sum": lambda a, b: a + b,
    "prod": lambda a, b: a * b,
    "max": max,
    "min": min,
}


_PIN_CACHE: "dict[tuple, tuple]" = {}  # key -> (pinned, count|None)
_PIN_CACHE_MAX = 4

# Opt-in belt-and-braces for the pin cache: when true, every cache hit
# re-counts the INPUT frame and compares against the count recorded at
# pin time, so even a same-schema key collision (which would need a
# sha256(plan JSON) + semanticHash double collision) fails loud instead
# of serving the wrong layout.  Off by default — the count is a real
# Spark job per hit; the always-on schema guard plus the
# cryptographic key already cover every plausible collision class.
PIN_VERIFY_COUNT = os.environ.get("PAS_PIN_VERIFY_COUNT", "") == "1"


_FLOATING = ("double", "float")


def _nan_as_null(sdf: SparkDF, cols) -> SparkDF:
    """pandas treats IEEE NaN as MISSING for cum*/rank/expanding/pair
    stats; Spark treats NaN as a non-null value that poisons sums
    (NaN-propagating aggregates), counts, and value ordering (NaN
    sorts after +inf).  Normalize NaN -> NULL on the floating value
    columns BEFORE pinning, so every downstream partial, carry fold
    and pandas pass sees pandas missing-data semantics.  Callers only
    project the index + output columns, so mutating the value columns
    is invisible outside the scan."""
    out = sdf
    for c in cols:
        if sdf.schema[c].dataType.simpleString() in _FLOATING:
            col = F.col(c)
            out = out.withColumn(c, F.when(~F.isnan(col), col))
    return out


def _pin_key(sdf: SparkDF, order_exprs, n_part: int) -> tuple:
    """Cache key for :func:`_pin`: sha256 of the FULL canonicalized
    plan JSON (toString truncates past spark.sql.debug
    .maxToStringFields, so wide frames would alias under a string
    key; the JSON is complete) + semanticHash (the JSON elides
    LogicalRDD / LocalRelation payloads, but the hash covers the
    backing RDD identity — verified: different from_pandas data ->
    different hash) + the output column names (canonicalization
    erases alias names, so ``(i, v AS a)`` and ``(i, v AS b)`` share
    the hash and the JSON).  A false hit therefore needs a sha256
    collision AND a 32-bit semanticHash collision on the same key;
    the hit-time guards in _pin catch even that."""
    plan_json = (sdf._jdf.queryExecution().analyzed()
                 .canonicalized().toJSON())
    return (sdf.sparkSession.sparkContext.applicationId,
            tuple(sdf.columns), sdf.semanticHash(),
            hashlib.sha256(plan_json.encode()).hexdigest(),
            tuple(str(e) for e in order_exprs), n_part)


def _pin(sdf: SparkDF, order_exprs, num_partitions=None) -> SparkDF:
    """Range-partition + in-partition sort + checkpoint: the pinned
    layout both passes read (repartitionByRange samples boundaries, so
    without the checkpoint the two passes could disagree).

    Memoized on (plan semantic hash, order, partition count): several
    scan verbs over the SAME series in the same order (e.g.
    ``assign(sh=s.shift(2), dif=s.diff(3))``) reuse ONE shuffle + sort
    + checkpoint instead of pinning per verb.  Bounded LRU (checkpoint
    blocks free when the cached frame is garbage-collected); same-plan
    reuse within a session assumes the underlying files don't change
    mid-session — the standard Spark caching contract."""
    n_part = (num_partitions
              or sdf.sparkSession.sparkContext.defaultParallelism)
    try:
        key = _pin_key(sdf, order_exprs, n_part)
    except Exception:
        key = None
    if key is not None and key in _PIN_CACHE:
        hit, hit_count = _PIN_CACHE[key]
        # Runtime self-check: a hit must have EXACTLY the layout this
        # input would pin to (same fields, names AND types, plus the
        # __pid column the pin appends).  Schema mismatch -> the entry
        # cannot be this plan's pin; drop it and re-pin (loudly)
        # instead of silently serving the wrong columns.
        hit_fields = [(f.name, f.dataType) for f in hit.schema.fields]
        want_fields = [(f.name, f.dataType) for f in sdf.schema.fields]
        if hit_fields[:-1] != want_fields or \
                not hit_fields or hit_fields[-1][0] != "__pid":
            warnings.warn(
                "segscan pin-cache entry schema mismatch (key "
                "collision?) — discarding cached layout and re-pinning",
                RuntimeWarning, stacklevel=2)
            _PIN_CACHE.pop(key, None)
        elif PIN_VERIFY_COUNT and hit_count is not None \
                and sdf.count() != hit_count:
            raise RuntimeError(
                "segscan pin-cache count mismatch: the cached layout "
                f"has {hit_count} rows but the input frame does not — "
                "cache key collision; unset PAS_PIN_VERIFY_COUNT only "
                "if you accept the (cryptographically negligible) "
                "collision risk")
        else:
            _PIN_CACHE.pop(key)
            _PIN_CACHE[key] = (hit, hit_count)  # LRU refresh
            return hit
    pinned = (sdf.repartitionByRange(n_part, *order_exprs)
              .sortWithinPartitions(*order_exprs)
              .withColumn("__pid", F.spark_partition_id())
              .localCheckpoint(eager=True))
    if key is not None:
        # the checkpoint is already materialized, so the count is a
        # cheap cached-block scan; it arms the opt-in hit-time check
        _PIN_CACHE[key] = (pinned,
                           pinned.count() if PIN_VERIFY_COUNT else None)
        while len(_PIN_CACHE) > _PIN_CACHE_MAX:
            _PIN_CACHE.pop(next(iter(_PIN_CACHE)))
    return pinned


def expanding_scan(sdf: SparkDF, value_col: str, order_cols, agg: str,
                   min_periods: int = 1, out_col: str = "exp",
                   num_partitions=None) -> SparkDF:
    """Global ``Series.expanding().agg()`` (sum/mean/max/min/count) as
    a segmented scan.  Unlike cum*, expanding emits a value at EVERY
    row (null rows included) gated on the running non-null count
    reaching ``min_periods`` — so the carries are (count, sum) /
    (count, max) channel pairs and the gate applies after the carry
    combine."""
    if agg in ("var", "std", "sem"):
        return _expanding_moment_scan(sdf, value_col, order_cols, agg,
                                      min_periods, out_col,
                                      num_partitions)
    if agg not in ("sum", "mean", "max", "min", "count"):
        raise ValueError(f"unsupported expanding agg {agg!r}")
    order_cols = ([order_cols] if isinstance(order_cols, str)
                  else list(order_cols))
    sdf = _nan_as_null(sdf, [value_col])
    base = _pin(sdf, [F.col(c) for c in order_cols], num_partitions)

    v = F.col(value_col)
    # only the channels this agg consumes (sum/mean share __s;
    # max/min each their own; count needs none beyond the counts)
    chans = [F.count(v).alias("__n"), F.count(F.lit(1)).alias("__rows")]
    chans.append((F.sum(v) if agg in ("sum", "mean")
                  else F.lit(None).cast("double")).alias("__s"))
    chans.append((F.max(v) if agg == "max"
                  else F.lit(None).cast("double")).alias("__mx"))
    chans.append((F.min(v) if agg == "min"
                  else F.lit(None).cast("double")).alias("__mn"))
    partials = base.groupBy("__pid").agg(*chans)
    rows = sorted(partials.collect(), key=lambda r: r["__pid"])
    prefix: dict[int, tuple] = {}
    n_acc, rows_acc, s_acc, mx_acc, mn_acc = 0, 0, None, None, None
    for r in rows:
        prefix[r["__pid"]] = (n_acc, rows_acc, s_acc, mx_acc, mn_acc)
        n_acc += r["__n"]
        rows_acc += r["__rows"]
        if r["__s"] is not None:
            s_acc = r["__s"] if s_acc is None else s_acc + r["__s"]
        if r["__mx"] is not None:
            mx_acc = (r["__mx"] if mx_acc is None
                      else max(mx_acc, r["__mx"]))
        if r["__mn"] is not None:
            mn_acc = (r["__mn"] if mn_acc is None
                      else min(mn_acc, r["__mn"]))

    out_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in sdf.schema.fields)
    out_fields += f", {out_col} double"
    mp = min_periods

    def pass_b(it):
        # thread the channel carries through every Arrow batch of the
        # partition (the prefix seeds only the first batch)
        seeded = False
        c_n, c_rows, c_s, c_mx, c_mn = 0, 0, None, None, None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if not seeded:
                c_n, c_rows, c_s, c_mx, c_mn = prefix.get(
                    int(pdf["__pid"].iloc[0]), (0, 0, None, None, None))
                seeded = True
            x = pdf[value_col].astype("float64")
            # true running non-null count (expanding().count() gates
            # itself on min_periods; the carry math needs the raw count)
            n = x.notna().cumsum().astype("float64") + c_n
            if agg == "count":
                # pandas gates count on ROWS SEEN, not non-null obs
                rows_seen = pd.Series(range(1, len(x) + 1),
                                      index=x.index) + c_rows
                out = n.where(rows_seen >= mp)
            elif agg in ("sum", "mean"):
                # expanding sum is NaN only while the running count is
                # 0 (leading nulls) -> empty sum is 0 for carry combine
                s = x.expanding(1).sum().fillna(0.0) + (0.0 if c_s is None
                                                        else c_s)
                out = (s if agg == "sum" else s / n).where(n >= mp)
            elif agg == "max":
                m = x.expanding(1).max()
                out = m.clip(lower=c_mx) if c_mx is not None else m
                if c_mx is not None:
                    out = out.fillna(c_mx)
                out = out.where(n >= mp)
            else:
                m = x.expanding(1).min()
                out = m.clip(upper=c_mn) if c_mn is not None else m
                if c_mn is not None:
                    out = out.fillna(c_mn)
                out = out.where(n >= mp)
            res = pdf.drop(columns=["__pid"]).copy()
            res[out_col] = out
            # advance the carries past this batch
            c_n += int(x.notna().sum())
            c_rows += len(x)
            bs = x.sum(min_count=1)
            if not pd.isna(bs):
                c_s = bs if c_s is None else c_s + bs
            bmx = x.max()
            if not pd.isna(bmx):
                c_mx = bmx if c_mx is None else max(c_mx, bmx)
            bmn = x.min()
            if not pd.isna(bmn):
                c_mn = bmn if c_mn is None else min(c_mn, bmn)
            yield res

    return base.mapInPandas(pass_b, out_fields)


def _chan_combine(n_a, mean_a, m2_a, n_b, mean_b, m2_b):
    """Chan/Welford parallel combine of (count, mean, M2) moment
    triples — numerically stable (no raw sum-of-squares), vectorized
    over the b-side (the per-row expanding stats of a batch combined
    with one constant prefix carry)."""
    n = n_a + n_b
    delta = mean_b - mean_a
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = np.where(n > 0, mean_a + delta * (n_b / np.where(n, n, 1)),
                        np.nan)
        m2 = m2_a + m2_b + delta * delta * (n_a * n_b
                                            / np.where(n, n, 1))
    return n, mean, m2


def _expanding_moment_scan(sdf: SparkDF, value_col: str, order_cols,
                           agg: str, min_periods: int, out_col: str,
                           num_partitions=None) -> SparkDF:
    """Global ``expanding().var()/.std()`` (ddof=1) as a segmented
    scan.  The carry is a (count, mean, M2) moment triple per
    partition — pass A computes it JVM-side (``avg`` + ``var_samp`` ×
    (n−1)), the driver prefix-folds with Chan's parallel combine, and
    pass B merges each row's batch-local expanding moments with the
    constant carry (vectorized, numerically stable — no raw
    sum-of-squares anywhere).  Gate: non-null count ≥ max(min_periods,
    2) — a single observation has no sample variance (pandas NaN)."""
    order_cols = ([order_cols] if isinstance(order_cols, str)
                  else list(order_cols))
    sdf = _nan_as_null(sdf, [value_col])
    base = _pin(sdf, [F.col(c) for c in order_cols], num_partitions)
    v = F.col(value_col)
    partials = base.groupBy("__pid").agg(
        F.count(v).alias("__n"), F.avg(v).alias("__m"),
        F.var_samp(v).alias("__v2"))
    rows = sorted(partials.collect(), key=lambda r: r["__pid"])
    prefix: dict[int, tuple] = {}
    n_acc, m_acc, m2_acc = 0, 0.0, 0.0
    for r in rows:
        prefix[r["__pid"]] = (n_acc, m_acc, m2_acc)
        nb = r["__n"]
        if nb:
            mb = r["__m"]
            m2b = (r["__v2"] or 0.0) * (nb - 1)
            n_acc, m_acc, m2_acc = (
                x.item() if hasattr(x, "item") else x for x in
                _chan_combine(n_acc, m_acc, m2_acc,
                              np.float64(nb), np.float64(mb),
                              np.float64(m2b)))
    fields = _out_fields(sdf, out_col, "double")
    mp = max(int(min_periods), 2)

    def pass_b(it):
        seeded = False
        c_n, c_m, c_m2 = 0.0, 0.0, 0.0
        for pdf in it:
            if len(pdf) == 0:
                continue
            if not seeded:
                c_n, c_m, c_m2 = prefix.get(
                    int(pdf["__pid"].iloc[0]), (0, 0.0, 0.0))
                c_n, c_m, c_m2 = float(c_n), float(c_m), float(c_m2)
                seeded = True
            x = pdf[value_col].astype("float64")
            n_b = x.notna().cumsum().to_numpy("float64")
            mean_b = x.expanding(1).mean().fillna(0.0).to_numpy()
            m2_b = (x.expanding(1).var()
                    .fillna(0.0).to_numpy()) * np.maximum(n_b - 1, 0)
            n, _mean, m2 = _chan_combine(c_n, c_m, c_m2,
                                         n_b, mean_b, m2_b)
            with np.errstate(invalid="ignore", divide="ignore"):
                var = m2 / (n - 1)
            out = pd.Series(var).where(pd.Series(n >= mp))
            if agg == "std":
                out = np.sqrt(out)
            elif agg == "sem":
                # pandas WINDOW sem divides by sqrt(count - ddof)
                # (rolling.py: std / (count - ddof)**0.5), unlike
                # Series.sem's sqrt(count)
                out = np.sqrt(out) / np.sqrt(n - 1)
            res = pdf.drop(columns=["__pid"]).copy()
            res[out_col] = out
            if n_b[-1] > 0:
                c_n, c_m, c_m2 = (float(a) for a in _chan_combine(
                    c_n, c_m, c_m2, np.float64(n_b[-1]),
                    np.float64(mean_b[-1]), np.float64(m2_b[-1])))
            yield res

    return base.mapInPandas(pass_b, fields)


def rank_scan(sdf: SparkDF, value_col: str, order_cols, method: str,
              ascending: bool, out_col: str = "rank",
              num_partitions=None, pct: bool = False) -> SparkDF:
    """Global ``Series.rank`` as a segmented scan: range-partition on
    the VALUE (ties co-located, so per-partition pandas rank + a
    non-null row-count prefix — distinct-count for ``dense`` — is
    exact), nulls rank null like pandas.  ``order_cols`` is the
    positional tiebreak for ``method='first'``.  ``pct=True`` divides
    by the total non-null count (distinct for ``dense``) — conveniently
    the final prefix accumulator, so it costs nothing extra."""
    if method not in ("average", "min", "max", "first", "dense"):
        raise ValueError(
            f"method must be one of 'average', 'min', 'max', "
            f"'first', 'dense', got {method!r}")
    order_cols = ([order_cols] if isinstance(order_cols, str)
                  else list(order_cols))
    sdf = _nan_as_null(sdf, [value_col])
    v = F.col(value_col)
    val_order = v.asc_nulls_last() if ascending else v.desc_nulls_last()
    part_order = [val_order]
    if method == "first":
        # ties break by position -> safe (and skew-proof) to spread
        # them across partitions on the positional tiebreak
        part_order += [F.col(c) for c in order_cols]
    base = _pin(sdf, part_order, num_partitions)

    use_distinct = method == "dense"
    # only 'dense' needs the per-partition distinct count — don't pay
    # a hash set per partition for the other four methods
    cnt = (F.count_distinct(v) if use_distinct else F.count(v))
    partials = base.groupBy("__pid").agg(cnt.alias("__n"))
    rows = sorted(partials.collect(), key=lambda r: r["__pid"])
    prefix: dict[int, int] = {}
    acc = 0
    for r in rows:
        prefix[r["__pid"]] = acc
        acc += r["__n"]

    out_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in sdf.schema.fields)
    out_fields += f", {out_col} double"

    buffer_methods = method in ("average", "max")
    denom = float(acc)

    def pass_b(it):
        # STREAMING pass B (r7; the old form concatenated the whole
        # partition).  The partition arrives value-sorted (_pin does
        # an in-partition sort), so per-batch pandas rank + running
        # counters is exact, with two boundary repairs:
        #   - 'average'/'max' depend on the FULL tie group, so the
        #     trailing (possibly batch-spanning) tie group is held
        #     back until its value changes — memory bound = one tie
        #     group, not one partition;
        #   - 'min'/'dense' only need the group START: carry the last
        #     value's assigned rank forward and override/shift rows
        #     continuing it ('first' is positional — no repair).
        # Nulls sort last and rank NaN, so a null anywhere in a batch
        # means every non-null group in it is already complete.
        carry = None          # trailing tie-group rows (average/max)
        nn_seen = 0.0         # non-null rows emitted before this slab
        dd_seen = 0.0         # distinct non-null values emitted
        prev_val = None       # last emitted non-null value
        prev_rank = None      # its global rank (min) / dense rank
        off = 0.0

        def finish(slab):
            nonlocal nn_seen, dd_seen, prev_val, prev_rank
            vals = slab[value_col]
            loc = vals.rank(method=method, ascending=ascending)
            if method == "dense":
                base_off = dd_seen
                if prev_val is not None and len(vals) \
                        and vals.iloc[0] == prev_val:
                    base_off -= 1.0  # value already counted
                out = loc + base_off
                nonnull = vals.dropna()
                dd_seen = base_off + (nonnull.nunique() or 0)
            else:
                out = loc + nn_seen
                if method == "min" and prev_val is not None \
                        and len(vals) and vals.iloc[0] == prev_val:
                    out = out.where(vals != prev_val, prev_rank)
                nn_seen += float(vals.notna().sum())
            nonnull = vals.dropna()
            if len(nonnull):
                prev_val = nonnull.iloc[-1]
                if method == "dense":
                    prev_rank = dd_seen
                else:
                    prev_rank = float(
                        out[vals == prev_val].iloc[0])
            res = slab.drop(columns=["__pid"]).copy()
            res[out_col] = ((out + off) / denom if pct
                            else out + off)
            return res

        for pdf in it:
            if not len(pdf):
                continue
            if not off:
                off = float(prefix.get(int(pdf["__pid"].iloc[0]), 0))
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            vals = pdf[value_col]
            if buffer_methods and pd.notna(vals.iloc[-1]):
                pending = vals == vals.iloc[-1]
                if pending.all():
                    carry = pdf  # one giant tie group: keep holding
                    continue
                carry = pdf[pending]
                pdf = pdf[~pending]
            yield finish(pdf)
        if carry is not None and len(carry):
            yield finish(carry)

    return base.mapInPandas(pass_b, out_fields)


def rank_scan_multi(sdf: SparkDF, value_cols, order_cols, method: str,
                    ascending: bool, pct: bool = False, *,
                    out_cols) -> SparkDF:
    """Ranks of every column in ``value_cols``: each column needs its
    OWN value order, so no fused one-shuffle form exists — one
    :func:`rank_scan` per column (k columns -> k range shuffles, no
    single-partition window, no joins: each scan carries the other
    columns through)."""
    for c, oc in zip(value_cols, out_cols):
        sdf = rank_scan(sdf, c, order_cols, method, ascending, oc,
                        pct=pct)
    return sdf


# ---------------------------------------------------------------------------
# border-exchange scans: shift/diff/pct_change/rolling/ffill/bfill
# ---------------------------------------------------------------------------

_MAX_BORDER_ROWS = 5_000_000

_INTEGRAL = ("bigint", "int", "smallint", "tinyint")


def _out_fields(sdf: SparkDF, out_col: str, out_type: str) -> str:
    return (", ".join(f"{f.name} {f.dataType.simpleString()}"
                      for f in sdf.schema.fields)
            + f", {out_col} {out_type}")


def _whole_partition(it):
    """Concatenate a partition's Arrow batches into one frame (border
    verbs need the whole partition: a window can straddle batch
    boundaries).  Memory bound = one partition in pandas form — the
    applyInPandas contract; size num_partitions accordingly."""
    chunks = [pdf for pdf in it if len(pdf)]
    if not chunks:
        return None
    return (chunks[0] if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True))


def _chain_borders(pids, heads, tails, k_before: int, k_after: int):
    """before[pid] = the last ``k_before`` values of everything
    preceding pid; after[pid] = the first ``k_after`` values of
    everything following (chained across short partitions)."""
    before: dict[int, list] = {}
    after: dict[int, list] = {}
    buf: list = []
    for pid in pids:
        before[pid] = buf[-k_before:] if k_before else []
        if k_before:
            buf = (buf + tails.get(pid, []))[-k_before:]
    buf = []
    for pid in reversed(pids):
        after[pid] = buf[:k_after] if k_after else []
        if k_after:
            buf = (heads.get(pid, []) + buf)[:k_after]
    return before, after


def _to_nullable(s: pd.Series, spark_type: str) -> pd.Series:
    """Convert a pandas result to the masked dtype matching the
    declared Spark output type, so nulls round-trip through Arrow."""
    if spark_type in _INTEGRAL:
        return s.astype("Int64")
    if spark_type == "boolean":
        return s.astype("boolean")
    return s


_ROLL_AGGS = ("sum", "mean", "max", "min", "count", "std", "var",
              "median", "sem", "skew", "kurt", "rank")


def _roll_out_type(agg: str, in_type: str) -> str:
    if agg in ("mean", "std", "var", "median", "sem", "skew",
               "kurt", "rank", "apply"):
        return "double"
    if agg == "count":
        return "bigint"
    return in_type  # sum/max/min follow the input like Spark windows


def _roll_one(xf: pd.Series, agg: str, window: int, mp: int,
              integral: bool, apply_fn=None, raw: bool = True):
    """Vectorized rolling aggregate over a border-extended column.
    ``mp`` may be 0 (pandas ``min_periods=0``): sum/count then emit 0
    over windows with no valid observations instead of null."""
    nn = xf.notna().astype("int64").cumsum()
    nwin = nn - nn.shift(window, fill_value=0)
    if agg == "count":
        # pandas gates count on ROWS in the frame, not non-null
        # obs (same as expanding().count()); with borders chained,
        # ext position == global position whenever truncated
        rows_win = pd.Series(
            np.minimum(np.arange(1, len(xf) + 1), window),
            index=xf.index)
        return nwin.astype("float64").where(rows_win >= mp)
    if agg == "sum" and integral:
        # exact int64 path: null -> 0 contributes nothing, the
        # nwin gate restores null frames
        cs = xf.fillna(0.0).astype("int64").cumsum()
        s = cs - cs.shift(window, fill_value=0)
        return s.astype("float64").where(nwin >= max(mp, 1),
                                         0.0 if mp == 0 else np.nan)
    if agg in ("sum", "mean"):
        s = xf.rolling(window, min_periods=1).sum()
        if agg == "sum":
            return s.where(nwin >= max(mp, 1),
                           0.0 if mp == 0 else np.nan)
        return (s / nwin).where(nwin >= max(mp, 1))
    if agg == "apply":
        return xf.rolling(window, min_periods=max(mp, 1)) \
            .apply(apply_fn, raw=raw)
    return getattr(xf.rolling(window, min_periods=max(mp, 1)),
                   agg)()


def rolling_scan_multi(sdf: SparkDF, value_cols, order_cols,
                       window: int, agg: str, min_periods: int | None,
                       *, out_cols, num_partitions=None,
                       apply_fn=None, raw: bool = True) -> SparkDF:
    """Global count-based ``rolling(n).agg()`` as a border-exchange
    segmented scan: one pass ships every column's n-1 border rows
    together, and each partition computes its windows locally after
    prepending them.  Integer sums run exactly in int64 via cumsum
    differences; max/min/std go through float64 (|x| < 2^53 caveat,
    same as the cum* scans).  ``min_periods`` gates on non-null
    observations in the frame (the Spark window ``F.count(c) >= mp``
    contract == pandas).  ``agg='apply'`` evaluates ``apply_fn`` per
    window (pandas ``rolling.apply(raw=)``, double output)."""
    if agg == "apply":
        if apply_fn is None:
            raise ValueError("rolling agg 'apply' needs apply_fn")
    elif agg not in _ROLL_AGGS:
        raise ValueError(f"unsupported rolling agg {agg!r}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    mp = window if min_periods is None else max(int(min_periods), 0)
    base = _pin(sdf, [F.col(c) for c in order_cols], num_partitions)
    in_types = [sdf.schema[c].dataType.simpleString()
                for c in value_cols]
    out_types = [_roll_out_type(agg, t) for t in in_types]
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in sdf.schema.fields)
    fields += "".join(f", {oc} {t}"
                      for oc, t in zip(out_cols, out_types))
    k = window - 1
    if k:
        edges = _collect_edges_multi(base, value_cols, 0, k)
        pids = sorted({p for hs, ts in edges.values()
                       for p in set(hs) | set(ts)})
        before = {c: _chain_borders(pids, *edges[c], k, 0)[0]
                  for c in value_cols}
    else:
        before = {c: {} for c in value_cols}
    integral = [t in _INTEGRAL for t in in_types]

    def pass_b(it):
        pdf = _whole_partition(it)
        if pdf is None:
            return
        pid = int(pdf["__pid"].iloc[0])
        res = pdf.drop(columns=["__pid"]).reset_index(drop=True)
        for c, oc, intg, out_t in zip(value_cols, out_cols,
                                      integral, out_types):
            b = pd.Series(before[c].get(pid, []), dtype="float64")
            xf = pd.concat([b, pdf[c].astype("float64")],
                           ignore_index=True)
            out = _roll_one(xf, agg, window, mp, intg, apply_fn, raw)
            out = out.iloc[len(b):].reset_index(drop=True)
            res[oc] = _to_nullable(out, out_t)
        yield res

    return base.mapInPandas(pass_b, fields)


_TIME_ROLL_UNSAFE = ("rank", "sem", "skew", "kurt")


def rolling_time_scan(sdf: SparkDF, value_col: str, ts_col: str,
                      offset_us: int, agg: str, min_periods: int = 1,
                      out_col: str = "rl",
                      num_partitions=None) -> SparkDF:
    """Global time-offset rolling (``rolling('7D')``) as a segmented
    scan.  ``ts_col`` must be epoch-microseconds (int64); the frame is
    ``(t - offset, t]`` with SQL RANGE semantics on tied timestamps
    (ALL peer rows in the frame — the documented engine contract,
    tested against DuckDB).

    Borders are data-dependent: pass A collects per-partition min
    timestamps (P scalars), then a filter pass ships exactly the rows
    within ``offset`` of a following partition's start (capped at
    ``_MAX_BORDER_ROWS``).  sum/mean/count evaluate via prefix sums +
    searchsorted (integers exact in int64); max/min/std via pandas
    offset rolling with a per-tie-group 'last' broadcast to restore
    peer semantics."""
    if agg not in _ROLL_AGGS:
        raise ValueError(f"unsupported rolling agg {agg!r}")
    if agg in _TIME_ROLL_UNSAFE:
        # rank is a per-ROW statistic: the tie-group 'last' broadcast
        # that restores RANGE peer semantics would silently overwrite
        # per-row ranks on tied timestamps.  sem/skew/kurt would
        # broadcast correctly (per-frame stats) but are refused at
        # the API level and untested here — fail loud rather than
        # silently accept an unexercised path
        raise NotImplementedError(
            f"time-offset rolling {agg!r} is not supported — use a "
            "count-based window")
    mp = max(int(min_periods), 1)
    base = _pin(sdf, [F.col(ts_col)], num_partitions)
    in_type = sdf.schema[value_col].dataType.simpleString()
    out_type = _roll_out_type(agg, in_type)
    fields = _out_fields(sdf, out_col, out_type)
    integral = in_type in _INTEGRAL

    mins = sorted(base.groupBy("__pid").agg(
        F.min(ts_col).alias("mn")).collect(), key=lambda r: r["__pid"])
    pids = [r["__pid"] for r in mins]
    min_ts = {r["__pid"]: r["mn"] for r in mins}
    # a row in partition i can serve partition j>i iff
    # ts > min_ts_j - offset; the easiest to satisfy is j = i+1
    thr = {pids[i]: min_ts[pids[i + 1]] - offset_us
           for i in range(len(pids) - 1)}

    proj = base.select(ts_col, value_col, "__pid")
    proj_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                            for f in proj.schema.fields)

    def cand_pass(it):
        emitted = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if emitted is None:
                emitted = thr.get(int(pdf["__pid"].iloc[0]))
            if emitted is None:
                return  # last partition: nothing follows
            sel = pdf[pdf[ts_col] > emitted]
            if len(sel):
                yield sel

    cands = proj.mapInPandas(cand_pass, proj_schema).collect()
    if len(cands) > _MAX_BORDER_ROWS:
        raise ValueError(
            f"time-offset border exchange would ship {len(cands)} rows "
            f"> {_MAX_BORDER_ROWS}; the offset spans too much data per "
            "partition — use the grouped flavor or a shorter offset")
    cands.sort(key=lambda r: (r["__pid"], r[ts_col]))
    c_pid = np.array([r["__pid"] for r in cands], dtype="int64")
    c_ts = np.array([r[ts_col] for r in cands], dtype="int64")
    c_v = np.array([(np.nan if r[value_col] is None else r[value_col])
                    for r in cands], dtype="float64")
    borders = {}
    for j in pids:
        if min_ts[j] is None:
            continue
        mask = (c_pid < j) & (c_ts > min_ts[j] - offset_us)
        if mask.any():
            borders[j] = (c_ts[mask], c_v[mask])

    def pass_b(it):
        pdf = _whole_partition(it)
        if pdf is None:
            return
        pid = int(pdf["__pid"].iloc[0])
        bts, bv = borders.get(pid, (np.empty(0, "int64"),
                                    np.empty(0, "float64")))
        nb = len(bts)
        ts = np.concatenate([bts, pdf[ts_col].to_numpy("int64")])
        xv = np.concatenate([bv,
                             pdf[value_col].astype("float64").to_numpy()])
        right = np.searchsorted(ts, ts, side="right")
        left = np.searchsorted(ts, ts - offset_us, side="right")
        ok = ~np.isnan(xv)
        ncum = np.concatenate([[0], np.cumsum(ok.astype("int64"))])
        nwin = ncum[right] - ncum[left]
        # count gates on ROWS in the frame (pandas contract); the
        # other aggs gate on non-null observations
        gate = (right - left) if agg == "count" else nwin
        if agg in ("sum", "mean", "count"):
            if integral:
                scum = np.concatenate(
                    [[0], np.cumsum(np.where(ok, xv, 0.0)
                                    .astype("int64"))])
            else:
                scum = np.concatenate(
                    [[0], np.cumsum(np.where(ok, xv, 0.0))])
            swin = (scum[right] - scum[left]).astype("float64")
            if agg == "count":
                out = nwin.astype("float64")
            elif agg == "sum":
                out = swin
            else:
                with np.errstate(invalid="ignore"):
                    out = swin / nwin
        else:
            s = pd.Series(xv, index=pd.to_datetime(ts, unit="us"))
            r = s.rolling(pd.Timedelta(microseconds=offset_us),
                          min_periods=1)
            val = getattr(r, agg)()
            # pandas cuts a tie group at the current ROW; SQL RANGE
            # includes all peers — the last row of each tie group sees
            # the full SQL frame, so broadcast it over the group
            out = val.groupby(level=0).transform("last").to_numpy()
        out = pd.Series(out).where(pd.Series(gate >= mp))
        out = out.iloc[nb:].reset_index(drop=True)
        res = pdf.drop(columns=["__pid"]).reset_index(drop=True)
        res[out_col] = _to_nullable(out, out_type)
        yield res

    return base.mapInPandas(pass_b, fields)


def _interp_fill(x: pd.Series, pos: np.ndarray, prev, nxt,
                 limit_direction: str, limit):
    """Vectorized linear interpolation of the null holes in ``x``
    (float64) at abscissae ``pos``, seeded with the cross-partition
    carries ``prev``/``nxt`` = (position, value) tuples or None.

    The fill expression tree is pinned to
    ``pv + (nv - pv) / (np - pp) * (p - pp)`` (left-assoc, plain IEEE
    doubles, no FMA) so a SQL oracle evaluating the same tree is
    bit-identical — the driver-leg contract."""
    notna = x.notna().to_numpy()
    posf = pos.astype("float64")
    pv = pd.Series(np.where(notna, x, np.nan)).ffill()
    pp = pd.Series(np.where(notna, posf, np.nan)).ffill()
    nv = pd.Series(np.where(notna, x, np.nan)).bfill()
    npos = pd.Series(np.where(notna, posf, np.nan)).bfill()
    if prev is not None:
        pp = pp.fillna(float(prev[0]))
        pv = pv.fillna(float(prev[1]))
    if nxt is not None:
        npos = npos.fillna(float(nxt[0]))
        nv = nv.fillna(float(nxt[1]))
    with np.errstate(divide="ignore", invalid="ignore"):
        interp = pv + (nv - pv) / (npos - pp) * (posf - pp)
    fill = np.where(nv.isna(), pv,
                    np.where(pv.isna(), nv, interp))
    dist_f = pd.Series(posf) - pp   # NaN when no prev neighbor
    dist_b = npos - pd.Series(posf)
    has_p, has_n = pv.notna(), nv.notna()
    elig_f = has_p if limit is None else has_p & (dist_f <= limit)
    elig_b = has_n if limit is None else has_n & (dist_b <= limit)
    if limit_direction == "forward":
        elig = elig_f
    elif limit_direction == "backward":
        elig = elig_b
    else:
        elig = elig_f | elig_b
    out = np.where(notna, x, np.where(elig, fill, np.nan))
    return pd.Series(out)


def interpolate_scan_multi(sdf: SparkDF, value_cols, order_cols,
                           limit_direction: str = "forward",
                           limit=None, *, out_cols,
                           num_partitions=None) -> SparkDF:
    """Global ``interpolate(method='linear')`` in ONE segmented scan:
    the carry is TWO (position, value) scalars PER COLUMN per
    partition (first/last non-null + global offsets), chained on the
    driver — so k columns cost one range shuffle and one pass, not k.
    Pass B needs the whole partition (a null run's filler can live in
    a later Arrow batch — the bfill contract).

    pandas semantics (differential-tested): interior holes get the
    linear interpolation between neighbors, edge holes the nearest
    value constant; ``limit_direction`` gates which holes fill
    ('forward' leaves leading nulls, 'backward' trailing, 'both'
    neither) and ``limit`` caps the fill distance from the allowed
    direction(s).  Output is always double (pandas promotes)."""
    if limit_direction not in ("forward", "backward", "both"):
        raise ValueError(
            "limit_direction must be 'forward', 'backward' or 'both', "
            f"got {limit_direction!r}")
    if limit is not None and (not isinstance(limit, int) or limit < 1):
        raise ValueError(f"limit must be a positive integer, "
                         f"got {limit!r}")
    base = _pin(sdf, [F.col(c) for c in order_cols], num_partitions)
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in sdf.schema.fields)
    fields += "".join(f", {oc} double" for oc in out_cols)

    # pass A: per-partition row count + per-column first/last
    # non-null (local offset, value) — 4k+1 scalars per partition
    proj = base.select(*value_cols, "__pid")
    pschema = "__pid int, n_rows long" + "".join(
        f", f_off_{j} long, f_v_{j} double, l_off_{j} long, "
        f"l_v_{j} double" for j in range(len(value_cols)))

    def partials_pass(it):
        pid, n = None, 0
        k = len(value_cols)
        f_off = [None] * k
        f_v = [None] * k
        l_off = [None] * k
        l_v = [None] * k
        for pdf in it:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            for j, c in enumerate(value_cols):
                x = pdf[c].astype("float64")
                nn = x.dropna()
                if len(nn):
                    if f_off[j] is None:
                        f_off[j] = n + int(nn.index[0])
                        f_v[j] = float(nn.iloc[0])
                    l_off[j] = n + int(nn.index[-1])
                    l_v[j] = float(nn.iloc[-1])
            n += len(pdf)
        if pid is not None:
            row = {"__pid": [pid], "n_rows": [n]}
            for j in range(k):
                row[f"f_off_{j}"] = [f_off[j]]
                row[f"f_v_{j}"] = [f_v[j]]
                row[f"l_off_{j}"] = [l_off[j]]
                row[f"l_v_{j}"] = [l_v[j]]
            yield pd.DataFrame(row)

    rows = sorted(proj.mapInPandas(partials_pass, pschema).collect(),
                  key=lambda r: r["__pid"])
    k = len(value_cols)
    start: dict[int, int] = {}
    prev: dict[int, list] = {}
    off = 0
    last_nn = [None] * k
    for r in rows:
        start[r["__pid"]] = off
        prev[r["__pid"]] = list(last_nn)
        for j in range(k):
            if r[f"l_off_{j}"] is not None:
                last_nn[j] = (off + r[f"l_off_{j}"], r[f"l_v_{j}"])
        off += r["n_rows"]
    nxt: dict[int, list] = {}
    next_nn = [None] * k
    for r in reversed(rows):
        nxt[r["__pid"]] = list(next_nn)
        for j in range(k):
            if r[f"f_off_{j}"] is not None:
                next_nn[j] = (start[r["__pid"]] + r[f"f_off_{j}"],
                              r[f"f_v_{j}"])

    def pass_b(it):
        pdf = _whole_partition(it)
        if pdf is None:
            return
        pid = int(pdf["__pid"].iloc[0])
        res = pdf.drop(columns=["__pid"]).reset_index(drop=True)
        pos = np.arange(len(pdf), dtype="int64") + start.get(pid, 0)
        pv = prev.get(pid, [None] * k)
        nv = nxt.get(pid, [None] * k)
        for j, (c, oc) in enumerate(zip(value_cols, out_cols)):
            x = pdf[c].astype("float64").reset_index(drop=True)
            res[oc] = _interp_fill(x, pos, pv[j], nv[j],
                                   limit_direction, limit)
        yield res

    return base.mapInPandas(pass_b, fields)


def cum_scan_multi(sdf: SparkDF, value_cols, order_cols, op: str, *,
                   out_cols, num_partitions=None) -> SparkDF:
    """Global cumulative ``op`` (sum/prod/max/min) over every column
    in ``value_cols`` in ONE fused segmented scan: one range shuffle,
    one partial-aggregate pass (all columns' partials in a single JVM
    aggregate), one mapInPandas pass with an independent scalar carry
    per column — k columns cost what one costs, plus k scalars per
    partition on the driver.  pandas NaN-hole semantics: null rows
    stay null, the running value skips them."""
    if op not in _CUM_OPS:
        raise ValueError(f"unknown cum op {op!r}")
    agg_fn, local_scan, combine, batch_partial = _CUM_OPS[op]
    sdf = _nan_as_null(sdf, value_cols)
    base = _pin(sdf, [F.col(c) for c in order_cols], num_partitions)

    partials = base.groupBy("__pid").agg(
        *[agg_fn(F.col(c)).alias(f"__agg_{j}")
          for j, c in enumerate(value_cols)])
    ptypes = dict(partials.dtypes)
    out_types = [ptypes[f"__agg_{j}"] for j in range(len(value_cols))]
    rows = sorted(partials.collect(), key=lambda r: r["__pid"])
    fold = _CUM_FOLD[op]
    prefix: dict[int, list] = {}
    acc: list = [None] * len(value_cols)
    for r in rows:
        prefix[r["__pid"]] = list(acc)
        for j in range(len(value_cols)):
            v = r[f"__agg_{j}"]
            if v is not None:
                acc[j] = v if acc[j] is None else fold(acc[j], v)

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in sdf.schema.fields)
    fields += "".join(f", {oc} {t}"
                      for oc, t in zip(out_cols, out_types))
    integral = [t in _INTEGRAL for t in out_types]

    def pass_b(it):
        seeded = False
        carry = [None] * len(value_cols)
        for pdf in it:
            if len(pdf) == 0:
                continue
            if not seeded:
                carry = list(prefix.get(int(pdf["__pid"].iloc[0]),
                                        [None] * len(value_cols)))
                seeded = True
            res = pdf.drop(columns=["__pid"]).copy()
            for j, (c, oc) in enumerate(zip(value_cols, out_cols)):
                x = pdf[c]
                loc = local_scan(x)
                out = (loc if carry[j] is None
                       else combine(loc, carry[j]))
                if integral[j]:
                    out = out.astype("Int64")
                res[oc] = out
                part = batch_partial(x)
                if not pd.isna(part):
                    carry[j] = (part if carry[j] is None
                                else _CUM_FOLD[op](carry[j], part))
            yield res

    return base.mapInPandas(pass_b, fields)


def _collect_edges_multi(base: SparkDF, value_cols, k_head: int,
                         k_tail: int):
    """One pass over the pinned layout emitting every column's
    first/last k rows together.  Returns ``{col: (heads, tails)}``,
    each a dict pid -> list of values in partition order."""
    n_part = base.rdd.getNumPartitions()
    need = (k_head + k_tail) * max(n_part, 1)
    if need > _MAX_BORDER_ROWS:
        # the estimate over-counts when partitions hold fewer than k
        # rows (a huge shift on a small frame is all-null in pandas,
        # not an error) — fall back to the ACTUAL row count before
        # refusing
        total = base.count()
        if total > _MAX_BORDER_ROWS:
            raise ValueError(
                f"border exchange would collect ~{need} rows per "
                f"column > {_MAX_BORDER_ROWS}; use the grouped "
                "flavor or fewer, larger partitions for windows "
                "this wide")
    value_cols = list(value_cols)
    proj = base.select(*value_cols, "__pid")
    schema = ", ".join(
        f"{c} {base.schema[c].dataType.simpleString()}"
        for c in value_cols) + ", __pid int, __edge string, __ord long"

    def edge_pass(it):
        head, tail, got_head = [], [], 0
        for pdf in it:
            if len(pdf) == 0:
                continue
            if got_head < k_head:
                take = pdf.iloc[:k_head - got_head]
                head.append(take)
                got_head += len(take)
            if k_tail:
                tail.append(pdf.iloc[-k_tail:])
                while (len(tail) > 1
                       and sum(map(len, tail[1:])) >= k_tail):
                    tail.pop(0)
        out = []
        if head:
            h = (head[0] if len(head) == 1
                 else pd.concat(head, ignore_index=True)).copy()
            h["__edge"] = "h"
            out.append(h)
        if tail:
            t = (pd.concat(tail, ignore_index=True)
                 .iloc[-k_tail:].copy())
            t["__edge"] = "t"
            out.append(t)
        if out:
            res = pd.concat(out, ignore_index=True)
            res["__ord"] = range(len(res))
            yield res

    edges = {c: ({}, {}) for c in value_cols}
    rows = proj.mapInPandas(edge_pass, schema).collect()
    rows.sort(key=lambda r: (r["__pid"], r["__edge"], r["__ord"]))
    for r in rows:
        for c in value_cols:
            heads, tails = edges[c]
            d = heads if r["__edge"] == "h" else tails
            d.setdefault(r["__pid"], []).append(r[c])
    return edges


def shift_delta_scan_multi(sdf: SparkDF, value_cols, order_cols,
                           periods: int = 1, kind: str = "shift",
                           fill_value=None, *, out_cols,
                           num_partitions=None) -> SparkDF:
    """Global shift / diff / pct_change over every column in
    ``value_cols`` in ONE fused border-exchange scan: one range
    shuffle, one edge pass shipping every column's k border rows
    together, one mapInPandas pass.  ``diff`` keeps integer inputs
    exact (masked Int64); ``pct`` is always double with IEEE division
    (x/0 -> inf), matching the engine's truediv contract."""
    if kind not in ("shift", "diff", "pct"):
        raise ValueError(
            f"kind must be 'shift', 'diff' or 'pct', got {kind!r}")
    base = _pin(sdf, [F.col(c) for c in order_cols], num_partitions)
    in_types = [sdf.schema[c].dataType.simpleString()
                for c in value_cols]
    out_types = (in_types if kind in ("shift", "diff")
                 else ["double"] * len(value_cols))
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in sdf.schema.fields)
    fields += "".join(f", {oc} {t}"
                      for oc, t in zip(out_cols, out_types))
    k_before, k_after = max(periods, 0), max(-periods, 0)
    edges = _collect_edges_multi(base, value_cols, k_after, k_before)
    pids = sorted({p for hs, ts in edges.values()
                   for p in set(hs) | set(ts)})
    chained = {c: _chain_borders(pids, *edges[c], k_before, k_after)
               for c in value_cols}

    def pass_b(it):
        pdf = _whole_partition(it)
        if pdf is None:
            return
        pid = int(pdf["__pid"].iloc[0])
        res = pdf.drop(columns=["__pid"]).reset_index(drop=True)
        for c, oc, in_t, out_t in zip(value_cols, out_cols,
                                      in_types, out_types):
            before, after = chained[c]
            if kind == "pct":
                x = pdf[c].astype("float64")
            else:
                x = _to_nullable(pdf[c], in_t)
            b = pd.Series(before.get(pid, []), dtype=x.dtype)
            a = pd.Series(after.get(pid, []), dtype=x.dtype)
            ext = pd.concat([b, x, a], ignore_index=True)
            if kind == "shift":
                out = (ext.shift(periods) if fill_value is None
                       else ext.shift(periods, fill_value=fill_value))
            elif kind == "diff":
                # Series.diff, not ext - ext.shift(): subtraction
                # raises on boolean dtypes where pandas diff XORs
                out = ext.diff(periods)
            else:
                with np.errstate(divide="ignore", invalid="ignore"):
                    out = ext / ext.shift(periods) - 1.0
            out = (out.iloc[len(b):len(b) + len(x)]
                   .reset_index(drop=True))
            res[oc] = _to_nullable(out, out_t)
        yield res

    return base.mapInPandas(pass_b, fields)


def rolling_pair_scan(sdf: SparkDF, xcol: str, ycol: str, order_cols,
                      window: int, stat: str, min_periods: int,
                      out_col: str = "pair",
                      num_partitions=None) -> SparkDF:
    """Global rolling corr/cov of TWO columns via the border
    exchange: both columns' k border rows travel together
    (one edge pass), pandas computes the pairwise statistic
    partition-locally.  ``min_periods`` gates on complete PAIRS
    (both sides non-null), the pandas contract."""
    if stat not in ("corr", "cov"):
        raise ValueError(f"stat must be 'corr' or 'cov', got {stat!r}")
    order_cols = ([order_cols] if isinstance(order_cols, str)
                  else list(order_cols))
    base = _pin(sdf, [F.col(c) for c in order_cols], num_partitions)
    fields = _out_fields(sdf, out_col, "double")
    k = window - 1
    edges = _collect_edges_multi(base, [xcol, ycol], 0, k)
    pids = sorted({p for hs, ts in edges.values()
                   for p in set(hs) | set(ts)})
    chained = {c: _chain_borders(pids, *edges[c], k, 0)
               for c in (xcol, ycol)}

    def pass_b(it):
        pdf = _whole_partition(it)
        if pdf is None:
            return
        pid = int(pdf["__pid"].iloc[0])
        bx = pd.Series(chained[xcol][0].get(pid, []), dtype="float64")
        by = pd.Series(chained[ycol][0].get(pid, []), dtype="float64")
        x = pd.concat([bx, pdf[xcol].astype("float64")],
                      ignore_index=True)
        y = pd.concat([by, pdf[ycol].astype("float64")],
                      ignore_index=True)
        r = (x.rolling(window, min_periods=min_periods).corr(y)
             if stat == "corr"
             else x.rolling(window, min_periods=min_periods).cov(y))
        out = r.iloc[len(bx):].reset_index(drop=True)
        res = pdf.drop(columns=["__pid"]).reset_index(drop=True)
        res[out_col] = out
        yield res

    return base.mapInPandas(pass_b, fields)


def fill_scan_multi(sdf: SparkDF, value_cols, order_cols,
                    direction: str = "ffill", limit=None, *, out_cols,
                    num_partitions=None) -> SparkDF:
    """Global ffill/bfill: every column's one-scalar carry travels in
    a single partials row (one range shuffle, one partials pass, one
    fill pass for k columns).

    ``limit=`` (pandas: cap on consecutive fills) extends the carry to
    (value, age) per column, where age = rows between the carried
    valid value and the partition border — so a null run spanning
    partitions fills exactly its first ``limit`` positions, same as
    single-node pandas."""
    if direction not in ("ffill", "bfill"):
        raise ValueError(
            f"direction must be 'ffill' or 'bfill', got {direction!r}")
    if limit is not None and (not isinstance(limit, int)
                              or isinstance(limit, bool) or limit < 1):
        raise ValueError(
            f"Limit must be a positive integer, got {limit!r}")
    base = _pin(sdf, [F.col(c) for c in order_cols], num_partitions)
    in_types = [sdf.schema[c].dataType.simpleString()
                for c in value_cols]
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in sdf.schema.fields)
    fields += "".join(f", {oc} {t}"
                      for oc, t in zip(out_cols, in_types))
    proj = base.select(*value_cols, "__pid")
    pschema = "__pid int, n bigint" + "".join(
        f", f{j} {t}, l{j} {t}, lead{j} bigint, trail{j} bigint"
        for j, t in enumerate(in_types))

    def partials_pass(it):
        pid = None
        n = 0
        first = [None] * len(value_cols)
        last = [None] * len(value_cols)
        lead = [0] * len(value_cols)   # nulls before the first valid
        trail = [0] * len(value_cols)  # nulls after the last valid
        for pdf in it:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            n += len(pdf)
            for j, c in enumerate(value_cols):
                mask = pdf[c].notna().to_numpy()
                nz = np.flatnonzero(mask)
                if len(nz):
                    vals = pdf[c].iloc[nz]
                    if first[j] is None:
                        first[j] = vals.iloc[0]
                        lead[j] += int(nz[0])
                    last[j] = vals.iloc[-1]
                    trail[j] = len(pdf) - int(nz[-1]) - 1
                else:
                    if first[j] is None:
                        lead[j] += len(pdf)
                    trail[j] += len(pdf)
        if pid is not None:
            row = {"__pid": [pid], "n": [n]}
            for j in range(len(value_cols)):
                row[f"f{j}"] = [first[j]]
                row[f"l{j}"] = [last[j]]
                row[f"lead{j}"] = [lead[j]]
                row[f"trail{j}"] = [trail[j]]
            yield pd.DataFrame(row)

    rows = sorted(proj.mapInPandas(partials_pass, pschema).collect(),
                  key=lambda r: r["__pid"])
    # carry[pid][j] = (value, age): value = nearest valid beyond the
    # border in fill direction, age = rows between it and the border
    carry: dict[int, list] = {}
    acc = [(None, 0)] * len(value_cols)
    seq = rows if direction == "ffill" else list(reversed(rows))
    edge = "l" if direction == "ffill" else "f"
    run = "trail" if direction == "ffill" else "lead"
    for r in seq:
        carry[r["__pid"]] = list(acc)
        for j in range(len(value_cols)):
            v = r[f"{edge}{j}"]
            if v is not None:
                acc[j] = (v, int(r[f"{run}{j}"]))
            else:
                acc[j] = (acc[j][0], acc[j][1] + int(r["n"]))

    def pass_b(it):
        if direction == "ffill":
            seeded = False
            run = [(None, 0)] * len(value_cols)
            for pdf in it:
                if len(pdf) == 0:
                    continue
                if not seeded:
                    run = list(carry.get(int(pdf["__pid"].iloc[0]),
                                         [(None, 0)] * len(value_cols)))
                    seeded = True
                res = pdf.drop(columns=["__pid"]).copy()
                for j, (c, oc, t) in enumerate(zip(value_cols,
                                                   out_cols,
                                                   in_types)):
                    x = _to_nullable(pdf[c], t)
                    y = x.ffill(limit=limit)
                    rv, age = run[j]
                    mask = x.notna().to_numpy()
                    nz = np.flatnonzero(mask)
                    head = int(nz[0]) if len(nz) else len(x)
                    if rv is not None and head:
                        # the null run governing the batch head began
                        # `age` rows before this batch; only its first
                        # `limit` positions fill
                        k = (head if limit is None
                             else max(0, min(head, limit - age)))
                        if k:
                            y.iloc[:k] = rv
                    if len(nz):
                        run[j] = (x.iloc[nz[-1]],
                                  len(x) - int(nz[-1]) - 1)
                    else:
                        run[j] = (rv, age + len(x))
                    res[oc] = _to_nullable(y, t)
                yield res
        else:
            pdf = _whole_partition(it)
            if pdf is None:
                return
            fill = carry.get(int(pdf["__pid"].iloc[0]),
                             [(None, 0)] * len(value_cols))
            res = pdf.drop(columns=["__pid"]).reset_index(drop=True)
            for j, (c, oc, t) in enumerate(zip(value_cols, out_cols,
                                               in_types)):
                x = _to_nullable(pdf[c], t)
                y = x.bfill(limit=limit)
                rv, age = fill[j]
                mask = x.notna().to_numpy()
                nz = np.flatnonzero(mask)
                tail = (len(x) - int(nz[-1]) - 1 if len(nz)
                        else len(x))
                if rv is not None and tail:
                    k = (tail if limit is None
                         else max(0, min(tail, limit - age)))
                    if k:
                        y.iloc[len(x) - k:] = rv
                res[oc] = _to_nullable(y, t)
            yield res

    return base.mapInPandas(pass_b, fields)


def _chan_combine_pair(n_a, mx_a, my_a, cxy_a, m2x_a, m2y_a,
                       n_b, mx_b, my_b, cxy_b, m2x_b, m2y_b):
    """Bivariate Chan combine: (count, mean_x, mean_y, co-moment Cxy,
    M2x, M2y) over pairwise-complete observations — the cross term is
    ``dx·dy·na·nb/n`` (Bennett's update), vectorized over the b-side."""
    n = n_a + n_b
    dx = mx_b - mx_a
    dy = my_b - my_a
    with np.errstate(invalid="ignore", divide="ignore"):
        nz = np.where(n, n, 1)
        w = n_a * n_b / nz
        mx = np.where(n > 0, mx_a + dx * (n_b / nz), np.nan)
        my = np.where(n > 0, my_a + dy * (n_b / nz), np.nan)
        cxy = cxy_a + cxy_b + dx * dy * w
        m2x = m2x_a + m2x_b + dx * dx * w
        m2y = m2y_a + m2y_b + dy * dy * w
    return n, mx, my, cxy, m2x, m2y


def expanding_pair_scan(sdf: SparkDF, xcol: str, ycol: str,
                        order_cols, stat: str, min_periods: int,
                        out_col: str = "pair",
                        num_partitions=None) -> SparkDF:
    """Global ``expanding().corr/cov(other)`` as a segmented scan: the
    carry is ONE six-scalar co-moment tuple per partition (count,
    means, Cxy, M2x, M2y over pairwise-complete rows), JVM partials in
    pass A, bivariate Chan prefix-fold on the driver, vectorized
    combine in pass B — no single-partition window, numerically
    stable (no raw cross-products)."""
    if stat not in ("corr", "cov"):
        raise ValueError(f"stat must be 'corr' or 'cov', got {stat!r}")
    order_cols = ([order_cols] if isinstance(order_cols, str)
                  else list(order_cols))
    sdf = _nan_as_null(sdf, [xcol, ycol])
    base = _pin(sdf, [F.col(c) for c in order_cols], num_partitions)
    x = F.col(xcol).cast("double")
    y = F.col(ycol).cast("double")
    both = x.isNotNull() & y.isNotNull()
    xp = F.when(both, x)
    yp = F.when(both, y)
    partials = base.groupBy("__pid").agg(
        F.count(xp).alias("__n"),
        F.avg(xp).alias("__mx"), F.avg(yp).alias("__my"),
        F.covar_samp(xp, yp).alias("__cv"),
        F.var_samp(xp).alias("__vx"), F.var_samp(yp).alias("__vy"))
    rows = sorted(partials.collect(), key=lambda r: r["__pid"])
    prefix: dict[int, tuple] = {}
    acc = (0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    for r in rows:
        prefix[r["__pid"]] = acc
        nb = r["__n"]
        if nb:
            scale = max(nb - 1, 0)
            acc = tuple(
                float(v.item() if hasattr(v, "item") else v)
                for v in _chan_combine_pair(
                    *acc, np.float64(nb),
                    np.float64(r["__mx"]), np.float64(r["__my"]),
                    np.float64((r["__cv"] or 0.0) * scale),
                    np.float64((r["__vx"] or 0.0) * scale),
                    np.float64((r["__vy"] or 0.0) * scale)))
    fields = _out_fields(sdf, out_col, "double")
    mp = max(int(min_periods), 2)

    def pass_b(it):
        seeded = False
        carry = (0.0,) * 6
        for pdf in it:
            if len(pdf) == 0:
                continue
            if not seeded:
                carry = tuple(float(v) for v in prefix.get(
                    int(pdf["__pid"].iloc[0]), (0.0,) * 6))
                seeded = True
            xv = pdf[xcol].astype("float64")
            yv = pdf[ycol].astype("float64")
            pair = xv.notna() & yv.notna()
            xm = xv.where(pair)
            ym = yv.where(pair)
            n_b = pair.cumsum().to_numpy("float64")
            mx_b = xm.expanding(1).mean().ffill().fillna(0.0) \
                .to_numpy()
            my_b = ym.expanding(1).mean().ffill().fillna(0.0) \
                .to_numpy()
            scale = np.maximum(n_b - 1, 0)
            cxy_b = (xm.expanding(2).cov(ym).ffill().fillna(0.0)
                     .to_numpy()) * scale
            m2x_b = (xm.expanding(2).var().ffill().fillna(0.0)
                     .to_numpy()) * scale
            m2y_b = (ym.expanding(2).var().ffill().fillna(0.0)
                     .to_numpy()) * scale
            n, _mx, _my, cxy, m2x, m2y = _chan_combine_pair(
                *carry, n_b, mx_b, my_b, cxy_b, m2x_b, m2y_b)
            with np.errstate(invalid="ignore", divide="ignore"):
                if stat == "cov":
                    val = cxy / (n - 1)
                else:
                    denom = np.sqrt(m2x * m2y)
                    val = np.where(denom > 0, cxy / denom, np.nan)
            out = pd.Series(val).where(pd.Series(n >= mp))
            res = pdf.drop(columns=["__pid"]).copy()
            res[out_col] = out
            if n_b[-1] > 0:
                carry = tuple(float(v.item() if hasattr(v, "item")
                                    else v)
                              for v in _chan_combine_pair(
                                  *carry, np.float64(n_b[-1]),
                                  np.float64(mx_b[-1]),
                                  np.float64(my_b[-1]),
                                  np.float64(cxy_b[-1]),
                                  np.float64(m2x_b[-1]),
                                  np.float64(m2y_b[-1])))
            yield res

    return base.mapInPandas(pass_b, fields)
