"""Custom stateful streaming operators (applyInPandasWithState) and
built-in session windows.

The reference has no streaming surface (SURVEY.md §2.10); these are the
Spark-native extensions the build plan mandates for event pipelines:

- :func:`stateful_user_totals` — running per-user aggregates via
  ``applyInPandasWithState``: state lives in the state store (RocksDB/
  HDFS-backed on a cluster), keyed by user, Arrow batches per trigger.
  The canonical template for any custom accumulator Spark's built-in
  aggregates can't express.
- :func:`session_windows_stream` — session windows via the built-in
  ``F.session_window`` (gap-based), watermark-bounded state, the scale
  path for streaming sessionization (the batch twin is
  ``ext.events.sessionize``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

USER_TOTALS_SCHEMA = "user_id long, n_events long, total_value double"
_STATE_SCHEMA = "n long, total double"


def _update_user_totals(key, pdf_iter, state: GroupState):
    """Accumulate (count, sum) for one user across triggers.  State is
    a (n, total) tuple; each trigger folds its Arrow batches in and
    emits the new running totals."""
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]],
                        "n_events": [n],
                        "total_value": [round(total, 4)]})


def stateful_user_totals(stream: DataFrame) -> DataFrame:
    """Running per-user (n_events, total_value) as an update stream."""
    return (stream.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=USER_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout))


def session_windows_stream(stream: DataFrame, gap: str = "30 minutes",
                           watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization with the built-in session_window: state
    is merged per (user, overlapping-window) and dropped once the
    watermark passes the session end — bounded state at any scale."""
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"),
                     F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "sum_value"))


EWM_SCHEMA = "user_id long, ewm_value double"
_EWM_STATE_SCHEMA = "num double, den double"


def stateful_ewm(stream: DataFrame, alpha: float = 0.25) -> DataFrame:
    """Streaming twin of ``operators/scan.ewm_mean(by=user_id)``:
    per-user exponentially-weighted mean of ``value``, adjust=True.

    State per user is the (num, den) pair of the unnormalized weighted
    sums — two doubles, O(1) regardless of how many events a user ever
    produced, folded exactly like the batch segmented scan folds its
    per-partition carries: num' = num * w^k + batch_tail.  Events are
    ordered by ts within each trigger; across triggers arrival order
    is the stream order (the same contract as every streaming
    aggregate here).  Null values are DROPPED — the batch twin
    declares nulls unsupported (filter first), and dropping keeps the
    two contracts aligned instead of silently pulling means toward an
    imputed 0."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(
            f"alpha must satisfy 0 < alpha <= 1, got {alpha!r}")
    w = 1.0 - alpha

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            num, den = state.get
        else:
            num, den = 0.0, 0.0
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts", kind="mergesort")
            x = pdf["value"].astype("float64").dropna()
            k = len(x)
            if k == 0:
                continue
            mean = x.ewm(alpha=alpha, adjust=True).mean()
            local_den = (1.0 - w ** k) / (1.0 - w)
            local_num = float(mean.iloc[-1]) * local_den
            decay = w ** k
            num = num * decay + local_num
            den = den * decay + local_den
        state.update((num, den))
        yield pd.DataFrame({"user_id": [key[0]],
                            "ewm_value": [num / den if den else None]})

    return (stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=EWM_SCHEMA,
        stateStructType=_EWM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout))


GAP_FILL_SCHEMA = ("event_id long, user_id long, ts timestamp, "
                   "value_filled double")
_FILL_STATE_SCHEMA = "last_v double"


def stateful_gap_fill(stream: DataFrame) -> DataFrame:
    """Streaming twin of ``df.groupby(user)[value].ffill()``: null
    values fill with the user's LAST non-null value, across triggers.

    State per user is ONE scalar (the running last non-null) — the
    same carry the batch segmented scan ships per partition
    (operators/segscan.fill_scan_multi), so batch and streaming agree row
    for row on a time-ordered stream.  Rows are emitted as they
    arrive, once each (the update-mode declaration is what
    applyInPandasWithState requires for per-trigger emission; rows
    are never revised); leading nulls before a user's first
    observation stay null, exactly like the batch verb."""
    def update(key, pdf_iter, state: GroupState):
        last = state.get[0] if state.exists else None
        out = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts", kind="mergesort")
            x = pdf["value"].astype("float64")
            y = x.ffill()
            if last is not None:
                y = y.fillna(last)
            nn = x.dropna()
            if len(nn):
                last = float(nn.iloc[-1])
            out.append(pd.DataFrame({
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "ts": pdf["ts"],
                "value_filled": y}))
        if last is not None:
            state.update((last,))
        for f in out:
            yield f

    return (stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=GAP_FILL_SCHEMA,
        stateStructType=_FILL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout))


ROLLING_SCHEMA = ("event_id long, user_id long, ts timestamp, "
                  "roll_mean double")
_ROLL_STATE_SCHEMA = "tail array<double>"


def stateful_rolling_mean(stream: DataFrame, window: int = 3,
                          min_periods: int | None = None) -> DataFrame:
    """Streaming twin of
    ``df.groupby(user)[value].rolling(n).mean()``: each user's last
    ``n-1`` values persist across triggers, so windows straddle
    trigger boundaries exactly like the batch border-exchange scan's
    windows straddle partitions.

    State per user is a BOUNDED array of n-1 doubles (the same k-row
    border the batch scan ships); a time-ordered stream reproduces
    the batch verb row for row.  Nulls count as missing observations
    (min_periods gates on non-null, the pandas contract)."""
    if not isinstance(window, int) or isinstance(window, bool) \
            or window < 1:
        raise ValueError(f"window must be a positive int, "
                         f"got {window!r}")
    mp = window if min_periods is None else max(int(min_periods), 1)
    k = window - 1

    def update(key, pdf_iter, state: GroupState):
        tail = list(state.get[0]) if state.exists else []
        out = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts", kind="mergesort")
            x = pdf["value"].astype("float64")
            ext = pd.concat([pd.Series(tail, dtype="float64"), x],
                            ignore_index=True)
            r = ext.rolling(window, min_periods=mp).mean()
            # numpy arrays, NOT Series: pdf's index is the post-sort
            # permutation while the rolling result has a fresh range
            # index — the DataFrame constructor would align the two
            # indexes and pair sorted-order means with original-order
            # event_ids (silently swapped rows on any out-of-ts-order
            # batch)
            out.append(pd.DataFrame({
                "event_id": pdf["event_id"].to_numpy(),
                "user_id": pdf["user_id"].to_numpy(),
                "ts": pdf["ts"].to_numpy(),
                "roll_mean": r.iloc[len(tail):].to_numpy()}))
            if k:
                tail = ext.iloc[-k:].tolist()
        if k:
            state.update((tail,))
        for f in out:
            yield f

    return (stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=ROLLING_SCHEMA,
        stateStructType=_ROLL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout))
