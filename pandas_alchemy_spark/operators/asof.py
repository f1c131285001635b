"""As-of (nearest-key) join — a custom operator the reference lacks
(SURVEY.md §2.4: equi-joins only) but every time-series/feature-store
workload needs: for each left row, the most recent right row at or
before (``backward``) / the earliest at or after (``forward``) its
timestamp, per key group.

Spark has no ASOF JOIN operator.  The naive encodings are a range
join (O(n·m) per key — explodes at scale) or a per-key collect
(driver-bound).  This implementation is the scalable *union + window*
form:

1. tag left rows and right rows, pack each side's payload in a struct;
2. UNION the two tagged streams;
3. one window ``partitionBy(keys).orderBy(time, tag)`` carries the
   last-seen right payload forward (``last(..., ignorenulls=True)``);
4. keep only left rows and unpack.

Cost: ONE shuffle on the join keys (same as any keyed join), per-row
O(1) state — no range explosion, no skew beyond the key's own row
count.  This is the standard streaming-systems formulation of as-of
join (a keyed ordered merge), and the plan is whole-stage-codegen
eligible end-to-end.

Ties on (key, time) within the right side are resolved by last-wins in
``tiebreak`` order if given, else nondeterministically — pass a unique
``tiebreak`` column or pre-aggregate the right side for deterministic
output (the driver query does the latter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import Window
from pyspark.sql import functions as F

_TAG = "__asof_tag"
_PAYLOAD = "__asof_payload"


def asof_join(left: SparkDF, right: SparkDF, on: str,
              by: str | list[str] | None = None,
              direction: str = "backward",
              allow_exact_matches: bool = True,
              right_cols: list[str] | None = None,
              suffix: str = "_right",
              tiebreak: str | None = None) -> SparkDF:
    """pandas ``merge_asof`` semantics on Spark DataFrames.

    Returns all left rows + the matched right payload columns (NULL
    when no right row qualifies).  ``on`` must be orderable (timestamp
    or numeric) and present in both sides under the same name.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    by = [by] if isinstance(by, str) else list(by or [])
    if right_cols is None:
        right_cols = [c for c in right.columns if c != on and c not in by]
    out_names = {}
    for c in right_cols:
        out_names[c] = c + suffix if c in left.columns else c

    # left rows sort AFTER right rows at equal time when exact matches
    # are allowed (so the window sees the equal-time right row), and
    # BEFORE when they aren't.  For "forward" the scan direction flips,
    # so the tag order flips with it.
    left_tag, right_tag = (1, 0) if allow_exact_matches else (0, 1)
    if direction == "forward":
        left_tag, right_tag = 1 - left_tag, 1 - right_tag

    payload = F.struct(*[F.col(c) for c in right_cols])
    lhs = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(left_tag).alias(_TAG),
        F.lit(None).cast(
            right.select(payload.alias("p")).schema["p"].dataType
        ).alias(_PAYLOAD))
    rhs_cols = [F.lit(None).cast(left.schema[c].dataType).alias(c)
                if c not in by and c != on else F.col(c)
                for c in left.columns]
    rhs = right.select(*rhs_cols, F.lit(right_tag).alias(_TAG),
                       payload.alias(_PAYLOAD))

    order = [F.col(on).asc(), F.col(_TAG).asc()]
    if tiebreak is not None:
        # right-side tiebreak rides inside the payload.  It must come
        # AFTER the tag: the tag alone decides left-vs-right placement
        # at equal times (the allow_exact_matches contract); the
        # tiebreak only disambiguates right-vs-right ties.  Placing it
        # before the tag would sort left rows (NULL payload,
        # nulls_last) after equal-time right rows even when
        # allow_exact_matches=False.
        order.append(F.col(_PAYLOAD)[tiebreak].asc_nulls_last()
                     if direction == "backward"
                     else F.col(_PAYLOAD)[tiebreak].desc_nulls_last())
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(*order)
    if direction == "backward":
        w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        fill = F.last(_PAYLOAD, ignorenulls=True).over(w)
    else:
        w = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        fill = F.first(_PAYLOAD, ignorenulls=True).over(w)

    merged = rhs.unionByName(lhs).withColumn(_PAYLOAD, fill)
    out = merged.filter(F.col(_TAG) == left_tag)
    return out.select(
        *[F.col(c) for c in left.columns],
        *[F.col(_PAYLOAD)[c].alias(out_names[c]) for c in right_cols])


def merge_asof(left, right, on: str, by=None, direction: str = "backward",
               allow_exact_matches: bool = True, suffix: str = "_right"):
    """Façade-level merge_asof: takes two engine DataFrames, returns an
    engine DataFrame (positional index, like merge)."""
    import pandas as pd

    from .. import internal as I
    from ..core import DataFrame

    lsdf = left.to_spark(index=False)
    rsdf = right.to_spark(index=False)
    joined = asof_join(lsdf, rsdf, on=on, by=by, direction=direction,
                       allow_exact_matches=allow_exact_matches,
                       suffix=suffix)
    labels = joined.columns
    sel = [F.monotonically_increasing_id().alias(I.idx_name(0))]
    sel += [F.col(c).alias(I.col_name(j)) for j, c in enumerate(labels)]
    return DataFrame(pd.Index((None,)), pd.Index(labels),
                     joined.select(*sel))._fresh_mid()
