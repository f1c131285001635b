"""GenericMixin — verbs shared by DataFrame and Series.

Mirrors reference pandas_alchemy/generic.py:7-96: len/shape/size/empty,
head/tail, isna/notna family, abs/round, pipe, bool, the index property,
plus the internal per-column appliers ``_app``/``_cast``, and the thin
verbs whose body is the same for both (copy, take, truncate,
at_time/between_time, to_numpy, ...).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from . import internal as I
from .utils import copied


class GenericMixin:
    # -- cardinality (materializing) --------------------------------------

    def __len__(self) -> int:
        # SELECT count(*) (reference generic.py:8-10); Spark count() is
        # a distributed aggregate, no data to the driver.
        return self._sdf.count()

    @property
    def empty(self) -> bool:
        # reference generic.py:12-14; head(1) beats count() at scale.
        return len(self._sdf.take(1)) == 0

    @property
    def size(self) -> int:
        return len(self) * (self._n_cols() if self.ndim == 2 else 1)

    @property
    def shape(self) -> tuple:
        if self.ndim == 2:
            return (len(self), self._n_cols())
        return (len(self),)

    @property
    def index(self) -> pd.Index:
        """Materialize index values (reference generic.py:24-29)."""
        n = self._n_idx()
        pdf = self._sdf.select([I.idx_name(i) for i in range(n)]).toPandas()
        if n > 1:
            idx = pd.MultiIndex.from_frame(pdf)
            idx.names = list(self._index)
            return idx
        idx = pd.Index(self._index_labels(pdf.iloc[:, 0]))
        idx.name = self._index[0]
        return idx

    def __bool__(self) -> bool:
        # 1x1 frame -> its scalar, must be bool (reference generic.py:35-44).
        if self.ndim == 2 and self._n_cols() != 1:
            raise ValueError(
                f"The truth value of a {type(self).__name__} is ambiguous. "
                "Use a.empty, a.bool(), a.item(), a.any() or a.all().")
        rows = self._sdf.take(2)
        if len(rows) != 1:
            raise ValueError(
                f"The truth value of a {type(self).__name__} is ambiguous. "
                "Use a.empty, a.bool(), a.item(), a.any() or a.all().")
        value = rows[0][I.col_name(0)]
        if not isinstance(value, bool):
            raise ValueError(
                f"bool cannot act on a non-boolean single element "
                f"{type(self).__name__}")
        return value

    def bool(self) -> bool:
        return self.__bool__()

    # -- limits ------------------------------------------------------------

    @copied
    def head(self, n: int = 5) -> None:
        # LIMIT n (reference generic.py:46-48).  When the plan was
        # reordered under a positional index (window verbs, joins) the
        # limit must follow index order or head() returns different
        # rows than to_pandas()'s first rows — orderBy+limit compiles
        # to TakeOrderedAndProject, a one-pass top-k, never a full
        # sort.  The common scan path keeps the early-exit LIMIT.
        # Negative n: all rows but the last |n| (pandas contract).
        if n < 0:
            self.__dict__.update(self.iloc[:n].__dict__)
            return
        if self._positional_reordered():
            self._sdf = self._sdf.orderBy(
                F.col(I.idx_name(0)).asc()).limit(n)
        else:
            self._sdf = self._sdf.limit(n)

    @copied
    def tail(self, n: int = 5) -> None:
        """Last n rows, as one lazy top-n: the reference's count() +
        LIMIT/OFFSET (generic.py:50-57) becomes a TakeOrderedAndProject
        in the final query, and the verb itself runs no job (except the
        count pass that densifies a monotonic mid, which keeps pandas'
        positional labels).  When the labels are unique positions (a
        densified mid) or the plan was reordered away from index order,
        the top n by index descending are the last rows.  Otherwise the
        last rows are the last in plan order — labels may repeat (after
        ``explode`` or ``concat``) — so each row is tagged with its
        monotonically_increasing_id (plan order, partition by
        partition), the top n tags taken and re-sorted ascending.
        Negative n: all rows but the first |n| (pandas contract)."""
        if n < 0:
            self.__dict__.update(self.iloc[-n:].__dict__)
            return
        by_label = self._mid_index or self._positional_reordered()
        if self._mid_index:
            self._to_index_order()
        if by_label and self._positional_export():
            self._sdf = self._sdf.orderBy(
                F.col(I.idx_name(0)).desc()).limit(n)
            self._carry(reordered=True)  # plan is desc; export resorts
        else:
            tag = F.col(I.ROWID)
            self._sdf = (self._sdf
                         .withColumn(I.ROWID, F.monotonically_increasing_id())
                         .orderBy(tag.desc()).limit(n)
                         .orderBy(tag.asc()).drop(I.ROWID))

    # -- per-column appliers ----------------------------------------------

    def _cast(self, new_type):
        # CAST every data column (reference generic.py:59-62).
        return self._app(lambda c: c.cast(new_type),
                         new_type if isinstance(new_type, DataType) else None)

    @copied
    def _app(self, func, dtype: DataType | None = None) -> None:
        # apply a scalar expression fn to every data column
        # (reference generic.py:64-67); a Series that is an expression
        # over its root becomes fn of that expression, of type ``dtype``
        # when the caller knows it
        lineage = getattr(self, "_lineage", None)
        if lineage is not None:
            self._lineage = lineage.derive(func(lineage.expr), dtype)
            return
        self._sdf = self._project(
            self._idx_cols(), [func(c) for c in self._data_cols()])

    # -- NA / scalar functions --------------------------------------------

    def isna(self):
        return self._app(lambda c: c.isNull())  # reference generic.py:69-71

    def notna(self):
        return self._app(lambda c: c.isNotNull())  # reference generic.py:73-75

    isnull = isna  # reference generic.py:92
    notnull = notna  # reference generic.py:93

    def abs(self):
        return self._app(F.abs)  # reference generic.py:77-79

    def round(self, decimals: int = 0):
        return self._app(lambda c: F.round(c, decimals))  # generic.py:81-83

    def swaplevel(self, i=-2, j=-1):
        """Swap two index levels (MultiIndex) — a projection reorder +
        metadata swap, no data movement."""
        pi, pj = self._level_of(i), self._level_of(j)
        names = list(self._index)
        names[pi], names[pj] = names[pj], names[pi]
        order = list(range(len(names)))
        order[pi], order[pj] = order[pj], order[pi]
        new = self._shallow_copy()
        sel = [new._idx_at(k).alias(I.idx_name(m))
               for m, k in enumerate(order)]
        sel += [new._col_at(c) .alias(I.col_name(c))
                for c in range(new._n_cols())]
        new._sdf = new._sdf.select(*sel)
        new._index = pd.Index(names)
        return new

    def droplevel(self, level):
        """Drop one index level — projection + metadata removal."""
        p = self._level_of(level)
        if len(self._index) < 2:
            raise ValueError(
                "Cannot remove 1 levels from an index with 1 levels: "
                "at least one level must be left.")
        names = [n for k, n in enumerate(self._index) if k != p]
        new = self._shallow_copy()
        keep = [k for k in range(len(self._index)) if k != p]
        sel = [new._idx_at(k).alias(I.idx_name(m))
               for m, k in enumerate(keep)]
        sel += [new._col_at(c).alias(I.col_name(c))
                for c in range(new._n_cols())]
        new._sdf = new._sdf.select(*sel)
        new._index = pd.Index(names)
        return new

    def replace(self, to_replace, value=None):
        """pandas replace with a scalar pair or dict mapping — a CASE
        ladder per column (codegen; applied to every data column)."""
        items = (list(to_replace.items()) if isinstance(to_replace, dict)
                 else [(to_replace, value)])

        def fn(c):
            out = c
            for k, v in items:
                out = F.when(c == F.lit(k), F.lit(v)).otherwise(out)
            return out
        return self._app(fn)

    # -- thin verbs (one body for frame and Series) -----------------------

    def aggregate(self, *args, **kwargs):
        return self.agg(*args, **kwargs)

    def copy(self, deep=True):
        """A new handle over the same (immutable) plan — plans never
        mutate, so pandas' deep/shallow distinction vanishes."""
        return self._shallow_copy()

    def divide(self, other, fill_value=None):
        return self.div(other, fill_value=fill_value)

    def multiply(self, other, fill_value=None):
        return self.mul(other, fill_value=fill_value)

    def subtract(self, other, fill_value=None):
        return self.sub(other, fill_value=fill_value)

    def convert_dtypes(self):
        """No-op: the engine is already typed (Spark schema)."""
        return self

    def rename_axis(self, name):
        """Rename the index level(s) — metadata only."""
        names = [name] if not isinstance(name, list) else name
        if len(names) != self._n_idx():
            raise ValueError(
                f"Length of new names must be {self._n_idx()}, "
                f"got {len(names)}")
        new = self._shallow_copy()
        new._index = pd.Index(names)
        return new

    # -- index-range filters -------------------------------------------------

    def truncate(self, before=None, after=None):
        """Rows with index label in [before, after] — an in-plan
        range predicate (parquet-pushable on a sorted index)."""
        idx = self._idx_at(0)
        cond = F.lit(True)
        if before is not None:
            cond = cond & (idx >= F.lit(before))
        if after is not None:
            cond = cond & (idx <= F.lit(after))
        new = self._shallow_copy()
        new._sdf = self._sdf.filter(cond)
        return new

    def at_time(self, time_str: str):
        """Rows whose (datetime) index is exactly at a time of day —
        in-plan predicate."""
        return self._time_of_day_filter(time_str, time_str)

    def between_time(self, start: str, end: str):
        """Rows whose time-of-day falls in [start, end] (inclusive) —
        in-plan predicate; a wrapped range (end < start) selects the
        overnight complement, like pandas."""
        return self._time_of_day_filter(start, end)

    def _time_of_day_filter(self, start: str, end: str):
        t = self._idx_dtypes()[0].simpleString()
        if not t.startswith("timestamp"):
            raise TypeError(
                f"at_time/between_time need a DatetimeIndex, got {t}")
        tod = F.date_format(self._idx_at(0).cast("timestamp"),
                            "HH:mm:ss")

        def norm(s):
            parts = s.split(":")
            while len(parts) < 3:
                parts.append("00")
            return ":".join(p.zfill(2) for p in parts)

        lo, hi = norm(start), norm(end)
        cond = ((tod >= F.lit(lo)) & (tod <= F.lit(hi)) if lo <= hi
                else (tod >= F.lit(lo)) | (tod <= F.lit(hi)))
        new = self._shallow_copy()
        new._sdf = self._sdf.filter(cond)
        return new

    def take(self, positions):
        """Positional row selection — ``iloc[[...]]`` (a rowid IN
        filter; rows come back in index order, the engine's standing
        row-order contract)."""
        return self.iloc[list(positions)]

    # -- materializers -------------------------------------------------------

    def to_numpy(self):
        """Materializer: collect to a numpy array."""
        return self.to_pandas().to_numpy()

    @property
    def values(self):
        return self.to_numpy()

    def to_string(self, *args, **kwargs):
        """Materializer: collect and render via pandas."""
        return self.to_pandas().to_string(*args, **kwargs)

    # -- plumbing ----------------------------------------------------------

    def explain(self, mode: str = "formatted"):
        """Print the Spark plan for this frame (convenience passthrough
        — audit helpers live in :mod:`pandas_alchemy_spark.plans`)."""
        self._sdf.explain(mode=mode)

    def pipe(self, func, *args, **kwargs):
        # reference generic.py:85-90
        if isinstance(func, tuple):
            func, target = func
            if target in kwargs:
                raise ValueError(f"{target} is both the pipe target and a keyword argument")
            kwargs[target] = self
            return func(*args, **kwargs)
        return func(self, *args, **kwargs)
