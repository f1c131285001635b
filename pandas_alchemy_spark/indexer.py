"""Indexers: ``.iat`` (reference pandas_alchemy/indexer.py:1-21) plus
beyond-reference ``.loc`` / ``.iloc``.

``.iloc[slice]`` is a rowid range filter — on a positional frame the
predicate lands on the synthesized rowid: one per-partition count
collect, then a narrow filter, no shuffle.  ``.loc`` supports
boolean-mask rows (in-plan filter) and label rows (index equality
filter), each optionally with a column list / single column."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import internal as I
from .operators.rowid import with_rowid


class _iLocIndexer:
    def __init__(self, obj):
        self._obj = obj

    def __getitem__(self, key):
        obj = self._obj
        cols = None
        if isinstance(key, tuple):
            key, cols = key
        if isinstance(key, int):
            if obj.ndim == 1:
                return obj._get_value(key, takeable=True)
            if isinstance(cols, int):
                return obj._get_value(key, cols, takeable=True)
            key = slice(key, key + 1 if key != -1 else None)
        if isinstance(key, list):
            out = self._take_rows(key)
            if cols is not None and obj.ndim == 2:
                if isinstance(cols, int):
                    out = out._seq_at(cols)
                elif isinstance(cols, slice):
                    out = out[list(obj._columns[cols])]
                else:
                    out = out[[obj._columns[c] if isinstance(c, int)
                               else c for c in cols]]
            return out
        if not isinstance(key, slice):
            raise NotImplementedError(
                "iloc supports integers, slices and lists")
        if key.step is not None and key.step < 1:
            # a negative step REVERSES row order, which conflicts with
            # the positional export contract (row order is index
            # order); reverse client-side after to_pandas instead
            raise NotImplementedError("iloc slice with negative step")
        out = self._slice_rows(key)
        if cols is not None and obj.ndim == 2:
            if isinstance(cols, int):
                out = out._seq_at(cols)
            elif isinstance(cols, slice):
                out = out[list(obj._columns[cols])]
            else:
                out = out[[obj._columns[c] if isinstance(c, int) else c
                           for c in cols]]
        return out

    def _take_rows(self, positions: list):
        """``iloc[[i, j, ...]]`` / ``take`` — a rowid IN filter (one
        membership predicate, no shuffle).  Rows come back in INDEX
        order, not list order (the engine's standing row-order
        contract); negative positions count from the end."""
        obj = self._obj
        if not all(isinstance(p, int) for p in positions):
            raise TypeError("iloc list entries must be integers")
        if any(p < 0 for p in positions):
            n = len(obj)
            positions = [p + n if p < 0 else p for p in positions]
        new = obj._shallow_copy()
        new._to_index_order()
        new._sdf = with_rowid(new._sdf, I.ROWID).filter(
            F.col(I.ROWID).isin([int(p) for p in positions])) \
            .drop(I.ROWID)
        return new

    def _slice_rows(self, sl: slice):
        obj = self._obj
        start, stop = sl.start, sl.stop
        if (start is not None and start < 0) or (stop is not None and stop < 0):
            # negative bounds need the row count (same trade the
            # reference makes for tail, generic.py:50-57)
            n = len(obj)
            start = None if start is None else max(0, start + n) if start < 0 else start
            stop = None if stop is None else max(0, stop + n) if stop < 0 else stop
        new = obj._shallow_copy()
        new._to_index_order()
        cond = None
        if start:
            cond = F.col(I.ROWID) >= start
        if stop is not None:
            c = F.col(I.ROWID) < stop
            cond = c if cond is None else (cond & c)
        if sl.step is not None and sl.step > 1:
            c = F.pmod(F.col(I.ROWID) - F.lit(start or 0),
                       F.lit(sl.step)) == 0
            cond = c if cond is None else (cond & c)
        if cond is not None:
            new._sdf = with_rowid(new._sdf, I.ROWID).filter(cond) \
                .drop(I.ROWID)
        return new


class _LocIndexer:
    def __init__(self, obj):
        self._obj = obj

    def __getitem__(self, key):
        from .core import Series
        obj = self._obj
        cols = None
        if isinstance(key, tuple):
            key, cols = key
        if isinstance(key, Series):
            if obj.ndim != 2:
                raise NotImplementedError("loc mask on Series")
            out = obj[key]
        elif isinstance(key, slice) and key == slice(None):
            out = obj
        elif isinstance(key, slice):
            # label range (pandas loc slice: INCLUSIVE both ends;
            # meaningful on a sorted index) — a pushdown-eligible
            # range filter, no row numbering
            if key.step not in (None, 1):
                raise NotImplementedError("loc slice step")
            new = obj._shallow_copy()
            idx = new._sdf[I.idx_name(0)]
            cond = None
            if key.start is not None:
                cond = idx >= key.start
            if key.stop is not None:
                c = idx <= key.stop
                cond = c if cond is None else (cond & c)
            if cond is not None:
                new._sdf = new._sdf.filter(cond)
            out = new
        else:
            # label row selection: index equality filter
            labels = key if isinstance(key, list) else [key]
            new = obj._shallow_copy()
            new._sdf = new._sdf.filter(
                new._sdf[I.idx_name(0)].isin(labels))
            out = new
        if cols is not None and obj.ndim == 2:
            out = out[cols if isinstance(cols, list) else cols]
        return out


class _AtIndexer:
    """``.at[label]`` / ``.at[label, col]`` — label-scalar access: an
    index-equality filter (pushdown-eligible) + a bounded take(2); 0
    matches -> KeyError, >1 -> ValueError, like pandas."""

    def __init__(self, obj):
        self._obj = obj

    def __getitem__(self, key):
        obj = self._obj
        if obj.ndim == 2:
            if not isinstance(key, tuple) or len(key) != 2:
                raise ValueError(
                    "Invalid call for scalar access (getting)!")
            label, col = key
            ser = obj[col].loc[[label]]
        else:
            label = key
            ser = obj.loc[[label]]
        rows = ser._sdf.select(ser._the_col.alias("v")).take(2)
        if not rows:
            raise KeyError(label)
        if len(rows) > 1:
            raise ValueError(
                "Invalid call for scalar access (getting)!")
        return rows[0]["v"]


class _iAtIndexer:
    def __init__(self, obj):
        self._obj = obj

    def __getitem__(self, key):
        if self._obj.ndim == 2:
            if not isinstance(key, tuple) or len(key) != 2:
                raise ValueError("Invalid call for scalar access (getting)!")
            row, col = key
            if not isinstance(row, int) or not isinstance(col, int):
                raise ValueError("iAt based indexing can only have integer indexers")
            return self._obj._get_value(row, col, takeable=True)
        if not isinstance(key, int):
            raise ValueError("iAt based indexing can only have integer indexers")
        return self._obj._get_value(key, takeable=True)
