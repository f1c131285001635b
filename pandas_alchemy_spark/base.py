"""BaseFrame — the shared representation behind DataFrame and Series.

The reference's frame is a triple ``(_index, _columns, _cte)``
(reference base.py:6-23): label metadata client-side, data as a lazy
relational query addressed positionally.  Ours is the same triple with
the CTE replaced by a lazy PySpark DataFrame whose columns follow the
reserved layout of :mod:`..internal` — index levels first, then data
columns, exactly the reference's positional convention (base.py:18-23)
— plus one immutable :class:`IndexState` (``_state``): what the index
column holds and whether the plan's row order is the one export shows.
Only this module creates or changes that state; verbs name one of its
transitions (``_carry``, ``_fresh_mid``, ``_join_state``,
``_impose_order``).

All alignment joins (the reference's internal machinery for pandas
index alignment, base.py:64-128) are implemented here as Spark joins:

- full-outer equi-join on index equality for single×single alignment
  (base.py:72-84) — native ``full_outer``; the reference's LEFT JOIN ∪
  anti-join polyfill (dialect.py:52-56) is unnecessary;
- left join on one level for single×multi (base.py:86-102);
- name-inferred level resolution (base.py:104-116) with the same
  refusal errors for multi×multi;
- positional paste-join via scalable rowids (base.py:118-128).

Everything is a plan rewrite; only ``_fetch``/``__len__``-style calls
execute.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass, replace

import pandas as pd
from pyspark.sql import Column, DataFrame as SparkDF
from pyspark.sql import functions as F

from . import internal as I
from .operators.rowid import with_rowid
from .utils import wrap

# IndexState.mid
DENSE, MONOTONIC = "dense", "monotonic"
# IndexState.order
INDEX, REORDERED, EXPLICIT = "index", "reordered", "explicit"


@dataclass(frozen=True)
class IndexState:
    """What a frame's index column holds, and which row order export
    shows.  Each part is one field with one value, so a dense flag
    without a mid, or a reordered plan under an explicit order, cannot
    be written down; the one cross-field rule (only a monotonic mid
    has an origin) is checked at construction.

    **The mid** (``mid``) — a *provisional* rowid in ``__idx_0`` instead
    of real labels:

    - ``None``: the index column holds real labels.
    - ``MONOTONIC``: a ``monotonically_increasing_id`` captured at scan
      time — unique, order-correlated, NOT contiguous.  The contiguous
      0-based values the reference synthesizes eagerly
      (``row_number() OVER () - 1``, alchemy.py:332-334) are produced
      only when index values become observable: export (ranked
      client-side on the fetched rows), positional access, or
      alignment against a value-indexed frame (``_densify``, one
      O(#partitions) count pass).  This keeps a plain
      scan->project->agg pipeline free of rowid jobs — the
      100 TB-relevant property (no count pass, no broadcast join
      under every query).  ``origin`` is its identity token: the ids
      encode partition layout, so raw values are comparable only
      between frames minted by the SAME scan (file scans are
      deterministically partitioned within a session, so a file-set
      key works across re-reads of the same path).  Frames derived
      from one another share the token through ``_carry``.  ``None``
      means "never directly comparable" — alignment densifies.
    - ``DENSE``: TRUE file positions (parquet ``_metadata.row_index``
      on a single-file scan).  The mid IS the pandas RangeIndex, so no
      densify pass is ever needed (densify is a metadata flip), and
      export keeps the raw values — after a filter that yields pandas'
      sparse original labels exactly, where ranked monotonic mids
      would renumber.  Dense mids are comparable across any two scans
      and carry no origin.

    Positional access (tail/iloc) numbers rows after
    ``_to_index_order``, which densifies any mid; ``iat`` numbers the
    plan's rows directly.

    **The row order** (``order``):

    - ``INDEX``: row order IS index order.  Export of a positional
      frame (see ``_positional_export``) re-sorts the fetched rows by
      the index client-side, which makes the materialized order immune
      to plan-level reordering (window partitionBy, join shuffles) —
      something the reference never faced, because its RDBMS never
      reordered single-table scans (SURVEY.md §2.6 "no ORDER BY is
      ever emitted").
    - ``REORDERED``: as ``INDEX``, but a verb may have moved rows in
      the PLAN away from index order (window evaluation sorts by
      value/key, joins shuffle).  Export re-sorts anyway; the
      positional accessors (head/tail/iloc/iat) read this through
      ``_positional_reordered`` and re-sort plan-side first, so they
      return the rows export shows.  A plain scan->project->filter
      stays ``INDEX``, so ``head()`` stays an early-exit LIMIT (no
      full-scan TakeOrdered under every repr).
    - ``EXPLICIT``: the user imposed a row order (sort_values,
      sort_index, nlargest, value_counts, part-major concat, or a
      non-default index on ingest): export and positional access
      follow PLAN order.

    **Transitions** — verbs never set fields; they name one of these
    (the ``BaseFrame`` methods that apply them):

    - *carry* (``_carry``): the result keeps its source's state — any
      verb that keeps plan order (projection, in-plan filter,
      mapInPandas).  ``reordered=True`` marks the plan reordered; an
      explicit order is then lost, so the result falls back to index
      order (window verbs, joins, shuffles).
    - *fresh mid* (``_fresh_mid``): a new monotonic mid with a new
      origin token (merge, groupby.apply, concat(ignore_index),
      reset_index, merge_asof, ...), or a scan's mid.
    - *joined* (``_join_state``): two aligned frames joined on their
      index.  The mid survives only when the pair joined on raw mids
      (both dense, or monotonic of one origin); the plan is reordered.
    - *streamed* (``_streamed``): our rows streamed through a join
      against a small other side (a pasted list, an update or lookup
      table).  They stay in plan order when that side broadcasts, but
      a shuffle join moves them: an explicit order is kept (it has
      nothing better to fall back to), an index order is marked
      reordered.
    - *explicit* (``_impose_order``): a sort verb.
    - ``_densify`` drops the mid; ``_to_index_order`` re-sorts a
      reordered plan back to index order (``_in_export_order`` on a
      copy)."""

    mid: str | None = None
    origin: object = None
    order: str = INDEX

    def __post_init__(self):
        if self.mid not in (None, DENSE, MONOTONIC):
            raise ValueError(f"unknown mid kind {self.mid!r}")
        if self.order not in (INDEX, REORDERED, EXPLICIT):
            raise ValueError(f"unknown row order {self.order!r}")
        if self.origin is not None and self.mid != MONOTONIC:
            raise ValueError("only a monotonic mid has an origin")

    @property
    def reordered(self) -> bool:
        return self.order == REORDERED

    def comparable(self, other: "IndexState") -> bool:
        """True when both mids' raw values join directly."""
        if self.mid is None or self.mid != other.mid:
            return False
        return self.mid == DENSE or (self.origin is not None
                                     and self.origin == other.origin)

    def reorder(self) -> "IndexState":
        return replace(self, order=REORDERED)

    def streamed(self) -> "IndexState":
        return self if self.order == EXPLICIT else self.reorder()

    def joined(self, other: "IndexState") -> "IndexState":
        if self.comparable(other):
            return IndexState(self.mid, self.origin, REORDERED)
        return IndexState(order=REORDERED)


#: Spark DataFrame -> its schema.  A Dataset's schema is fixed when it
#: is created, but PySpark fetches it from the JVM on every ``.schema``
_SCHEMAS = weakref.WeakKeyDictionary()


def schema_of(sdf: SparkDF):
    """``sdf.schema``, fetched once per Spark DataFrame object."""
    schema = _SCHEMAS.get(sdf)
    if schema is None:
        schema = _SCHEMAS[sdf] = sdf.schema
    return schema


class BaseFrame:
    ndim: int

    _state = IndexState()

    def __init__(self, index: pd.Index, columns: pd.Index | None, sdf: SparkDF):
        # index: pd.Index of *level names* (values live in the plan),
        # reference base.py:9-12.
        self._index = index
        self._columns = columns
        self._sdf = sdf

    # -- structure ---------------------------------------------------------

    @property
    def _is_mindex(self) -> bool:
        return len(self._index) > 1  # reference base.py:14-16

    def _n_idx(self) -> int:
        return len(self._index)

    def _n_cols(self) -> int:
        return len(self._columns) if self._columns is not None else 1

    def _idx_cols(self) -> list[Column]:
        return [self._sdf[I.idx_name(i)] for i in range(self._n_idx())]

    def _data_cols(self) -> list[Column]:
        return [self._sdf[I.col_name(i)] for i in range(self._n_cols())]

    def _col_at(self, i: int) -> Column:
        # position -1 = the NULL column injected for unmatched labels
        # (reference base.py:42-46 -> sa Null()).
        if i == -1:
            return F.lit(None)
        return self._sdf[I.col_name(i)]

    def _idx_at(self, i: int) -> Column:
        return self._sdf[I.idx_name(i)]

    def _dtypes(self) -> list:
        """Spark dtypes of the data columns, positional."""
        schema = schema_of(self._sdf)
        return [schema[I.col_name(i)].dataType for i in range(self._n_cols())]

    def _idx_dtypes(self) -> list:
        schema = schema_of(self._sdf)
        return [schema[I.idx_name(i)].dataType for i in range(self._n_idx())]

    def _shallow_copy(self):
        new = object.__new__(type(self))
        new.__dict__.update(self.__dict__)
        return new

    # -- index state (IndexState transitions; each returns self) ----------

    @property
    def _mid_index(self) -> bool:
        return self._state.mid is not None

    @property
    def _mid_dense(self) -> bool:
        return self._state.mid == DENSE

    def _carry(self, src: "BaseFrame | None" = None,
               reordered: bool = False) -> "BaseFrame":
        """Take ``src``'s index state (default: keep our own), marking
        the plan reordered when asked."""
        state = (self if src is None else src)._state
        self._state = state.reorder() if reordered else state
        return self

    def _fresh_mid(self, dense: bool = False,
                   origin: object = None) -> "BaseFrame":
        """A new mid in ``__idx_0``; a monotonic one gets ``origin`` or
        a token of its own."""
        if dense:
            self._state = IndexState(DENSE)
        else:
            self._state = IndexState(
                MONOTONIC, object() if origin is None else origin)
        return self

    def _streamed(self) -> "BaseFrame":
        """Our rows went through a join against a small other side."""
        self._state = self._state.streamed()
        return self

    def _join_state(self, a: "BaseFrame", b: "BaseFrame") -> "BaseFrame":
        """The state of ``a`` index-joined with ``b``."""
        self._state = a._state.joined(b._state)
        return self

    def _impose_order(self) -> "BaseFrame":
        """Export and positional access follow plan order from now on."""
        self._state = replace(self._state, order=EXPLICIT)
        return self

    def _level_of(self, level) -> int:
        """Resolve a level name/position (reference base.py:25-37)."""
        if isinstance(level, int):
            n = self._n_idx()
            i = wrap(level, n)
            if not 0 <= i < n:
                raise IndexError(
                    f"Too many levels: Index has only {n} level(s), "
                    f"{level} is not a valid level number")
            return i
        if level in list(self._index):
            return list(self._index).index(level)
        raise KeyError(f"Level {level} not found")

    # -- canonical select --------------------------------------------------

    def _project(self, idx_exprs: list[Column], data_exprs: list[Column]) -> SparkDF:
        """Re-emit the reserved positional layout from arbitrary
        expressions — every verb funnels through here, so the layout
        invariant holds everywhere."""
        sel = [e.alias(I.idx_name(i)) for i, e in enumerate(idx_exprs)]
        sel += [e.alias(I.col_name(i)) for i, e in enumerate(data_exprs)]
        return self._sdf.select(*sel)

    # -- rowid -------------------------------------------------------------

    def _add_rowid(self, sdf: SparkDF, name: str = I.ROWID) -> SparkDF:
        """Positional rowid for paste-joins (reference base.py:58-62) —
        scalable partition-offset variant, not a global window."""
        return with_rowid(sdf, name)

    def _value_at(self, row: int, col: int):
        """Scalar at positional (row, data column ``col``) — the ``iat``
        body of DataFrame and Series (reference alchemy.py:146-163,
        374-383): a rowid filter + take(1) rather than LIMIT/OFFSET.
        ``len()`` runs only for a negative row, or to build pandas'
        out-of-range message once take(1) comes back empty."""
        size = len(self) if row < 0 else None
        pos = row if size is None else row + size
        rows = []
        if pos >= 0:
            body = self._sdf
            if self._positional_reordered():
                body = body.orderBy(F.col(I.idx_name(0)).asc())
            rows = (with_rowid(body, I.ROWID)
                    .filter(F.col(I.ROWID) == pos)
                    .select(I.col_name(col)).take(1))
        if not rows:
            size = len(self) if size is None else size
            raise IndexError(f"index {row} is out of bounds for "
                             f"axis 0 with size {size}")
        return rows[0][0]

    def _densify(self) -> None:
        """Replace a provisional mid-index with contiguous 0-based
        rowids in current physical order (one O(#partitions) count
        pass).  Mirrors the reference's on-demand rowid re-synthesis
        (base.py:58-62).  In place; no-op without a mid.

        A dense mid already HOLDS the true positional labels (parquet
        row_index), so densify is a pure metadata flip — zero jobs —
        and filtered frames keep pandas' sparse original labels."""
        if self._state.mid is None:
            return
        if self._state.mid == MONOTONIC:
            body = self._sdf.drop(I.idx_name(0))
            rid = with_rowid(body, I.idx_name(0))
            self._sdf = rid.select(I.idx_name(0), *body.columns)
        self._state = replace(self._state, mid=None, origin=None)

    def _to_index_order(self, densify: bool = True) -> None:
        """Put the plan in index order and densify a mid, in place, so
        that 0-based positions follow the rows export shows and keep
        pandas' positional labels (iloc[10:15] shows index 10..14, and
        the positions become real index values before a selection
        rather than being re-ranked within it at export).
        ``densify=False`` keeps a mid."""
        if self._positional_reordered():
            self._sdf = self._sdf.orderBy(F.col(I.idx_name(0)).asc())
            self._state = replace(self._state, order=INDEX)
        if densify:
            self._densify()

    def _in_export_order(self, densify: bool) -> "BaseFrame":
        """A copy whose plan row order is the order export shows, so
        that plan order can stand for it (each part of a part-major
        concat); see ``_to_index_order``."""
        new = self._shallow_copy()
        new._to_index_order(densify)
        return new

    def _densified(self) -> "BaseFrame":
        if self._state.mid is None:
            return self
        new = self._shallow_copy()
        new._densify()
        return new

    def _mids_aligned(self, other: "BaseFrame"):
        """Make two frames' indexes label-comparable for an
        index-equality join, densifying provisional mids that are not.

        Raw mids join directly ONLY when ``IndexState.comparable``:
        (a) both are dense (true file positions — comparable across any
        two scans) or (b) both are monotonic ids minted by the SAME
        scan (origin match — monotonically_increasing_id encodes
        partition layout, so values from two different scans pair
        arbitrary rows).  Everything else (mixed mid/value, mixed
        dense/monotonic, monotonic mids of different or unknown origin)
        densifies the mid side(s) first: contiguous 0-based positions
        ARE comparable across plans."""
        if ((self._state.mid is None and other._state.mid is None)
                or self._state.comparable(other._state)):
            return self, other
        return self._densified(), other._densified()

    def _align_mids_with(self, other: "BaseFrame") -> "BaseFrame":
        """In-place twin of ``_mids_aligned`` for callers that mutate a
        copied self: densify SELF when the pair requires it and return
        the (possibly densified) other, so the caller's ``_join_state``
        reads post-alignment state."""
        a, b = self._mids_aligned(other)
        if a is not self:
            self._densify()
        return b

    # -- positional-order contract ----------------------------------------

    def _positional_export(self) -> bool:
        """True when ``_fetch_pandas`` re-sorts rows by ``__idx_0`` at
        export (the positional contract: row order IS index order)."""
        if self._state.order == EXPLICIT or self._n_idx() != 1:
            return False
        if self._state.mid is not None:
            return True
        if self._index[0] is not None:
            return False
        from pyspark.sql import types as T
        return isinstance(self._idx_dtypes()[0],
                          (T.LongType, T.IntegerType, T.ShortType,
                           T.ByteType))

    def _positional_reordered(self) -> bool:
        """True when a positional accessor (head/tail/iloc/iat) must
        re-sort the plan by the index before slicing: the export
        contract is index order, but the plan may not be in it."""
        return self._state.reordered and self._positional_export()

    def _index_labels(self, values: pd.Series) -> pd.Series:
        """Labels for fetched ``__idx_0`` values: arbitrary monotonic
        mids rank into 0-based positions; dense mids already ARE the
        positional labels."""
        if self._state.mid == MONOTONIC:
            return values.rank(method="first").astype("int64") - 1
        return values

    # -- alignment joins ---------------------------------------------------

    @staticmethod
    def _join_cols(left: pd.Index, right: pd.Index):
        """Column-label alignment, pure client-side metadata
        (reference base.py:64-70): outer-join the two label Indexes,
        returning (joined_labels, left_positions, right_positions) with
        -1 marking a missing side (consumed by ``_col_at``)."""
        joined, lidx, ridx = left.join(right, how="outer", return_indexers=True)
        if lidx is None:
            lidx = list(range(len(joined)))
        if ridx is None:
            ridx = list(range(len(joined)))
        return joined, list(lidx), list(ridx)

    @staticmethod
    def _rename_all(sdf: SparkDF, prefix: str) -> SparkDF:
        return sdf.select([F.col(c).alias(prefix + c) for c in sdf.columns])

    def _join_idx(self, other: "BaseFrame"):
        """Row alignment single×single: FULL OUTER JOIN on index
        equality, result index = coalesce(l, r) (reference base.py:72-84).

        Returns (joined_sdf, lcol, rcol, idx_exprs) where lcol/rcol map
        positions to Columns of each side.  At 100 TB this is a shuffle
        on the index key — unavoidable for true pandas alignment; AQE
        picks broadcast automatically when one side is small.
        """
        if self._is_mindex or other._is_mindex:
            return self._join_idx_names(other)
        # provisional-mid handling: two mid-indexed frames from the same
        # scan share row identity — join on the mids directly (zero
        # extra jobs; exactly the eager-rowid alignment semantics).
        # Anything else densifies first (_mids_aligned).
        this, other = self._mids_aligned(other)
        l = this._rename_all(this._sdf, "l_")
        r = this._rename_all(other._sdf, "r_")
        lk, rk = f"l_{I.idx_name(0)}", f"r_{I.idx_name(0)}"
        joined = l.join(r, l[lk] == r[rk], "full_outer")
        idx = [F.coalesce(joined[lk], joined[rk])]

        def lcol(i):
            return F.lit(None) if i == -1 else joined[f"l_{I.col_name(i)}"]

        def rcol(i):
            return F.lit(None) if i == -1 else joined[f"r_{I.col_name(i)}"]

        return joined, lcol, rcol, idx, self._index

    def _join_idx_level(self, other: "BaseFrame", swapped: bool = False):
        """single-index self × one level of MultiIndex other: LEFT JOIN
        the single frame onto the multi frame's matching level, keeping
        the multi side's index (reference base.py:86-102)."""
        single, multi = (self, other)
        if single._is_mindex:
            raise TypeError("Cannot join two frames with MultiIndex")
        name = single._index[0]
        level = multi._level_of(name)
        m = self._rename_all(multi._sdf, "m_")
        s = self._rename_all(single._sdf, "s_")
        joined = m.join(
            s, m[f"m_{I.idx_name(level)}"] == s[f"s_{I.idx_name(0)}"], "left")
        idx = [joined[f"m_{I.idx_name(i)}"] for i in range(multi._n_idx())]

        def mcol(i):
            return F.lit(None) if i == -1 else joined[f"m_{I.col_name(i)}"]

        def scol(i):
            return F.lit(None) if i == -1 else joined[f"s_{I.col_name(i)}"]

        if swapped:
            return joined, mcol, scol, idx, multi._index
        return joined, scol, mcol, idx, multi._index

    def _join_idx_names(self, other: "BaseFrame"):
        """Infer the join level from overlapping index *names*
        (reference base.py:104-116), with the reference's refusals:
        no overlap -> ValueError; multi×multi -> NotImplementedError."""
        if self._is_mindex and other._is_mindex:
            raise NotImplementedError(
                "Joining two frames with MultiIndex is not supported")
        overlap = set(self._index) & set(other._index)
        if not overlap:
            raise ValueError("cannot join with no overlapping index names")
        if self._is_mindex:
            j, scol, mcol, idx, names = other._join_idx_level(self, swapped=False)
            # other is the single side -> lcol must be self (the multi side)
            return j, mcol, scol, idx, names
        return self._join_idx_level(other, swapped=False)

    def _paste_join(self, other_sdf: SparkDF, n_other_cols: int,
                    other_rowid: str | None = None):
        """Positional alignment (reference base.py:118-128): rowid both
        sides, INNER JOIN on rowid.  Self's rowid comes from the
        scalable partition-offset pass (operators/rowid.py); the other
        side reuses its enumerated index column when it has one (the
        reference does the same: from_list's rowid is passed in as
        ``other_rowid``, alchemy.py:231-232)."""
        l = self._add_rowid(self._sdf, I.ROWID)
        l = self._rename_all(l, "l_")
        if other_rowid is None:
            r = with_rowid(other_sdf, I.ROWID)
        else:
            r = other_sdf.withColumn(I.ROWID, F.col(other_rowid).cast("long"))
        r = self._rename_all(r, "r_")
        joined = l.join(r, l[f"l_{I.ROWID}"] == r[f"r_{I.ROWID}"], "inner")
        idx = [joined[f"l_{I.idx_name(i)}"] for i in range(self._n_idx())]

        def lcol(i):
            return F.lit(None) if i == -1 else joined[f"l_{I.col_name(i)}"]

        def rcol(i):
            return F.lit(None) if i == -1 else joined[f"r_{I.col_name(i)}"]

        return joined, lcol, rcol, idx

    def to_spark(self, index: bool = True) -> SparkDF:
        """Export the plan as a plain Spark DataFrame with user-facing
        names: index levels under their level names (or ``index``),
        data columns under their labels.  Labels must be unique strings
        (the general duplicate-label case stays inside the façade).
        ``index=False`` skips the index entirely — a mid-indexed frame
        then exports with zero rowid cost."""
        this = self._densified() if index else self
        sel = []
        if index:
            for i, name in enumerate(this._index):
                sel.append(this._idx_at(i).alias(str(name) if name is not None else "index"))
        if this._columns is not None:
            labels = list(this._columns)
        else:
            labels = [getattr(this, "name", None) or "value"]
        for i, lab in enumerate(labels):
            sel.append(this._col_at(i).alias(str(lab)))
        return this._sdf.select(*sel)

    # -- execution boundary ------------------------------------------------

    def _fetch(self):
        """Materialize all rows (reference base.py:55-56) — Arrow path."""
        return self._sdf.toPandas()

    def _fetch_pandas(self) -> tuple[pd.Index, pd.DataFrame]:
        """Fetch and split the positional layout back into a pandas
        (Multi)Index + data block (reference alchemy.py:287-299).

        A provisional mid-index is ranked *client-side* on the fetched
        rows (free — the data already crossed the wire), yielding the
        0-based contiguous index the reference synthesizes in-query."""
        pdf = self._fetch()
        n = self._n_idx()
        if len(pdf) > 1 and self._positional_export():
            # positional frame: row order is index order by contract;
            # re-sort the fetched rows (client-side, data already here)
            # so plan-level reordering (window/join shuffles) never
            # leaks into the materialized result
            pdf = pdf.sort_values(pdf.columns[0], kind="stable")
        idx_part = pdf.iloc[:, :n]
        data_part = pdf.iloc[:, n:]
        if n > 1:
            index = pd.MultiIndex.from_frame(idx_part)
            index.names = list(self._index)
        else:
            index = pd.Index(self._index_labels(idx_part.iloc[:, 0]))
            index.name = self._index[0]
        return index, data_part
