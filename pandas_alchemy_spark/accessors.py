"""``Series.str`` / ``Series.dt`` accessor namespaces.

Beyond-reference extension: the reference has no ``.str``/``.dt``
surface at all (API_COVERAGE.md:187-307, all unchecked — SURVEY.md
§2.9), but a pandas user switching to this engine expects them.  Every
method is a thin wrapper over a built-in JVM-side Spark function via
``Series._app`` (whole-stage codegen; no Python in the hot path), and
preserves expression lineage so ``df[df.s.str.contains(...)]``
filters in-plan with parquet pushdown where Spark supports it.

pandas semantic notes encoded here:
- missing propagates: every function maps NULL -> NULL (pandas NaN);
- ``str.replace`` defaults to ``regex=False`` (pandas >= 2.0);
- ``dt.dayofweek`` is Monday=0 (Spark ``weekday``, not ``dayofweek``).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import internal as I


class StringMethods:
    """Vectorized string functions under ``Series.str``."""

    def __init__(self, series):
        self._s = series

    def _map(self, fn):
        return self._s._app(fn)

    def lower(self):
        return self._map(F.lower)

    def upper(self):
        return self._map(F.upper)

    def title(self):
        # pandas title() capitalizes after ANY non-alpha ("a-b" ->
        # "A-B"); initcap only after whitespace.  Split on alpha/non-
        # alpha boundaries (zero-width lookarounds keep delimiters),
        # capitalize each run, re-join.
        return self._map(lambda c: F.array_join(F.transform(
            F.split(c, "(?<=[^\\p{L}])|(?=[^\\p{L}])"),
            lambda t: F.concat(F.upper(F.substring(t, 1, 1)),
                               F.lower(F.substring(t, 2, 2147483647)))), ""))

    def len(self):
        return self._map(F.length)

    def strip(self):
        return self._map(F.trim)

    def lstrip(self):
        return self._map(F.ltrim)

    def rstrip(self):
        return self._map(F.rtrim)

    def contains(self, pat, regex: bool = True):
        if regex:
            return self._map(lambda c: c.rlike(pat))
        return self._map(lambda c: c.contains(pat))

    def startswith(self, pat):
        return self._map(lambda c: c.startswith(pat))

    def endswith(self, pat):
        return self._map(lambda c: c.endswith(pat))

    def replace(self, pat, repl, regex: bool = False):
        if regex:
            return self._map(lambda c: F.regexp_replace(c, pat, repl))
        return self._map(lambda c: F.replace(c, F.lit(pat), F.lit(repl)))

    def slice(self, start=None, stop=None, step=None):
        """Python slice semantics per row (negative bounds count from
        the string's end; ``step`` walks by stride, negative reverses).

        Fast path (step 1): pure length arithmetic + one substring —
        whole-stage codegen.  Stepped path: ``sequence`` of normalized
        indices + per-char substr + array_join — still expression-level
        (strings are short, the per-char lambda is bounded by the
        slice length)."""
        if step == 0:
            raise ValueError("slice step cannot be zero")
        s = 1 if step is None else step

        def norm(bound, c):
            """CPython ``slice.indices()`` normalization as a Column:
            a negative bound counts from the end, then clamps to the
            valid range for the step direction (the sign of a bound is
            known here, so only its arm is emitted)."""
            L = F.length(c)
            if bound < 0:
                return F.greatest(L + bound, F.lit(0 if s > 0 else -1))
            return F.least(F.lit(bound), L if s > 0 else L - 1)

        if s == 1:
            def fn(c):
                a = F.lit(0) if start is None else norm(start, c)
                b = F.length(c) if stop is None else norm(stop, c)
                ln = F.greatest(b - a, F.lit(0))
                return F.when(c.isNull(), F.lit(None)).otherwise(
                    F.substring(c, a + 1, ln))
            return self._map(fn)

        def fn(c):
            a = ((F.length(c) - 1 if s < 0 else F.lit(0))
                 if start is None else norm(start, c))
            b = ((F.lit(-1) if s < 0 else F.length(c))
                 if stop is None else norm(stop, c))
            # sequence() walks the stepped indices (inclusive bounds,
            # so back off one from the exclusive stop); guard the empty
            # range — Spark's sequence would walk the other way
            if s > 0:
                seq, nonempty = F.sequence(a, b - 1, F.lit(s)), a <= b - 1
            else:
                seq, nonempty = F.sequence(a, b + 1, F.lit(s)), a >= b + 1
            picked = F.when(nonempty, seq).otherwise(
                F.expr("array()").cast("array<int>"))
            chars = F.transform(picked, lambda i: c.substr(i + 1, F.lit(1)))
            return F.when(c.isNull(), F.lit(None)).otherwise(
                F.array_join(chars, ""))
        return self._map(fn)

    def get(self, i: int):
        """i-th character (pandas .str.get on strings)."""
        if i < 0:
            return self._map(
                lambda c: F.when(F.length(c) >= -i,
                                 F.substring(c, i, 1)))
        return self._map(
            lambda c: F.when(F.length(c) > i, F.substring(c, i + 1, 1)))

    def split(self, pat: str | None = None, regex: bool = True):
        if pat is None:
            # pandas pat=None = Python str.split(): whitespace runs,
            # NO leading/trailing empty tokens (Spark's split keeps
            # them) — trim first
            return self._map(
                lambda c: F.split(F.trim(c), r"\s+"))
        if not regex:
            pat = "".join(f"\\{ch}" if not ch.isalnum() else ch
                          for ch in pat)
        return self._map(lambda c: F.split(c, pat))

    @staticmethod
    def _no_trunc(padded, width):
        # Spark lpad/rpad TRUNCATE strings longer than width; pandas
        # zfill/pad leave them unchanged.
        def fn(c):
            return F.when(F.length(c) >= width, c).otherwise(padded(c))
        return fn

    def extract(self, pat: str, group: int = 1):
        """First regex capture group (pandas str.extract with one
        group; NULL when no match, like pandas NaN).  A pattern match
        whose GROUP did not participate ('a(b)?' on 'a') is NULL too
        — regexp_extract cannot distinguish that from a participating
        empty match, so the (pathological) empty-participating case
        also maps to NULL (documented deviation)."""
        return self._map(lambda c: F.nullif(F.when(
            c.rlike(pat), F.regexp_extract(c, pat, group)),
            F.lit("")))

    def count(self, pat: str):
        """Count non-overlapping regex matches (NULL in -> NULL out;
        bare size() would emit the legacy size(NULL) = -1)."""
        return self._map(lambda c: F.when(
            c.isNotNull(),
            F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))))

    def find(self, sub: str):
        """Position of first occurrence, -1 if absent (pandas find)."""
        return self._map(lambda c: F.instr(c, sub) - F.lit(1))

    def repeat(self, n: int):
        return self._map(lambda c: F.repeat(c, n))

    def capitalize(self):
        return self._map(lambda c: F.concat(
            F.upper(F.substring(c, 1, 1)),
            F.lower(F.substring(c, 2, 2147483647))))

    def swapcase(self):
        # per-char case flip via the char-level transform
        return self._map(lambda c: F.array_join(F.transform(
            F.split(c, ""),
            lambda ch: F.when(ch == F.upper(ch), F.lower(ch))
            .otherwise(F.upper(ch))), ""))

    # character-class predicates (pandas: False for empty strings,
    # NULL propagates).  Unicode-aware Java regex classes to follow
    # Python's str semantics ('é'.isalpha() is True); remaining
    # divergence: characters that are digits-by-property but not
    # category Nd (superscripts like '²') are True in Python but False
    # here (Java regex exposes no Numeric_Type property), and isalnum
    # excludes letter-like numerics (Nl/No: 'Ⅷ', '½') that Python
    # accepts.
    def _cls(self, pat):
        return self._map(lambda c: c.rlike(pat))

    def isdigit(self):
        return self._cls("^\\p{Nd}+$")

    def isalpha(self):
        return self._cls("^\\p{L}+$")

    def isalnum(self):
        return self._cls("^[\\p{L}\\p{Nd}]+$")

    def isspace(self):
        # (?U) = UNICODE_CHARACTER_CLASS: \s covers Unicode whitespace
        return self._cls("(?U)^\\s+$")

    def islower(self):
        return self._map(
            lambda c: (c == F.lower(c)) & (c != F.upper(c)))

    def isupper(self):
        return self._map(
            lambda c: (c == F.upper(c)) & (c != F.lower(c)))

    def cat(self, others=None, sep: str = ""):
        """Elementwise concatenation with another Series (index-
        aligned) or a scalar string.  The no-``others`` reduction form
        of pandas (concatenate the whole column into one string) is an
        unbounded driver-side materialization — not supported; use
        ``to_pandas().str.cat()`` on a bounded frame instead."""
        if others is None:
            raise NotImplementedError(
                "str.cat() without others= materializes the whole "
                "column into one string; call .to_pandas().str.cat() "
                "on a bounded selection instead")
        from .core import Series

        # F.concat propagates NULL (pandas: NaN in -> NaN out);
        # concat_ws would silently skip the NULL side
        def fn(a, b):
            return F.concat(a, F.lit(sep), b) if sep else F.concat(a, b)
        if isinstance(others, Series):
            # pandas str.cat defaults to join='left': SELF's rows
            # survive, labels only in `others` do NOT appear (the
            # arithmetic _zip_with is full-outer — wrong here)
            from . import internal as I
            s = self._s
            l = s._rename_all(s._sdf, "l_")
            r = s._rename_all(others._sdf, "r_")
            lk = f"l_{I.idx_name(0)}"
            rk = f"r_{I.idx_name(0)}"
            joined = l.join(r, F.col(lk).eqNullSafe(F.col(rk)),
                            "left")
            body = joined.select(
                F.col(lk).alias(I.idx_name(0)),
                fn(F.col(f"l_{I.col_name(0)}"),
                   F.col(f"r_{I.col_name(0)}"))
                .alias(I.col_name(0)))
            return type(s)(s._index, None, body,
                           s.name)._carry(reordered=True)
        return self._map(lambda c: fn(c, F.lit(str(others))))

    def join(self, sep: str):
        """Join array-of-string elements per row (pandas str.join)."""
        return self._map(lambda c: F.array_join(c, sep))

    def zfill(self, width: int):
        # pandas/Python zfill pads AFTER a leading sign: '-1' -> '-0001'
        def pad(c):
            sign = F.substring(c, 1, 1)
            signed = sign.isin("-", "+")
            rest = c.substr(F.lit(2), F.length(c))
            return F.when(
                signed,
                F.concat(sign, F.lpad(rest, width - 1, "0"))
            ).otherwise(F.lpad(c, width, "0"))
        return self._map(self._no_trunc(pad, width))

    def pad(self, width: int, side: str = "left", fillchar: str = " "):
        if side == "left":
            return self._map(self._no_trunc(
                lambda c: F.lpad(c, width, fillchar), width))
        if side == "right":
            return self._map(self._no_trunc(
                lambda c: F.rpad(c, width, fillchar), width))
        raise ValueError(f"Invalid side: {side}")


class DatetimeProperties:
    """Datetime component accessors under ``Series.dt``."""

    def __init__(self, series):
        self._s = series

    def _map(self, fn, dtype=None):
        return self._s._app(fn, dtype)

    # the integer fields are typed here, so comparing one analyses no plan
    @property
    def year(self):
        return self._map(F.year, T.IntegerType())

    @property
    def month(self):
        return self._map(F.month, T.IntegerType())

    @property
    def day(self):
        return self._map(F.dayofmonth, T.IntegerType())

    @property
    def hour(self):
        return self._map(F.hour, T.IntegerType())

    @property
    def minute(self):
        return self._map(F.minute, T.IntegerType())

    @property
    def second(self):
        return self._map(F.second, T.IntegerType())

    @property
    def is_quarter_start(self):
        return self._map(lambda c: (F.dayofmonth(c) == 1)
                         & F.month(c).isin([1, 4, 7, 10]))

    @property
    def is_quarter_end(self):
        return self._map(lambda c: (F.to_date(c) == F.last_day(c))
                         & F.month(c).isin([3, 6, 9, 12]))

    @property
    def is_year_start(self):
        return self._map(lambda c: (F.dayofmonth(c) == 1)
                         & (F.month(c) == 1))

    @property
    def is_year_end(self):
        return self._map(lambda c: (F.dayofmonth(c) == 31)
                         & (F.month(c) == 12))

    def normalize(self):
        """Midnight-truncate (pandas dt.normalize)."""
        return self._map(lambda c: F.date_trunc("day", c))

    @property
    def dayofweek(self):
        # pandas: Monday=0 .. Sunday=6 == Spark `weekday`
        return self._map(F.weekday)

    weekday = dayofweek

    @property
    def dayofyear(self):
        return self._map(F.dayofyear)

    @property
    def quarter(self):
        return self._map(F.quarter)

    @property
    def epoch_day(self):
        """Days since 1970-01-01 (``unix_date``) — the engine's date
        arithmetic handle: ``a.dt.epoch_day - b.dt.epoch_day`` is the
        day difference two DATE columns can't express directly (no
        date−date dtype).  Matches SQL ``date1 - date2`` (DuckDB) /
        ``datediff`` (Spark)."""
        return self._map(lambda c: F.unix_date(c.cast("date")))

    @property
    def date(self):
        return self._map(F.to_date)

    @property
    def days_in_month(self):
        return self._map(lambda c: F.dayofmonth(F.last_day(c)))

    daysinmonth = days_in_month

    @property
    def is_month_start(self):
        return self._map(lambda c: F.dayofmonth(c) == 1)

    @property
    def is_month_end(self):
        return self._map(lambda c: F.to_date(c) == F.last_day(c))

    @property
    def isocalendar_week(self):
        return self._map(F.weekofyear)

    def month_name(self):
        return self._map(lambda c: F.date_format(c, "MMMM"))

    def day_name(self):
        return self._map(lambda c: F.date_format(c, "EEEE"))

    #: microseconds per fixed-frequency unit (pandas dt.floor supports
    #: only fixed frequencies — W/M/Q/Y are calendar-sized and raise
    #: in pandas too)
    _US = {"D": 86_400_000_000, "h": 3_600_000_000, "H": 3_600_000_000,
           "min": 60_000_000, "T": 60_000_000, "s": 1_000_000,
           "S": 1_000_000, "ms": 1_000, "L": 1_000, "us": 1, "U": 1}

    def floor(self, freq: str):
        """pandas dt.floor for any fixed frequency, including
        multiples ('15min', '2h'): truncate epoch-microseconds to the
        bucket width — one arithmetic projection, codegen."""
        import re as _re
        m = _re.fullmatch(r"(\d*)\s*([a-zA-Z]+)", freq)
        unit_us = self._US.get(m.group(2)) if m else None
        if unit_us is None:
            raise ValueError(f"dt.floor: {freq!r} is not a fixed "
                             "frequency (calendar freqs W/M/Q/Y have "
                             "no fixed length; pandas raises too)")
        width = int(m.group(1) or 1) * unit_us
        in_type = self._s._dtypes()[0].simpleString()

        def fn(c):
            # unix_micros needs TIMESTAMP; parquet naive timestamps
            # surface as TIMESTAMP_NTZ.  The session runs UTC, so the
            # round trip is wall-clock-preserving; cast back so the
            # column keeps its original flavor.
            us = F.unix_micros(c.cast("timestamp"))
            floored = F.timestamp_micros(us - F.pmod(us, F.lit(width)))
            return floored.cast(in_type)
        return self._map(fn)

    def strftime(self, fmt: str):
        """pandas strftime mapped to Spark's java.time pattern.
        Literal text is single-quoted so stray letters (like the T in
        ISO-8601) pass through instead of being parsed as pattern
        letters."""
        pattern = strf_to_java(fmt)
        return self._map(lambda c: F.date_format(c, pattern))

    # -- timezone subset (round 6) --------------------------------------
    #
    # Representation: tz-aware series store WALL-CLOCK values plus a
    # tz tag (the same plan-identity tagging as Series.cat, so any
    # rewrite drops the tag — documented subset, not full pandas tz
    # propagation).  Because pandas dt components of an aware series
    # are its wall components, every accessor above is automatically
    # correct for aware series; the instant arithmetic happens only in
    # tz_convert, via Spark's native to_utc_timestamp /
    # from_utc_timestamp (JVM tzdb: IANA areas incl. DST rules, fixed
    # offsets like '+05:30', and 'UTC').

    @property
    def tz(self):
        """The series' timezone tag, or None when tz-naive (pandas
        ``Series.dt.tz``)."""
        meta = getattr(self._s, "_tz_meta", None)
        if meta is not None and meta[0] is self._s._sdf:
            return meta[1]
        return None

    @staticmethod
    def _check_tz(tz: str):
        """Best-effort eager validation: execution uses the JVM tzdb,
        so Python's zoneinfo is only consulted to fail FAST on typos —
        when the Python tz database itself is unavailable (no tzdata
        package), validation defers to the JVM at action time rather
        than rejecting every IANA name."""
        import re as _re
        if _re.fullmatch(r"[+-]\d{2}:\d{2}", tz) or tz in ("UTC", "GMT"):
            return
        try:
            from zoneinfo import ZoneInfo
            ZoneInfo(tz)
            return
        except Exception:
            try:
                ZoneInfo("America/New_York")
            except Exception:
                return  # no Python tzdb at all — let the JVM decide
            raise ValueError(f"unknown timezone {tz!r} (IANA name, "
                             "'UTC', or fixed offset '+HH:MM')")

    def tz_localize(self, tz):
        """pandas ``dt.tz_localize``: interpret naive wall times as
        being in ``tz`` (values unchanged, tag attached);
        ``tz_localize(None)`` drops the tag, keeping the current wall
        time.  DST-ambiguous/nonexistent wall times are resolved by
        the JVM rules at the first ``tz_convert`` (pandas
        ``ambiguous='infer'``-ish; pandas' raise-on-ambiguous knob is
        not replicated)."""
        cur = self.tz
        if tz is None:
            if cur is None:
                raise TypeError(
                    "Already tz-naive, use tz_localize to localize")
            out = self._s._app(lambda c: c)
            return out
        if cur is not None:
            raise TypeError(
                "Already tz-aware, use tz_convert to convert")
        self._check_tz(tz)
        out = self._s._app(lambda c: c)
        tag_tz(out, tz)
        return out

    def tz_convert(self, tz):
        """pandas ``dt.tz_convert``: same instant, new wall rendering
        — ONE to_utc_timestamp/from_utc_timestamp projection (codegen,
        no UDF).  ``tz_convert(None)`` re-renders in UTC and drops the
        tag, like pandas."""
        cur = self.tz
        if cur is None:
            raise TypeError(
                "Cannot convert tz-naive timestamps, use tz_localize "
                "to localize")
        target = "UTC" if tz is None else tz
        if tz is not None:
            self._check_tz(tz)
        in_type = self._s._dtypes()[0].simpleString()

        def fn(c):
            utc = F.to_utc_timestamp(c.cast("timestamp"), cur)
            return F.from_utc_timestamp(utc, target).cast(in_type)
        out = self._s._app(fn)
        if tz is not None:
            tag_tz(out, tz)
        return out


def tag_tz(series, tz: str):
    """Pin a timezone tag to a Series' CURRENT plan (same identity
    mechanics as :func:`tag_categorical`: any verb that replaces
    ``_sdf`` invalidates the tag)."""
    series._tz_meta = (series._sdf, str(tz))
    return series


def tag_categorical(series, categories, ordered):
    """Pin a category domain to a Series' CURRENT plan.

    The tag stores the ``_sdf`` object itself; every verb funnels
    through ``_project``/joins and replaces ``_sdf``, so any
    transformation invalidates the tag automatically (``Series.cat``
    checks identity) — no per-verb bookkeeping, and no stale domain can
    survive a rewrite.  Matches pandas, where most verbs on a
    categorical return a plain Series."""
    series._cat_meta = (series._sdf, tuple(categories), bool(ordered))
    return series


class CategoricalMethods:
    """pandas ``Series.cat`` over a Spark-native categorical.

    Beyond-reference: the reference has no ``.cat`` surface at all
    (API_COVERAGE.md, `Series.cat.*` all unchecked — SURVEY.md §2.9).

    Spark has no categorical dtype, so ``astype("category")`` tags the
    Series with a BOUNDED category domain: the sorted distinct values,
    collected under the same cap policy as ``unique``/``get_dummies``.
    Pass ``pd.CategoricalDtype(categories, ordered)`` to supply the
    domain explicitly and skip the distinct job — at 100 TB always do
    that.  The data column keeps its physical type (the category VALUES
    stay in the plan, dictionary-encoded by parquet on disk); only the
    driver-side tag knows the domain/order.

    ``codes`` compiles the domain into the plan: a literal-map lookup
    (whole-stage codegen, zero extra jobs, zero shuffle) for domains up
    to ``_MAP_MAX`` values, else a broadcast hash join against the tiny
    (value, code) table — the data side never shuffles either way.
    Unknown values and NULL code to -1, like pandas.
    """

    #: above this many categories the literal create_map expression
    #: bloats the plan; switch to a broadcast-join lookup
    _MAP_MAX = 1024

    def __init__(self, series, categories, ordered):
        self._s = series
        self._cats = list(categories)
        self._ordered = bool(ordered)

    # -- introspection -----------------------------------------------------

    @property
    def categories(self):
        import pandas as pd
        return pd.Index(self._cats)

    @property
    def ordered(self):
        return self._ordered

    @property
    def codes(self):
        cats = self._cats
        s = self._s
        if len(cats) <= self._MAP_MAX:
            if not cats:
                return s._app(lambda c: F.lit(-1).cast("int"))
            pairs = []
            for i, v in enumerate(cats):
                pairs += [F.lit(v), F.lit(i)]
            m = F.create_map(*pairs)
            return s._app(lambda c: F.coalesce(
                F.element_at(m, c), F.lit(-1)).cast("int"))
        # broadcast-join path: wide domains stay off the plan text
        new = s._shallow_copy()
        spark = new._sdf.sparkSession
        vt = new._dtypes()[0].simpleString()
        lut = spark.createDataFrame(
            [(v, i) for i, v in enumerate(cats)],
            schema=f"__cat_v {vt}, __cat_code int")
        joined = new._sdf.join(F.broadcast(lut),
                               new._the_col == F.col("__cat_v"), "left")
        sel = [joined[I.idx_name(i)] for i in range(new._n_idx())]
        sel.append(F.coalesce(F.col("__cat_code"), F.lit(-1))
                   .cast("int").alias(I.col_name(0)))
        new._sdf = joined.select(*sel)
        new._streamed()
        return new

    # -- domain edits ------------------------------------------------------

    @staticmethod
    def _check_unique(cats):
        if len(set(cats)) != len(cats):
            raise ValueError("Categorical categories must be unique")

    def rename_categories(self, new_categories):
        """Relabel categories (dict: partial; list: positional, same
        length).  The data column is rewritten through one literal-map
        projection — codegen, no join."""
        cats = self._cats
        if isinstance(new_categories, dict):
            new_cats = [new_categories.get(c, c) for c in cats]
        else:
            new_cats = list(new_categories)
            if len(new_cats) != len(cats):
                raise ValueError(
                    "new categories need to have the same number of "
                    "items as the old categories!")
        self._check_unique(new_cats)
        changed = {o: n for o, n in zip(cats, new_cats) if o != n}
        if not changed:
            out = self._s._shallow_copy()
        else:
            pairs = []
            for o, n in changed.items():
                pairs += [F.lit(o), F.lit(n)]
            m = F.create_map(*pairs)
            out = self._s._app(lambda c: F.coalesce(F.element_at(m, c), c))
        return tag_categorical(out, new_cats, self._ordered)

    def add_categories(self, new_categories):
        """Append unused categories (tag-only — zero jobs)."""
        if not isinstance(new_categories, (list, tuple)):
            new_categories = [new_categories]
        overlap = set(new_categories) & set(self._cats)
        if overlap:
            raise ValueError(
                f"new categories must not include old categories: {overlap}")
        self._check_unique(list(new_categories))
        out = self._s._shallow_copy()
        return tag_categorical(out, self._cats + list(new_categories),
                               self._ordered)

    def remove_categories(self, removals):
        """Remove categories; rows holding them become NULL (pandas
        NaN) via one codegen'd CASE projection."""
        if not isinstance(removals, (list, tuple)):
            removals = [removals]
        missing = set(removals) - set(self._cats)
        if missing:
            raise ValueError(
                f"removals must all be in old categories: {missing}")
        drop = set(removals)
        keep = [c for c in self._cats if c not in drop]
        out = self._s._app(lambda c: F.when(~c.isin(list(drop)), c))
        return tag_categorical(out, keep, self._ordered)

    def remove_unused_categories(self):
        """Shrink the domain to values actually present — ONE bounded
        distinct aggregate (the cap policy of ``unique``), data
        untouched."""
        present = {v for v in self._s.unique() if v is not None}
        keep = [c for c in self._cats if c in present]
        out = self._s._shallow_copy()
        return tag_categorical(out, keep, self._ordered)

    def set_categories(self, new_categories, ordered=None):
        """Replace the domain wholesale; values outside the new domain
        become NULL (pandas semantics)."""
        new_cats = list(new_categories)
        self._check_unique(new_cats)
        out = self._s._app(lambda c: F.when(c.isin(new_cats), c))
        return tag_categorical(
            out, new_cats,
            self._ordered if ordered is None else ordered)

    def reorder_categories(self, new_categories, ordered=None):
        """Permute the existing domain (tag-only — zero jobs)."""
        new_cats = list(new_categories)
        if set(new_cats) != set(self._cats) or len(new_cats) != len(self._cats):
            raise ValueError(
                "items in new_categories are not the same as in old "
                "categories")
        out = self._s._shallow_copy()
        return tag_categorical(
            out, new_cats,
            self._ordered if ordered is None else ordered)

    def as_ordered(self):
        return tag_categorical(self._s._shallow_copy(), self._cats, True)

    def as_unordered(self):
        return tag_categorical(self._s._shallow_copy(), self._cats, False)


class ArrayMethods:
    """Vectorized array-column operations under ``Series.arr``
    (beyond-pandas; the natural verbs for ``array<float>`` embedding
    columns and token lists in a training-data pipeline).

    Everything is a JVM-side expression: ``array_min``/``array_max``/
    ``size``/``slice`` are whole-stage codegen; ``sum``/``dot``/
    ``norm``/``cosine`` use higher-order ``aggregate``/``zip_with``
    lambdas, which Spark interprets per ROW but never leave the
    executor — for bounded-width arrays (embeddings: 32-4096 elements)
    that is a projection, not a shuffle, and beats any UDF.  A Series
    operand to ``dot``/``cosine`` aligns on the index through the same
    machinery as binary arithmetic."""

    def __init__(self, series):
        self._s = series

    def _map(self, fn):
        return self._s._app(fn)

    def len(self):
        # size(NULL) is -1 under spark.sql.legacy.sizeOfNull (the
        # default in this build); the engine contract is NULL -> NULL
        return self._map(lambda c: F.when(c.isNotNull(), F.size(c)))

    def get(self, i: int):
        """Element at position ``i`` (0-based; negative counts from the
        end; out-of-bounds -> NULL, like ``.str.get``)."""
        if i < 0:
            return self._map(lambda c: F.get(c, F.size(c) + i))
        return self._map(lambda c: F.get(c, i))

    def contains(self, value):
        return self._map(lambda c: F.array_contains(c, F.lit(value)))

    def slice(self, start: int, stop: int):
        """Python-slice [start, stop) with non-negative bounds."""
        if start < 0 or stop < 0:
            raise ValueError("arr.slice supports non-negative bounds")
        return self._map(
            lambda c: F.slice(c, start + 1, max(stop - start, 0)))

    def min(self):
        return self._map(F.array_min)

    def max(self):
        return self._map(F.array_max)

    def distinct(self):
        return self._map(F.array_distinct)

    def sort(self, ascending: bool = True):
        return self._map(lambda c: F.sort_array(c, asc=ascending))

    @staticmethod
    def _sum_expr(c):
        return F.aggregate(c, F.lit(0.0),
                           lambda a, x: a + x.cast("double"))

    def sum(self):
        """Per-row element sum (double).  In-order left fold — the
        summation order is deterministic, unlike a shuffle-reduce."""
        return self._map(self._sum_expr)

    def mean(self):
        return self._map(
            lambda c: F.when(F.size(c) > 0,
                             self._sum_expr(c) / F.size(c)))

    @staticmethod
    def _dot_expr(c, o):
        # LOUD on length mismatch: zip_with pads the shorter side
        # with NULLs, so a dimension bug would otherwise surface as
        # silent NULL dot products indistinguishable from NULL input
        dot = F.aggregate(
            F.zip_with(c, o, lambda x, y: x.cast("double")
                       * y.cast("double")),
            F.lit(0.0), lambda a, x: a + x)
        return (F.when((F.size(c) <= 0) | (F.size(o) <= 0),
                        F.lit(None).cast("double"))
                .when(F.size(c) != F.size(o),
                      F.raise_error(F.lit(
                          "arr.dot/cosine: array lengths differ"))
                      .cast("double"))
                .otherwise(dot))

    def _with_other(self, other, fn):
        from .core import Series
        if isinstance(other, Series):
            return self._s._zip_with(other, fn)
        arr = F.array(*[F.lit(float(v)) for v in other])
        return self._map(lambda c: fn(c, arr))

    def dot(self, other):
        """Dot product with another array Series (index-aligned) or a
        Python list (compiled to a literal array — zero extra jobs)."""
        return self._with_other(other, self._dot_expr)

    def norm(self):
        return self._map(lambda c: F.sqrt(self._dot_expr(c, c)))

    def cosine(self, other):
        """Cosine similarity; NULL when either norm is 0 (pandas-style
        NA instead of a division error)."""
        def fn(c, o):
            nn = F.sqrt(self._dot_expr(c, c)) * F.sqrt(self._dot_expr(o, o))
            return F.when(nn > 0, self._dot_expr(c, o) / nn)
        return self._with_other(other, fn)


#: strftime %-code -> java.time pattern letters (shared by
#: dt.strftime and pas.to_datetime)
_STRF = {"%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd",
         "%H": "HH", "%I": "hh", "%M": "mm", "%S": "ss",
         "%f": "SSSSSS", "%j": "DDD", "%a": "EEE", "%A": "EEEE",
         "%b": "MMM", "%B": "MMMM", "%p": "a"}


def strf_to_java(fmt: str) -> str:
    """Translate a pandas strftime format to a java.time pattern,
    quoting literal runs so stray letters pass through."""
    out, lit = [], []

    def flush():
        if lit:
            # quote EVERY literal run: java.time reserves '#', '{',
            # '}' even outside alpha runs, so an unquoted literal
            # like '%Y#%j' -> 'yyyy#DDD' fails pattern compilation
            chunk = "".join(lit).replace("'", "''")
            out.append(f"'{chunk}'")
            lit.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            code = fmt[i:i + 2]
            if code == "%%":
                # literal % joins the surrounding literal run — a
                # separately-quoted "'%'" next to another quoted run
                # would produce '' escape artifacts ("'100''%'")
                lit.append("%")
                i += 2
                continue
            if code not in _STRF:
                raise NotImplementedError(f"strftime code {code!r}")
            flush()
            out.append(_STRF[code])
            i += 2
        else:
            lit.append(fmt[i])
            i += 1
    flush()
    return "".join(out)


def to_datetime(arg, format=None, errors="raise"):
    """pandas.to_datetime for engine Series: a ``to_timestamp``
    projection (one expression, stays in-plan/in-lineage).

    ``format`` takes pandas strftime codes (translated to java.time).
    ``errors="coerce"`` maps unparseable values to NaT;
    ``errors="raise"`` (default) verifies EAGERLY with one bounded
    LIMIT-1 probe naming an offending value — the engine session
    disables ANSI, so Spark's non-ANSI parser would otherwise null
    bad input silently and 'raise' would behave like 'coerce'."""
    if errors not in ("raise", "coerce"):
        raise ValueError(f"errors must be 'raise' or 'coerce', "
                         f"got {errors!r}")
    pattern = strf_to_java(format) if format is not None else None

    def parse(c):
        if pattern is None:
            return F.try_to_timestamp(c)
        return F.try_to_timestamp(c, F.lit(pattern))

    if errors == "raise":
        from . import internal as I
        # one projection holds the raw and the parsed value
        raw = arg._the_col
        bad = arg._sdf.where(
            parse(raw).isNull() & raw.isNotNull()).limit(1).collect()
        if bad:
            raise ValueError(
                "time data doesn't match format; first offending "
                f"index: {bad[0][I.idx_name(0)]}")
    return arg._app(parse)
