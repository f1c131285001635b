"""Type-directed operator coercion with pandas/NumPy IEEE-754 semantics.

Re-expresses the reference's coercion table (reference coercion.py:5-116)
as pure PySpark Column builders — no UDFs, everything stays inside
whole-stage codegen.

The reference emulates IEEE float semantics *on top of SQL* with CASE
expressions (coercion.py:48-85) because SQL databases return NULL or
error on x/0.  Spark doubles natively hold NaN/±inf and most IEEE cases
fall out of JVM arithmetic; only these need CASE logic:

- ``truediv``: Spark's ``Divide`` returns NULL for a zero divisor (even
  for doubles, in non-ANSI mode) — pandas gives ``sign(x)*inf`` and
  ``0/0 -> NaN`` (reference sane_division, coercion.py:48-65).
- ``floordiv``: same pre-checks then floor (coercion.py:68-70); Spark's
  ``floor`` returns LONG so non-finite cases are short-circuited first.
- ``mod``: pandas follows *Python* mod (sign of divisor); Spark ``%`` is
  C-style fmod (sign of dividend).  Python-mod is ``((l % r) + r) % r``
  plus the reference's inf/NaN rules (coercion.py:73-85).
- bool operands coerce to INTEGER for arithmetic (coercion.py:88-116).

All builders are (Column, Column) -> Column and keep NULL-propagation:
NULL in -> NULL out, matching both SQL and the reference's NA model.
"""

from __future__ import annotations

import operator

from pyspark.sql import Column
from pyspark.sql import functions as F

def _nan() -> Column:
    return F.lit(float("nan"))


def _inf() -> Column:
    return F.lit(float("inf"))


def _dnull() -> Column:
    return F.lit(None).cast("double")


def _d(c: Column) -> Column:
    return c.cast("double")


def _zero_sign(r: Column) -> Column:
    """±1 by the sign of a zero divisor.  ``-0.0 == 0.0`` in Spark, but
    the string form keeps the sign bit — x/-0.0 must be -inf*sign(x)
    (IEEE; pandas agrees).  Only evaluated inside the r==0 branch."""
    return F.when(r.cast("string").startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))


def ieee_truediv(l: Column, r: Column) -> Column:
    """pandas ``/``: x/0 -> sign(x)*inf, 0/0 -> NaN, NaN op -> NaN,
    x/inf -> 0; NULL propagates (reference coercion.py:48-65)."""
    l, r = _d(l), _d(r)
    return (
        F.when(l.isNull() | r.isNull(), _dnull())
        .when(F.isnan(l) | F.isnan(r), _nan())
        .when(r == 0.0,
              F.when(l == 0.0, _nan())
              .otherwise(F.signum(l) * _zero_sign(r) * _inf()))
        .otherwise(l / r)
    )


def ieee_floordiv(l: Column, r: Column) -> Column:
    """pandas ``//``: IEEE pre-checks then floor (reference
    coercion.py:68-70), with NumPy's non-finite rules (verified against
    pandas 2.x): x//0 -> sign(x)*inf (0//0 -> NaN), inf//anything-else
    -> NaN, finite//±inf -> 0 or -1 by sign agreement (Python floordiv,
    not floor(x/inf)).  Non-finite operands short-circuit so the LONG
    floor never sees inf."""
    l, r = _d(l), _d(r)
    return (
        F.when(l.isNull() | r.isNull(), _dnull())
        .when(F.isnan(l) | F.isnan(r), _nan())
        .when(r == 0.0,
              F.when(l == 0.0, _nan())
              .otherwise(F.signum(l) * _zero_sign(r) * _inf()))
        .when(F.abs(l) == _inf(), _nan())
        .when(F.abs(r) == _inf(), F.when(F.signum(l) * F.signum(r) < 0, F.lit(-1.0)).otherwise(F.lit(0.0)))
        .otherwise(_npy_floor_div(l, r))
    )


def _npy_floor_div(l: Column, r: Column) -> Column:
    """NumPy's finite-operand floor_divide — NOT ``floor(l/r)``.

    npy_floor_divide computes ``div = (a - fmod(a,b)) / b``, subtracts
    1 when the remainder is nonzero with mismatched signs, floors, and
    nudges up when ``div - floor(div) > 0.5`` (rounding slop).  The
    naive ``floor(a/b)`` differs at boundaries: ``5e-324 // -1e308``
    underflows the quotient to -0.0 and floors to -0, where NumPy's
    remainder arithmetic yields -1.0 (hypothesis-found).  Spark's
    ``floor`` also returns LONG, which overflows for quotients beyond
    2^63; doubles at magnitude >= 2^52 are already integral, so they
    bypass the floor."""
    fmod = l % r
    div = (l - fmod) / r
    adj = (F.when((fmod != 0.0) & ((r < 0.0) != (fmod < 0.0)),
                  div - 1.0).otherwise(div))
    fl = (F.when(F.abs(adj) >= F.lit(2.0 ** 52), adj)
          .otherwise(F.floor(adj).cast("double")))
    return F.when(adj - fl > 0.5, fl + 1.0).otherwise(fl)


def python_mod(l: Column, r: Column) -> Column:
    """pandas ``%`` = Python mod: result takes the divisor's sign.

    inf % x -> NaN; NaN % x -> NaN; x % 0 -> NaN; x % ±inf -> x when
    signs agree else the divisor (reference coercion.py:73-85; matches
    CPython float.__mod__).

    CPython's algorithm is ONE conditional add onto C fmod — NOT the
    textbook ``((l % r) + r) % r``: at rounding boundaries the two
    differ.  ``(-5e-324) % 1.0``: fmod is -5e-324, + 1.0 rounds to
    exactly 1.0 and Python RETURNS the divisor; the double-mod form
    wraps that 1.0 back to 0.0 (hypothesis-found)."""
    l, r = _d(l), _d(r)
    fmod = l % r  # Spark %: C semantics, sign of dividend
    return (
        F.when(l.isNull() | r.isNull(), _dnull())
        .when(F.isnan(l) | F.isnan(r), _nan())
        .when(r == 0.0, _nan())
        .when(F.abs(l) == _inf(), _nan())
        .when(F.abs(r) == _inf(), F.when(F.signum(l) * F.signum(r) >= 0, l).otherwise(r))
        .when(fmod == 0.0, _zero_sign(r) * F.lit(0.0))
        .when((fmod < 0.0) != (r < 0.0), fmod + r)
        .otherwise(fmod)
    )


def ieee_pow(l: Column, r: Column) -> Column:
    """pandas ``**`` on doubles: Java Math.pow matches NumPy for
    non-missing operands (0**neg -> inf, NaN**0 -> 1, 1**NaN -> 1) —
    but the engine's NA model stores NaN as NULL, so the two ABSORBING
    cases must short-circuit BEFORE null propagation: pandas defines
    ``NA**0 == 1`` and ``1**NA == 1`` (consistent with NaN**0/1**NaN;
    hypothesis-found via the NaN->NULL round trip)."""
    l, r = _d(l), _d(r)
    return (F.when(r == 0.0, F.lit(1.0))
            .when(l == 1.0, F.lit(1.0))
            .when(l.isNull() | r.isNull(), _dnull())
            .otherwise(F.pow(l, r)))


# ---------------------------------------------------------------------------
# Dispatch table: op name -> Column builder.
# Plain operators map straight onto Column arithmetic (JVM-side);
# only the IEEE four need custom builders.
# ---------------------------------------------------------------------------

_PLAIN = {
    "add": operator.add,
    "sub": operator.sub,
    "mul": operator.mul,
    "eq": operator.eq,
    "ne": operator.ne,
    "le": operator.le,
    "lt": operator.lt,
    "ge": operator.ge,
    "gt": operator.gt,
}

def logical_and(l: Column, r: Column) -> Column:
    """pandas object-dtype semantics: NA treated as False.  Expressed
    as a pushdown-eligible conjunction (see the COMPARISONS note)."""
    return l & r & l.isNotNull() & r.isNotNull()


def logical_or(l: Column, r: Column) -> Column:
    return (l & l.isNotNull()) | (r & r.isNotNull())


def logical_xor(l: Column, r: Column) -> Column:
    ln = l & l.isNotNull()
    rn = r & r.isNotNull()
    return ln != rn


_CUSTOM = {
    "truediv": ieee_truediv,
    "div": ieee_truediv,
    "floordiv": ieee_floordiv,
    "mod": python_mod,
    "pow": ieee_pow,
    "and": logical_and,
    "or": logical_or,
    "xor": logical_xor,
}

#: ops whose bool operands are first cast to int (reference coercion.py:88-116)
_BOOL_COERCING = {"add", "sub", "mul", "truediv", "div", "floordiv", "mod", "pow"}

COMPARISONS = frozenset({"eq", "ne", "le", "lt", "ge", "gt"})

#: ops whose result is boolean without reading the bool hints
LOGICAL = frozenset({"and", "or", "xor"})

#: ops whose result depends on the ``l_bool``/``r_bool`` hints
BOOL_HINTED = frozenset(_BOOL_COERCING) | COMPARISONS


def _debool(c: Column) -> Column:
    """Bool -> int before arithmetic, mirroring the reference's
    bool×num coercion rules (coercion.py:88-116).  Cheap no-op for
    non-boolean columns via a try-typed cast at the expression level:
    Spark casts bool->int natively, and int->int is folded away, so we
    gate on the *expression* dtype where known and otherwise leave the
    column untouched (callers pass dtype hints)."""
    return c.cast("int")


def apply_op(op: str, l: Column, r: Column, *, l_bool: bool = False,
             r_bool: bool = False) -> Column:
    """Apply named operator with coercion (reference app_op_coerced,
    coercion.py:34-42).  ``l_bool``/``r_bool`` are dtype hints from the
    frame schema deciding bool handling.

    bool semantics follow pandas/NumPy (the differential oracle), which
    refines the reference's blanket cast-to-INTEGER (coercion.py:88-116):
    bool+bool -> OR, bool*bool -> AND, bool-bool -> TypeError,
    bool vs numeric -> int cast."""
    if l_bool and r_bool and op in _BOOL_COERCING:
        if op == "add":
            return l | r
        if op == "mul":
            return l & r
        if op == "sub":
            raise TypeError(
                "numpy boolean subtract, the `-` operator, is not supported, "
                "use the bitwise_xor, the `^` operator, or the logical_xor "
                "function instead.")
        l, r = _debool(l), _debool(r)
    elif op in _BOOL_COERCING:
        if l_bool:
            l = _debool(l)
        if r_bool:
            r = _debool(r)
    elif op in COMPARISONS and l_bool != r_bool:
        # pandas compares True == 1 numerically; Spark refuses a
        # bool-vs-numeric comparison, so lift the bool side to int.
        if l_bool:
            l = _debool(l)
        else:
            r = _debool(r)
    if op in _CUSTOM:
        return _CUSTOM[op](l, r)
    if op in COMPARISONS:
        # pandas NA comparison semantics: NA==x -> False, NA!=x -> True,
        # ordered comparisons -> False (never NULL-propagating).
        # Expressed as AND/OR conjunctions, not CASE WHEN: raw is NULL
        # iff an input is NULL, so `raw AND NOT either_null` /
        # `raw OR either_null` give identical values (3VL: NULL AND
        # false = false, NULL OR true = true) while staying parquet-
        # pushdown-eligible when used as a filter — a CASE wrapper
        # reaches the scan with PushedFilters: [] (no row-group
        # pruning; the difference between scanning 100 TB and pruning
        # most of it).
        raw = _PLAIN[op](l, r)
        either_null = l.isNull() | r.isNull()
        if op == "ne":
            return raw | either_null
        return raw & ~either_null
    if op in _PLAIN:
        return _PLAIN[op](l, r)
    raise TypeError(f"unsupported operator: {op}")
