"""pandas_alchemy_spark — a PySpark-native analytics engine with the
query surface of `pandas-alchemy` (pandas façade over a lazy engine),
rebuilt Spark-first.

The reference (JunyuanChen/pandas-alchemy, /root/reference) backs a
pandas-shaped DataFrame/Series with a lazily-composed SQL CTE against a
live RDBMS; we back the same API with a lazy PySpark logical plan and
let Catalyst/Tungsten do what the remote RDBMS optimizer did
(reference README.md; SURVEY.md §1.5).

Exports mirror reference pandas_alchemy/__init__.py:1-21 plus the
Spark-era extensions (read_parquet, the ext.* pipeline operators).
"""

from .core import DataFrame, Series, concat
from .functions.json import from_json, json_extract
from .functions.json import to_json as _to_json_expr
from .accessors import to_datetime
from .operators.asof import merge_asof
from .relational import (crosstab, cut, date_range, get_dummies,
                         json_normalize, merge_ordered, qcut,
                         to_numeric, wide_to_long)
from .sources.io import (read_csv, read_jdbc, read_json, read_orc,
                         read_table, read_text, to_csv, to_orc,
                         to_parquet, write_bucketed)
from .sources.io import to_json as _to_json_sink
from .session import close_db, get_session, init_db
from .plans import scale_report

import threading as _threading

# pas.sql serializes on this: temp-view registration + spark.sql must be
# atomic per call when threads share one session.
_SQL_LOCK = _threading.Lock()

__version__ = "0.1.0"


def to_json(obj, path=None, mode: str = "overwrite"):
    """JSON, both directions of the pandas idiom:

    - ``pas.to_json(series)`` — serialize a nested column
      (struct/array/map) to JSON strings (one projection, codegen).
    - ``pas.to_json(df, path)`` — write the frame as JSON-lines.
    """
    if path is None:
        return _to_json_expr(obj)
    return _to_json_sink(obj, path, mode=mode)


def merge(left, right, how="inner", on=None, left_on=None,
          right_on=None, suffixes=("_x", "_y"), broadcast=False,
          indicator=False):
    """Module-level pandas.merge — delegates to DataFrame.merge."""
    return left.merge(right, how=how, on=on, left_on=left_on,
                      right_on=right_on, suffixes=suffixes,
                      broadcast=broadcast, indicator=indicator)


def from_spark(sdf, columns=None, index=None):
    """Engine DataFrame over an existing Spark DataFrame (interop
    bridge; see DataFrame.from_spark)."""
    return DataFrame.from_spark(sdf, columns=columns, index=index)


def sql(query: str, index=None, **frames):
    """Run Spark SQL over engine frames — the raw-SQL escape hatch the
    reference inherits from SQLAlchemy (any query its engine could
    express), re-expressed Spark-first: each ``name=frame`` kwarg
    registers a TEMP VIEW (user-facing column names; index levels
    included under their level names), the query plans through
    Catalyst like any other, and the result wraps back into an engine
    DataFrame (``index=`` promotes result columns to the index, like
    ``from_spark``).

    The views are plan-backed, not materialized — ``pas.sql`` composes
    with the lazy façade at zero extra cost, and catalog tables
    already registered in the session remain addressable alongside
    the kwarg views.  Session hygiene: the kwarg views are SCOPED to
    this call — Spark binds the plan during analysis (spark.sql
    returns an analyzed frame), so the views are dropped afterwards
    and any same-named pre-existing LOCAL temp view is restored
    rather than silently clobbered (``global_temp`` views live in
    their own namespace and are out of scope — a kwarg never shadows
    ``global_temp.name``).  Concurrency: calls serialize on a module
    lock, so two threads sharing the session cannot race between a
    view registration and the query that reads it; the probe below is
    deliberately un-guarded — if the catalog cannot be listed the
    call FAILS rather than risk dropping a user's pre-existing view."""
    spark = get_session()
    with _SQL_LOCK:
        # No blanket except here: a failed probe must surface, else the
        # finally block would dropTempView() a same-named pre-existing
        # view instead of restoring it.
        existing = {v.name for v in spark.catalog.listTables()
                    if v.isTemporary}
        replaced = {name: spark.table(name)
                    for name in frames if name in existing}
        try:
            for name, df in frames.items():
                sdf = df.to_spark() if hasattr(df, "to_spark") else df
                sdf.createOrReplaceTempView(name)
            out = spark.sql(query)
        finally:
            for name in frames:
                old = replaced.get(name)
                if old is not None:
                    old.createOrReplaceTempView(name)
                else:
                    spark.catalog.dropTempView(name)
    return DataFrame.from_spark(out, index=index)


def read_parquet(path, columns=None, index=None):
    """Parquet scan as an engine DataFrame (supersedes the reference's
    SQLAlchemy-URL connector surface, SURVEY.md §2.1).

    The path's schema is inferred on its first read in a session and
    reused while nothing under the path and no SQL conf of the session
    has changed (see ``DataFrame.from_table``); a changed, added or
    removed file, a changed conf, ``close_db()``, a URI or a glob path
    infers again."""
    return DataFrame.from_table(path, columns=columns, index=index)


def use_repr_workaround():
    """Reference-compat no-op: our __repr__ is already a limit-fetch
    (reference __init__.py:5-18 monkeypatches a full-fetch repr)."""
    return None


__all__ = [
    "DataFrame",
    "Series",
    "concat",
    "init_db",
    "close_db",
    "get_session",
    "read_parquet",
    "from_spark",
    "scale_report",
    "sql",
    "merge",
    "merge_asof",
    "to_datetime",
    "crosstab",
    "get_dummies",
    "to_json",
    "from_json",
    "json_extract",
    "cut",
    "qcut",
    "read_csv",
    "read_json",
    "read_orc",
    "read_table",
    "read_text",
    "to_csv",
    "to_json",
    "to_orc",
    "to_parquet",
    "write_bucketed",
    "use_repr_workaround",
]
