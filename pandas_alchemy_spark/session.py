"""SparkSession lifecycle — the engine's analogue of the reference's
``init_db``/``close_db`` global-engine singleton (reference:
pandas_alchemy/db.py:12-27).

The reference holds a global SQLAlchemy engine + MetaData; every frame
compiles its CTE against that engine.  Here the "engine" is a
SparkSession; all optimization is delegated to Catalyst the way the
reference delegates to the backing RDBMS optimizer.

Scale notes (100 TB / 1000-executor design intent):
- AQE is on: runtime coalescing, skew-join splitting and
  dynamic broadcast decisions replan per-stage at real cardinalities.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces.  On a real cluster this should be ~2-3x total cores.
- Arrow is enabled so `to_pandas`/`from_pandas` interop is columnar,
  not row-at-a-time (the reference ships literal rows as UNION ALL
  SQL text — an anti-pattern we deliberately do not reproduce).

Building a frame is driver-only work, as the reference's query
composition is client-only:

- PySpark's DataFrame call-site capture
  (``spark.python.sql.dataFrameDebugging.enabled``) is off.  It wraps
  every Column and DataFrame call with several py4j round trips to
  record the calling line for error messages, and the line it records
  is one inside this package, never the user's code.  Pass
  ``init_db(**{"spark.python.sql.dataFrameDebugging.enabled": "true"})``
  to turn it back on.
- A parquet path's scan is kept with the session, the analogue of the
  reference reflecting a table once into its global ``MetaData``
  (db.py:12-19): see :func:`parquet_scan`.  :func:`close_db` drops it.
"""

from __future__ import annotations

import glob
import os

import pyspark.errors.utils as _pyspark_errors_utils
from pyspark.sql import SparkSession

_SESSION: SparkSession | None = None

#: absolute parquet path -> (key, scan, facts, frames) of its last scan
_PARQUET_SCANS: dict[str, tuple] = {}


def _default_parallelism() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


def init_db(master: str | None = None, app_name: str = "pandas_alchemy_spark",
            **conf: str) -> SparkSession:
    """Create (or fetch) the global SparkSession.

    Mirrors reference ``init_db`` (db.py:12-19): repeated calls without
    an intervening :func:`close_db` raise, matching its assertion that
    the DB is not already initialized.
    """
    global _SESSION
    if _SESSION is not None:
        raise RuntimeError("Session already initialized; call close_db() first")
    cpus = _default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        # driver testdata uses nanosecond parquet timestamps
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate inlines expensive generators into
        # pushed-down filters (O(n^2) re-evaluation; see ext/dedup.py)
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    _SESSION = builder.getOrCreate()
    _SESSION.sparkContext.setLogLevel("WARN")
    # pyspark reads the call-site conf once per process and caches it;
    # clear that cache so this session's setting is the one in force
    _pyspark_errors_utils._enable_debugging_cache = None
    return _SESSION


def close_db() -> None:
    """Stop and clear the global session (reference db.py:22-27)."""
    global _SESSION
    if _SESSION is None:
        raise RuntimeError("Session not initialized")
    _SESSION.stop()
    _SESSION = None
    _PARQUET_SCANS.clear()


def get_session() -> SparkSession:
    """Active session: the explicit singleton, else any live Spark
    session (so the engine composes with a driver-provided session)."""
    if _SESSION is not None:
        return _SESSION
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    raise RuntimeError("No SparkSession; call init_db() first")


def _parquet_key(spark: SparkSession, path: str):
    """What a parquet path's scan depends on: every file under it as
    (relative name, size, mtime_ns, inode), and the session's SQL
    confs.  None for a path that cannot be stat'ed here
    (a URI such as ``s3a://``, a glob, a missing path)."""
    if "://" in path or path.startswith("file:") or glob.has_magic(path):
        return None
    root = os.path.abspath(path)
    if os.path.isfile(root):
        walk = [(os.path.dirname(root), [os.path.basename(root)])]
    elif os.path.isdir(root):
        walk = [(d, files) for d, _, files in os.walk(root)]
    else:
        return None
    entries = []
    try:
        for d, files in walk:
            for name in files:
                st = os.stat(os.path.join(d, name))
                entries.append((os.path.relpath(os.path.join(d, name), root),
                                st.st_size, st.st_mtime_ns, st.st_ino))
    except FileNotFoundError:  # deleted while we walked
        return None
    confs = spark._jsparkSession.sessionState().conf().getAllConfs()
    return tuple(sorted(entries)), confs.toString()


def parquet_scan(spark: SparkSession, path: str, describe):
    """``(scan, describe(scan), frames)`` for the parquet ``path``.

    The first read of a path makes the scan (a Spark job that reads the
    parquet footers for the schema, and lists the files).  Later reads
    return that same scan Dataset, its description and ``frames``, a
    dict the caller keeps the frames it builds over the scan in, while
    neither the files under the path nor the session's SQL confs have
    changed.  Any change to either scans afresh, as does every read of
    a path that cannot be stat'ed locally.  One entry per path."""
    key = _parquet_key(spark, path)
    root = os.path.abspath(path)
    hit = _PARQUET_SCANS.get(root) if key is not None else None
    if hit is not None and hit[0] == key:
        return hit[1:]
    # the key is taken BEFORE the scan: a file changed in between then
    # leaves an entry whose key no later read matches, never a stale
    # scan under the new key
    sdf = spark.read.parquet(path)
    entry = (sdf, describe(sdf), {})
    if key is not None:
        _PARQUET_SCANS[root] = (key,) + entry
    return entry
