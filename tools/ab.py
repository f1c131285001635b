"""Interleaved A/B of DataFrame legs in one session.

:func:`compare` collects every leg once and refuses the comparison if a
leg is empty or if the legs' sorted rows differ, so a timing is only
ever reported for outputs shown equal on a non-empty result.  It then
runs ``n`` rounds, alternating the leg order from round to round, and
times each leg through a ``noop`` write (full compute, no driver
transfer).  The result carries each leg's runs and min, each leg's min
over the first leg's, and the box's ``cpus``, ``cpu_mark`` and loadavg.

CLI (the session comes from ``pas.init_db``; prints one JSON line)::

    python tools/ab.py --input "$SF_DIR/documents.parquet" --n 3 \\
        sql='sql_oracles.simhash_signature_sql(df, "text", "doc_id", 60)' \\
        kernel='dedup.simhash_signature(df)'

Each ``NAME=EXPR`` leg is a Python expression over ``df``
(``spark.read.parquet(input)``) with ``spark``, ``pas``, ``F``, the
``ext``/``operators`` modules (``dedup``, ``similarity``, ``text``,
``asof``, ...) and the test oracles ``sql_oracles`` in scope.  Spark's own
``PYSPARK_SUBMIT_ARGS="--driver-memory 8g pyspark-shell"`` sizes the
driver heap for doc-scale inputs.
"""
from __future__ import annotations

import argparse
import importlib
import json
import os
import pkgutil
import sys
import time
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def compare(legs: dict[str, Callable], n: int = 3) -> dict:
    """Assert the legs' outputs equal and non-empty, then time ``n``
    interleaved rounds.  ``legs`` maps a name to a callable that builds
    the leg's DataFrame afresh."""
    from bench import _cpu_mark

    if len(legs) < 2:
        raise ValueError("an A/B needs at least two legs")
    names = list(legs)
    rows = {}
    for name in names:
        df = legs[name]()
        # repr orders None and NaN and compares NaN equal to itself
        rows[name] = sorted(repr(tuple(r)) for r in df.collect())
        if not rows[name]:
            raise ValueError(f"leg {name!r} is empty; an empty "
                             "comparison shows nothing")
    first = names[0]
    for name in names[1:]:
        if rows[name] != rows[first]:
            raise AssertionError(
                f"legs {first!r} and {name!r} differ: "
                f"{len(rows[first])} vs {len(rows[name])} rows")
    cpus = df.sparkSession.sparkContext.defaultParallelism
    load_before = os.getloadavg()[0]
    runs = {name: [] for name in names}
    for r in range(n):
        for name in names if r % 2 == 0 else names[::-1]:
            t0 = time.perf_counter()
            legs[name]().write.format("noop").mode("overwrite").save()
            runs[name].append(round(time.perf_counter() - t0, 3))
    mins = {name: min(t) for name, t in runs.items()}
    return {
        "n_rows": len(rows[first]),
        "outputs_equal": True,
        "legs": {name: {"runs": runs[name], "min": mins[name]}
                 for name in names},
        "ratio_to_first": {name: round(mins[name] / mins[first], 3)
                           for name in names},
        "cpus": cpus,
        "cpu_mark": _cpu_mark(),
        "loadavg1": [round(load_before, 2), round(os.getloadavg()[0], 2)],
    }


def _scope(spark, df) -> dict:
    import pandas_alchemy_spark as pas
    from pyspark.sql import functions as F

    scope = {"spark": spark, "df": df, "pas": pas, "F": F,
             "sql_oracles": importlib.import_module("tests.sql_oracles")}
    for sub in ("ext", "operators"):
        pkg = importlib.import_module(f"pandas_alchemy_spark.{sub}")
        for info in pkgutil.iter_modules(pkg.__path__):
            scope[info.name] = importlib.import_module(
                f"{pkg.__name__}.{info.name}")
    return scope


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--input", required=True, help="parquet path read as df")
    ap.add_argument("--n", type=int, default=3, help="timed rounds")
    ap.add_argument("legs", nargs="+", metavar="NAME=EXPR")
    args = ap.parse_args(argv)
    exprs = dict(leg.split("=", 1) for leg in args.legs)

    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        scope = _scope(spark, spark.read.parquet(args.input))
        legs = {name: (lambda e=expr: eval(e, scope))
                for name, expr in exprs.items()}
        out = compare(legs, args.n)
    finally:
        pas.close_db()
    print(json.dumps({"input": args.input, "exprs": exprs, **out}))


if __name__ == "__main__":
    main()
