"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
over the same parquet tables, compare row-count + schema + an
order-insensitive value hash.

Usage:  python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None or (isinstance(v, float) and v != v):
        return "<NULL>"
    if isinstance(v, float):
        # Full shortest-repr precision, signed zero preserved: the
        # driver's hash distinguishes -0.0 from 0.0 and last-ulp float
        # diffs, so the local gate must too (round-3 lesson: %.6g hid
        # both reshape2_suite failures).
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_hash(pdf: pd.DataFrame):
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(norm_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None))
    import hashlib
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest(), rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from pyspark.sql import SparkSession
    # not init_db: the gate it replicates adds only _prep's confs
    spark = (SparkSession.builder.master("local[8]")
             .appName("check_correctness")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = E.queries(), E.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            ours = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {str(ex)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(ours)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            n_fail += 1
            continue
        ok = True
        if len(ours) != len(want):
            print(f"FAIL {name}: rowcount {len(ours)} vs {len(want)}")
            ok = False
        elif sorted(ours.columns) != sorted(want.columns):
            print(f"FAIL {name}: columns {sorted(ours.columns)} vs {sorted(want.columns)}")
            ok = False
        else:
            h1, r1 = frame_hash(ours)
            h2, r2 = frame_hash(want)
            if h1 != h2:
                ok = False
                print(f"FAIL {name}: value hash mismatch")
                for a, b in zip(r1, r2):
                    if a != b:
                        print(f"  ours: {a}\n  want: {b}")
                        break
        if ok:
            print(f"PASS {name}: {len(ours)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
