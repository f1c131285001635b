"""Gate sweep under ADVERSARIAL session config: 3 shuffle partitions
(a completely different range-partition geometry than the driver's)
plus 64-row Arrow batches (multi-batch partitions everywhere) — the
two knobs that historically exposed carry/order bugs invisible at the
default config (round-5 batch-boundary restarts; round-6 factorize
scan-order).  50/50 here means the oracle gate is configuration-
robust, not just green at one partitioning.

Usage: python tools/check_stress.py"""
import sys
import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import tools.check_correctness as C

def main():
    import duckdb, time
    import __spark_entry__ as E
    import pandas_alchemy_spark as pas
    sf_dir = "/root/testdata/sf0.01"
    spark = pas.init_db(app_name="check_stress", **{
        "spark.sql.shuffle.partitions": "3",
        "spark.default.parallelism": "3",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "64",
    })
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in C.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    qs, oracles = E.queries(), E.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        try:
            ours = fn(spark, sf_dir).toPandas()
            want = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: {str(ex)[:200]}")
            n_fail += 1
            continue
        ok = (len(ours) == len(want)
              and sorted(ours.columns) == sorted(want.columns))
        if ok:
            h1, _ = C.frame_hash(ours)
            h2, _ = C.frame_hash(want)
            ok = h1 == h2
        if ok:
            n_pass += 1
        else:
            print(f"FAIL {name}: mismatch "
                  f"({len(ours)} vs {len(want)} rows)")
            n_fail += 1
    print(f"{n_pass} pass, {n_fail} fail")

main()
