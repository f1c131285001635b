"""Time a subset of the bench queries (min-of-N, same session config,
same noop-sink methodology as bench.py) — for isolating a single
optimization's effect without paying the full 60-query run.

Usage: python tools/time_queries.py [-n RUNS] query [query ...]
Prints one JSON line {"queries": {name: min_sec}, "runs": {...}}.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name="pas_time_queries",
                        **{"spark.driver.memory": mem})
    spark.sparkContext.setLogLevel("ERROR")

    import bench
    qs = bench.build_bench_queries(spark, sf_dir)
    for nm in args.names:
        if nm not in qs:
            sys.exit(f"unknown query {nm!r}; known: {sorted(qs)}")

    # same warmup as bench.py
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    from pyspark.sql import functions as F
    noop_udf = F.pandas_udf(lambda s: s, "long")
    (spark.range(10000).repartition(int(cpus))
     .select(noop_udf("id").alias("x")).write.format("noop")
     .mode("overwrite").save())

    per_run: dict[str, list[float]] = {nm: [] for nm in args.names}
    for _ in range(args.n):
        for nm in args.names:
            spark.sparkContext.setJobDescription(f"time_queries:{nm}")
            t0 = time.time()
            bench._materialize(qs[nm](spark, sf_dir))
            per_run[nm].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    out = {"queries": {nm: min(v) for nm, v in per_run.items()},
           "runs": per_run, "sf_dir": sf_dir, "cpus": int(cpus),
           "loadavg1": round(os.getloadavg()[0], 2)}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
