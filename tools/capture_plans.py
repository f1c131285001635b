"""Capture .explain("formatted") for bench queries into
plans/r<N>/<query>_<tag>.txt (tag = before/after), reusing
bench.build_bench_queries so the captured plans are EXACTLY the plans
the bench times (guide §1 / §7.2).  Round-agnostic successor to the
per-round capture_plans_r13.py fork (VERDICT r13 next-round item 7).

Usage:  python tools/capture_plans.py --round 14 [--tag before] [query ...]

Explain-only — builds each DataFrame and formats its plan; no action is
triggered except the tiny probes the query constructors themselves run
(head(1) for dim sniffing, count() for nlist sizing) and the index
builds some queries perform at construction time.
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--tag", default="before")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    only = set(args.names)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", f"r{args.round}")
    os.makedirs(out_dir, exist_ok=True)

    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name=f"pas_capture_plans_r{args.round}", **{
        "spark.driver.memory":
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")})
    spark.sparkContext.setLogLevel("ERROR")

    import bench
    queries = bench.build_bench_queries(spark, sf_dir)

    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
        except Exception as ex:  # noqa: BLE001 — record and continue
            failures.append(name)
            plan = f"CAPTURE FAILED: {ex}\n"
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        spark.catalog.clearCache()
    if failures:
        print(f"FAILED: {failures}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
