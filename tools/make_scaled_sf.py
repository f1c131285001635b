"""Synthesize a larger scale factor from an existing one by unioning
K key-shifted replicas of every FACT table (dims region/nation stay
fixed, so FK semantics hold: each replica is a self-contained copy of
the workload keyed into its own id range).

Document/embedding payloads are NOT varied between replicas on
purpose: a 10x corpus of exact copies is the degenerate-bucket stress
case the dedup/LSH bucket caps exist for — the point of the scaled run
is to observe those caps (and the pack/cluster iteration behavior)
above the driver's sf0.1.

Usage: python tools/make_scaled_sf.py <src_sf_dir> <dst_dir> [K=10]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OFFSET = 10_000_000

# id-ish columns to shift per replica; everything else passes through
SHIFT = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "region": None,   # dims copied once
    "nation": None,
}


def main():
    src, dst = sys.argv[1], sys.argv[2]
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    from pyspark.sql import functions as F
    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name="make_scaled_sf")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(dst, exist_ok=True)
    for table, ids in SHIFT.items():
        df = spark.read.parquet(f"{src}/{table}.parquet")
        if ids is None:
            out = df
        else:
            parts = []
            for r in range(k):
                rep = df
                for c in ids:
                    rep = rep.withColumn(c, F.col(c) + F.lit(r * OFFSET))
                parts.append(rep)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionAll(p)
        out.write.mode("overwrite").parquet(f"{dst}/{table}.parquet")
        print(table, spark.read.parquet(f"{dst}/{table}.parquet").count())


if __name__ == "__main__":
    main()
