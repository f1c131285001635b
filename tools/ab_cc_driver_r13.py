"""Interleaved A/B (r13 batch 5): connected_components driver-side
union-find (bounded collect, exact) vs the distributed min-label
propagation loop, on the REAL sf0.1 semdedup pair graph (the bench
geometry whose CC stage the r13 batch-2/3 work already took
5.37 -> 2.65 s) and on the doc-scale near-dup graph when present.

Both legs run in ONE process, alternating, min-of-N each, noop sink;
label equality is asserted on the spot (the driver path must produce
the identical (id, component) set — component = min reachable id).

Leg selection is forced through the module floor:
  driver leg:      dedup._CC_DRIVER_EDGE_FLOOR = <default>
  distributed leg: dedup._CC_DRIVER_EDGE_FLOOR = 0

Usage: python tools/ab_cc_driver_r13.py [out.json]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _cpu_mark  # noqa: E402


def main():
    out_path = sys.argv[1] if len(sys.argv) > 1 else "AB_CC_DRIVER_r13.json"
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    spark = (SparkSession.builder.master("local[32]")
             .appName("ab_cc_driver")
             .config("spark.driver.memory", "24g")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from pandas_alchemy_spark.ext import dedup, similarity

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    default_floor = dedup._CC_DRIVER_EDGE_FLOOR
    legs = {}

    def graph_leg(name, pairs_df, n_runs=4):
        # materialize the pair graph ONCE outside the timed region so
        # the A/B isolates the CC stage (bench legs pay the pair
        # lineage identically on both sides)
        pairs = pairs_df.persist()
        n_pairs = pairs.count()
        times = {"driver": [], "dist": []}
        for _ in range(n_runs):
            for leg, floor in (("driver", default_floor), ("dist", 0)):
                dedup._CC_DRIVER_EDGE_FLOOR = floor
                t0 = time.time()
                noop(dedup.connected_components(pairs))
                times[leg].append(round(time.time() - t0, 3))
        # label equality: exact set compare
        dedup._CC_DRIVER_EDGE_FLOOR = default_floor
        drv = {(r["id"], r["component"])
               for r in dedup.connected_components(pairs).collect()}
        dedup._CC_DRIVER_EDGE_FLOOR = 0
        dst = {(r["id"], r["component"])
               for r in dedup.connected_components(pairs).collect()}
        dedup._CC_DRIVER_EDGE_FLOOR = default_floor
        assert drv == dst, (
            f"{name}: driver/distributed label mismatch "
            f"({len(drv ^ dst)} rows differ)")
        pairs.unpersist()
        legs[name] = {
            "n_pairs": n_pairs,
            "n_vertices": len(drv),
            "driver_runs": times["driver"],
            "dist_runs": times["dist"],
            "driver_min": min(times["driver"]),
            "dist_min": min(times["dist"]),
            "speedup": round(min(times["dist"])
                             / max(min(times["driver"]), 1e-9), 3),
            "labels_equal": True,
        }
        print(f"{name}: driver {min(times['driver'])}s vs dist "
              f"{min(times['dist'])}s ({legs[name]['speedup']}x), "
              f"{n_pairs} pairs, labels equal", file=sys.stderr)

    # leg 1: the sf0.1 semdedup bench pair graph (bench.py geometry)
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    dim = len(emb.select("embedding").head(1)[0][0])
    nlist = max(8, emb.count() // 256)
    graph_leg("sf01_semdedup", similarity.semantic_dedup_pairs(
        emb, dim=dim, nlist=nlist, threshold=0.3).select("id_a", "id_b"))

    # leg 2: the sf0.1 minhash cluster graph (dedup_cluster oracle shape)
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    graph_leg("sf01_minhash", dedup.minhash_lsh_pairs(
        docs, threshold=0.4, num_hashes=16, bands=4)
        .select("id_a", "id_b"))

    # leg 3: doc-scale near-dup graph, when the fixture exists
    docdir = "/root/repo/.scratch/docs10/documents.parquet"
    if os.path.exists(docdir):
        d10 = spark.read.parquet(docdir)
        graph_leg("docscale_minhash", dedup.minhash_lsh_pairs(
            d10, threshold=0.4, num_hashes=16, bands=4)
            .select("id_a", "id_b"), n_runs=3)

    # end-to-end bench legs (bench.py geometry, floor toggled,
    # interleaved): the CC stage is INSIDE the timed query here, so
    # this measures exactly what the driver's bench sees
    import bench as _bench
    qs = _bench.build_bench_queries(spark, "/root/testdata/sf0.1")
    for name in ("semdedup",):
        times = {"driver": [], "dist": []}
        for _ in range(3):
            for leg, floor in (("driver", default_floor), ("dist", 0)):
                dedup._CC_DRIVER_EDGE_FLOOR = floor
                t0 = time.time()
                noop(qs[name](spark, "/root/testdata/sf0.1"))
                times[leg].append(round(time.time() - t0, 3))
        dedup._CC_DRIVER_EDGE_FLOOR = default_floor
        legs["bench_" + name] = {
            "driver_runs": times["driver"],
            "dist_runs": times["dist"],
            "driver_min": min(times["driver"]),
            "dist_min": min(times["dist"]),
            "speedup": round(min(times["dist"])
                             / max(min(times["driver"]), 1e-9), 3),
        }
        print(f"bench_{name}: driver {min(times['driver'])}s vs dist "
              f"{min(times['dist'])}s", file=sys.stderr)

    out = {
        "metric": "ab_cc_driver_union_find",
        "floor": default_floor,
        "legs": legs,
        "cpu_mark": _cpu_mark(),
        "loadavg1": os.getloadavg()[0],
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out), file=sys.stderr)


if __name__ == "__main__":
    main()
