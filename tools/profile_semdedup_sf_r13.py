"""Per-stage timing of the BENCH semdedup leg at sf0.1 geometry
(nlist = n/256, threshold 0.3, nprobe 1) — where does its time go?
Cumulative-prefix method (stage cost = t_k - t_{k-1}, no
persists beyond what the operator itself does), same as
tools/profile_semdedup.py but at the bench fixture and bench params.

Usage: python tools/profile_semdedup_sf_r13.py [out.json]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("profile_semdedup_sf_r13")
             .config("spark.driver.memory", "24g")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from pandas_alchemy_spark.ext import dedup, similarity

    # bench-identical warmup (JVM + Arrow pool)
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    noop_udf = F.pandas_udf(lambda s: s, "long")
    (spark.range(10000).repartition(int(cpus))
     .select(noop_udf("id").alias("x")).write.format("noop")
     .mode("overwrite").save())

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def reset():
        spark.catalog.clearCache()

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    stages = {}
    t0 = time.perf_counter()
    dim = len(emb.select("embedding").head(1)[0][0])
    n = emb.count()
    nlist = max(8, n // 256)
    stages["0_count_dim"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    cents = similarity.train_ivf_centroids(emb, dim=dim, nlist=nlist)
    stages["1_train"] = round(time.perf_counter() - t0, 3)

    # assignment materialize (what ONE execution of the assigned
    # subtree costs)
    t0 = time.perf_counter()
    cells = similarity._assign_cells_udf(cents, nprobe=1)
    assigned = emb.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"),
        similarity.norm_expr("embedding").alias("nrm"),
        F.explode(cells(F.col("embedding"))).alias("cell"))
    noop(assigned)
    stages["2_assign_once"] = round(time.perf_counter() - t0, 3)
    reset()

    # pair stage alone, via the public API with precomputed
    # centroids — includes cap + per-cell pair kernel
    t0 = time.perf_counter()
    pairs = similarity.semantic_dedup_pairs(
        emb, dim=dim, nlist=nlist, threshold=0.3, centroids=cents)
    noop(pairs)
    stages["3_pairs"] = round(time.perf_counter() - t0, 3)
    reset()

    # pairs + connected components
    t0 = time.perf_counter()
    pairs = similarity.semantic_dedup_pairs(
        emb, dim=dim, nlist=nlist, threshold=0.3, centroids=cents)
    comp = dedup.connected_components(pairs)
    noop(comp)
    stages["4_pairs_cc"] = round(time.perf_counter() - t0, 3)
    reset()

    # full operator end to end (centroids retrained inside, like the
    # bench leg; includes count+train again)
    t0 = time.perf_counter()
    out = similarity.semantic_dedup(emb, dim=dim, nlist=nlist,
                                    threshold=0.3)
    noop(out)
    stages["5_full"] = round(time.perf_counter() - t0, 3)
    reset()

    art = {"sf_dir": sf_dir, "n": n, "dim": dim, "nlist": nlist,
           "stages": stages}
    print(json.dumps(art, indent=1))
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(art, fh, indent=1)


if __name__ == "__main__":
    main()
