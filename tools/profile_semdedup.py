"""Stage-wise profile of SemDeDup at doc scale (VERDICT r9 #7): the
most expensive doc-scale operator (166.1 s @ 200k x 64d in
BENCH_r09_dedup_sf10.json) gets the same noop-materialized-increment
treatment SURVEY §16.2 gave tfidf — time progressively deeper
prefixes of the pipeline, so stage cost = t_k - t_{k-1} (no persists;
each materialization recomputes its prefix, which is exactly what the
un-cached operator pays).

Stages mirror ext/similarity.py semantic_dedup_pairs (nprobe=2)
+ semantic_dedup's components/label join:
  1 train     train_ivf_centroids (sampled k-means, driver matmul)
  2 assign    soft cell assignment + cell_cap exclusion join
  3 surv      per-id surviving-cell-set rebuild (groupBy, carries v)
  4 pairs     per-cell BLAS pairwise + canonical-cell filter
  5 cc        connected_components over the pairs
  6 label     left-join labels back to all ids (+ keep flag)

Usage: python tools/profile_semdedup.py [docs_dir] [out.json]
Defaults: /root/repo/.scratch/docs10, stdout only.  Parameters match
the bench_dedup_sf10 semantic_dedup leg (nlist=512, threshold=0.93,
cell_cap=20k, nprobe=2) so the totals are comparable.
"""
from __future__ import annotations

import json
import os
import sys
import time


def main():
    docs_dir = (sys.argv[1] if len(sys.argv) > 1
                else "/root/repo/.scratch/docs10")
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import _gate_on_load
    gate = _gate_on_load(wait_s=600)
    from pyspark.sql import functions as F
    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name="profile_semdedup",
                        **{"spark.driver.memory": "48g"})
    spark.sparkContext.setLogLevel("ERROR")
    from pandas_alchemy_spark.ext import dedup, similarity
    from pandas_alchemy_spark.ext.similarity import (
        _assign_cells_udf, norm_expr, train_ivf_centroids)

    emb = spark.read.parquet(f"{docs_dir}/embeddings.parquet")
    emb.count()  # warm footers
    dim = len(emb.take(1)[0]["embedding"])
    NLIST, THR, CAP, NPROBE = 512, 0.93, 20_000, 2
    t: dict[str, float] = {}

    def stage(name, fn):
        t0 = time.time()
        fn()
        t[name] = round(time.time() - t0, 2)
        print(f"{name}: {t[name]}s", file=sys.stderr)

    # 1 — centroids (driver-held; reused by later stages so their
    # increments isolate the Spark-side work)
    cents_holder = {}
    stage("t1_train", lambda: cents_holder.update(c=train_ivf_centroids(
        emb, dim=dim, nlist=NLIST)))
    cents = cents_holder["c"]

    # mirrors semantic_dedup_pairs(nprobe=2)
    def assigned_frame():
        df = emb.filter(F.col("embedding").isNotNull())
        cells = _assign_cells_udf(cents, nprobe=NPROBE)
        a = df.select(F.col("vec_id").alias("id"),
                      F.col("embedding").alias("v"),
                      norm_expr("embedding").alias("nrm"),
                      F.explode(cells(F.col("embedding"))).alias("cell"))
        sizes = a.groupBy("cell").agg(F.count(F.lit(1)).alias("__cn"))
        return a.join(F.broadcast(
            sizes.filter(F.col("__cn") <= CAP).select("cell")), "cell")

    def surv_frame():
        return (assigned_frame().groupBy("id")
                .agg(F.first("v").alias("v"),
                     F.first("nrm").alias("nrm"),
                     F.array_sort(F.collect_list("cell")).alias("cs")))

    def pairs_frame():
        return similarity.semantic_dedup_pairs(
            emb, dim=dim, nlist=NLIST, threshold=THR, cell_cap=CAP,
            nprobe=NPROBE, centroids=cents)

    stage("t2_assign", lambda: assigned_frame().count())
    stage("t3_surv", lambda: surv_frame().count())
    n_pairs = {}
    stage("t4_pairs", lambda: n_pairs.update(
        n=pairs_frame().count()))
    stage("t5_cc", lambda: dedup.connected_components(
        pairs_frame(), src="id_a", dst="id_b").count())
    stage("t6_label_total", lambda: similarity.semantic_dedup(
        emb, dim=dim, nlist=NLIST, threshold=THR, cell_cap=CAP,
        nprobe=NPROBE, centroids=cents).count())

    incr = {
        "train": t["t1_train"],
        "assign_cap": t["t2_assign"],
        "surv_rebuild": round(t["t3_surv"] - t["t2_assign"], 2),
        "join_cosine": round(t["t4_pairs"] - t["t3_surv"], 2),
        "connected_components": round(t["t5_cc"] - t["t4_pairs"], 2),
        "label_join": round(t["t6_label_total"] - t["t5_cc"], 2),
    }
    art = {"metric": "semdedup_stage_profile", "unit": "sec",
           "n_vecs": emb.count(), "dim": dim, "nlist": NLIST,
           "threshold": THR, "cell_cap": CAP, "nprobe": NPROBE,
           "n_pairs": n_pairs.get("n"),
           "cumulative": t, "incremental": incr,
           "end_to_end_with_pretrained_centroids": t["t6_label_total"],
           "load_at_start": gate}
    line = json.dumps(art)
    print(line)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")
    pas.close_db()


if __name__ == "__main__":
    main()
