"""Append-longevity measurement (r11; VERDICT r10 #7): a real ingest
pipeline appends hundreds of waves, not one.  This tool runs N
sequential appends on BOTH incremental indexes and records the
degradation/cost curves that back the compaction policies in
SCALE.md:

- ReferenceIndex: base = half the corpus, N waves over the rest.
  Per checkpoint: append wall-time, a FIXED held-out query drained
  against the grown chain vs a from-scratch union rebuild (hit-set
  equality — the value contract at depth), tombstone/bucket counts,
  and needs_compaction state.
- IVF index: base = half the vectors, N waves appended in place.
  Per checkpoint: recall@5 of the frozen-centroid index vs the exact
  brute-force truth on the cumulative corpus, the same recall under
  a FRESH-centroid rebuild (the drift headroom), files-per-cell
  growth (the small-file tax), and ivf_compaction_due state.

Usage: python tools/append_longevity.py [docs_dir] [n_waves=20]
Prints ONE JSON line (copy to SCALE_append_longevity_r{N}.json).
"""
from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def main():
    docs_dir = (sys.argv[1] if len(sys.argv) > 1
                else ".scratch/docs10")
    n_waves = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    from pyspark.sql import functions as F
    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name="append_longevity",
                        **{"spark.driver.memory": "24g"})
    spark.sparkContext.setLogLevel("ERROR")
    from pandas_alchemy_spark.ext import dedup, similarity
    import bench
    out: dict = {"metric": "append_longevity", "docs_dir": docs_dir,
                 "n_waves": n_waves, "cpu_mark": bench._cpu_mark()}
    checkpoints = sorted({1, 2, 5, 10, n_waves} & set(
        range(1, n_waves + 1)))

    # ---------------- ReferenceIndex ----------------
    docs = (spark.read.parquet(f"{docs_dir}/documents.parquet")
            .select("doc_id", "text"))
    mod = 2 * (n_waves + 1)
    base = docs.filter(f"doc_id % {mod} < {n_waves + 1}")
    held_q = docs.filter(f"doc_id % {mod} = {n_waves + 1}")
    waves = [docs.filter(f"doc_id % {mod} = {n_waves + 1 + w}")
             for w in range(1, n_waves + 1)]
    # r12 (VERDICT r11 #6): plant a boilerplate key that SATURATES at
    # the production cap (2000) so the tombstone-preservation logic is
    # exercised at doc scale, not just in the cap=3 unit test — the
    # r11 curve recorded 0 tombstones across all 20 waves.  2100 base
    # copies saturate at build; each wave appends 5 more; the held-out
    # query carries one copy (a resurrected bucket would hand it
    # every planted id as a hit and break hits_equal_rebuild).
    boiler = docs.limit(1).select(F.col("text").alias("btext"))

    def planted(n, off):
        return (spark.range(n).crossJoin(boiler)
                .select((F.col("id") + off).alias("doc_id"),
                        F.col("btext").alias("text")))

    base = base.unionAll(planted(2100, 1_000_000_000_000))
    held_q = held_q.unionAll(planted(1, 1_001_000_000_000))
    waves = [w.unionAll(planted(5, 1_002_000_000_000 + i * 10))
             for i, w in enumerate(waves)]
    t0 = time.time()
    idx = dedup.build_reference_index(base, num_hashes=16, bands=4)
    build_s = round(time.time() - t0, 2)
    ref_rows = []
    cum = base
    append_times = []
    for w in range(1, n_waves + 1):
        t0 = time.time()
        nxt = idx.append(waves[w - 1])
        append_times.append(round(time.time() - t0, 2))
        if w > 1:
            idx.release()
        idx = nxt
        cum = cum.unionAll(waves[w - 1])
        if w in checkpoints:
            t0 = time.time()
            hits_chain = {(r.id_new, r.id_ref)
                          for r in dedup.cross_dedup_pairs(
                              held_q, index=idx,
                              threshold=0.4).collect()}
            q_chain_s = round(time.time() - t0, 2)
            t0 = time.time()
            reb = dedup.build_reference_index(
                cum, num_hashes=16, bands=4)
            rebuild_s = round(time.time() - t0, 2)
            hits_reb = {(r.id_new, r.id_ref)
                        for r in dedup.cross_dedup_pairs(
                            held_q, index=reb,
                            threshold=0.4).collect()}
            reb.release()
            ref_rows.append({
                "wave": w,
                "append_s_cum": round(sum(append_times), 2),
                "append_s_last": append_times[-1],
                "rebuild_s": rebuild_s,
                "query_s": q_chain_s,
                "hits_chain": len(hits_chain),
                "hits_equal_rebuild": hits_chain == hits_reb,
                "n_buckets": idx.ref_buckets.count(),
                "n_tombstones": idx.ref_over.count(),
                "appended_fraction": round(
                    idx.appended_fraction(), 4),
                "needs_compaction_default":
                    idx.needs_compaction(),
            })
            print(f"# ref wave {w}: {ref_rows[-1]}", file=sys.stderr)
    # ---- firing wave (r12; VERDICT r11 #5): the mod layout caps the
    # appended fraction at n_waves/(n_waves+1) < 1.0, so the default
    # trigger could never fire inside the loop by construction.  One
    # extra wave of two base-sized slices (offset ids — disjoint)
    # pushes it past 1.0; then the measured corpus-free compact() and
    # a post-compaction query-equality check close the lifecycle.
    fire_wave = (docs.filter(f"doc_id % {mod} < 2")
                 .select((F.col("doc_id") + 2_000_000_000_000)
                         .alias("doc_id"), "text"))
    t0 = time.time()
    fired = idx.append(fire_wave)
    fire_append_s = round(time.time() - t0, 2)
    idx.release()
    cum = cum.unionAll(fire_wave)
    t0 = time.time()
    comp = fired.compact()
    compact_s = round(time.time() - t0, 2)
    t0 = time.time()
    hits_comp = {(r.id_new, r.id_ref)
                 for r in dedup.cross_dedup_pairs(
                     held_q, index=comp, threshold=0.4).collect()}
    q_comp_s = round(time.time() - t0, 2)
    t0 = time.time()
    reb = dedup.build_reference_index(cum, num_hashes=16, bands=4)
    fire_rebuild_s = round(time.time() - t0, 2)
    hits_reb = {(r.id_new, r.id_ref)
                for r in dedup.cross_dedup_pairs(
                    held_q, index=reb, threshold=0.4).collect()}
    reb.release()
    out["reference_index_firing"] = {
        "wave": n_waves + 1,
        "append_s": fire_append_s,
        "appended_fraction": round(fired.appended_fraction(), 4),
        "needs_compaction_default": fired.needs_compaction(),
        "compact_s": compact_s,
        "rebuild_s": fire_rebuild_s,
        "query_s": q_comp_s,
        "hits_compacted": len(hits_comp),
        "hits_equal_rebuild": hits_comp == hits_reb,
        "n_tombstones_after_compact": comp.ref_over.count(),
        "post_compact_fraction": comp.appended_fraction(),
        "post_compact_needs": comp.needs_compaction(),
    }
    print(f"# ref firing: {out['reference_index_firing']}",
          file=sys.stderr)
    fired.release()
    comp.release()
    out["reference_index"] = {"build_s": build_s,
                              "append_s": append_times,
                              "checkpoints": ref_rows}

    # ---------------- IVF ----------------
    emb = spark.read.parquet(f"{docs_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").head(1)[0][0])
    vbase = emb.filter(f"vec_id % {mod} < {n_waves + 1}")
    vq = (emb.filter(f"vec_id % {mod} = {n_waves + 1}")
          .limit(64).select(F.col("vec_id").alias("query_id"),
                            F.col("embedding").alias("qv"))
          .persist())
    nq = vq.count()
    vwaves = [emb.filter(f"vec_id % {mod} = {n_waves + 1 + w}")
              for w in range(1, n_waves + 1)]
    path = os.path.join(".scratch", "longevity_ivf")
    n_base = vbase.count()
    nlist = max(8, n_base // 256)
    t0 = time.time()
    similarity.build_ivf_index(vbase, path, dim=dim, nlist=nlist)
    ivf_build_s = round(time.time() - t0, 2)

    def _recall(index_path, corpus, tag):
        """recall@5 of the written index vs exact brute force."""
        qdf = vq.select(F.col("query_id").alias("vec_id"),
                        F.col("qv").alias("embedding"))
        truth = similarity.cosine_topk(corpus, qdf, k=5)
        t = {(r.query_id, r.neighbor_id) for r in truth.collect()}
        got = similarity.search_ivf_index(
            spark, index_path, qdf,
            k=5, nprobe="auto", target_recall=0.9)
        g = {(r.query_id, r.neighbor_id) for r in got.collect()}
        return round(len(t & g) / max(len(t), 1), 4)

    ivf_rows = []
    vcum = vbase
    ivf_append_times = []
    for w in range(1, n_waves + 1):
        t0 = time.time()
        similarity.append_to_ivf_index(vwaves[w - 1], path)
        ivf_append_times.append(round(time.time() - t0, 2))
        vcum = vcum.unionAll(vwaves[w - 1])
        if w in checkpoints:
            rec_frozen = _recall(path, vcum, "frozen")
            # fresh-centroid rebuild headroom
            fresh = os.path.join(".scratch", "longevity_ivf_fresh")
            n_cum = vcum.count()
            t0 = time.time()
            similarity.build_ivf_index(
                vcum, fresh, dim=dim, nlist=max(8, n_cum // 256))
            reb_s = round(time.time() - t0, 2)
            rec_fresh = _recall(fresh, vcum, "fresh")
            files = glob.glob(os.path.join(path, "cell=*", "*.parquet"))
            cells = glob.glob(os.path.join(path, "cell=*"))
            st = similarity.ivf_compaction_due(path)
            ivf_rows.append({
                "wave": w,
                "append_s_cum": round(sum(ivf_append_times), 2),
                "rebuild_fresh_s": reb_s,
                "recall5_frozen": rec_frozen,
                "recall5_fresh_rebuild": rec_fresh,
                "files_per_cell": round(len(files) / max(
                    len(cells), 1), 2),
                "appended_fraction": st["appended_fraction"],
                "compaction_due_default": st["due"],
            })
            print(f"# ivf wave {w}: {ivf_rows[-1]}", file=sys.stderr)
    out["ivf"] = {"build_s": ivf_build_s, "n_base": n_base,
                  "nlist": nlist, "n_queries": nq,
                  "append_s": ivf_append_times,
                  "checkpoints": ivf_rows}
    out["load1"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
