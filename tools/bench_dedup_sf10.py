"""Run the LLM-pipeline dedup/ANN block at document scale (~500k docs,
~200k embeddings; tools/make_scaled_docs.py = 100 structure-preserving
replicas of sf0.1) with the TPC-H sf10 treatment: event-log task-time
skew audit per stage, CC converged-in-N captured, bucket-cap drop
counts surfaced — VERDICT r5 item 2.

Prints one JSON line -> BENCH_r06_dedup_sf10.json.

Usage: python tools/bench_dedup_sf10.py [docs_dir]
"""
from __future__ import annotations

import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stderr

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/root/repo/.scratch/eventlog_dedup"


def main():
    docs_dir = (sys.argv[1] if len(sys.argv) > 1
                else "/root/repo/.scratch/docs10")
    os.makedirs(EVDIR, exist_ok=True)
    # quiet-box discipline (r8 verdict item 7) — see bench.py
    from bench import _cpu_mark, _gate_on_load
    gate = _gate_on_load(wait_s=600)
    from pyspark.sql import functions as F
    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name="dedup_sf10", **{
        "spark.driver.memory": "24g",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": EVDIR,
    })
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    from pandas_alchemy_spark.ext import dedup, similarity, text

    docs = spark.read.parquet(f"{docs_dir}/documents.parquet")
    emb = spark.read.parquet(f"{docs_dir}/embeddings.parquet")
    n_docs, n_vecs = docs.count(), emb.count()  # warms footers too
    dim = len(emb.select("embedding").head(1)[0][0])

    def noop(df):
        df.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    times, extra = {}, {}

    def run(name, fn):
        t0 = time.time()
        buf = io.StringIO()
        try:
            with redirect_stderr(buf):
                fn()
            times[name] = round(time.time() - t0, 2)
        except Exception as ex:
            times[name] = -1.0
            extra[name + "_error"] = str(ex)[:200]
        err = buf.getvalue()
        sys.stderr.write(err)
        m = re.search(r"converged in (\d+)/(\d+) round", err)
        if m:
            extra["cc_converged_in"] = int(m.group(1))
            extra["cc_max_iters"] = int(m.group(2))
        m = re.search(r"(\d+) edge row\(s\) <= driver floor", err)
        if m:
            extra["cc_driver_edge_rows"] = int(m.group(1))
        for what, n in re.findall(
                r"(\w+): dropped (\d+) oversized LSH bucket", err):
            extra[f"{name}_capped_{what}"] = int(n)
        print(f"{name}: {times[name]}s", file=sys.stderr)

    run("dedup_exact",
        lambda: noop(dedup.exact_dedup(docs)))
    run("dedup_minhash",
        lambda: noop(dedup.minhash_lsh_pairs(
            docs, num_hashes=16, bands=4, threshold=0.4)))
    run("dedup_simhash",
        lambda: noop(dedup.simhash_pairs(docs, max_hamming=8)))
    run("dedup_cluster",
        lambda: noop(dedup.cluster_near_dups(
            docs, threshold=0.4, num_hashes=16, bands=4)))
    q5 = emb.filter(F.col("vec_id") < 5)
    run("lsh_ann",
        lambda: noop(similarity.lsh_topk(emb, q5, k=5, dim=dim)))
    # r8: auto geometry (nlist~sqrt(n), nprobe tuned for recall 0.9
    # on a sampled truth set) — the fixed nlist=16/nprobe=6 r7 config
    # measured 0.763 recall@5 here; the tuner trades scan fraction
    # for the contract and logs the trade
    ivf_cents_holder = {}

    def _ivf():
        ivf_cents_holder["c"] = similarity.train_ivf_centroids(
            emb, dim=dim, nlist="auto")
        noop(similarity.ivf_topk(emb, q5, k=5, dim=dim,
                                 centroids=ivf_cents_holder["c"]))

    run("ivf_ann", _ivf)
    # planes="auto" sizes buckets to the corpus (fixed planes=10 at
    # 200k vectors measured 149x the 2k-vector time: 1024 buckets x
    # ~195 members is quadratic pair generation); tables="auto" sizes
    # the table count for 0.9 recall at the threshold (r7: the r6 run
    # timed threshold=0.45/tables=4, whose recall the theory puts
    # near zero — this leg now times the DESIGN regime instead)
    run("emb_near_dup",
        lambda: noop(similarity.embedding_near_dup_pairs(
            emb, dim=dim, planes="auto", tables="auto",
            threshold=0.93)))
    run("seq_pack",
        lambda: noop(text.pack_sequences(
            docs, capacity=2048, n_shards=64)))
    # --- round-7 operators at document scale
    from pandas_alchemy_spark.ext import pipeline
    run("chunk_docs",
        lambda: noop(text.chunk_documents(docs, chunk_tokens=64,
                                          overlap=16)))
    run("split_shards",
        lambda: noop(pipeline.split_corpus(docs)))
    run("shuffle_shards",
        lambda: noop(pipeline.shuffle_corpus(docs, n_shards=256)))
    run("unigram_lm",
        lambda: noop(text.unigram_logprob(docs)))
    # SemDeDup at 200k vectors: nlist sized so the average cell stays
    # a few hundred members (the intra-cell pairwise is O(cell^2) BY
    # DESIGN — nlist is the scale knob, cells are the parallelism
    # unit); threshold at the planted-duplicate design regime.
    sd_holder = {}

    def _sd():
        # nprobe=2 soft assignment: hard k-means partitioning missed
        # 30% of planted pairs at cell boundaries (recall 0.70); each
        # vector probing its 2 nearest cells recovers boundary pairs
        # at ~2x candidate volume
        sd_holder["lab"] = similarity.semantic_dedup(
            emb, dim=dim, nlist=512, threshold=0.93, cell_cap=20_000,
            nprobe=2)
        noop(sd_holder["lab"])

    run("semantic_dedup", _sd)

    # --- recall at document scale (VERDICT r6 item 1): the
    # planes="auto" geometry fix is only time-verified at the scale it
    # exists for.  ~200 sampled query vectors, brute-force cosine
    # top-10 as truth; recall@5/@10 for lsh/ivf, plus pair recall for
    # embedding_near_dup_pairs (truth = sampled-anchor pairs whose
    # exact cosine clears the threshold).
    step = max(1, n_vecs // 200)
    qid_list = [r[0] for r in emb.filter(F.col("vec_id") % step == 0)
                .select("vec_id").orderBy("vec_id").limit(200)
                .collect()]  # pinned id list: every pass sees the
    qs = emb.filter(F.col("vec_id").isin(qid_list))  # same queries
    n_q = len(qid_list)
    t0 = time.time()
    truth = {(r["query_id"], r["neighbor_id"], r["rank"])
             for r in similarity.cosine_topk(emb, qs, k=10).collect()}
    extra["recall_brute_sec"] = round(time.time() - t0, 2)
    truth5 = {(q, n) for q, n, rk in truth if rk <= 5}
    truth10 = {(q, n) for q, n, rk in truth}

    def recall(approx_rows, tset, k):
        hits = sum(1 for r in approx_rows
                   if r["rank"] <= k
                   and (r["query_id"], r["neighbor_id"]) in tset)
        return round(hits / max(len(tset), 1), 4)

    lsh_rows = similarity.lsh_topk(emb, qs, k=10, dim=dim).collect()
    extra["lsh_recall_at5"] = recall(lsh_rows, truth5, 5)
    extra["lsh_recall_at10"] = recall(lsh_rows, truth10, 10)
    import io as _io
    buf = _io.StringIO()
    with redirect_stderr(buf):
        ivf_rows = similarity.ivf_topk(
            emb, qs, k=10, dim=dim,
            centroids=ivf_cents_holder.get("c")).collect()
    sys.stderr.write(buf.getvalue())
    mt = re.search(r"tuned nprobe=(\d+)/(\d+)", buf.getvalue())
    if mt:
        extra["ivf_nprobe"] = int(mt.group(1))
        extra["ivf_nlist"] = int(mt.group(2))
    extra["ivf_recall_at5"] = recall(ivf_rows, truth5, 5)
    extra["ivf_recall_at10"] = recall(ivf_rows, truth10, 10)
    # the r7 fixed geometry, kept for the before/after record
    ivf_fixed = similarity.ivf_topk(emb, qs, k=10, dim=dim,
                                    nlist=16, nprobe=6,
                                    refine_iters=1).collect()
    extra["ivf_fixed_recall_at5"] = recall(ivf_fixed, truth5, 5)

    # r9 (verdict item 3): the PERSISTENT index at doc scale with the
    # tuner running against the WRITTEN table (nprobe="auto" is now
    # the search default) — build, search, recall@5, and the tuned
    # probe count recorded.  Same auto nlist (~sqrt(n)) as ivf_topk.
    idx_dir = "/root/repo/.scratch/ivf_index_docs10"
    t0 = time.time()
    cents_idx = similarity.build_ivf_index(
        emb, idx_dir, dim=dim, nlist="auto",
        centroids=ivf_cents_holder.get("c"))
    extra["ivf_idx_build_sec"] = round(time.time() - t0, 2)
    buf2 = _io.StringIO()
    t0 = time.time()
    with redirect_stderr(buf2):
        idx_rows = similarity.search_ivf_index(
            spark, idx_dir, qs, k=10, centroids=cents_idx).collect()
    extra["ivf_idx_search_sec"] = round(time.time() - t0, 2)
    sys.stderr.write(buf2.getvalue())
    mt2 = re.search(r"tuned nprobe=(\d+)/(\d+)", buf2.getvalue())
    if mt2:
        extra["ivf_idx_nprobe"] = int(mt2.group(1))
        extra["ivf_idx_nlist"] = int(mt2.group(2))
    extra["ivf_idx_recall_at5"] = recall(idx_rows, truth5, 5)
    extra["ivf_idx_recall_at10"] = recall(idx_rows, truth10, 10)

    # r13 (VERDICT r12 #6): cross-corpus embedding dedup against the
    # persisted index — a planted "new wave" (perturbed copies of a
    # spread sample, cosine ~1.0 to their sources) queried against
    # the index WITHOUT re-pairing the reference; recall vs a brute
    # exact-cosine truth on the same wave.
    stepx = max(1, n_vecs // 256)
    wave = (emb.filter(F.col("vec_id") % stepx == 0).limit(256)
            .select((F.col("vec_id") + 10000000).alias("vec_id"),
                    F.expr("transform(embedding, x -> "
                           "CAST(x * 1.000001 AS FLOAT))")
                    .alias("embedding"))
            .localCheckpoint())  # pin the sample across both passes
    t0 = time.time()
    xp = similarity.semantic_dedup_against(
        spark, idx_dir, wave, threshold=0.99, nprobe=2)
    foundx = {(r["id_new"], r["id_ref"]) for r in xp.collect()}
    times["semantic_dedup_x"] = round(time.time() - t0, 2)
    t0 = time.time()
    truthx = {(r["query_id"], r["neighbor_id"])
              for r in similarity.cosine_topk(emb, wave, k=5).collect()
              if r["cosine"] >= 0.99}
    extra["semdedup_x_brute_sec"] = round(time.time() - t0, 2)
    hitx = sum(1 for p in truthx if p in foundx)
    extra["semdedup_x_truth_pairs"] = len(truthx)
    extra["semdedup_x_recall_vs_brute"] = round(
        hitx / max(len(truthx), 1), 4)
    extra["semdedup_x_extra_found"] = len(foundx) - hitx

    # near-dup pair recall at the DESIGN threshold, against the
    # generator's planted truth (make_scaled_docs.py plants 1%
    # perturbed copies at cosine ~0.97 and writes the pair sidecar —
    # the source embeddings are near-random, so replicas alone have
    # no high-cosine pairs to recall).
    planted_path = f"{docs_dir}/planted_pairs.parquet"
    if os.path.exists(planted_path):
        tpairs = {(r["id_a"], r["id_b"])
                  for r in spark.read.parquet(planted_path).collect()}
        # pin the threshold under the actually-planted cosines
        pl = spark.read.parquet(planted_path)
        a = emb.select(F.col("vec_id").alias("id_a"),
                       F.col("embedding").alias("va"))
        b = emb.select(F.col("vec_id").alias("id_b"),
                       F.col("embedding").alias("vb"))
        pc = (pl.join(a, "id_a").join(b, "id_b")
              .select(F.expr(
                  "aggregate(zip_with(va, vb, (x, y) -> x * y), "
                  "cast(0.0 as double), (s, v) -> s + v) / nullif("
                  "sqrt(aggregate(va, cast(0.0 as double), "
                  "(s, v) -> s + v * v)) * "
                  "sqrt(aggregate(vb, cast(0.0 as double), "
                  "(s, v) -> s + v * v)), 0.0)").alias("c"))
              .agg(F.min("c"), F.expr("percentile(c, 0.5)")).first())
        extra["planted_cos_min"] = round(pc[0], 4)
        extra["planted_cos_med"] = round(pc[1], 4)
        thr = 0.93
        t0 = time.time()
        nd = similarity.embedding_near_dup_pairs(
            emb, dim=dim, planes="auto", tables="auto", threshold=thr)
        found = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
                 for r in nd.collect()}
        extra["near_dup_recall_sec"] = round(time.time() - t0, 2)
        extra["near_dup_truth_pairs"] = len(tpairs)
        extra["near_dup_threshold"] = thr
        hit = sum(1 for p in tpairs if p in found)
        extra["near_dup_pair_recall"] = round(
            hit / max(len(tpairs), 1), 4)
        extra["near_dup_extra_found"] = len(found) - hit
        # SemDeDup planted-pair collapse: a planted near-duplicate
        # pair is recalled iff both members landed in the same
        # component (same k-means cell AND the exact cosine verify
        # caught them).  The labels frame is localCheckpoint-
        # materialized by the timed run above, so this join is cheap.
        if sd_holder.get("lab") is not None:
            lab = sd_holder["lab"]
            la = lab.select(F.col("id").alias("id_a"),
                            F.col("component").alias("ca"))
            lb = lab.select(F.col("id").alias("id_b"),
                            F.col("component").alias("cb"))
            agg = (pl.join(la, "id_a").join(lb, "id_b")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum((F.col("ca") == F.col("cb"))
                              .cast("long")).alias("hit")).first())
            extra["semdedup_planted_pairs"] = int(agg["n"])
            extra["semdedup_planted_recall"] = round(
                (agg["hit"] or 0) / max(agg["n"], 1), 4)
            kept = sd_holder["lab"].filter("keep").count()
            extra["semdedup_n_kept"] = int(kept)
            extra["semdedup_n_vecs"] = int(n_vecs)
    extra["recall_n_queries"] = n_q

    total = round(sum(t for t in times.values() if t >= 0), 2)
    load = [round(x, 2) for x in os.getloadavg()]
    pas.close_db()  # flush the event log

    # --- skew: per-stage max/median task duration from the event log
    import statistics
    stages: dict[int, list[int]] = {}
    files = []
    for p in os.listdir(EVDIR):
        full = os.path.join(EVDIR, p)
        if app_id in p:
            if os.path.isdir(full):
                files += [os.path.join(full, f)
                          for f in sorted(os.listdir(full))
                          if f.startswith("events")]
            else:
                files.append(full)
    for path in files:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") == "SparkListenerTaskEnd":
                    ti = ev.get("Task Info", {})
                    dur = (ti.get("Finish Time", 0)
                           - ti.get("Launch Time", 0))
                    stages.setdefault(ev.get("Stage ID"),
                                      []).append(dur)
    skew = []
    for sid, durs in stages.items():
        if len(durs) < 8:
            continue
        med = statistics.median(durs)
        if med <= 100:  # sub-100ms stages are scheduling noise
            continue
        skew.append({"stage": sid, "n_tasks": len(durs),
                     "med_ms": int(med), "max_ms": max(durs),
                     "ratio": round(max(durs) / med, 1)})
    skew.sort(key=lambda s: -s["ratio"])
    # flag only REAL hot keys (r11; VERDICT r10 #8): adjudication is
    # owed only to stages with BOTH ratio > 4 AND a multi-second
    # straggler (max > 5 s) — high-ratio sub-second stragglers are
    # scheduling jitter by stated policy, recorded in skew_top but
    # not flagged.
    skew_flags = [s for s in skew
                  if s["ratio"] > 4.0 and s["max_ms"] > 5000]

    print(json.dumps({
        "metric": "dedup_docscale_total", "value": total, "unit": "sec",
        "queries": times, "n_docs": n_docs, "n_vecs": n_vecs,
        "dim": dim, "loadavg": load, **gate,
        "cpu_mark": _cpu_mark(), **extra,
        "skew_top": skew[:8],
        "skew_flags": skew_flags,
        "worst_ratio": skew[0]["ratio"] if skew else None,
    }))


if __name__ == "__main__":
    main()
