"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Queries are the scalable subset of __spark_entry__.queries() — the
O(n^2) brute-force near-dup is replaced by its LSH-bucketed scale path.
Materialization uses the noop sink (full compute, no driver transfer).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _materialize(df):
    df.write.format("noop").mode("overwrite").save()
    # per-query isolation: several operators persist intra-query
    # scratch (LSH signature frames, capped bucket lists); dropping the
    # cache between queries keeps each measurement standalone instead
    # of letting block-manager residue from query k tax query k+1
    # (measured: ~18 s of cross-query drag over the 34-query run)
    df.sparkSession.catalog.clearCache()


def _gate_on_load(wait_s: float = 300.0) -> dict:
    """Quiet-by-construction: if the box is already busy (another
    tenant), poll the 1-min loadavg for up to ``wait_s`` seconds
    (``SPARK_GRAFT_LOAD_WAIT`` overrides) before starting, so the run
    measures THIS code, not neighbors.  The threshold is
    ``SPARK_GRAFT_MAX_LOAD``, by default a quarter of the cores: an
    absolute load means little without the core count (a 4-core box
    at load 1.99 is half busy).  Returns the gate telemetry to embed
    in the output JSON (three of round 5's five apparent regressions
    were tenant noise that cost a session of post-hoc A/B
    adjudication)."""
    max_load = float(os.environ.get("SPARK_GRAFT_MAX_LOAD",
                                    0.25 * (os.cpu_count() or 1)))
    wait_s = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", wait_s))
    start_load = os.getloadavg()[0]
    waited = 0.0
    while os.getloadavg()[0] > max_load and waited < wait_s:
        time.sleep(10.0)
        waited += 10.0
    final = os.getloadavg()[0]
    return {"load_at_launch": round(start_load, 2),
            "load_at_start": round(final, 2),
            "load_gate_max": max_load,
            "load_gate_waited_s": waited,
            "load_gate_timed_out": final > max_load}


def _cpu_mark() -> dict:
    """A 2-second deterministic hardware fingerprint embedded in
    every artifact (r10): the round-10 VM measured ~2.0x slower than
    the VM that captured the same round's earlier artifacts on
    IDENTICAL code (tfidf_vectors 50.9 s vs 24.2 s), so cross-round
    wall-clock ratios are uninterpretable without a recorded
    box-speed mark to normalize by.  Two numbers, min-of-3:

    - ``st_mops``: single-thread pure-Python ops/s (interpreter +
      clock speed; immune to BLAS threading).
    - ``mt_gflops``: 512x512 f64 numpy matmul GFLOPs (BLAS, uses
      whatever threads the box gives it — the vectorized-kernel
      speed the pandas_udf paths see).
    """
    import numpy as np
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x += i & 7
        best = max(best, 2.0 / (time.perf_counter() - t0))
    a = np.full((512, 512), 1.000001)
    gf = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        a @ a
        gf = max(gf, 2 * 512**3 / (time.perf_counter() - t0) / 1e9)
    return {"st_mops": round(best, 2), "mt_gflops": round(gf, 2),
            "ncpu": os.cpu_count()}


def build_bench_queries(spark, sf_dir):
    """The bench's query dict, factored out (r13) so plan-capture and
    per-query profiling tools reuse EXACTLY the queries the bench
    times.  Pure construction — no timing or materialization here."""
    import __spark_entry__ as E
    from pandas_alchemy_spark.ext import similarity

    qs = E.queries()

    def sample_fast(spark_, sf_dir_):
        # production-scale keyed sample (codegen'd xxhash64; the
        # oracle-checked sample_hash keeps the engine-portable md5)
        import pandas_alchemy_spark as pas
        from pyspark.sql import functions as F
        o = pas.read_parquet(f"{sf_dir_}/orders.parquet")
        s = o.sample(0.1, key="o_orderkey", fast_hash=True)
        return s.to_spark(index=False).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"))

    def lsh_near_dup(spark_, sf_dir_):
        emb = spark_.read.parquet(f"{sf_dir_}/embeddings.parquet")
        dim = len(emb.select("embedding").head(1)[0][0])
        # cost-only auto sizing: fixed planes=10 measured 21.9x time
        # for 10x data at sf10 (quadratic within-bucket pairs), while
        # recall-aware auto at this synthetic 0.45 threshold is
        # degenerate (30 tables of 64-bucket codes).  This bench leg
        # measures the bucketed candidate-generation plan's
        # throughput; the recall contract lives in the design-
        # threshold dedup bench (tools/bench_dedup_sf10.py).
        return similarity.embedding_near_dup_pairs(emb, dim=dim,
                                                   planes="auto",
                                                   tables=4,
                                                   target_recall=None,
                                                   threshold=0.45)

    def border_scan(spark_, sf_dir_):
        # round-5 border-exchange segmented scan (global rolling mean
        # over the full orders index — one range shuffle, k-row border
        # carries via the driver, no single-partition window)
        import pandas_alchemy_spark as pas
        o = pas.read_parquet(f"{sf_dir_}/orders.parquet").set_index(
            "o_orderkey")
        return o["o_totalprice"].rolling(5).mean().to_spark()

    def frame_scan(spark_, sf_dir_):
        # round-5 FUSED multi-column scan: frame cumsum over two
        # columns in one range shuffle + one pass (cum_scan_multi)
        import pandas_alchemy_spark as pas
        o = pas.read_parquet(f"{sf_dir_}/orders.parquet").set_index(
            "o_orderkey")
        return o[["o_totalprice", "o_custkey"]].cumsum().to_spark()

    def chunk_docs(spark_, sf_dir_):
        # round-7: overlapping token-window chunking (narrow, no
        # shuffle — posexplode+slice over one materialized tokenize)
        from pandas_alchemy_spark.ext import text
        docs = spark_.read.parquet(f"{sf_dir_}/documents.parquet")
        return text.chunk_documents(docs, chunk_tokens=64, overlap=16)

    def split_shards(spark_, sf_dir_):
        # round-7: deterministic train/val/test hash assignment (pure
        # projected CASE, zero shuffles)
        from pandas_alchemy_spark.ext import pipeline
        docs = spark_.read.parquet(f"{sf_dir_}/documents.parquet")
        return pipeline.split_corpus(docs)

    def semdedup(spark_, sf_dir_):
        # round-7: SemDeDup cluster-then-prune semantic dedup.
        # nlist is the documented scale knob (cells are the
        # parallelism unit and intra-cell pairing is O(cell^2) by
        # design): size it to ~256 vectors per cell, floored at the
        # sf0.1 geometry (8 cells at 2k vectors) so round-over-round
        # sf0.1 numbers stay comparable.  At sf10 the fixed 8-cell
        # geometry would be 313x the sf0.1 pair work - the same
        # defect class planes="auto" fixed for LSH in round 6.
        from pandas_alchemy_spark.ext import similarity
        emb = spark_.read.parquet(f"{sf_dir_}/embeddings.parquet")
        dim = len(emb.select("embedding").head(1)[0][0])
        nlist = max(8, emb.count() // 256)
        return similarity.semantic_dedup(emb, dim=dim, nlist=nlist,
                                         threshold=0.3)

    def semdedup_x(spark_, sf_dir_):
        # round-13: cross-corpus embedding dedup against a persisted
        # IVF index — build the index on the reference slice and gate
        # the "new" slice against it (end-to-end; the steady-state
        # win is the partition-pruned probe of a build-once index)
        import os as _os
        import re as _re

        from pandas_alchemy_spark.ext import similarity
        emb = spark_.read.parquet(f"{sf_dir_}/embeddings.parquet")
        dim = len(emb.select("embedding").head(1)[0][0])
        scratch = _os.environ.get(
            "PAS_SCRATCH_DIR",
            _os.path.join(_os.path.dirname(_os.path.abspath(__file__)),
                          ".scratch"))
        path = _os.path.join(
            scratch, "bench_ivfx_" + _re.sub(
                r"[^A-Za-z0-9_.-]+", "_", sf_dir_.strip("/")))
        similarity.build_ivf_index(
            emb.filter("vec_id % 3 <> 2"), path, dim=dim,
            nlist=max(8, emb.count() // 512))
        return similarity.semantic_dedup_against(
            spark_, path, emb.filter("vec_id % 3 = 2"),
            threshold=0.25, nprobe=2)

    def shuffle_shards(spark_, sf_dir_):
        # round-7: deterministic global corpus shuffle (hash shard +
        # in-shard hash rank; shards are the parallelism unit)
        from pandas_alchemy_spark.ext import pipeline
        docs = spark_.read.parquet(f"{sf_dir_}/documents.parquet")
        return pipeline.shuffle_corpus(docs, n_shards=64)

    def unigram_lm(spark_, sf_dir_):
        # round-7: corpus-trained unigram LM scoring (vocab agg +
        # token join + per-doc sorted fold)
        from pandas_alchemy_spark.ext import text
        docs = spark_.read.parquet(f"{sf_dir_}/documents.parquet")
        return text.unigram_logprob(docs)

    def dsir_select(spark_, sf_dir_):
        # round-7 session 4: DSIR importance weights + Gumbel-top-k
        # selection, end to end (target = the 'en' slice)
        from pyspark.sql import functions as F_
        from pandas_alchemy_spark.ext import pipeline
        docs = spark_.read.parquet(f"{sf_dir_}/documents.parquet")
        w = pipeline.importance_weights(
            docs, docs.filter(F_.col("lang") == "en"), buckets=4096)
        return pipeline.resample_corpus(w, k=500)

    def bm25(spark_, sf_dir_):
        # round-7 session 4: BM25 retrieval, 2 queries x top-10
        from pandas_alchemy_spark.ext import text
        docs = spark_.read.parquet(f"{sf_dir_}/documents.parquet")
        qsf = spark_.createDataFrame(
            [("q0", "hash join filter"), ("q1", "vector stream window")],
            "query_id string, query string")
        return text.bm25_search(docs, qsf, k=10)

    def cross_dedup(spark_, sf_dir_):
        # round-7 session 4: incremental dedup of a 1/10 'new crawl'
        # against the other 9/10
        from pandas_alchemy_spark.ext import dedup
        docs = spark_.read.parquet(f"{sf_dir_}/documents.parquet")
        return dedup.cross_dedup_pairs(
            docs.filter("doc_id % 10 = 0"),
            docs.filter("doc_id % 10 <> 0"),
            num_hashes=16, bands=4, threshold=0.4)

    def span_dedup(spark_, sf_dir_):
        # round-8: exact-substring repeated-passage removal (hashed
        # rolling 8-token windows, partial-agg duplicate detection,
        # maximal-span merge + token-stream rebuild)
        from pandas_alchemy_spark.ext import dedup
        docs = spark_.read.parquet(f"{sf_dir_}/documents.parquet")
        return dedup.remove_duplicate_spans(docs, n=8, fast_hash=True)

    def sketch_select(spark_, sf_dir_):
        # round-8: billion-row selection path — approxQuantile sketch
        # + pure key-threshold filter (O(1) driver state); weight =
        # ln(doc length) so the bench isolates the selection
        # machinery from DSIR model building (dsir_select covers it)
        from pyspark.sql import functions as F_
        from pandas_alchemy_spark.ext import pipeline
        docs = spark_.read.parquet(f"{sf_dir_}/documents.parquet")
        w = docs.withColumn(
            "logw", F_.log(F_.length("text") + F_.lit(1.0)))
        return pipeline.resample_corpus(w, k=500, method="sketch",
                                        fast_hash=True)

    def chunk_docs_kernel(spark_, sf_dir_):
        # round-8: the pluggable tokenizer kernel path (Arrow-batched
        # pandas_udf tokens through chunk slicing) — chars4 kernel so
        # the number isolates plumbing cost, not BPE merge work
        from pandas_alchemy_spark.ext import text
        docs = spark_.read.parquet(f"{sf_dir_}/documents.parquet")
        return text.chunk_documents(docs, chunk_tokens=64, overlap=16,
                                    tokenizer="chars4")

    def tfidf_embed(spark_, sf_dir_):
        # round-9: hashed TF-IDF embeddings — tracked after the
        # normalization-lambda fix (the L2 fold was re-inlined per
        # element; 117.8 -> ~31 s at 500k docs)
        from pandas_alchemy_spark.ext import text
        docs = spark_.read.parquet(f"{sf_dir_}/documents.parquet")
        return text.tfidf_vectors(docs, dim=256, fast_hash=True)

    def cross_dedup_indexed(spark_, sf_dir_):
        # round-9: the build-once-query-many incremental dedup path —
        # build the ReferenceIndex AND query it (end-to-end; the
        # steady-state win shows at doc scale / in the streaming
        # artifact where the build amortizes)
        from pandas_alchemy_spark.ext import dedup
        docs = spark_.read.parquet(f"{sf_dir_}/documents.parquet")
        idx = dedup.build_reference_index(
            docs.filter("doc_id % 10 <> 0"), num_hashes=16, bands=4)
        out = dedup.cross_dedup_pairs(
            docs.filter("doc_id % 10 = 0"), index=idx, threshold=0.4)
        # register the index's persisted frames with the bounded
        # cache ring (ADVICE r9): min-of-3 repetitions otherwise
        # accumulate 2 persisted 450k-doc frames per rep until the
        # harness clearCache, inflating storage memory mid-run
        from pandas_alchemy_spark.ext.similarity import _register_cache
        _register_cache(idx.ref_buckets)
        _register_cache(idx.ref_sets)
        return out

    def quality_gate(spark_, sf_dir_):
        # round-9: the GPT-3/CCNet model-based quality filter —
        # train (L-BFGS logistic regression over hashed
        # unigram+bigram counts, all JVM) + score + the
        # content-addressed Pareto gate, end to end
        from pandas_alchemy_spark.ext import pipeline
        docs = spark_.read.parquet(f"{sf_dir_}/documents.parquet")
        # max_train_docs pinned (r10): round-over-round numbers
        # compare like for like regardless of fixture size, and the
        # leg exercises the bounded-training contract the operator
        # documents for 100 TB
        model = pipeline.train_quality_classifier(
            docs.filter("lang = 'en'"), docs.filter("lang <> 'en'"),
            max_iter=15, max_train_docs=20_000)
        return pipeline.quality_classifier_filter(
            docs, model, seed="bench").select("doc_id", "q_prob")

    def corpus_profile_sketch(spark_, sf_dir_):
        # round-10: one-pass per-language corpus report in sketch
        # mode (HLL distinct + KLL quantiles) — single shuffle,
        # fixed-size mergeable state per group
        from pandas_alchemy_spark.ext import profile
        docs = spark_.read.parquet(f"{sf_dir_}/documents.parquet")
        return profile.corpus_profile(docs, mode="sketch")

    # per-operator functions are referenced DIRECTLY (several are now
    # folded into combined queries() entries for the driver's 50-entry
    # correctness window) so per-query times stay comparable with
    # BENCH_r01.json
    bench_queries = {
        "q1_pricing": qs["groupby_agg"],
        "q3_shipping": qs["q3_shipping"],
        "q4_semi_join": qs["q4_semi_join"],
        "q5_local_supplier": qs["q5_local_supplier"],
        "q6_forecast": qs["q6_forecast"],
        "window_topk": qs["window_topk"],
        "grouped_cumsum": E.q_grouped_cumsum,
        "scalar_arith": E.q_scalar_arith,
        "ieee_div": E.q_ieee_div,
        "align_add_outer": E.q_align_add_outer,
        "isin_between": E.q_isin_between,
        "str_funcs": qs["str_funcs"],
        "events_hourly": qs["events_hourly"],
        "sessionize": qs["sessionize"],
        "dedup_exact": qs["dedup_exact"],
        "dedup_minhash": qs["dedup_minhash"],
        "dedup_simhash": qs["dedup_simhash"],
        "cosine_topk": qs["cosine_topk"],
        "lsh_ann": E.q_lsh_ann,
        "ivf_ann": E.q_ivf_ann,
        "asof_join": qs["asof_join"],
        "interval_join": qs["interval_join"],
        "q10_returned": qs["q10_returned"],
        "q19_disjunct": qs["q19_disjunct"],
        "q7_volume": E.q7_volume,
        "q8_market_share": E.q8_market_share,
        "q9_profit": E.q9_profit,
        "q13_distribution": E.q13_distribution,
        "q17_small_qty": E.q17_small_qty,
        "text_normalize": E.q_text_normalize,
        "funnel": E.q_funnel,
        "cohort_retention": qs["cohort_retention"],
        "top_terms": E.q_top_terms,
        "repetition": E.q_repetition,
        "sample_hash": E.q_sample_hash,
        "sample_fast": sample_fast,
        "emb_near_dup_lsh": lsh_near_dup,
        "token_stats": E.q_token_stats,
        "fingerprint": E.q_fingerprint,
        "langid": E.q_langid,
        "border_scan": border_scan,
        "frame_scan": frame_scan,
        # round-7 additions (appended so the 42 shared queries stay
        # comparable round-over-round)
        "chunk_docs": chunk_docs,
        "split_shards": split_shards,
        "semdedup": semdedup,
        "unigram_lm": unigram_lm,
        "shuffle_shards": shuffle_shards,
        "dsir_select": dsir_select,
        "bm25": bm25,
        "cross_dedup": cross_dedup,
        # round-8 additions (appended; the 50 shared queries stay
        # comparable round-over-round)
        "span_dedup": span_dedup,
        "sketch_select": sketch_select,
        "chunk_docs_kernel": chunk_docs_kernel,
        # round-9 additions (appended; the 53 shared queries stay
        # comparable round-over-round)
        "tfidf_embed": tfidf_embed,
        "cross_dedup_indexed": cross_dedup_indexed,
        "quality_gate": quality_gate,
        "corpus_profile": corpus_profile_sketch,
        # round-13 additions (appended; the 59 shared queries stay
        # comparable round-over-round)
        "semdedup_x": semdedup_x,
    }
    return bench_queries


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    gate = _gate_on_load()

    # local[N] puts driver AND all executor threads in ONE JVM — the
    # 1g default heap OOMs sort buffers above sf0.1; size it like a
    # real executor would be
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name="pandas_alchemy_spark_bench",
                        **{"spark.driver.memory": mem})
    spark.sparkContext.setLogLevel("ERROR")

    bench_queries = build_bench_queries(spark, sf_dir)

    # warm the JVM + parquet footers with a trivial action, the
    # Python/Arrow worker pool with a no-op pandas UDF, and the
    # whole-stage-codegen/agg/join JIT paths with a dim-table probe
    # (pool startup and first-compilation are session infrastructure,
    # not per-query work — q1 was absorbing ~1s of JIT)
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    from pyspark.sql import functions as F
    noop_udf = F.pandas_udf(lambda s: s, "long")
    (spark.range(10000).repartition(int(cpus))
     .select(noop_udf("id").alias("x")).write.format("noop")
     .mode("overwrite").save())
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    (nat.join(reg, nat.n_regionkey == reg.r_regionkey)
     .groupBy("r_name").agg(F.count(F.lit(1)).alias("n"),
                            F.avg("n_nationkey").alias("a"))
     .orderBy("r_name")
     .write.format("noop").mode("overwrite").save())

    times = {}
    loads = {}
    for name, fn in bench_queries.items():
        # per-query pre-load annotation (NOTE: mid-run load1 includes
        # this process' own previous queries; the clean tenant signal
        # is load_at_start plus each query's value relative to its
        # neighbors — recorded so no post-hoc A/B is needed)
        loads[name] = round(os.getloadavg()[0], 2)
        t0 = time.time()
        try:
            _materialize(fn(spark, sf_dir))
            times[name] = round(time.time() - t0, 3)
        except Exception as ex:  # record failures without killing the run
            times[name] = -1.0
            print(f"# bench error {name}: {str(ex)[:200]}", file=sys.stderr)

    total = round(sum(t for t in times.values() if t >= 0), 3)
    art = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        **gate,
        "cpu_mark": _cpu_mark(),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": int(cpus),
        "n_queries": len(times),
    }
    # full telemetry (per-query loadavg etc.) goes to a SIDECAR file,
    # NOT stdout (r11; VERDICT r10 #5: the driver's stdout capture
    # kept only the tail of the line and failed to parse for two
    # rounds — the per-query loadavg dict roughly doubled the line).
    # The stdout line keeps the contract fields + cpu_mark (the
    # box-speed label every cross-round comparison needs).
    sidecar = os.environ.get("SPARK_GRAFT_BENCH_SIDECAR",
                             os.path.join(os.path.dirname(
                                 os.path.abspath(__file__)),
                                 "bench_full_last.json"))
    try:
        with open(sidecar, "w") as fh:
            fh.write(json.dumps({**art, "loadavg1": loads}) + "\n")
    except OSError as ex:  # read-only checkout: stdout still works
        print(f"# bench sidecar write failed: {ex}", file=sys.stderr)
    print(json.dumps(art))


if __name__ == "__main__":
    main()
