"""Streaming throughput bench: drain a 2M-event parquet stream (20
user-shifted replicas of sf0.1 events, written as 32 files) through
each Structured Streaming operator with trigger(availableNow) and
record events/sec plus micro-batch counts — the streaming block's
first recorded scale signal (the tests are correctness-only).

State stays bounded by design: watermarks for the windowed agg /
dedup, per-key scalar or bounded-deque state for the
applyInPandasWithState operators (30k distinct users here).

Prints one JSON line -> BENCH_r06_streaming.json.

Usage: python tools/bench_streaming.py [events_dir]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1/events.parquet"
OFFSET = 10_000_000


def ensure_stream_dir(spark, path: str, k: int = 20) -> None:
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    from pyspark.sql import functions as F
    ev = spark.read.parquet(SRC)
    parts = []
    for r in range(k):
        parts.append(ev.withColumn("event_id",
                                   F.col("event_id") + F.lit(r * OFFSET))
                     .withColumn("user_id",
                                 F.col("user_id") + F.lit(r * OFFSET)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    out.repartition(32).write.mode("overwrite").parquet(path)


def main():
    events_dir = (sys.argv[1] if len(sys.argv) > 1
                  else "/root/repo/.scratch/stream_events")
    # quiet-box discipline (r8 verdict item 7) — see bench.py
    from bench import _cpu_mark, _gate_on_load
    gate = _gate_on_load(wait_s=600)
    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name="streaming_bench",
                        **{"spark.driver.memory": "24g"})
    spark.sparkContext.setLogLevel("ERROR")

    from pandas_alchemy_spark.streaming import stateful, stream_events

    ensure_stream_dir(spark, events_dir)
    n_events = spark.read.parquet(events_dir).count()

    def drain(make, files_per_trigger, mode):
        """Build the streaming frame, drain with availableNow into a
        noop sink, return (seconds, n_batches, rows_in)."""
        stream = stream_events.read_event_stream(
            spark, events_dir, max_files_per_trigger=files_per_trigger)
        out = make(stream)
        t0 = time.time()
        q = (out.writeStream.format("noop")
             .option("checkpointLocation",
                     f"/root/repo/.scratch/ckpt_{int(time.time()*1e6)}")
             .outputMode(mode)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        sec = time.time() - t0
        prog = q.recentProgress
        rows = sum(p["numInputRows"] for p in prog)
        return round(sec, 2), len(prog), rows

    ops = {
        # (builder, maxFilesPerTrigger, sinkOutputMode):
        # 8 files/batch = 4 micro-batches; modes mirror the tests'
        "windowed_counts": (lambda s: stream_events.windowed_counts(
            s, window="1 hour", watermark="2 hours"), 8, "update"),
        "dedup_stream": (lambda s: stream_events.dedup_stream(s), 8,
                         "append"),
        "stateful_user_totals": (stateful.stateful_user_totals, 8,
                                 "update"),
        "stateful_ewm": (lambda s: stateful.stateful_ewm(s, 0.25), 8,
                         "update"),
        "session_windows": (lambda s: stateful.session_windows_stream(
            s, gap="30 minutes"), 8, "append"),
        "stateful_rolling_mean": (lambda s: stateful.
                                  stateful_rolling_mean(s, 3), 8,
                                  "update"),
    }

    results, detail = {}, {}
    for name, (make, fpt, mode) in ops.items():
        try:
            sec, nb, rows = drain(make, fpt, mode)
            results[name] = sec
            detail[name] = {"sec": sec, "micro_batches": nb,
                            "rows_in": rows,
                            "events_per_sec": int(rows / sec)}
            print(f"{name}: {sec}s, {nb} batches, "
                  f"{int(rows / sec)} ev/s", file=sys.stderr)
        except Exception as ex:
            results[name] = -1.0
            detail[name] = {"error": str(ex)[:200]}
            print(f"{name}: ERROR {str(ex)[:200]}", file=sys.stderr)

    # ingest-time decontamination over the 500k-doc corpus stream
    # (stateless stream-static form; eval set = a 1/9973 hash slice)
    docs_dir = "/root/repo/.scratch/docs10/documents.parquet"
    n_docs = 0
    if os.path.exists(docs_dir):
        try:
            from pyspark.sql import functions as F
            from pandas_alchemy_spark.ext.dedup import _TOKENS
            batch0 = spark.read.parquet(docs_dir)
            vocab = (batch0.filter("doc_id % 97 = 0")
                     .selectExpr(
                         f"explode({_TOKENS.format(col='text')}) "
                         "AS term")
                     .groupBy("term").count()
                     .withColumnRenamed("count", "cnt"))
            lm_stream = (spark.readStream.schema(batch0.schema)
                         .option("maxFilesPerTrigger", 8)
                         .parquet(docs_dir))
            lm_out = stream_events.streaming_lm_scores(
                lm_stream, vocab)
            t0 = time.time()
            q = (lm_out.writeStream.format("noop")
                 .option("checkpointLocation",
                         f"/root/repo/.scratch/ckpt_{int(time.time()*1e6)}")
                 .outputMode("append")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            sec = round(time.time() - t0, 2)
            prog = q.recentProgress
            rows = sum(p["numInputRows"] for p in prog)
            results["streaming_lm_scores"] = sec
            detail["streaming_lm_scores"] = {
                "sec": sec, "micro_batches": len(prog),
                "rows_in": rows, "docs_per_sec": int(rows / sec)}
            print(f"streaming_lm_scores: {sec}s, {len(prog)} "
                  f"batches, {int(rows / sec)} docs/s",
                  file=sys.stderr)
        except Exception as ex:
            results["streaming_lm_scores"] = -1.0
            detail["streaming_lm_scores"] = {"error": str(ex)[:200]}
            print(f"streaming_lm_scores: ERROR {str(ex)[:200]}",
                  file=sys.stderr)
        try:
            batch_docs = spark.read.parquet(docs_dir)
            n_docs = batch_docs.count()
            eval_df = (batch_docs.filter("doc_id % 9973 = 0")
                       .select("doc_id", "text"))
            dstream = (spark.readStream.schema(batch_docs.schema)
                       .option("maxFilesPerTrigger", 8)
                       .parquet(docs_dir))
            out = stream_events.streaming_decontaminate(
                dstream, eval_df, n=8)
            t0 = time.time()
            q = (out.writeStream.format("noop")
                 .option("checkpointLocation",
                         f"/root/repo/.scratch/ckpt_{int(time.time()*1e6)}")
                 .outputMode("append")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            sec = round(time.time() - t0, 2)
            prog = q.recentProgress
            rows = sum(p["numInputRows"] for p in prog)
            results["streaming_decontaminate"] = sec
            detail["streaming_decontaminate"] = {
                "sec": sec, "micro_batches": len(prog),
                "rows_in": rows, "docs_per_sec": int(rows / sec)}
            print(f"streaming_decontaminate: {sec}s, {len(prog)} "
                  f"batches, {int(rows / sec)} docs/s",
                  file=sys.stderr)
        except Exception as ex:
            results["streaming_decontaminate"] = -1.0
            detail["streaming_decontaminate"] = {"error": str(ex)[:200]}
            print(f"streaming_decontaminate: ERROR {str(ex)[:200]}",
                  file=sys.stderr)
        # r8: ingest-time incremental near-dup gating — a 1/10 slice
        # of the 500k-doc corpus streams against the other 9/10 as
        # the static reference (the cross_dedup_pairs streaming twin;
        # r9: per-row signatures via ONE Arrow pandas_udf kernel +
        # stream-static band join)
        try:
            batch_docs = spark.read.parquet(docs_dir)
            new_dir = "/root/repo/.scratch/stream_new_docs"
            if not os.path.exists(os.path.join(new_dir, "_SUCCESS")):
                (batch_docs.filter("doc_id % 10 = 0")
                 .repartition(8).write.mode("overwrite")
                 .parquet(new_dir))
            ref_sl = batch_docs.filter("doc_id % 10 <> 0")
            xstream = (spark.readStream.schema(batch_docs.schema)
                       .option("maxFilesPerTrigger", 2)
                       .parquet(new_dir))
            out = stream_events.streaming_dedup_against(
                xstream, ref_sl, num_hashes=16, bands=4,
                threshold=0.4, stream_partitions=32)
            t0 = time.time()
            q = (out.writeStream.format("noop")
                 .option("checkpointLocation",
                         f"/root/repo/.scratch/ckpt_{int(time.time()*1e6)}")
                 .outputMode("append")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            sec = round(time.time() - t0, 2)
            prog = q.recentProgress
            rows = sum(p["numInputRows"] for p in prog)
            results["streaming_dedup_against"] = sec
            detail["streaming_dedup_against"] = {
                "sec": sec, "micro_batches": len(prog),
                "rows_in": rows, "docs_per_sec": int(rows / sec)}
            print(f"streaming_dedup_against: {sec}s, {len(prog)} "
                  f"batches, {int(rows / sec)} docs/s",
                  file=sys.stderr)
        except Exception as ex:
            results["streaming_dedup_against"] = -1.0
            detail["streaming_dedup_against"] = {"error": str(ex)[:200]}
            print(f"streaming_dedup_against: ERROR {str(ex)[:200]}",
                  file=sys.stderr)
        # r9: the build-once-gate-many decomposition — index the
        # static reference ONCE (recorded separately; amortized over
        # the gate's lifetime in production), then drain against the
        # prebuilt index.  The r8 "docs/s" conflated the one-time
        # static build (~26 s of the 29.7 s drain) with steady-state
        # gating throughput.
        try:
            from pandas_alchemy_spark.ext import dedup as _dd
            from pandas_alchemy_spark.ext.similarity import (
                release_pinned_caches)
            # the inline leg's pinned static frames would satisfy the
            # index build from cache (CacheManager plan-matching) and
            # record a fake 4 s "build" — release + clear so the
            # build cost below is COLD, as a real first-time indexing
            # run would pay it
            release_pinned_caches()
            spark.catalog.clearCache()
            batch_docs = spark.read.parquet(docs_dir)
            ref_sl = batch_docs.filter("doc_id % 10 <> 0")
            t0 = time.time()
            idx = _dd.build_reference_index(
                ref_sl, num_hashes=16, bands=4)
            build_s = round(time.time() - t0, 2)
            results["dedup_index_build"] = build_s
            xstream = (spark.readStream.schema(batch_docs.schema)
                       .option("maxFilesPerTrigger", 2)
                       .parquet(new_dir))
            out = stream_events.streaming_dedup_against(
                xstream, index=idx, threshold=0.4,
                stream_partitions=32)
            t0 = time.time()
            q = (out.writeStream.format("noop")
                 .option("checkpointLocation",
                         f"/root/repo/.scratch/ckpt_{int(time.time()*1e6)}")
                 .outputMode("append")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            sec = round(time.time() - t0, 2)
            prog = q.recentProgress
            rows = sum(p["numInputRows"] for p in prog)
            results["streaming_dedup_indexed"] = sec
            detail["streaming_dedup_indexed"] = {
                "sec": sec, "index_build_sec": build_s,
                "micro_batches": len(prog), "rows_in": rows,
                "docs_per_sec": int(rows / sec)}
            print(f"streaming_dedup_indexed: {sec}s drain "
                  f"(+{build_s}s one-time index), {len(prog)} "
                  f"batches, {int(rows / sec)} docs/s",
                  file=sys.stderr)
            # r10 (VERDICT r9 #6): the ingest-append step — the
            # drained wave joins the reference WITHOUT a rebuild.
            # Appended ids are shifted fresh (the append contract);
            # the re-drain then gates the same wave against its own
            # appended copies, so the second pass does real matching
            # work (re-crawl detection), not an empty join.  The
            # evidence is the cost triangle: append(50k) should sit
            # far under the 450k-doc rebuild recorded above.
            from pyspark.sql import functions as F
            t0 = time.time()
            idx2 = idx.append(
                spark.read.parquet(new_dir)
                .withColumn("doc_id",
                            F.col("doc_id") + F.lit(3_000_000_000)))
            append_s = round(time.time() - t0, 2)
            idx.release()
            results["dedup_index_append"] = append_s
            xstream = (spark.readStream.schema(batch_docs.schema)
                       .option("maxFilesPerTrigger", 2)
                       .parquet(new_dir))
            out = stream_events.streaming_dedup_against(
                xstream, index=idx2, threshold=0.4,
                stream_partitions=32)
            t0 = time.time()
            q = (out.writeStream.format("noop")
                 .option("checkpointLocation",
                         f"/root/repo/.scratch/ckpt_{int(time.time()*1e6)}")
                 .outputMode("append")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            sec = round(time.time() - t0, 2)
            prog = q.recentProgress
            rows = sum(p["numInputRows"] for p in prog)
            idx2.release()
            results["streaming_dedup_appended"] = sec
            detail["streaming_dedup_appended"] = {
                "sec": sec, "index_append_sec": append_s,
                "micro_batches": len(prog), "rows_in": rows,
                "docs_per_sec": int(rows / sec)}
            print(f"streaming_dedup_appended: {sec}s drain "
                  f"(+{append_s}s append vs {build_s}s rebuild), "
                  f"{len(prog)} batches, {int(rows / sec)} docs/s",
                  file=sys.stderr)
        except Exception as ex:
            results["streaming_dedup_indexed"] = -1.0
            detail["streaming_dedup_indexed"] = {"error": str(ex)[:200]}
            print(f"streaming_dedup_indexed: ERROR {str(ex)[:200]}",
                  file=sys.stderr)

    emb_dir = "/root/repo/.scratch/docs10/embeddings.parquet"
    if os.path.exists(emb_dir):
        # r13: the embedding ingest gate — stream a "new wave" of
        # vectors against a persisted IVF index
        # (streaming_semantic_dedup_against, the semantic twin of the
        # MinHash gate above).  Index build recorded separately (the
        # one-time cost a production gate amortizes); the drain is
        # stream-static cell join + cosine, stateless.
        try:
            from pandas_alchemy_spark.ext.similarity import (
                build_ivf_index, release_pinned_caches)
            from pyspark.sql import functions as F
            emb_all = spark.read.parquet(emb_dir)
            dim = len(emb_all.select("embedding").head(1)[0][0])
            ref_e = emb_all.filter("vec_id % 10 <> 0")
            new_edir = "/root/repo/.scratch/stream_new_emb"
            if not os.path.exists(os.path.join(new_edir, "_SUCCESS")):
                (emb_all.filter("vec_id % 10 = 0")
                 .select((F.col("vec_id") + 100_000_000)
                         .alias("vec_id"), "embedding")
                 .repartition(8).write.mode("overwrite")
                 .parquet(new_edir))
            ivfp = "/root/repo/.scratch/stream_ivf_gate"
            t0 = time.time()
            build_ivf_index(ref_e, ivfp, dim=dim,
                            nlist=max(8, ref_e.count() // 512))
            build_s = round(time.time() - t0, 2)
            results["semantic_index_build"] = build_s
            estream = (spark.readStream
                       .schema("vec_id long, embedding array<float>")
                       .option("maxFilesPerTrigger", 2)
                       .parquet(new_edir))
            # r14: stream_partitions=None — the r10 repartition lever
            # does not transfer to this leg (AB_SEMGATE_r14.json:
            # the drain is candidate-volume-bound, and repartitioning
            # the tiny 5k-row batches to 32 partitions costs ~8%)
            out = stream_events.streaming_semantic_dedup_against(
                estream, ivfp, threshold=0.8, nprobe=2)
            t0 = time.time()
            q = (out.writeStream.format("noop")
                 .option("checkpointLocation",
                         f"/root/repo/.scratch/ckpt_{int(time.time()*1e6)}")
                 .outputMode("append")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            sec = round(time.time() - t0, 2)
            prog = q.recentProgress
            rows = sum(p["numInputRows"] for p in prog)
            release_pinned_caches(out._pas_pin_scope)
            results["streaming_semantic_gate"] = sec
            detail["streaming_semantic_gate"] = {
                "sec": sec, "index_build_sec": build_s,
                "micro_batches": len(prog), "rows_in": rows,
                "vecs_per_sec": int(rows / sec)}
            print(f"streaming_semantic_gate: {sec}s drain "
                  f"(+{build_s}s one-time index), {len(prog)} "
                  f"batches, {int(rows / sec)} vecs/s",
                  file=sys.stderr)
        except Exception as ex:
            results["streaming_semantic_gate"] = -1.0
            detail["streaming_semantic_gate"] = {"error": str(ex)[:200]}
            print(f"streaming_semantic_gate: ERROR {str(ex)[:200]}",
                  file=sys.stderr)

    if os.path.exists(docs_dir):
        # r10: ingest-time corpus profiling — every micro-batch folds
        # to sketch-state rows (KBs), the corpus is never re-read; the
        # leg reports drain docs/s plus the report render time over
        # the accumulated state table.
        try:
            import shutil as _sh
            batch_docs = spark.read.parquet(docs_dir)
            state = "/root/repo/.scratch/profile_state"
            pckpt = f"/root/repo/.scratch/ckpt_prof_{int(time.time()*1e6)}"
            _sh.rmtree(state, ignore_errors=True)
            pstream = (spark.readStream.schema(batch_docs.schema)
                       .option("maxFilesPerTrigger", 4)
                       .parquet(docs_dir))
            t0 = time.time()
            q = stream_events.streaming_profile_sink(
                pstream, state, pckpt, text_col="text",
                group_col="lang")
            q.awaitTermination()
            sec = round(time.time() - t0, 2)
            prog = q.recentProgress
            rows = sum(p["numInputRows"] for p in prog)
            results["streaming_profile"] = sec
            t0 = time.time()
            rep = stream_events.streaming_profile_report(spark, state)
            n_groups = rep.count()
            report_s = round(time.time() - t0, 2)
            detail["streaming_profile"] = {
                "sec": sec, "micro_batches": len(prog),
                "rows_in": rows, "docs_per_sec": int(rows / sec),
                "report_render_sec": report_s, "groups": n_groups}
            print(f"streaming_profile: {sec}s drain, {len(prog)} "
                  f"batches, {int(rows / sec)} docs/s; report render "
                  f"{report_s}s over {n_groups} groups",
                  file=sys.stderr)
        except Exception as ex:
            results["streaming_profile"] = -1.0
            detail["streaming_profile"] = {"error": str(ex)[:200]}
            print(f"streaming_profile: ERROR {str(ex)[:200]}",
                  file=sys.stderr)

        # r10: ingest-time language gate — the langid model is
        # row-local, so the drain rate IS the model's scoring
        # throughput (no state store).  Signal planted the same way
        # the select-scale leg does; train time recorded separately
        # from the drain.
        try:
            from pandas_alchemy_spark.ext.pipeline import \
                train_langid_classifier
            from pandas_alchemy_spark.ext.text import STOPWORDS as _SW
            _langs = sorted(_SW)
            _case = "CASE " + " ".join(
                f"WHEN doc_id % 4 = {i} THEN '{lv}'"
                for i, lv in enumerate(_langs)) + " END"
            _inj = "CASE " + " ".join(
                f"WHEN doc_id % 4 = {i} THEN "
                f"concat(text, ' ', '{' '.join(_SW[lv][:12])}')"
                for i, lv in enumerate(_langs)) + " END"
            li_dir = "/root/repo/.scratch/stream_langid_docs"
            if not os.path.exists(li_dir):
                (spark.read.parquet(docs_dir)
                 .selectExpr("doc_id", f"{_inj} AS text",
                             f"{_case} AS lang")
                 .repartition(16).write.parquet(li_dir))
            li_batch = spark.read.parquet(li_dir)
            t0 = time.time()
            li_model = train_langid_classifier(
                li_batch, max_iter=15, buckets=1 << 16,
                max_train_docs_per_lang=5_000, fast_hash=True)
            train_s = round(time.time() - t0, 2)
            lstream = (spark.readStream.schema(li_batch.schema)
                       .option("maxFilesPerTrigger", 4)
                       .parquet(li_dir))
            gated = stream_events.streaming_language_gate(
                lstream, li_model, keep_langs=["en", "de"],
                min_prob=0.5, stream_partitions=32)
            t0 = time.time()
            q = (gated.writeStream.format("noop")
                 .option("checkpointLocation",
                         f"/root/repo/.scratch/ckpt_{int(time.time()*1e6)}")
                 .outputMode("append")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            sec = round(time.time() - t0, 2)
            prog = q.recentProgress
            rows = sum(p["numInputRows"] for p in prog)
            results["streaming_language_gate"] = sec
            detail["streaming_language_gate"] = {
                "sec": sec, "train_sec": train_s,
                "micro_batches": len(prog), "rows_in": rows,
                "docs_per_sec": int(rows / sec)}
            print(f"streaming_language_gate: {sec}s drain "
                  f"({train_s}s one-time train), {len(prog)} "
                  f"batches, {int(rows / sec)} docs/s",
                  file=sys.stderr)
        except Exception as ex:
            results["streaming_language_gate"] = -1.0
            detail["streaming_language_gate"] = {"error": str(ex)[:200]}
            print(f"streaming_language_gate: ERROR {str(ex)[:200]}",
                  file=sys.stderr)

        # --- r11: streaming model-based quality gate (the GPT-3/
        # CCNet filter at ingest — row-local model + content-
        # addressed Pareto, stateless; batch-twin pinned in tests)
        try:
            from pandas_alchemy_spark.ext.pipeline import \
                train_quality_classifier
            qdocs = spark.read.parquet(docs_dir)
            t0 = time.time()
            q_model = train_quality_classifier(
                qdocs.filter("lang = 'en'"),
                qdocs.filter("lang <> 'en'"),
                max_iter=15, max_train_docs=20_000, fast_hash=True)
            qtrain_s = round(time.time() - t0, 2)
            qstream = (spark.readStream.schema(qdocs.schema)
                       .option("maxFilesPerTrigger", 4)
                       .parquet(docs_dir))
            qgated = stream_events.streaming_quality_gate(
                qstream, q_model, seed="bench", fast_hash=True,
                stream_partitions=32)
            t0 = time.time()
            q = (qgated.writeStream.format("noop")
                 .option("checkpointLocation",
                         f"/root/repo/.scratch/ckpt_{int(time.time()*1e6)}")
                 .outputMode("append")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            sec = round(time.time() - t0, 2)
            prog = q.recentProgress
            rows = sum(p["numInputRows"] for p in prog)
            results["streaming_quality_gate"] = sec
            detail["streaming_quality_gate"] = {
                "sec": sec, "train_sec": qtrain_s,
                "micro_batches": len(prog), "rows_in": rows,
                "docs_per_sec": int(rows / sec)}
            print(f"streaming_quality_gate: {sec}s drain "
                  f"({qtrain_s}s one-time train), {len(prog)} "
                  f"batches, {int(rows / sec)} docs/s",
                  file=sys.stderr)
        except Exception as ex:
            results["streaming_quality_gate"] = -1.0
            detail["streaming_quality_gate"] = {"error": str(ex)[:200]}
            print(f"streaming_quality_gate: ERROR {str(ex)[:200]}",
                  file=sys.stderr)

    total = round(sum(t for t in results.values() if t >= 0), 2)
    print(json.dumps({
        "metric": "streaming_drain_total", "value": total,
        "unit": "sec", "n_events": n_events, "n_docs": n_docs,
        "queries": results, "detail": detail, **gate,
        "cpu_mark": _cpu_mark(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }))


if __name__ == "__main__":
    main()
