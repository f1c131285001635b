"""Zipfian skew stress (VERDICT r6 item 2): run the heaviest
joins/groupbys/windows and the minhash/simhash dedup block against the
skewed sf variant (tools/make_skewed_sf.py — hot customer ~20% of
orders, hot part ~20% of lineitems, hot user ~20% of events, 20%
boilerplate docs) with the event-log task-time audit.

Records per-stage max/median task duration, whether AQE's skew-join
rewrite triggered ("skew=true" in the adaptive plan updates), and a
plain-vs-salted comparison on the hot join as the documented static
fallback (operators/skew.salted_join).

Prints one JSON line -> BENCH_r07_skew.json.

Usage: python tools/bench_skew.py [skewed_dir]
"""
from __future__ import annotations

import io
import json
import os
import re
import statistics
import sys
import time
from contextlib import redirect_stderr

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/root/repo/.scratch/eventlog_skew"


def main():
    skew_dir = (sys.argv[1] if len(sys.argv) > 1
                else "/root/repo/.scratch/skewed_sf1")
    os.makedirs(EVDIR, exist_ok=True)
    from pyspark.sql import functions as F
    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name="skew_stress", **{
        "spark.driver.memory": "24g",
        # local shuffle partitions are small; drop the skew thresholds
        # so the rewrite CAN fire at sf1 the way it would at 100 TB
        # defaults (256MB partitions)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": EVDIR,
    })
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    from pandas_alchemy_spark.ext import dedup
    from pandas_alchemy_spark.ext.events import (load_events,
                                                 sessionize)
    from pandas_alchemy_spark.operators.skew import salted_join

    t = {n: spark.read.parquet(f"{skew_dir}/{n}.parquet")
         for n in ("customer", "orders", "lineitem", "part",
                   "documents")}
    ev = load_events(spark, f"{skew_dir}/events.parquet")
    for d in t.values():
        d.count()  # warm footers

    times, extra = {}, {}

    def noop(df):
        df.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

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
        for what, n in re.findall(
                r"(\w+): dropped (\d+) oversized LSH bucket", err):
            extra[f"{name}_capped_{what}"] = int(n)
        print(f"{name}: {times[name]}s", file=sys.stderr)

    # 1. hot-customer 3-way join + groupBy (q3 shape, no date filter
    #    so the hot key's full mass flows through the join)
    def hot_join():
        j = (t["customer"].join(t["orders"],
                                t["customer"].c_custkey
                                == t["orders"].o_custkey)
             .join(t["lineitem"],
                   t["orders"].o_orderkey == t["lineitem"].l_orderkey)
             .groupBy("c_custkey")
             .agg(F.sum(F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))).alias("rev"),
                  F.count(F.lit(1)).alias("n")))
        noop(j)
    run("hot_cust_join", hot_join)

    # 2. hot-part fact join (part is ~30MB at sf1 - above the
    #    broadcast threshold, so this is the SMJ skew path AQE must
    #    rewrite; at 100 TB part is never broadcastable)
    def part_join():
        j = (t["part"].join(t["lineitem"],
                            t["part"].p_partkey
                            == t["lineitem"].l_partkey)
             .groupBy("p_partkey")
             .agg(F.sum("l_quantity").alias("qty")))
        noop(j)
    run("hot_part_join", part_join)

    # 2a'. the same join with broadcast DISABLED - at sf1 AQE simply
    #     broadcasts the 30MB part side (no shuffle, no skew - the
    #     right plan); at 100 TB part is NOT broadcastable, so this
    #     forced-SMJ leg is the honest proxy where AQE's skew-join
    #     split must fire
    def _no_broadcast(fn):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try:
            fn()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset(
                "spark.sql.adaptive.autoBroadcastJoinThreshold")

    # pure forced-SMJ join: AQE's skew split fires here on its own
    # (verified: SortMergeJoin(skew=true) in the adaptive plan)
    def part_join_pure():
        _no_broadcast(lambda: noop(
            t["part"].join(t["lineitem"],
                           t["part"].p_partkey
                           == t["lineitem"].l_partkey)
            .select("p_partkey", "l_quantity")))
    run("hot_part_join_pure", part_join_pure)

    # SMJ + groupBy on the join key: the agg REUSES the join's hash
    # partitioning, so AQE skips the skew split by default (it would
    # add a shuffle).  forceOptimizeSkewedJoin opts in - the right
    # trade when the hot key dominates the join cost at 100 TB.
    def part_join_smj():
        spark.conf.set(
            "spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        try:
            _no_broadcast(lambda: noop(
                t["part"].join(t["lineitem"],
                               t["part"].p_partkey
                               == t["lineitem"].l_partkey)
                .groupBy("p_partkey")
                .agg(F.sum("l_quantity").alias("qty"))))
        finally:
            spark.conf.unset(
                "spark.sql.adaptive.forceOptimizeSkewedJoin")
    run("hot_part_join_smj", part_join_smj)

    # 2b. the same join through the static salted fallback
    def part_join_salted():
        j = (salted_join(
                 t["lineitem"].withColumnRenamed("l_partkey",
                                                 "p_partkey"),
                 t["part"], "p_partkey", salt=8)
             .groupBy("p_partkey")
             .agg(F.sum("l_quantity").alias("qty")))
        noop(j)
    run("hot_part_join_salted", part_join_salted)

    # 3. hot-key groupBy (map-side partials absorb the hot key; this
    #    should NOT skew - partial aggregation is the 100 TB answer)
    run("hot_part_groupby",
        lambda: noop(t["lineitem"].groupBy("l_partkey")
                     .agg(F.sum("l_quantity").alias("q"),
                          F.avg("l_extendedprice").alias("p"))))

    # 4. sessionize with a hot user (~20% of events in ONE window
    #    partition - AQE cannot split a window; this measures the
    #    honest per-key ceiling)
    run("sessionize_hot_user",
        lambda: noop(sessionize(ev, gap_minutes=30)))

    # 5/6. boilerplate-heavy dedup (bucket caps + logged drops)
    run("minhash_boiler",
        lambda: noop(dedup.minhash_lsh_pairs(
            t["documents"], num_hashes=16, bands=4, threshold=0.4)))
    run("simhash_boiler",
        lambda: noop(dedup.simhash_pairs(t["documents"],
                                         max_hamming=8)))

    # 7. cross-corpus dedup under boilerplate: the reference side's
    #    band buckets are exactly where a template corpus
    #    degenerates; the capped-bucket drop path must keep the task
    #    profile bounded (watch for the logged drop counts)
    run("cross_dedup_boiler",
        lambda: noop(dedup.cross_dedup_pairs(
            t["documents"].filter("doc_id % 10 = 0"),
            t["documents"].filter("doc_id % 10 <> 0"),
            num_hashes=16, bands=4, threshold=0.4)))

    total = round(sum(v for v in times.values() if v >= 0), 2)
    load = [round(x, 2) for x in os.getloadavg()]
    pas.close_db()  # flush event log

    # --- event-log audit: per-stage max/median task time + AQE skew
    stages: dict[int, list[int]] = {}
    skew_join_fired = False
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
                if '"skew=true"' in line or "skew=true" in line:
                    skew_join_fired = True
                try:
                    evt = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if evt.get("Event") == "SparkListenerTaskEnd":
                    ti = evt.get("Task Info", {})
                    dur = (ti.get("Finish Time", 0)
                           - ti.get("Launch Time", 0))
                    stages.setdefault(evt.get("Stage ID"),
                                      []).append(dur)
    skew = []
    for sid, durs in stages.items():
        if len(durs) < 8:
            continue
        med = statistics.median(durs)
        if med <= 100:
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
        "metric": "skew_stress_total", "value": total, "unit": "sec",
        "queries": times, "sf_dir": skew_dir, "loadavg": load,
        "aqe_skew_join_fired": skew_join_fired, **extra,
        "skew_top": skew[:10],
        "skew_flags": skew_flags,
        "worst_ratio": skew[0]["ratio"] if skew else None,
    }))


if __name__ == "__main__":
    main()
