"""Run the adapted TPC-H block at sf10 (tools/make_scaled_sf.py, 100
key-shifted replicas of sf0.1) and check SortMergeJoin skew on the
lineitem x orders fact-fact join — VERDICT r4 item 8.

Prints one JSON line: per-query seconds plus a per-stage task-time
skew summary (max/median task duration for every stage with >= 8
tasks; the fact-fact join stages are where replica-key skew would
show).

Usage: python tools/bench_tpch_sf10.py [sf_dir]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _cpu_mark  # noqa: E402

EVDIR = "/root/repo/.scratch/eventlog"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scratch/sf10"
    os.makedirs(EVDIR, exist_ok=True)
    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name="tpch_sf10", **{
        "spark.driver.memory": "24g",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": EVDIR,
    })
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    import __spark_entry__ as E
    queries = {
        "q7_volume": E.q7_volume,
        "q8_market_share": E.q8_market_share,
        "q9_profit": E.q9_profit,
        "q13_distribution": E.q13_distribution,
        "q14_promo": E.q14_promo,
        "q15_top_supplier": E.q15_top_supplier,
        "q17_small_qty": E.q17_small_qty,
        "q22_rich_no_orders": E.q22_rich_no_orders,
    }

    spark.read.parquet(f"{sf_dir}/region.parquet").count()  # warm session
    times = {}
    t_all = time.time()
    for name, fn in queries.items():
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        times[name] = round(time.time() - t0, 2)
        print(f"{name}: {times[name]}s", file=sys.stderr)
    total = round(time.time() - t_all, 2)
    load = [round(x, 2) for x in os.getloadavg()]
    pas.close_db()  # flush the event log

    # --- skew: per-stage max/median task duration from the event log
    import statistics
    stages: dict[int, list[int]] = {}
    # v1: a single file named <app_id>; v2 rolling: a directory
    # eventlog_v2_<app_id> holding events_* part files
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
    skew = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") == "SparkListenerTaskEnd":
                    ti = ev.get("Task Info", {})
                    dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                    stages.setdefault(ev.get("Stage ID"), []).append(dur)
        for sid, durs in stages.items():
            if len(durs) < 8:
                continue
            med = statistics.median(durs)
            if med <= 0:
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
        "metric": "tpch_sf10_total", "value": total, "unit": "sec",
        "queries": times, "sf": 10, "loadavg": load,
        "cpu_mark": _cpu_mark(),
        "skew_top": skew[:8],
        "skew_flags": skew_flags,
        "worst_ratio": skew[0]["ratio"] if skew else None,
    }))


if __name__ == "__main__":
    main()
