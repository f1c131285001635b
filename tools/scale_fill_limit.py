"""Scale probe for the round-6 (value, age)-carry fill scan: global
ffill/bfill with limit= at 150k vs 15M rows (100x), 3 interleaved
reps, pin memo cleared per run — extends SCALE_scans_r5 to the new
limit machinery (the partials pass now also ships two null-run
lengths per column; carries stay O(P) scalars).

Prints one JSON line -> SCALE_fill_limit_r6.json.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def make_series(spark, n):
    import pandas_alchemy_spark as pas
    from pyspark.sql import functions as F
    raw = (spark.range(n)
           .select(F.col("id"),
                   F.when(F.pmod(F.xxhash64("id"), 10) < 4,
                          F.lit(None).cast("double"))
                   .otherwise(F.col("id") * 1.5).alias("v")))
    return pas.from_spark(raw, index=["id"]).v


def main():
    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name="scale_fill_limit",
                        **{"spark.driver.memory": "24g"})
    spark.sparkContext.setLogLevel("ERROR")
    from pandas_alchemy_spark.operators import segscan

    sizes = {"150k": 150_000, "15M": 15_000_000}
    ops = {
        "ffill_limit3": lambda s: s.ffill(limit=3),
        "bfill_limit3": lambda s: s.bfill(limit=3),
        "ffill_nolimit": lambda s: s.ffill(),
    }
    out = {op: {sz: [] for sz in sizes} for op in ops}
    for rep in range(3):
        for sz, n in sizes.items():
            for op, fn in ops.items():
                segscan._PIN_CACHE.clear()
                s = make_series(spark, n)
                t0 = time.time()
                fn(s).to_spark().write.format("noop") \
                    .mode("overwrite").save()
                out[op][sz].append(round(time.time() - t0, 2))
                spark.catalog.clearCache()

    summary = {}
    for op in ops:
        m_small = min(out[op]["150k"])
        m_big = min(out[op]["15M"])
        summary[op] = {"min_150k_s": m_small, "min_15M_s": m_big,
                       "time_ratio_for_100x_rows":
                           round(m_big / m_small, 1)}
    print(json.dumps({
        "purpose": ("round-6 fill scan with limit= at 100x rows: the "
                    "(value, age) carry stays O(P) scalars; "
                    "interleaved reps, pin memo cleared per run"),
        "interleaved_reps": out, "summary": summary,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }))


if __name__ == "__main__":
    main()
