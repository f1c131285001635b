"""Synthesize a SKEWED variant of an sf dir (VERDICT r6 item 2): all
prior scale evidence used uniform key-shifted replicas, so "no skew"
findings partly reflected the generator.  This rewrites keys to a
Zipf-ish shape with a genuine hot head:

- orders: o_custkey remapped so the hottest customer holds ~20% of
  all orders and the next ranks decay ~1/rank (Zipf s=1) down to the
  original uniform tail.
- lineitem: l_partkey remapped the same way (hot part ~20% of rows)
  — stresses groupBy aggregation and the part join.
- events: user_id remapped (hot user ~20% of events) — stresses
  sessionize windows and funnel self-alignment.
- documents: 20% of docs get a shared boilerplate prefix paragraph —
  degenerate shingle mass for minhash/simhash bucket caps.

The remap is deterministic (xxhash64-based), preserves row counts and
all non-key columns, and keeps every assigned key inside the original
key range so joins still resolve.

Usage: python tools/make_skewed_sf.py <src_sf_dir> <dst_dir>
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (table, key column) -> (hot fraction, unique row-id columns for the
# deterministic hash — NEVER monotonically_increasing_id: it is
# nondeterministic, so Catalyst re-evaluates it per `when` branch and
# the branch probabilities compound instead of partitioning [0,1))
HOT = {
    ("orders", "o_custkey"): (0.20, ["o_orderkey"]),
    ("lineitem", "l_partkey"): (0.20, ["l_orderkey", "l_linenumber"]),
    ("events", "user_id"): (0.20, ["event_id"]),
}

BOILERPLATE = (
    "terms of service privacy policy all rights reserved contact us "
    "subscribe to our newsletter follow us on social media copyright "
    "notice cookie preferences accessibility statement site map ")


def zipf_remap(df, key, frac, uniq):
    """Remap ``key`` so rank-1 holds ``frac`` of rows, rank r decays
    1/r for r<=8, and the rest keep their original (uniform) key.
    u ~ U[0,1) per row, hashed from the table's unique row id columns
    — deterministic and evaluated once."""
    from pyspark.sql import functions as F
    # head mass: frac * (1 + 1/2 + ... + 1/8) ~ frac * 2.718
    cuts, acc = [], 0.0
    for r in range(1, 9):
        acc += frac / r
        cuts.append(acc)
    minkey = df.agg(F.min(key)).first()[0]
    u = (F.pmod(F.xxhash64(F.lit("skew"), *[F.col(c) for c in uniq]),
                F.lit(1_000_003)) / 1_000_003.0)
    expr = F.col(key)
    for r, c in reversed(list(enumerate(cuts, start=1))):
        expr = F.when(u < c, F.lit(minkey + r - 1)).otherwise(expr)
    return df.withColumn(key, expr.cast(df.schema[key].dataType))


def main():
    src, dst = sys.argv[1], sys.argv[2]
    from pyspark.sql import functions as F
    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name="make_skewed_sf",
                        **{"spark.driver.memory": "16g"})
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(dst, exist_ok=True)

    for table in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents",
                  "embeddings"):
        df = spark.read.parquet(f"{src}/{table}.parquet")
        for (t, key), (frac, uniq) in HOT.items():
            if t == table:
                df = zipf_remap(df, key, frac, uniq)
        if table == "documents":
            u = (F.pmod(F.xxhash64(F.lit("boiler"), F.col("doc_id")),
                        F.lit(1_000_003)) / 1_000_003.0)
            df = df.withColumn(
                "text",
                F.when(u < 0.20,
                       F.concat(F.lit(BOILERPLATE), F.col("text")))
                .otherwise(F.col("text")))
        df.repartition(16).write.mode("overwrite").parquet(
            f"{dst}/{table}.parquet")
        n = spark.read.parquet(f"{dst}/{table}.parquet").count()
        print(table, n)

    # report the achieved hot-key shares
    for (t, key), (frac, uniq) in HOT.items():
        d = spark.read.parquet(f"{dst}/{t}.parquet")
        total = d.count()
        top = (d.groupBy(key).count().orderBy(F.desc("count"))
               .limit(3).collect())
        print(t, key, "top shares:",
              [round(r["count"] / total, 3) for r in top])


if __name__ == "__main__":
    main()
