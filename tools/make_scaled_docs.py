"""Synthesize a document-scale corpus from sf0.1: K key-shifted
replicas of documents + embeddings whose PAYLOADS are decorrelated per
replica by structure-preserving transforms — the dedup/ANN sibling of
make_scaled_sf.py's key shifts.

- text: two disjoint character-set rotations (a bijection per replica,
  100 distinct maps), so token/shingle structure WITHIN a replica is
  byte-for-byte isomorphic to sf0.1 (same near-dup pairs, same bucket
  geometry) while shingles across replicas don't collide.  The truth
  therefore scales linearly: pairs(K x sf0.1) = K * pairs(sf0.1).
- embedding: dimension rotation by (r mod dim) plus a sign flip on odd
  dims for r >= dim — orthogonal maps, so cosines within a replica are
  EXACT and cross-replica cosines decorrelate below near-dup
  thresholds.

(Exact-copy replication — make_scaled_sf.py — is the degenerate-bucket
stress case; its truth is quadratic in the clone count, which is what
exact dedup is for.  This generator is the honest scale test for the
NEAR-dup operators: more documents, same per-document geometry.)

Usage: python tools/make_scaled_docs.py <src_sf_dir> <dst_dir> [K=100]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OFFSET = 10_000_000
SET_A = "abcdefghij"
SET_B = "klmnopqrst"


def _rot(s: str, k: int) -> str:
    k %= len(s)
    return s[k:] + s[:k]


def main():
    src, dst = sys.argv[1], sys.argv[2]
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 100
    from pyspark.sql import functions as F
    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name="make_scaled_docs",
                        **{"spark.driver.memory": "12g"})
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(dst, exist_ok=True)

    docs = spark.read.parquet(f"{src}/documents.parquet")
    # Decorrelation audit: a token using ONLY characters outside
    # SET_A+SET_B is invariant under both rotations, so its shingles
    # would collide across replicas and break the linear-truth claim
    # (pairs(K x sf) = K * pairs(sf)).  Fail loud rather than emit a
    # silently-correlated corpus.  (The recorded sf0.1 corpus has 0
    # such tokens — verified; this guards arbitrary inputs.)
    inv = (docs.select(F.explode(F.expr(
        "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')"
    )).alias("t"))
        .filter(~F.col("t").rlike(f"[{SET_A}{SET_B}]")).limit(1)
        .count())
    if inv:
        raise SystemExit(
            "corpus has tokens with no characters in the rotation "
            "sets; extend SET_A/SET_B or switch to per-token suffix "
            "decorrelation before scaling this corpus")
    parts = []
    for r in range(k):
        rep = (docs
               .withColumn("doc_id", F.col("doc_id") + F.lit(r * OFFSET))
               .withColumn("text", F.translate(
                   F.translate("text", SET_A, _rot(SET_A, r % 10)),
                   SET_B, _rot(SET_B, r // 10))))
        parts.append(rep)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    (out.repartition(32)
     .write.mode("overwrite").parquet(f"{dst}/documents.parquet"))
    print("documents",
          spark.read.parquet(f"{dst}/documents.parquet").count())

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    dim = len(emb.select("embedding").head(1)[0][0])
    parts = []
    for r in range(k):
        rot = r % dim
        flip = r >= dim  # sign-flip odd dims for the second lap
        sign = ("* CAST(1 - 2 * pmod(i, 2) AS FLOAT)" if flip else "")
        expr = (f"transform(sequence(0, {dim - 1}), i -> "
                f"element_at(embedding, "
                f"CAST(pmod(i + {rot}, {dim}) AS INT) + 1) {sign})")
        rep = (emb
               .withColumn("vec_id", F.col("vec_id") + F.lit(r * OFFSET))
               .withColumn("embedding", F.expr(expr)))
        parts.append(rep)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    # --- planted near-duplicates with a truth sidecar.  The source
    # embeddings are near-random (sf0.1: zero pairs at cosine >= 0.7),
    # so near-dup RECALL at the operator's design threshold (0.95) is
    # unmeasurable on replicas alone.  Plant a perturbed copy of 1% of
    # vectors: v' = v + 0.25*||v||/sqrt(d) * u, u deterministic
    # uniform[-1,1]*sqrt(3) per (id, dim) via xxhash64 — E[cos] =
    # 1/sqrt(1+0.0625) ~ 0.970, concentrated at dim >= 32.  Truth
    # pairs -> planted_pairs.parquet for tools/bench_dedup_sf10.py.
    scale = 0.25
    noise = (f"transform(embedding, (x, i) -> CAST(x + {scale} * "
             f"sqrt(aggregate(embedding, cast(0.0 as double), "
             f"(s, v) -> s + v * v) / {dim}) * sqrt(3.0) * "
             f"(pmod(xxhash64(vec_id, i), 1000003) / 1000003.0 * 2.0 "
             f"- 1.0) AS FLOAT))")
    seeds = out.filter(F.pmod(F.col("vec_id"), F.lit(97)) == 0)
    planted = (seeds
               .withColumn("pair_id", F.col("vec_id"))
               .withColumn("vec_id",
                           F.col("vec_id") + F.lit(k * OFFSET))
               .withColumn("embedding", F.expr(noise)))
    (planted.select(F.col("pair_id").alias("id_a"),
                    F.col("vec_id").alias("id_b"))
     .repartition(4)
     .write.mode("overwrite").parquet(f"{dst}/planted_pairs.parquet"))
    out = out.unionAll(planted.drop("pair_id"))
    (out.repartition(32)
     .write.mode("overwrite").parquet(f"{dst}/embeddings.parquet"))
    print("embeddings",
          spark.read.parquet(f"{dst}/embeddings.parquet").count())
    print("planted",
          spark.read.parquet(f"{dst}/planted_pairs.parquet").count())


if __name__ == "__main__":
    main()
