"""Similarity search over an embedding column (array<float>).

Beyond-reference extension (SURVEY.md §7 Phase 4).  Two paths:

- :func:`cosine_topk` — exact brute force: broadcast the (small) query
  set against the corpus; dot products via ``zip_with``/``aggregate``
  higher-order functions (JVM-side, no Python).  O(|Q|·N) work spread
  across all partitions — the right baseline, and exactly what you run
  at 100 TB when |Q| is small.
- :func:`lsh_topk` — random-hyperplane LSH bucketing: deterministic
  md5-derived hyperplanes, sign-bit bucket codes, candidates only from
  matching buckets (multi-probe over Hamming-1 neighbors), then exact
  re-rank.  Sublinear candidate generation for large |Q|; approximate
  (tested for recall against brute force, not for equality).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (s, v) -> s + v)"
_NORM = "sqrt(aggregate({a}, cast(0.0 as double), (s, v) -> s + v * v))"


def dot_expr(a: str, b: str):
    return F.expr(_DOT.format(a=a, b=b))


def norm_expr(a: str):
    return F.expr(_NORM.format(a=a))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best (query_id, neighbor_id, cosine) rows,
    ranked 1..k.  Spark orders NaN above every number, so a NaN cosine
    (a vector with a NaN component) is dropped, not ranked first."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.filter(~F.isnan("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def cosine_topk(df: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries``: (query_id, vec) — small; broadcast.  Result:
    (query_id, neighbor_id, cosine, rank), excluding self-matches."""
    # norms are computed once per row *below* the join — inside the
    # cross product they would be re-evaluated |Q| (resp. N) times
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       norm_expr(vec_col).alias("qn"))
    c = df.select(F.col(id_col).alias("neighbor_id"),
                  F.col(vec_col).alias("cv"),
                  norm_expr(vec_col).alias("cn"))
    dot = _DOT.format(a="qv", b="cv")
    cos = F.expr(f"({dot}) / nullif(qn * cn, 0.0)")
    scored = (c.join(F.broadcast(q))
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id", cos.alias("cosine")))
    return _top_k(scored, k)


_CACHE_RING: "list" = []
# 8, not 4: a single folded query can legitimately register ~4 live
# persists before its action runs (bigram uni+big, dsir tcnt+rcnt,
# curate's gate + its nested minhash base) — a ring evicting mid-plan
# is only a recompute, but a pointless one
_CACHE_RING_MAX = 8


def _register_cache(sdf) -> None:
    """Bounded ring of persisted similarity frames: a finalizer on the
    RETURNED handle fired as soon as callers chained off it (the
    common ``pairs.filter(...)`` usage), unpersisting before any
    action ran.  The ring keeps the last N cached bases alive across
    chaining and releases the oldest deterministically; registration
    happens right after persist so a builder exception cannot leak
    the entry."""
    _CACHE_RING.append(sdf)
    while len(_CACHE_RING) > _CACHE_RING_MAX:
        old = _CACHE_RING.pop(0)
        try:
            old.unpersist()
        except Exception:
            pass  # session already stopped


# Stream-static persists live OUTSIDE the ring: Structured Streaming
# re-executes the static side of a stream-static join EVERY
# micro-batch, so a ring eviction mid-stream silently re-runs the
# full static pipeline per batch (the 30x docs/s cliff the persist
# exists to prevent — 193 docs/s measured on streaming_dedup_against).
# Pinned frames are released only by release_pinned_caches(), which
# the stream owner calls after query.stop().
_PINNED_CACHE: "list" = []  # (scope, frame) pairs


def _pin_cache(sdf, scope=None) -> None:
    """Pin a persisted frame for a stream's lifetime (exempt from the
    bounded ring's eviction).  Callers MUST pair with
    :func:`release_pinned_caches` once the streaming query stops.
    ``scope`` tags the pin with its owning stream (ADVICE r9: two
    live gates share this module-global list; an owner draining
    everything would silently reinstate the OTHER stream's
    per-micro-batch reference-rebuild cliff)."""
    _PINNED_CACHE.append((scope, sdf))


def release_pinned_caches(scope=None) -> int:
    """Unpersist stream-lifetime pinned frames (see
    :func:`_pin_cache`).  Call after stopping streaming queries built
    by :func:`~..streaming.stream_events.streaming_dedup_against` —
    pass that call's pin scope (the returned frame's
    ``_pas_pin_scope`` attribute, or your own ``pin_scope=`` value)
    to release ONLY that stream's static frames; ``scope=None``
    keeps the drain-everything behavior for single-stream owners.
    Returns the number of frames released."""
    n = 0
    keep: list = []
    while _PINNED_CACHE:
        sc, old = _PINNED_CACHE.pop()
        if scope is not None and sc is not scope:
            keep.append((sc, old))
            continue
        try:
            old.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped
    _PINNED_CACHE.extend(reversed(keep))
    return n


def _hyperplane_component(table: int, plane: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5):
    first 8 hex chars of md5("{table}#{plane}_{d}") scaled.  Computed
    ONCE on the driver and embedded as a literal — an earlier
    formulation evaluated the same md5 inside the per-row Spark
    expression, costing dim*planes*tables md5 calls per row (~6M
    per 2k vectors; 10x the whole query's useful work)."""
    h = hashlib.md5(f"{table}#{plane}_{d}".encode()).hexdigest()[:8]
    return int(h, 16) / 4294967296.0 - 0.5


def _hyperplane_matrix(dim: int, planes: int, tables: int = 1):
    """(tables*planes) x dim float64 hyperplane matrix (row t*planes+p
    is plane p of table t)."""
    import numpy as np
    return np.array(
        [[_hyperplane_component(t, p, d) for d in range(dim)]
         for t in range(tables) for p in range(planes)],
        dtype=np.float64)


def table_codes_udf(dim: int, planes: int, tables: int = 1):
    """Arrow-vectorized sign-bit LSH codes: column fn vec ->
    array<int> of ``tables`` bucket codes.

    One numpy matmul per Arrow batch (B x dim @ dim x T*P), then
    bit-packing — per-partition, narrow, no shuffle, no driver data.
    Replaces a higher-order-function formulation whose nested
    interpreted lambdas evaluated tables*planes*dim boxed ops per row
    (3+ s for 2k x 64-dim vectors vs ~10 ms for the matmul)."""
    import numpy as np
    import pandas as pd

    H = _hyperplane_matrix(dim, planes, tables).T  # dim x (T*P)
    weights = (1 << np.arange(planes, dtype=np.int64))

    def _codes(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.array(vecs.tolist(), dtype=np.float64)
        bits = (V @ H) >= 0.0                      # B x (T*P)
        packed = bits.reshape(len(vecs), tables, planes) @ weights
        return pd.Series(list(packed.astype(np.int32)))

    return F.pandas_udf(_codes, "array<int>")


def lsh_topk(df: DataFrame, queries: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 32, planes: int = 6, tables: int = 8) -> DataFrame:
    """Approximate top-k via multi-table sign-bit LSH.

    ``tables`` independent hyperplane sets; a corpus vector is a
    candidate if it lands in the query's bucket in ANY table (classic
    L-table LSH: recall compounds as 1-(1-p^planes)^tables).  The
    corpus explodes to ``tables`` rows (narrow); the join shuffles on
    (table, code) buckets; exact cosine re-rank at the end.  Multi-probe
    (1-bit flips) widens query buckets without touching the corpus."""
    # NULL embeddings cannot be searched and would crash the Arrow
    # matmul with a ragged batch — drop them up front (the brute-force
    # SQL path tolerates them as NULL cosine; this keeps the ANN
    # paths consistent and un-crashable)
    df = df.filter(F.col(vec_col).isNotNull())
    queries = queries.filter(F.col(vec_col).isNotNull())
    codes = table_codes_udf(dim, planes, tables)
    c = (df.select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("cv"),
                   norm_expr(vec_col).alias("cn"),
                   codes(F.col(vec_col)).alias("codes"))
         .select("neighbor_id", "cv", "cn",
                 F.posexplode("codes").alias("tbl", "code")))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       norm_expr(vec_col).alias("qn"),
                       codes(F.col(vec_col)).alias("qcodes"))
    # multi-probe: each table's code plus all 1-bit flips
    probes = F.explode(F.expr(
        f"flatten(transform(qcodes, (c, t) -> concat("
        f"array(struct(t as tbl, c as code)), "
        f"transform(sequence(0, {planes - 1}), p -> "
        f"struct(t as tbl, cast(c ^ shiftleft(1, p) as int) as code)))))"
    )).alias("probe")
    qp = q.select("query_id", "qv", "qn", probes).select(
        "query_id", "qv", "qn", "probe.tbl", "probe.code")
    dot = _DOT.format(a="qv", b="cv")
    cos = F.expr(f"({dot}) / nullif(qn * cn, 0.0)")
    scored = (c.join(F.broadcast(qp), ["tbl", "code"])
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .dropDuplicates(["query_id", "neighbor_id"])
              .select("query_id", "neighbor_id", cos.alias("cosine")))
    return _top_k(scored, k)


def lsh_collision_prob(threshold: float) -> float:
    """Per-hyperplane sign-agreement probability for two vectors at
    cosine ``threshold``: p = 1 - acos(s)/pi (Goemans-Williamson /
    Charikar sign-LSH).  Public-literature formula; drives the
    recall-aware geometry below."""
    import math
    s = max(-1.0, min(1.0, float(threshold)))
    return 1.0 - math.acos(s) / math.pi


def _auto_tables(planes: int, threshold: float,
                 target_recall: float = 0.9,
                 max_tables: int = 32) -> int:
    """Smallest L with 1-(1-p^planes)^L >= target_recall, capped at
    ``max_tables``.  When the cap binds the achievable recall is
    logged LOUDLY — sign-LSH cannot cheaply catch low-cosine pairs,
    and silence here is how recall regressions ship."""
    import math
    import sys
    p = lsh_collision_prob(threshold)
    per_table = p ** planes
    if per_table >= 1.0:
        return 1
    if per_table <= 0.0:
        # p == 0 (threshold <= -1) or p**planes underflowed to 0.0
        # (huge caller-supplied planes): log(1 - 0) == 0 below would
        # ZeroDivide — the intended behavior is the same loud
        # capped-recall warning as an unreachable target
        print(f"embedding_near_dup_pairs: tables='auto' capped at "
              f"{max_tables}: per-table collision probability "
              f"underflowed to 0 at planes={planes}, threshold="
              f"{threshold} — expected recall ~0. Raise threshold or "
              f"lower planes.", file=sys.stderr)
        return max_tables
    need = math.log(1.0 - target_recall) / math.log(1.0 - per_table)
    L = max(1, math.ceil(need))
    if L > max_tables:
        reach = 1.0 - (1.0 - per_table) ** max_tables
        print(f"embedding_near_dup_pairs: tables='auto' capped at "
              f"{max_tables} (needed {L} for recall "
              f"{target_recall:.2f} at threshold {threshold}); "
              f"expected recall ~{reach:.2f}. Raise threshold, lower "
              f"planes (bigger buckets), or accept the recall.",
              file=sys.stderr)
        return max_tables
    return L


#: "caller didn't pass target_recall" sentinel: None already means
#: cost-only auto sizing, so absence needs its own marker (the INERT
#: warning must fire only for an EXPLICIT target the fixed geometry
#: cannot honor — not for the function's own defaults)
_RECALL_UNSET = object()


def embedding_near_dup_pairs(df: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding", dim: int = 32,
                             planes=10, tables=4,
                             threshold: float = 0.95,
                             target_recall=_RECALL_UNSET,
                             bucket_cap: int | None = 2000,
                             cache: bool = True,
                             verify_kernel: str = "auto") -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table sign-bit
    LSH — the same banded candidate generation :func:`lsh_topk` uses.

    A pair is a candidate when the two vectors share a bucket in ANY of
    the ``tables`` hyperplane sets (recall compounds as
    1-(1-p^planes)^tables — strictly better than the old single-table
    code join), then verified with exact cosine at ``threshold``.
    Candidates come from a groupBy-(table, code) bucket + within-bucket
    pair explode, NOT a self-join, and buckets larger than
    ``bucket_cap`` are dropped with a logged count (a degenerate bucket
    of B identical embeddings would otherwise materialize O(B^2) pairs
    in one task — boilerplate protection, same policy as the MinHash
    path).

    ``planes="auto"`` sizes the bucket count to the CORPUS (one count
    job): planes = clamp(ceil(log2(n / 32)), 6, 24), targeting ~32
    vectors per bucket.  Fixed ``planes`` is quadratically
    super-linear as n grows past planes' capacity — measured at 200k
    vectors, planes=10 (1024 buckets, ~195 vectors each) costs 149x
    the 2k-vector run for 100x the data, while auto (13 planes) keeps
    candidate generation linear.  At 100 TB, always auto or size
    planes ~ log2(n).  With ``target_recall=None`` the auto sizing is
    cost-only (no recall clamp) and ``tables`` must be a fixed int —
    the throughput mode for low-threshold screening where sign-LSH
    has no recall-honest geometry (see the in-body note).

    ``target_recall`` left UNSET resolves to 0.9 for the auto-sizing
    paths; the fixed-geometry INERT warning fires only when a target
    was passed EXPLICITLY (the defaults planes=10/tables=4 at
    threshold 0.95 reach ~0.82, and warning on every plain
    ``embedding_near_dup_pairs(df)`` call would be noise about
    arguments the caller never set).

    ``verify_kernel`` picks the candidate-verify engine (r13):
    ``"numpy"`` verifies pairs BUCKET-LOCALLY in an ``applyInPandas``
    kernel — candidates never materialize as rows, only threshold
    survivors reach the dedup exchange (the simhash
    verify-before-exchange pattern; see
    :func:`_near_dup_bucket_verify` for the bit-identity argument).
    ``"sql"`` is the pre-r13 row-materialized formulation (pair
    explode → dedup exchange → two vector joins → Catalyst fold
    cosine) — the two kernels are bit-identical by construction and
    test-pinned, so ``"auto"`` (default) picks purely on measured
    cost: numpy iff the estimated candidate volume clears
    ``_NEAR_DUP_VERIFY_FLOOR`` (:func:`_near_dup_verify_choice`; the
    kernel's flat job/Arrow overhead loses to the one-job Catalyst
    plan on small corpora and wins 3.9x at 202k vectors).  The
    decision is logged.

    ``cache=True`` persists the projected (id, vec, norm, codes) frame
    so the Arrow-batch code UDF runs once instead of three times
    (banded explode + both verify-join sides); the cached blocks are
    released through a bounded module ring (oldest of 4 unpersists —
    a per-result finalizer fired as soon as the caller chained off
    the handle), so repeated calls don't accumulate session-lifetime
    cache.  Pass ``cache=False`` to skip caching entirely."""
    from .dedup import _cap_buckets
    # resolve the sentinel: unset -> 0.9 for the auto-sizing paths,
    # but remember explicitness so the INERT warning below fires only
    # when the CALLER named a target the fixed geometry can't honor
    recall_explicit = target_recall is not _RECALL_UNSET
    if not recall_explicit:
        target_recall = 0.9
    # NULL embeddings cannot be searched and would crash the Arrow
    # matmul with a ragged batch — drop them up front (the brute-force
    # SQL path tolerates them as NULL cosine; this keeps the ANN
    # paths consistent and un-crashable)
    n_vec = None
    if planes == "auto":
        import math
        # count BEFORE the isNotNull filter: a filterless count-star
        # on a parquet scan is answered from footer metadata (no data
        # scan); nulls only pad n upward, which for bucket sizing is
        # harmless
        n_vec = df.count()
    df = df.filter(F.col(vec_col).isNotNull())
    if planes == "auto":
        import math
        planes_cost = max(6, min(24, math.ceil(
            math.log2(max(n_vec, 1) / 32 or 1))))
        if target_recall is None:
            # cost-only sizing: hold the PER-DOCUMENT candidate
            # budget constant across corpus sizes — occupancy*tables
            # ~ 8, i.e. occupancy target = 8/tables — so candidate
            # generation is linear in n at every scale AND small
            # corpora don't over-pay (a fixed ~32-row occupancy was
            # 2.2x at 2k vectors because 4 tables of 31-member
            # buckets verify ~128k pairs where the same screening
            # budget needs ~16k).  Recall is whatever the fixed
            # `tables` buys (1-(1-p^planes)^tables) — the throughput
            # mode for low-threshold screening where a recall-honest
            # geometry does not exist (at threshold 0.45, recall 0.9
            # needs ~30 tables of 6-plane/64-bucket codes: measured
            # 124 s on 20k vectors with 1597 capped buckets —
            # degenerate).
            n_tables = tables if isinstance(tables, int) else 4
            occ_target = max(2.0, 8.0 / max(n_tables, 1))
            planes = max(6, min(24, math.ceil(
                math.log2(max(n_vec, 1) / occ_target or 1))))
        else:
            # recall bound: the largest planes for which max_tables=32
            # tables can still reach target_recall at this threshold —
            # cost-only sizing silently destroys recall as n grows (the
            # round-6 geometry fix was time-verified only; this is the
            # recall half of that trade)
            p = lsh_collision_prob(threshold)
            per_needed = 1.0 - (1.0 - target_recall) ** (1.0 / 32)
            planes_recall = (24 if p >= 1.0 else max(4, math.floor(
                math.log(per_needed) / math.log(p))))
            planes = min(planes_cost, planes_recall)
            if planes < planes_cost:
                import sys
                print(f"embedding_near_dup_pairs: recall target "
                      f"{target_recall:.2f} at threshold {threshold} "
                      f"limits planes to {planes} (cost sizing wanted "
                      f"{planes_cost}); expect "
                      f"~{max(n_vec, 1) / 2 ** planes:.0f}"
                      f"-row buckets and bucket_cap drops at scale",
                      file=sys.stderr)
    elif not isinstance(planes, int) or planes < 1:
        raise ValueError(f"planes must be a positive int or 'auto', "
                         f"got {planes!r}")
    if tables == "auto":
        if target_recall is None:
            raise ValueError(
                "tables='auto' sizes L from target_recall; pass a "
                "numeric target_recall or a fixed tables count")
        tables = _auto_tables(planes, threshold, target_recall)
    elif not isinstance(tables, int) or tables < 1:
        raise ValueError(f"tables must be a positive int or 'auto', "
                         f"got {tables!r}")
    elif (recall_explicit and target_recall is not None
          and isinstance(planes, int)):
        # both geometry knobs fixed: target_recall cannot change
        # anything — surface the recall the fixed geometry actually
        # buys instead of letting the parameter imply a guarantee
        import sys
        p = lsh_collision_prob(threshold)
        reach = 1.0 - (1.0 - p ** planes) ** tables
        if reach < target_recall:
            print(f"embedding_near_dup_pairs: target_recall="
                  f"{target_recall:.2f} is INERT with fixed geometry "
                  f"(planes={planes}, tables={tables}); expected "
                  f"recall at threshold {threshold} is ~{reach:.2f}. "
                  f"Pass planes='auto'/tables='auto' to size for the "
                  f"target.", file=sys.stderr)
    if verify_kernel == "auto":
        if n_vec is None:
            # filterless count-star: parquet answers it from footer
            # metadata, no data scan (same rationale as the
            # planes='auto' count above)
            n_vec = df.count()
        import sys
        verify_kernel, est = _near_dup_verify_choice(n_vec, planes,
                                                     tables)
        print(f"embedding_near_dup_pairs: verify_kernel=auto -> "
              f"{verify_kernel} (n={n_vec}, planes={planes}, "
              f"tables={tables}, est_candidates={est:.0f}, "
              f"floor={_NEAR_DUP_VERIFY_FLOOR})", file=sys.stderr)
    codes = table_codes_udf(dim, planes, tables)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                     norm_expr(vec_col).alias("n"),
                     codes(F.col(vec_col)).alias("codes"))
    if cache:
        base = base.persist()
        _register_cache(base)
    if verify_kernel == "numpy":
        out = _near_dup_bucket_verify(base, threshold, bucket_cap)
    elif verify_kernel == "sql":
        # pre-r13 formulation, kept as the differential/A-B twin: the
        # candidate pairs materialize as ROWS (44M at 200k vectors),
        # pay a pair-sized dedup exchange, then TWO vector joins and
        # one interpreted fold cosine per pair.  Bit-identical to the
        # numpy kernel (pinned by test) — slower at every scale
        # measured.
        banded = base.select("id",
                             F.posexplode("codes").alias("tbl", "code"))
        buckets = (banded.groupBy("tbl", "code")
                   .agg(F.array_sort(F.collect_list("id")).alias("ids"))
                   .filter(F.size("ids") > 1))
        buckets = _cap_buckets(buckets, "ids", bucket_cap,
                               "embedding_near_dup_pairs")
        pairs = (buckets.select(F.explode(F.expr(
            "flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids)), y -> "
            "struct(x as id_a, y as id_b))))"
        )).alias("p")).select("p.id_a", "p.id_b").dropDuplicates())
        a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                        F.col("n").alias("na"))
        b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                        F.col("n").alias("nb"))
        dot = _DOT.format(a="va", b="vb")
        cos = F.expr(f"({dot}) / nullif(na * nb, 0.0)")
        # Spark orders NaN above every number, so a NaN cosine (a
        # vector with a NaN component) would pass ">= threshold"
        # unless dropped
        out = (pairs.join(a, "id_a").join(b, "id_b")
               .select("id_a", "id_b", cos.alias("cosine"))
               .filter((F.col("cosine") >= threshold)
                       & ~F.isnan("cosine")))
    else:
        raise ValueError(f"verify_kernel must be 'auto', 'numpy' or "
                         f"'sql', got {verify_kernel!r}")
    if cache:
        _register_cache(base)
    return out


def _near_dup_bucket_verify(base: DataFrame, threshold: float,
                            bucket_cap: int | None) -> DataFrame:
    """Bucket-local near-dup verification (r13; guide §2.2/§4.1, the
    simhash verify-before-exchange pattern): candidate pairs NEVER
    materialize as rows.  Each (table, code) bucket's members travel
    once to an ``applyInPandas`` kernel that generates the
    within-bucket pairs in numpy and emits only the survivors —
    measured 44.1M candidates -> 2,041 survivors at 200k vectors, so
    the pre-r13 plan's pair-sized dedup exchange plus two 44M-row
    vector joins collapse into one member-sized group exchange and a
    2k-row dedup.

    Bit-identical to the SQL fold by construction: Catalyst evaluates
    ``aggregate(zip_with(a, b, (x,y) -> x*y), 0.0d, (s,v) -> s+v)`` as
    f32 products (FloatType * FloatType rounds each product to f32)
    accumulated left-to-right in f64; the kernel multiplies in f32 and
    accumulates column-by-column in f64 — the same rounding at every
    step.  Norms arrive PRE-COMPUTED from the Catalyst ``norm_expr``
    column, so they carry the oracle path's exact bits.  A pair whose
    cosine is NaN (a vector with a NaN component) is dropped by both
    kernels (numpy's ``NaN >= t`` is false; the SQL path filters
    ``isnan``), and the ``nullif(na*nb, 0.0)`` zero-norm drop is
    replicated explicitly.

    Over-cap buckets are excluded BEFORE the member exchange by a
    broadcast of the (tbl, code) survivors (same sizes-aggregate +
    Observation pattern as ``semantic_dedup``'s cell_cap), so a
    degenerate boilerplate bucket never materializes its vectors in
    one task — the same bound the old ``_cap_buckets`` drop gave the
    ids-array formulation."""
    import sys as _sys
    import threading as _threading

    member = base.select("id", "v", "n",
                         F.posexplode("codes").alias("tbl", "code"))
    sizes = member.groupBy("tbl", "code").agg(
        F.count(F.lit(1)).alias("__bn"))
    if bucket_cap is not None:
        from pyspark.sql import Observation
        obs = Observation()
        sizes = sizes.observe(
            obs, F.sum((F.col("__bn") > bucket_cap).cast("long"))
            .alias("n_over"))

        def _log():
            try:
                n = obs.get.get("n_over")  # blocks until the action
                if n:
                    print(f"[pandas_alchemy_spark] "
                          f"embedding_near_dup_pairs: dropped {n} "
                          f"oversized LSH bucket(s) (> {bucket_cap} "
                          "members); pre-collapse exact duplicates "
                          "(exact_dedup) to avoid degenerate buckets",
                          file=_sys.stderr)
            except Exception:
                pass

        _threading.Thread(target=_log, daemon=True).start()
        eligible = sizes.filter((F.col("__bn") >= 2)
                                & (F.col("__bn") <= bucket_cap))
    else:
        eligible = sizes.filter(F.col("__bn") >= 2)
    member = member.join(F.broadcast(eligible.select("tbl", "code")),
                         ["tbl", "code"])
    # Group by a HASH of the bucket key into a bounded number of
    # composite groups (sub-grouped again inside the kernel): an
    # applyInPandas group costs ~0.1 ms of Arrow overhead regardless
    # of size, and low-occupancy geometries (cost-only sizing at
    # threshold 0.45 makes ~1-member buckets) produce tens of
    # thousands of near-empty buckets — grouping per (tbl, code)
    # measured 6.5 s vs 0.8 s TOTAL on the sf0.1 leg on overhead
    # alone.  1024 composite groups keep 32x parallelism with
    # per-group payloads of n*tables/1024 rows.
    member = member.withColumn(
        "__sb", F.pmod(F.hash("tbl", "code"), F.lit(_NEAR_DUP_SUPERBUCKETS)))
    # pin the group-apply stage's task count to the session's core
    # count (scale-adaptive: local[N] -> N, a cluster -> total
    # executor cores): each FlatMapGroupsInPandas task beyond the
    # warm python-worker pool forks a fresh worker, and with the
    # default shuffle partitioning the fork cost alone measured
    # 3-4 s on a 7k-row input (64 tasks) vs ~1 s at 8 — the
    # repartition satisfies the clustering so groupBy adds no
    # second exchange
    spark = base.sparkSession
    member = member.repartition(
        spark.sparkContext.defaultParallelism, "__sb")
    idt = base.schema["id"].dataType.simpleString()
    kernel = _bucket_pair_verify_kernel(threshold)
    return (member.groupBy("__sb")
            .applyInPandas(kernel,
                           schema=f"id_a {idt}, id_b {idt}, cosine double")
            .dropDuplicates(["id_a", "id_b"]))


_NEAR_DUP_SUPERBUCKETS = 1024

# verify_kernel="auto" floor on the ESTIMATED candidate-pair volume
# (tables * n * occupancy / 2, occupancy = n / 2^planes): below it the
# single-job all-Catalyst SQL formulation wins on fixed costs (extra
# sizes-broadcast job + Arrow group machinery measured ~3.5 s flat on
# a 2k-vector corpus where the whole SQL plan is ~1 s); above it the
# bucket-local kernel wins and keeps growing with candidate volume
# (3.9x at 202k vectors / 44M candidates — AB_EMBND_VERIFY_r13.json;
# the floor itself is bracketed by the mid-scale legs in that
# artifact).
_NEAR_DUP_VERIFY_FLOOR = 500_000


def _near_dup_verify_choice(n: int, planes: int, tables: int):
    """Pure decision rule for ``verify_kernel="auto"`` (testable
    without a session): expected candidate volume vs the measured
    floor.  E[candidates] ~ tables * n * occ / 2 with occ = n /
    2^planes — within 2x of the measured volume on both committed
    geometries (10.8k actual vs 7.8k estimated at sf0.1; 44.1M vs
    27.4M at doc scale, the gap being bucket skew)."""
    est = tables * n * (n / float(1 << planes)) / 2.0
    return ("numpy" if est >= _NEAR_DUP_VERIFY_FLOOR else "sql"), est


def _bucket_pair_verify_kernel(threshold: float,
                               pair_block: int = 1 << 17):
    """Composite-group pair generation + exact-cosine verify: the
    group is a HASH of (tbl, code), so the kernel first splits it back
    into real buckets (one lexsort + boundary scan), then verifies
    each bucket's within-bucket pairs, blocked at ``pair_block`` pairs
    (~33 MB of f32 products) so a cap-sized bucket's O(B²) candidates
    bound task memory.  See :func:`_near_dup_bucket_verify` for the
    bit-identity argument."""
    import numpy as np
    import pandas as pd

    def _empty():
        return pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                             "id_b": pd.Series([], dtype="int64"),
                             "cosine": pd.Series([], dtype="float64")})

    def _verify(g: pd.DataFrame) -> pd.DataFrame:
        if len(g) < 2:
            return _empty()
        tbl = g["tbl"].to_numpy()
        code = g["code"].to_numpy()
        ids_all = g["id"].to_numpy()
        order = np.lexsort((ids_all, code, tbl))
        tbl, code, ids_all = tbl[order], code[order], ids_all[order]
        vs = g["v"].to_numpy()[order]
        ns = g["n"].to_numpy()[order].astype(np.float64)
        # bucket boundaries in the (tbl, code)-sorted run
        change = np.flatnonzero((tbl[1:] != tbl[:-1])
                                | (code[1:] != code[:-1])) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(tbl)]))
        outs = []
        for lo, hi in zip(starts, ends):
            m = hi - lo
            if m < 2:
                continue
            ids = ids_all[lo:hi]                  # id-ascending (lexsort)
            V = np.array(vs[lo:hi].tolist(), dtype=np.float32)
            N = ns[lo:hi]
            ia, ib = np.triu_indices(m, 1)
            for s in range(0, len(ia), pair_block):
                sa = ia[s:s + pair_block]
                sb = ib[s:s + pair_block]
                P = V[sa] * V[sb]                 # f32 products (IEEE)
                dot = np.zeros(len(sa), dtype=np.float64)
                for j in range(P.shape[1]):       # strict left fold
                    dot += P[:, j].astype(np.float64)
                prod = N[sa] * N[sb]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dot / prod
                # nullif(prod, 0.0) -> NULL drops the pair; a NaN
                # cosine fails >= threshold and drops too
                keep = (prod != 0.0) & (cos >= threshold)
                if keep.any():
                    outs.append(pd.DataFrame({"id_a": ids[sa[keep]],
                                              "id_b": ids[sb[keep]],
                                              "cosine": cos[keep]}))
        if not outs:
            return _empty()
        return pd.concat(outs, ignore_index=True)

    return _verify


def _assign_cells_udf(centroids, nprobe: int = 1):
    """Arrow-vectorized cell assignment: vec -> the ``nprobe`` nearest
    centroid ids (argmax of v·c - |c|²/2 == nearest by L2).  One numpy
    matmul per batch against the (tiny, driver-held) centroid matrix."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)         # nlist x dim
    half_sq = 0.5 * (C * C).sum(axis=1)                 # nlist

    def _cells(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.array(vecs.tolist(), dtype=np.float64)   # B x dim
        score = V @ C.T - half_sq                       # B x nlist
        top = np.argsort(-score, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    return F.pandas_udf(_cells, "array<int>")


def auto_nlist(n: int) -> int:
    """Cell count for an ``n``-vector corpus: ~sqrt(n) (the standard
    IVF sizing — cells are the parallelism unit and candidate volume
    per query is ~n·nprobe/nlist, so sqrt balances cell-scan cost
    against centroid-scan cost), clamped to [16, 65536]."""
    import math
    return max(16, min(65536, int(round(math.sqrt(max(n, 1))))))


def train_ivf_centroids(df: DataFrame, dim: int, nlist=16,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        refine_iters: int = 2,
                        train_fraction: float | None = None):
    """k-means-lite centroid training, fully deterministic.

    Seeds: the ``nlist`` corpus vectors with smallest xxhash64(id) — a
    content-addressed sample, no RNG.  Refinement: Lloyd passes where
    the elementwise mean per cell is computed via posexplode +
    groupBy(cell, pos) — a narrow (cell, pos, value) shuffle.  At
    100 TB pass ``train_fraction`` to train on a hash-sample of the
    corpus (training needs a sample, not the population).

    ``nlist="auto"`` sizes the cell count to the corpus
    (:func:`auto_nlist`; one metadata-answered count job)."""
    if nlist == "auto":
        nlist = auto_nlist(df.count())
    elif not isinstance(nlist, int) or nlist < 1:
        raise ValueError(f"nlist must be a positive int or 'auto', "
                         f"got {nlist!r}")
    body = df
    if train_fraction is not None:
        body = body.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(1000000))
            < F.lit(int(train_fraction * 1000000)))
    seeds = (body.filter(F.col(vec_col).isNotNull())
             .select(F.col(vec_col).alias("v"),
                     F.xxhash64(F.col(id_col)).alias("h"))
             .orderBy("h").limit(nlist).collect())
    centroids = [list(r["v"]) for r in seeds]
    if not centroids:
        raise ValueError(
            "no training vectors: the input (after train_fraction "
            "sampling and null filtering) is empty")
    width = len(centroids[0])
    if dim != width:
        raise ValueError(
            f"dim={dim} does not match the data's vector length "
            f"{width}")
    for _ in range(refine_iters):
        cells = _assign_cells_udf(centroids, nprobe=1)
        assigned = body.select(
            cells(F.col(vec_col)).getItem(0).alias("cell"),
            F.posexplode(F.col(vec_col)).alias("pos", "val"))
        means = (assigned.groupBy("cell", "pos")
                 .agg(F.avg("val").alias("m")).collect())
        by_cell = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        centroids = [
            [by_cell[c][p] for p in range(width)] if c in by_cell
            else centroids[c]
            for c in range(len(centroids))]
    return centroids


def tune_ivf_nprobe(df: DataFrame, centroids, target_recall: float = 0.9,
                    k: int = 5, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    sample_queries: int = 64) -> tuple[int, float]:
    """Pick the smallest ``nprobe`` whose estimated recall@k reaches
    ``target_recall`` — the FAISS-standard parameter sweep, run as ONE
    analytic pass instead of repeated searches.

    Method: sample ``sample_queries`` content-addressed query vectors
    (smallest xxhash64(id), no RNG), brute-force their exact top-k
    (one corpus pass — the only data-sized cost), fetch the CELL of
    each truth neighbor (a filter to ~S·k rows), then on the driver
    rank every centroid per sampled query (an S×nlist numpy matmul)
    and read recall(nprobe) = fraction of truth neighbors whose cell
    ranks < nprobe in their query's centroid ordering.  The whole
    sweep over every possible nprobe costs one sort — no repeated
    index searches.

    Returns ``(nprobe, estimated_recall)``.  When even a full scan
    (nprobe = nlist) cannot reach the target on the sample —
    impossible by construction, since rank < nlist always — the
    maximum is returned.  Scale shape: the truth pass is |S| queries
    against the corpus (broadcast brute force); at 100 TB sample the
    corpus for the truth pass too (the cell-rank distribution, not
    the exact neighbor set, is what's being estimated).
    """
    import numpy as np
    body = df.filter(F.col(vec_col).isNotNull())
    # sample by a SALTED hash: train_ivf_centroids seeds from the
    # smallest PLAIN xxhash64(id), so an unsalted sample here would
    # pick exactly the seed vectors — each sitting next to "its own"
    # centroid — and the tuner would report near-perfect recall at
    # nprobe=1 (observed: est 0.984 where true recall was ~0.1).
    # The salt decorrelates the query sample from the seeding rule.
    qs = (body.select(
        id_col, vec_col,
        F.xxhash64(F.concat(F.col(id_col).cast("string"),
                            F.lit(":tune"))).alias("__h"))
        .orderBy("__h").limit(sample_queries).drop("__h"))
    truth = cosine_topk(body, qs, k=k, id_col=id_col,
                        vec_col=vec_col).select(
        "query_id", "neighbor_id").collect()
    if not truth:
        return 1, 1.0
    neighbor_ids = sorted({r["neighbor_id"] for r in truth})
    one = _assign_cells_udf(centroids, nprobe=1)
    cell_of = {r["id"]: r["cell"] for r in
               body.filter(F.col(id_col).isin(neighbor_ids))
               .select(F.col(id_col).alias("id"),
                       one(F.col(vec_col)).getItem(0).alias("cell"))
               .collect()}
    qvecs = {r[0]: list(r[1]) for r in qs.collect()}
    C = np.asarray(centroids, dtype=np.float64)
    half_sq = 0.5 * (C * C).sum(axis=1)
    # rank of every cell per sampled query: argsort of the assignment
    # score (same v·c - |c|²/2 the executors use)
    rank_of = {}
    for qid, v in qvecs.items():
        score = np.asarray(v, dtype=np.float64) @ C.T - half_sq
        order = np.argsort(-score)
        r = np.empty(len(order), dtype=np.int64)
        r[order] = np.arange(len(order))
        rank_of[qid] = r
    ranks = sorted(
        int(rank_of[q][cell_of[n]]) for q, n in
        ((r["query_id"], r["neighbor_id"]) for r in truth)
        if n in cell_of and q in rank_of)
    n_truth = len(ranks)
    # one-standard-error safety margin: the sample estimate is
    # unbiased, so tuning to exactly `target` lands the TRUE recall
    # under it about half the time (measured 0.892 true vs 0.90
    # sampled at 200k vectors); tuning to target + se(target) makes
    # under-shoot the tail case instead of the coin flip
    import math
    se = math.sqrt(max(target_recall * (1.0 - target_recall), 0.0)
                   / max(n_truth, 1))
    target_hits = min(1.0, target_recall + se) * n_truth
    # smallest nprobe with >= target_recall of truth ranks below it
    nprobe = len(centroids)
    hits = 0
    for i, rk in enumerate(ranks):
        hits = i + 1
        if hits >= target_hits:
            nprobe = rk + 1
            break
    est = sum(1 for rk in ranks if rk < nprobe) / max(n_truth, 1)
    return max(1, int(nprobe)), round(est, 4)


def ivf_topk(df: DataFrame, queries: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 32, nlist="auto", nprobe="auto",
             refine_iters: int = 2, centroids=None,
             target_recall: float = 0.9) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine ANN.

    Corpus vectors live in their nearest-centroid cell; each query
    scans only its ``nprobe`` nearest cells — candidate volume is
    ~nprobe/nlist of the corpus (vs 1.0 for brute force), then exact
    cosine re-rank.  All data-sized work is Arrow matmuls and one
    bucket equi-join; centroids (nlist x dim doubles) are the only
    driver-side state.  Approximate: compare by recall, not equality.

    Geometry defaults are RECALL-HONEST (r7 verdict: the old fixed
    nlist=16/nprobe=4 silently measured 0.763 recall@5 at 200k
    vectors): ``nlist="auto"`` sizes cells to ~sqrt(n)
    (:func:`auto_nlist`) and ``nprobe="auto"`` runs
    :func:`tune_ivf_nprobe` — the smallest probe count whose
    estimated recall@min(k,5) reaches ``target_recall`` on a sampled
    truth set, logged with the implied corpus scan fraction.  On
    clustered embeddings the tuner lands on a few probes; on
    near-isotropic data it honestly discovers a large scan fraction
    instead of shipping silent recall loss.  Fixed ints skip both
    jobs (and ``target_recall`` is then inert)."""
    import sys
    # NULL embeddings cannot be searched and would crash the Arrow
    # matmul with a ragged batch — drop them up front (the brute-force
    # SQL path tolerates them as NULL cosine; this keeps the ANN
    # paths consistent and un-crashable)
    df = df.filter(F.col(vec_col).isNotNull())
    queries = queries.filter(F.col(vec_col).isNotNull())
    if centroids is None:
        centroids = train_ivf_centroids(df, dim=dim, nlist=nlist,
                                        id_col=id_col, vec_col=vec_col,
                                        refine_iters=refine_iters)
    nlist = len(centroids)
    if nprobe == "auto":
        nprobe, est = tune_ivf_nprobe(
            df, centroids, target_recall=target_recall, k=min(k, 5),
            id_col=id_col, vec_col=vec_col)
        print(f"ivf_topk: tuned nprobe={nprobe}/{nlist} cells "
              f"(~{nprobe / max(nlist, 1):.0%} corpus scan) for "
              f"target recall {target_recall:.2f} "
              f"(estimated {est:.3f} on the sampled truth set)",
              file=sys.stderr)
    elif not isinstance(nprobe, int) or nprobe < 1:
        raise ValueError(f"nprobe must be a positive int or 'auto', "
                         f"got {nprobe!r}")
    one = _assign_cells_udf(centroids, nprobe=1)
    many = _assign_cells_udf(centroids, nprobe=nprobe)
    c = df.select(F.col(id_col).alias("neighbor_id"),
                  F.col(vec_col).alias("cv"),
                  norm_expr(vec_col).alias("cn"),
                  one(F.col(vec_col)).getItem(0).alias("cell"))
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qv"),
                        norm_expr(vec_col).alias("qn"),
                        many(F.col(vec_col)).alias("cells"))
         .select("query_id", "qv", "qn",
                 F.explode("cells").alias("cell")))
    dot = _DOT.format(a="qv", b="cv")
    cos = F.expr(f"({dot}) / nullif(qn * cn, 0.0)")
    scored = (c.join(F.broadcast(q), "cell")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id", cos.alias("cosine")))
    return _top_k(scored, k)


def build_ivf_index(df: DataFrame, path: str, dim: int,
                    nlist="auto", id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    refine_iters: int = 2,
                    train_fraction: float | None = None,
                    centroids=None, mode: str = "overwrite"):
    """Materialize an IVF index as a HIVE-PARTITIONED parquet table:
    one directory per k-means cell, plus a ``_ivf_centroids.json``
    sidecar (nlist×dim doubles — driver-sized by construction).

    This is the storage-level half of IVF that :func:`ivf_topk`
    (which re-assigns cells per call) cannot give you: a query
    against the written index READS ONLY its probed cells' files —
    Spark partition pruning turns nprobe/nlist into a literal I/O
    fraction, the dominant cost at 100 TB.  Build once, query many.

    ``mode="append"`` against an EXISTING index is sugar for
    :func:`append_to_ivf_index` semantics (r12; ADVICE r11 — it
    previously retrained centroids on just the new batch, leaving old
    rows assigned under a different geometry, and reset the sidecar
    counters so ``ivf_compaction_due`` silently absorbed the history
    into the base): the sidecar's centroids are reused when none are
    passed, and the prior (``n_rows``, ``n_appended``) counters are
    MERGED — the new batch counts as appended mass, not base mass.

    Returns the trained centroids (pass them back to
    :func:`search_ivf_index` to skip the sidecar read)."""
    import json
    import os
    df = df.filter(F.col(vec_col).isNotNull())
    prior = None
    sidecar = os.path.join(path, "_ivf_centroids.json")
    if mode == "append":
        # r13 (ADVICE r12): an append MUST run under the existing
        # sidecar's geometry.  (a) No sidecar at the path means there
        # is no index to append to — degrading to a fresh build here
        # silently reintroduced the exact r11 failure (centroids
        # retrained on just the batch, counters reset), so a path
        # typo or a pre-sidecar index now fails loudly.  (b) An
        # explicitly passed `centroids` would assign the batch under
        # one geometry while the sidecar keeps the prior's — every
        # later search/tune probes the wrong cells (silent recall
        # loss).  Geometry is frozen at build: rebuild with
        # mode="overwrite" to change it.
        if not os.path.exists(sidecar):
            raise ValueError(
                f"build_ivf_index(mode='append'): no _ivf_centroids"
                f".json at {path!r} — appends require an existing "
                "index (build one first with mode='overwrite')")
        if centroids is not None:
            raise ValueError(
                "build_ivf_index(mode='append'): cell geometry is "
                "frozen at build time; pass centroids=None to append "
                "under the index's own sidecar centroids, or rebuild "
                "with mode='overwrite' to retrain")
        with open(sidecar) as fh:
            prior = json.load(fh)
        centroids = prior["centroids"]
    if centroids is None:
        centroids = train_ivf_centroids(
            df, dim=dim, nlist=nlist, id_col=id_col, vec_col=vec_col,
            refine_iters=refine_iters, train_fraction=train_fraction)
    one = _assign_cells_udf(centroids, nprobe=1)
    assigned = df.withColumn(
        "cell", one(F.col(vec_col)).getItem(0).cast("int"))
    # repartition by cell so each cell directory is a bounded file
    # set written by one task (same contract as write_training_shards)
    (assigned.repartition(max(len(centroids) // 4, 1), F.col("cell"))
     .write.mode(mode).partitionBy("cell").parquet(path))
    # n_rows: parquet footer count over the just-written table (no
    # data scan) — the base mass for ivf_compaction_due (r11)
    n_rows = df.sparkSession.read.parquet(path).count()
    if prior is not None:
        # appended build: base mass unchanged; everything beyond the
        # prior base is appended mass (prior appends + this batch)
        meta = {**prior,
                "n_appended": n_rows - int(prior.get("n_rows", 0))}
    else:
        meta = {"dim": dim, "nlist": len(centroids),
                "id_col": id_col, "vec_col": vec_col,
                "centroids": centroids,
                "n_rows": n_rows, "n_appended": 0}
    with open(sidecar, "w") as fh:
        json.dump(meta, fh)
    # a rebuild invalidates any cached tuned nprobe (r10: the tune
    # cache is keyed to the WRITTEN data; stale reuse would carry a
    # previous corpus's recall point onto the new index)
    try:
        os.remove(os.path.join(path, "_ivf_nprobe.json"))
    except FileNotFoundError:
        pass
    return centroids


def append_to_ivf_index(df: DataFrame, path: str) -> int:
    """Grow a :func:`build_ivf_index` table IN PLACE — the ANN
    sibling of ``ReferenceIndex.append`` (r10): an ingest pipeline
    accepts new documents continuously, and a full rebuild re-reads
    and re-writes the entire index to add a batch that is typically
    a tiny fraction of it.

    New vectors are assigned under the EXISTING centroid sidecar
    (cell geometry is frozen at build; old vectors never move) and
    appended as new parquet files inside their cell directories, so
    the cost is one pass over the NEW batch only.  Search results
    after an append are VALUE-EQUAL to a from-scratch rebuild on the
    union with the same centroids (test-pinned): hard assignment is
    a pure function of (vector, centroids), so file layout is the
    only thing that differs.  The tuned-nprobe cache is INVALIDATED:
    the recall point is a property of the written data, and appended
    mass can shift it (the next ``nprobe="auto"`` search re-tunes
    against the grown table and re-caches).

    Centroid staleness is the documented trade: if the appended
    distribution drifts from the build-time corpus, cells skew and
    the tuner answers with ever-larger nprobe — rebuild with fresh
    centroids (``build_ivf_index`` with ``centroids=None``) when the
    tuned nprobe or the cell-size skew degrades.  Returns the number
    of vectors appended."""
    import json
    import os
    with open(os.path.join(path, "_ivf_centroids.json")) as fh:
        meta = json.load(fh)
    centroids = meta["centroids"]
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    one = _assign_cells_udf(centroids, nprobe=1)
    assigned = (df.filter(F.col(vec_col).isNotNull())
                .withColumn("cell",
                            one(F.col(vec_col)).getItem(0)
                            .cast("int"))
                .persist())
    try:
        n = assigned.count()
        if n:
            # same bounded-file-set contract as the build: one task
            # per ~4 cells, scoped to the append batch only
            (assigned
             .repartition(max(len(centroids) // 4, 1), F.col("cell"))
             .write.mode("append").partitionBy("cell").parquet(path))
    finally:
        assigned.unpersist()
    try:
        os.remove(os.path.join(path, "_ivf_nprobe.json"))
    except FileNotFoundError:
        pass
    # appended-mass accounting for ivf_compaction_due (r11); the
    # sidecar rewrite is atomic-enough for the single-writer ingest
    # contract this index documents
    if n:
        meta["n_appended"] = int(meta.get("n_appended", 0)) + n
        with open(os.path.join(path, "_ivf_centroids.json"),
                  "w") as fh:
            json.dump(meta, fh)
    return n


def compact_ivf_index(spark, path: str, nlist="auto",
                      refine_iters: int = 2,
                      train_fraction: float | None = None):
    """Compact/rebuild a :func:`build_ivf_index` table FROM ITSELF
    (r11) — the corpus-free answer to :func:`ivf_compaction_due`:
    the index table stores every (id, vector) row, so compaction
    reads the index (one index-sized pass, never the source corpus),
    retrains FRESH centroids on the current mass (the drift answer),
    re-assigns, and rewrites — collapsing the per-append file waves
    back to one bounded file set per cell and resetting the
    appended-mass counters and the tuned-nprobe cache.

    The rewrite goes to a sibling temp directory and swaps in with
    two renames (old table moved aside, then the rebuilt one renamed
    in).  The swap is NOT reader-atomic (r12; ADVICE r11): between
    the two renames the path does not exist, so a reader racing the
    swap gets ENOENT — readers must not overlap the swap window
    (the documented contract is single writer AND no concurrent
    readers during compaction; schedule it in the ingest pipeline's
    quiet slot).  Crash recovery: if the process dies between the
    renames, the intact pre-compaction table is at
    ``<path>._compact_old`` — rename it back to ``<path>`` by hand
    (nothing at ``<path>`` is lost; the rebuilt tree is at
    ``<path>._compact_tmp`` or already renamed in).  Returns the
    fresh centroids."""
    import json
    import os
    import shutil
    with open(os.path.join(path, "_ivf_centroids.json")) as fh:
        meta = json.load(fh)
    df = spark.read.parquet(path).drop("cell")
    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    shutil.rmtree(tmp, ignore_errors=True)
    centroids = build_ivf_index(
        df, tmp, dim=int(meta["dim"]), nlist=nlist,
        id_col=meta["id_col"], vec_col=meta["vec_col"],
        refine_iters=refine_iters, train_fraction=train_fraction)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return centroids


def ivf_compaction_due(path: str,
                       max_appended_fraction: float = 0.25) -> dict:
    """The IVF compaction/rebuild trigger (r11; VERDICT r10 #7).
    Unlike :meth:`~.dedup.ReferenceIndex.needs_compaction` (pure cost
    policy — dedup appends stay value-equal forever), IVF appends
    DEGRADE with appended mass: cell geometry is frozen at build, so
    appended vectors land in stale cells (the tuner answers with
    ever-larger nprobe as mass drifts off the centroids), and each
    append adds a file wave per touched cell (the small-file tax on
    every later scan).  Returns the decision inputs + ``due``:
    rebuild with fresh centroids (``build_ivf_index`` with
    ``centroids=None``) when the appended fraction clears
    ``max_appended_fraction`` (default 0.25 — the measured recall
    knee depends on drift, so the default is conservative; see
    SCALE.md's longevity curve)."""
    import json
    import os
    with open(os.path.join(path, "_ivf_centroids.json")) as fh:
        meta = json.load(fh)
    n_base = int(meta.get("n_rows") or 0)  # build-time mass
    n_app = int(meta.get("n_appended") or 0)
    frac = (n_app / n_base) if n_base else None
    return {"due": frac is not None
            and frac >= max_appended_fraction,
            "n_base": n_base, "n_appended": n_app,
            "appended_fraction": frac,
            "max_appended_fraction": max_appended_fraction}


def maintain_ivf_index(spark, df: DataFrame, path: str,
                       max_appended_fraction: float = 0.25,
                       nlist="auto", refine_iters: int = 2) -> dict:
    """The one-call ANN ingest-maintenance step (r12), twin of
    :func:`~.dedup.maintain_reference_index`: append the batch under
    the frozen centroids, check :func:`ivf_compaction_due`, and when
    due run :func:`compact_ivf_index` (fresh centroids retrained from
    the index's own rows — the drift answer — and the per-append file
    waves collapsed).  The compaction swap is not reader-atomic
    (see compact_ivf_index); call this from the single ingest writer
    in a window with no concurrent readers.

    Returns the decision record: appended count, append seconds,
    whether compaction ran and its seconds, and the post-maintenance
    sidecar state."""
    import time as _time
    t0 = _time.time()
    n = append_to_ivf_index(df, path)
    info = {"n_appended_now": n,
            "append_s": round(_time.time() - t0, 3),
            "compacted": False, "compact_s": None}
    st = ivf_compaction_due(path, max_appended_fraction)
    if st["due"]:
        t0 = _time.time()
        compact_ivf_index(spark, path, nlist=nlist,
                          refine_iters=refine_iters)
        info["compacted"] = True
        info["compact_s"] = round(_time.time() - t0, 3)
        st = ivf_compaction_due(path, max_appended_fraction)
    info["state"] = st
    return info


def search_ivf_index(spark, path: str, queries: DataFrame,
                     k: int = 10, nprobe="auto",
                     id_col: str | None = None,
                     vec_col: str | None = None,
                     centroids=None,
                     target_recall: float = 0.9) -> DataFrame:
    """Top-k cosine ANN against a :func:`build_ivf_index` table with
    PARTITION-PRUNED I/O: the (small, broadcast-contract) query set's
    probe cells are computed on the driver (one |Q|×nlist matmul) and
    the scan filters ``cell IN (literal list)`` — Catalyst prunes
    every unprobed cell directory before a byte is read, so the scan
    cost is ~nprobe·|Q|/nlist of the index, not the corpus.  Exact
    cosine re-rank inside the probed cells, same contract as
    :func:`ivf_topk` (approximate: compare by recall).

    ``nprobe="auto"`` (the default, r8 verdict: an on-disk index
    queried with a guessed fixed nprobe re-ships the recall defect
    ivf_topk fixed) runs :func:`tune_ivf_nprobe` against the WRITTEN
    table — the smallest probe count whose estimated recall@min(k,5)
    reaches ``target_recall`` on a sampled truth set, logged with the
    implied scan fraction.  The tuner costs one brute-force pass over
    the index for ~64 sampled queries, so its result is CACHED in the
    index directory (``_ivf_nprobe.json``, keyed by (target_recall,
    k); ADVICE r9 — without the cache every default-args search of a
    build-once index re-paid the tune, contradicting the
    amortization the index exists for) and reused by every later
    ``"auto"`` search; a read-only index directory just skips the
    cache write and re-tunes.  A fixed int skips the tuner
    (``target_recall`` is then inert)."""
    import json
    import os
    import sys
    import numpy as np
    meta = None
    if centroids is None or id_col is None or vec_col is None:
        with open(os.path.join(path, "_ivf_centroids.json")) as fh:
            meta = json.load(fh)
    if centroids is None:
        centroids = meta["centroids"]
    id_col = id_col or meta["id_col"]
    vec_col = vec_col or meta["vec_col"]
    if nprobe == "auto":
        cache_path = os.path.join(path, "_ivf_nprobe.json")
        ck = f"r{target_recall:.4f}@k{min(k, 5)}"
        tuned: dict = {}
        try:
            with open(cache_path) as fh:
                tuned = json.load(fh)
        except Exception:
            pass  # no cache yet (first search) or unreadable
        if ck in tuned:
            nprobe = int(tuned[ck]["nprobe"])
            print(f"search_ivf_index: reusing cached tuned "
                  f"nprobe={nprobe}/{len(centroids)} cells for "
                  f"target recall {target_recall:.2f} @k{min(k, 5)} "
                  f"({cache_path})", file=sys.stderr)
        else:
            nprobe, est = tune_ivf_nprobe(
                spark.read.parquet(path), centroids,
                target_recall=target_recall, k=min(k, 5),
                id_col=id_col, vec_col=vec_col)
            print(f"search_ivf_index: tuned nprobe={nprobe}/"
                  f"{len(centroids)} cells "
                  f"(~{nprobe / max(len(centroids), 1):.0%} index "
                  f"scan) for target recall {target_recall:.2f} "
                  f"(estimated {est:.3f} on the sampled truth set)",
                  file=sys.stderr)
            tuned[ck] = {"nprobe": int(nprobe), "est": float(est)}
            try:
                with open(cache_path, "w") as fh:
                    json.dump(tuned, fh)
            except OSError:
                pass  # read-only index dir: re-tune next time
    elif not isinstance(nprobe, int) or nprobe < 1:
        raise ValueError(f"nprobe must be a positive int or 'auto', "
                         f"got {nprobe!r}")
    C = np.asarray(centroids, dtype=np.float64)
    half_sq = 0.5 * (C * C).sum(axis=1)
    qrows = (queries.filter(F.col(vec_col).isNotNull())
             .select(F.col(id_col).alias("query_id"),
                     F.col(vec_col).alias("qv")).collect())
    if not qrows:
        base = spark.read.parquet(path)
        return (base.limit(0).select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("cosine"),
            F.lit(0).cast("int").alias("rank")))
    nprobe = min(nprobe, len(centroids))
    Q = np.asarray([list(r["qv"]) for r in qrows], dtype=np.float64)
    score = Q @ C.T - half_sq
    probe = np.argsort(-score, axis=1)[:, :nprobe]
    qcells = [(r["query_id"], [float(x) for x in r["qv"]], int(c))
              for r, cells in zip(qrows, probe) for c in cells]
    all_cells = sorted({c for _, _, c in qcells})
    qdf = spark.createDataFrame(qcells, ["query_id", "qv", "cell"])
    base = (spark.read.parquet(path)
            .filter(F.col("cell").isin(all_cells)))
    c = base.select(F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("cv"),
                    norm_expr(vec_col).alias("cn"),
                    F.col("cell"))
    q = qdf.select("query_id", "qv", "cell",
                   norm_expr("qv").alias("qn"))
    dot = _DOT.format(a="qv", b="cv")
    cos = F.expr(f"({dot}) / nullif(qn * cn, 0.0)")
    # No dropDuplicates: (query_id, neighbor_id) is unique BY
    # CONSTRUCTION — a corpus vector lives in exactly one cell
    # directory (hard assignment at build time) and qdf's
    # (query, cell) rows are distinct (argsort top-nprobe of one
    # score row), so the cell equi-join can surface a pair at most
    # once.  A defensive dedup here cost one whole extra shuffle on
    # the index query path (r8 verdict item 6); uniqueness is pinned
    # by test_plans.py (plan: no exchange between the cell join and
    # the ranking window) and tests/test_ext.py (value-level).
    scored = (c.join(F.broadcast(q), "cell")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id", cos.alias("cosine")))
    return _top_k(scored, k)


def semantic_dedup_against(spark, path: str, new: DataFrame,
                           threshold: float = 0.9, nprobe: int = 2,
                           id_col: str | None = None,
                           vec_col: str | None = None,
                           centroids=None) -> DataFrame:
    """Embedding-level CROSS-corpus near-dup pairs: a NEW batch vs a
    persisted :func:`build_ivf_index` reference — the embedding twin
    of ``cross_dedup_pairs(index=...)`` (r13; VERDICT r12 #6).  An
    ingest pipeline that keeps its accepted corpus as an IVF index
    asks "which new vectors near-duplicate something we already
    hold?" without ever re-pairing the reference against itself.

    Returns ``(id_new, id_ref, cosine)`` for every (new, reference)
    pair with cosine >= ``threshold``.  Never emits ref-vs-ref or
    new-vs-new pairs (run :func:`semantic_dedup_pairs` on the batch
    itself for the latter).

    Execution shape (the 100 TB contract):

    - the new batch is assigned to its ``nprobe`` nearest reference
      cells in one Arrow pass under the index's OWN sidecar
      centroids (geometry frozen at build — the same vector always
      lands in the same cells, so results are value-equal whether
      the reference was built at once or grown through
      :func:`append_to_ivf_index`, test-pinned);
    - the distinct probed-cell list (<= nlist ints by construction)
      is collected driver-side and becomes a ``cell IN (...)``
      filter on the reference scan — Catalyst partition-prunes every
      unprobed cell directory before a byte is read, so a small wave
      against a huge reference reads ~|probed cells|/nlist of it;
    - the pairing is a cell equi-join (new side shuffles
      n_new x nprobe rows; the reference never shuffles a row it
      doesn't need), NOT an all-pairs product;
    - a reference vector lives in exactly ONE cell directory (hard
      assignment at build) while the new side probes ``nprobe``
      cells, so a pair can surface at most once — no dedup exchange.

    ``nprobe`` covers the cell-boundary miss mode of hard k-means
    partitioning (same rationale and default regime as
    ``semantic_dedup_pairs(nprobe=2)``): a near-dup straddling a
    boundary is caught when the new vector's probe set contains the
    reference's home cell."""
    import json
    import os
    meta = None
    if centroids is None or id_col is None or vec_col is None:
        with open(os.path.join(path, "_ivf_centroids.json")) as fh:
            meta = json.load(fh)
    if centroids is None:
        centroids = meta["centroids"]
    id_col = id_col or meta["id_col"]
    vec_col = vec_col or meta["vec_col"]
    nprobe = max(1, min(int(nprobe), len(centroids)))
    cells = _assign_cells_udf(centroids, nprobe=nprobe)
    newa = (new.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("id_new"),
                    F.col(vec_col).alias("nv"),
                    norm_expr(vec_col).alias("nn"),
                    F.explode(cells(F.col(vec_col))).alias("cell")))
    # persist the assigned wave (r13; guide §1.2): it feeds both the
    # probed-cell collect and the pairing join — unpersisted, the
    # Arrow assignment pass over the new batch ran twice.  Bounded by
    # wave size x nprobe (the new side is small by contract).
    newa = newa.persist()
    _register_cache(newa)
    # probed-cell list: <= nlist ints — bounded driver collect that
    # buys partition pruning on the reference scan
    probed = sorted(r["cell"] for r in
                    newa.select("cell").distinct().collect())
    base = (spark.read.parquet(path)
            .filter(F.col("cell").isin(probed)))
    ref = base.select(F.col("cell"),
                      F.col(id_col).alias("id_ref"),
                      F.col(vec_col).alias("rv"),
                      norm_expr(vec_col).alias("rn"))
    dot = _DOT.format(a="nv", b="rv")
    cos = F.expr(f"({dot}) / nullif(nn * rn, 0.0)")
    # Spark orders NaN above every number, so a NaN cosine (a vector
    # with a NaN component) would pass ">= threshold" unless dropped
    return (newa.join(ref, "cell")
            .select("id_new", "id_ref", cos.alias("cosine"))
            .filter((F.col("cosine") >= threshold)
                    & ~F.isnan("cosine")))


def _semdedup_pairs_numpy(assigned: DataFrame, threshold: float,
                          nprobe: int) -> DataFrame:
    """The pairwise stage of :func:`semantic_dedup_pairs`: per probed
    cell, ONE blocked BLAS matmul computes every intra-cell pairwise
    dot, then the canonical-shared-cell rule filters locally.  ``assigned`` is the
    post-cap (cell, id, v, nrm) frame; products are f64, so values
    agree with the f32 data to its own precision (~1e-7)."""
    from pyspark.sql.types import DoubleType, StructField, StructType
    id_type = assigned.schema["id"].dataType
    out_schema = StructType([StructField("id_a", id_type),
                             StructField("id_b", id_type),
                             StructField("cosine", DoubleType())])
    if nprobe > 1:
        # a pair sharing k probed cells surfaces in k groups; it is
        # kept ONLY in the smallest cell both sides share — exact by
        # construction, with no dedup exchange.  The per-id cell sets
        # are rebuilt AFTER the cell_cap exclusion so the canonical
        # cell can never be a capped-out cell (which would silently
        # drop the pair).
        surv = (assigned.groupBy("id")
                .agg(F.first("v").alias("v"),
                     F.first("nrm").alias("nrm"),
                     F.array_sort(F.collect_list("cell")).alias("cs")))
        ex = surv.select("id", "v", "nrm", "cs",
                         F.explode("cs").alias("cell"))
    else:
        ex = assigned.select("id", "v", "nrm", "cell")
    thr = float(threshold)
    soft = nprobe > 1

    def _pairs(pdf):
        import numpy as np
        import pandas as pd
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        g = len(pdf)
        if g < 2:
            return empty
        # id-ascending order orients every emitted pair id_a < id_b
        pdf = pdf.sort_values("id", kind="mergesort").reset_index(
            drop=True)
        V = np.asarray([np.asarray(x, dtype=np.float64)
                        for x in pdf["v"]])
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        # zero-norm and NaN-bearing vectors get NaN cosines, and
        # NaN >= thr is False in numpy: neither ever pairs
        denom = np.where(nrm > 0, nrm, np.nan)
        cs = [set(x) for x in pdf["cs"]] if soft else None
        cell = pdf["cell"].iloc[0]
        ids = pdf["id"].to_numpy()
        chunks: list = []
        # row blocks bound the score matrix at ~32 MB however large
        # the (already cell_cap-bounded) cell is
        block = max(1, (1 << 22) // g)
        for s in range(0, g, block):
            e = min(s + block, g)
            S = (V[s:e] @ V.T) / np.outer(denom[s:e], denom)
            # fully vectorized emit (a per-pair Python loop here gave
            # the whole BLAS win back on pair-DENSE thresholds)
            rows, cols = np.nonzero(S >= thr)
            keep = cols > rows + s  # strict upper triangle, i < j
            rows, cols = rows[keep], cols[keep]
            if cs is not None and len(rows):
                # canonical-shared-cell rule: per-PAIR python only
                # over surviving candidates (tiny sets, nprobe-sized)
                sel = np.fromiter(
                    (cell == min(cs[int(r) + s] & cs[int(c)])
                     for r, c in zip(rows, cols)),
                    dtype=bool, count=len(rows))
                rows, cols = rows[sel], cols[sel]
            if len(rows):
                chunks.append(pd.DataFrame(
                    {"id_a": ids[rows + s], "id_b": ids[cols],
                     "cosine": S[rows, cols]}))
        if not chunks:
            return empty
        return pd.concat(chunks, ignore_index=True)

    return ex.groupBy("cell").applyInPandas(_pairs, schema=out_schema)


def semantic_dedup_pairs(df: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding", dim: int = 32,
                         nlist: int = 16, threshold: float = 0.9,
                         refine_iters: int = 1,
                         train_fraction: float | None = None,
                         centroids=None,
                         cell_cap: int | None = 200_000,
                         nprobe: int = 1,
                         kernel: str = "numpy") -> DataFrame:
    """Intra-cluster near-duplicate candidate pairs — the pair stage of
    SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    embedding space, compare vectors ONLY within their cluster, keep
    pairs with cosine >= ``threshold``.

    Scale shape: centroid training samples the corpus
    (``train_fraction``) and holds only nlist×dim doubles on the
    driver; assignment is one Arrow-batch matmul per partition (narrow,
    no shuffle); pairing groups the vectors by cell, so the pairwise
    work is sum(cell²) instead of n² — at 100 TB size ``nlist`` so the
    average cell stays bounded (nlist ≈ n / target_cell_size; cells
    are the unit of parallelism, so more cells = more, smaller
    tasks).  Cells larger than ``cell_cap`` are EXCLUDED from pairing
    with a logged count (the degenerate-bucket rule — see
    dedup._cap_buckets): an over-cap cell means nlist is undersized
    for the corpus; fix the geometry rather than paying O(cell²).

    ``nprobe`` > 1 assigns each vector to its ``nprobe`` nearest
    cells (soft assignment): a near-duplicate pair straddling a cell
    BOUNDARY — the one miss mode of hard k-means partitioning,
    measured 0.70 planted-pair recall at 200k vectors with nprobe=1
    vs 0.97+ at nprobe=2 — is caught whenever the two share any of
    their probed cells, at ~nprobe² candidate volume.  A pair sharing
    several probed cells is emitted once.

    There is one pair kernel; ``kernel`` accepts only ``"numpy"``
    and is kept so existing calls work.  Per cell, one blocked BLAS
    matmul computes all pairwise dots in f64 (row blocks bound memory
    at ~32 MB whatever the cell size), so cosines agree with the f32
    data to about 1e-7.  A pair with a NaN or zero-norm side is never
    emitted.
    """
    if kernel != "numpy":
        removed = (" (the 'sql' and 'auto' kernels were removed)"
                   if kernel in ("sql", "auto") else "")
        raise ValueError(
            f"kernel must be 'numpy', got {kernel!r}{removed}")
    df = df.filter(F.col(vec_col).isNotNull())
    if centroids is None:
        centroids = train_ivf_centroids(
            df, dim=dim, nlist=nlist, id_col=id_col, vec_col=vec_col,
            refine_iters=refine_iters, train_fraction=train_fraction)
    cells = _assign_cells_udf(centroids, nprobe=nprobe)
    assigned = (df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        norm_expr(vec_col).alias("nrm"),
        F.explode(cells(F.col(vec_col))).alias("cell")))
    # persist the Arrow-assignment output (r13; guide §5 reuse
    # rule): with cell_cap set the plan reads this subtree twice (the
    # sizes broadcast build and the pair stage), and each
    # re-execution pays the pandas_udf matmul + the norm fold over
    # the whole corpus.  MEMORY_AND_DISK by default; ring-registered
    # so repeated calls release the oldest.
    assigned = assigned.persist()
    _register_cache(assigned)
    if cell_cap is not None:
        import sys as _sys
        import threading as _threading

        from pyspark.sql import Observation
        sizes = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("__cn"))
        obs = Observation()
        sizes = sizes.observe(
            obs, F.sum((F.col("__cn") > cell_cap).cast("long"))
            .alias("n_over"))

        def _log():
            try:
                n = obs.get.get("n_over")
                if n:
                    print(f"[pandas_alchemy_spark] semantic_dedup: "
                          f"excluded {n} oversized cell(s) "
                          f"(> {cell_cap} members) from pairing; "
                          "nlist is undersized for this corpus",
                          file=_sys.stderr)
            except Exception:
                pass

        _threading.Thread(target=_log, daemon=True).start()
        assigned = assigned.join(
            F.broadcast(sizes.filter(F.col("__cn") <= cell_cap)
                        .select("cell")), "cell")
    return _semdedup_pairs_numpy(assigned, threshold, nprobe)


def semantic_dedup(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", dim: int = 32,
                   nlist: int = 16, threshold: float = 0.9,
                   refine_iters: int = 1,
                   train_fraction: float | None = None,
                   centroids=None, cell_cap: int | None = 200_000,
                   nprobe: int = 1, max_iters: int = 20,
                   on_nonconverged: str = "raise",
                   kernel: str = "numpy") -> DataFrame:
    """SemDeDup semantic deduplication: cluster-then-prune.  Returns
    ``(id, component, keep)`` like
    :func:`~.dedup.cluster_near_dups` — ``keep`` marks the min-id
    representative of each transitive intra-cluster duplicate group;
    filter on it to deduplicate.  Deterministic end to end (seeded
    centroids, exact cosine verify, min-label components), so the kept
    set reproduces across runs, engines and partitionings."""
    from . import dedup as _dd
    pairs = semantic_dedup_pairs(
        df, id_col=id_col, vec_col=vec_col, dim=dim, nlist=nlist,
        threshold=threshold, refine_iters=refine_iters,
        train_fraction=train_fraction, centroids=centroids,
        cell_cap=cell_cap, nprobe=nprobe, kernel=kernel)
    comp = _dd.connected_components(pairs, src="id_a", dst="id_b",
                                    max_iters=max_iters,
                                    on_nonconverged=on_nonconverged)
    ids = (df.filter(F.col(vec_col).isNotNull())
           .select(F.col(id_col).alias("id")))
    all_labels = (ids.join(comp, "id", "left")
                  .select("id", F.coalesce("component", F.col("id"))
                          .alias("component")))
    return all_labels.withColumn(
        "keep", F.col("id") == F.col("component"))
