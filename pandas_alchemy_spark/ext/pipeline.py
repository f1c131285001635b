"""End-to-end corpus curation: the composition a training-data
pipeline actually runs, expressed as ONE lazy Spark plan per stage.

    raw documents
      -> normalize + PII scrub        (codegen projection)
      -> quality gate                 (expression filter)
      -> exact dedup collapse         (hash aggregate)
      -> transitive near-dup collapse (MinHash-LSH + connected comps)
      -> token-budget packing         (sharded window)

Every stage is one of the already-audited operators from
:mod:`.text` / :mod:`.dedup`; this module only wires them with the
joins/filters between stages.  Nothing collects to the driver; the
result is a lazy frame of kept documents with their pack assignment,
ready for a distributed write.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup, text


def curate_corpus(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", min_quality: float = 0.2,
                  near_dup_threshold: float = 0.6,
                  capacity: int = 2048, n_shards: int = 32,
                  bucket_cap: int | None = 2000,
                  num_hashes: int = 64, bands: int = 16,
                  eval_df: DataFrame | None = None,
                  decontam_n: int = 8,
                  decontam_min_hits: int = 1) -> DataFrame:
    """Curate a raw document corpus for training.

    Returns the kept documents with curation metadata:
    (id, norm_text, q_score, component, shard, n_tokens, start_offset,
    bin).  Stage order matters at scale: the quality gate and exact
    collapse shrink the corpus BEFORE the (more expensive) MinHash
    pass, and near-dup clustering runs on exact-dedup representatives —
    which is also what keeps LSH buckets non-degenerate (identical
    docs are the pathological bucket case; see dedup._cap_buckets).

    ``eval_df`` switches on benchmark decontamination
    (:func:`..dedup.decontaminate`, drop mode at ``decontam_n``-gram /
    ``decontam_min_hits``) as the FIRST gate — the broadcast n-gram
    probe is the cheapest filter in the pipeline, so contaminated docs
    never reach the quality/minhash stages."""
    if eval_df is not None:
        docs = dedup.decontaminate(
            docs, eval_df, n=decontam_n, text_col=text_col,
            id_col=id_col, mode="drop", min_hits=decontam_min_hits)
    # 1. normalize (adds norm_text), score quality on the RAW text
    normalized = text.normalize_text(docs, text_col=text_col)
    scored = text.quality_score(normalized, text_col=text_col)
    kept = scored.filter(F.col("q_score") >= F.lit(min_quality))
    # PERSIST the gate survivors: every downstream stage (exact-dedup
    # reps join, minhash clustering, final join + packing) re-derives
    # `kept`, and Catalyst neither de-duplicates common subtrees nor
    # keeps pushed-down filters cheap — PushDownPredicate INLINES the
    # quality expression into the Filter, re-tokenizing 8x per row,
    # and the whole scan+normalize+score subtree then appears 8x in
    # the optimized plan.  One persist runs the scan/score once; the
    # similarity cache ring releases it deterministically.  At 100 TB
    # this is the standard persist-after-expensive-gate checkpoint
    # (MEMORY_AND_DISK spill; the survivors are a fraction of the
    # raw corpus by construction).
    from .similarity import _register_cache
    kept = kept.persist()
    _register_cache(kept)

    # 2. exact collapse on the normalized form: boilerplate and
    # whitespace/case variants fold together; keep the min-id copy
    reps = (dedup.exact_dedup(kept, text_col="norm_text", id_col=id_col)
            .select(F.col("keep_id").alias(id_col)))
    kept = kept.join(reps, id_col, "inner")

    # 3. transitive near-dup collapse on the survivors
    clusters = dedup.cluster_near_dups(
        kept, text_col="norm_text", id_col=id_col,
        threshold=near_dup_threshold, bucket_cap=bucket_cap,
        num_hashes=num_hashes, bands=bands)
    keep_ids = clusters.filter(F.col("keep")).select(
        F.col("id").alias(id_col),
        F.col("component"))
    kept = kept.join(keep_ids, id_col, "inner")

    # 4. pack the curated corpus into token-budget bins
    packed = text.pack_sequences(kept, capacity=capacity,
                                 n_shards=n_shards, id_col=id_col,
                                 text_col="norm_text")
    return (kept.select(id_col, "norm_text", "q_score", "component")
            .join(packed, id_col, "inner"))


def curation_stats(curated: DataFrame) -> DataFrame:
    """One-row rollup of a curated corpus: docs kept, token volume,
    bin count, mean quality — a single aggregate pass."""
    return curated.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.countDistinct("shard", "bin").alias("n_bins"),
        F.round(F.avg("q_score"), 6).alias("avg_quality"))


def mix_corpora(docs: DataFrame, weights: dict, by: str = "source",
                unit_col: str | None = None,
                target_units: float | None = None,
                id_col: str = "doc_id",
                fast_hash: bool = False) -> DataFrame:
    """Deterministic mixture sampling: downsample each domain so the
    sampled corpus matches the requested mixture ``weights`` — the
    training-data domain-rebalancing step (Pile/DoReMi-style static
    weights).

    ``weights`` maps domain value (of column ``by``) -> relative
    weight (normalized internally); domains outside ``weights`` drop.
    ``unit_col`` is what the mixture is measured in (e.g. a token
    count column; None = document count).  ``target_units`` caps the
    total sampled size; by default the mixture is scaled to the
    LARGEST feasible corpus (no domain oversampled):
    ``T = min_d(available_d / w_d)``, the epoch-free maximum.

    Plan shape: ONE small aggregate (|domains| rows to the driver)
    to size the availability, then one content-addressed CASE filter
    over ``md5(id)`` (xxhash64 with ``fast_hash=True``) — the exact
    :meth:`~..relational.RelationalMixin.sample_stratified` predicate:
    zero shuffles on the corpus, reproducible across runs and
    engines, sampling decision embarrassingly parallel at 100 TB.
    """
    from ..relational import _hash_threshold
    if not weights:
        raise ValueError("weights must be a non-empty dict")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    unit = F.col(unit_col) if unit_col else F.lit(1)
    dom = F.col(by)
    avail_rows = (docs.filter(dom.isin(list(weights)))
                  .groupBy(by).agg(F.sum(unit).alias("__avail"))
                  .collect())
    avail = {r[by]: float(r["__avail"]) for r in avail_rows}
    if not avail:
        raise ValueError(
            f"no rows match any of the {len(weights)} domains in "
            f"column {by!r}")
    wsum = float(sum(weights.values()))
    w = {d: weights[d] / wsum for d in weights if weights[d] > 0}
    feasible = min(avail[d] / w[d] for d in w if d in avail)
    T = (feasible if target_units is None
         else min(float(target_units), feasible))
    fracs = {d: min(1.0, round(w[d] * T / avail[d], 9))
             for d in w if d in avail}

    k = F.col(id_col)
    if fast_hash:
        bucket = F.pmod(F.xxhash64(k), F.lit(1 << 32))
        scale = 1 << 32
    else:
        bucket = F.conv(
            F.substring(F.md5(k.cast("string")), 1, 15), 16, 10
        ).cast("long")
        scale = 1 << 60
    thr = F.lit(None).cast("long")
    for v, fr in fracs.items():
        thr = F.when(dom == F.lit(v),
                     F.lit(_hash_threshold(fr, scale))).otherwise(thr)
    return docs.filter(bucket < thr)


def split_thresholds(fractions: dict, scale: int = 1 << 60) -> list:
    """Cumulative content-addressed split boundaries, exact decimal
    arithmetic (same boundary rule as
    :func:`~..relational._hash_threshold`: the DECIMAL numeral of the
    fraction times ``scale``, rounded half-even — what DuckDB computes
    for ``CAST(0.98 * 2^60 AS BIGINT)``, so the boundary bucket
    classifies identically across engines).  Returns
    ``[(name, upper_bound_exclusive), ...]`` in dict order."""
    from decimal import ROUND_HALF_EVEN, Decimal
    if not fractions:
        raise ValueError("fractions must be a non-empty dict")
    if any(f < 0 for f in fractions.values()):
        raise ValueError("fractions must be non-negative")
    cum = Decimal(0)
    out = []
    for name, frac in fractions.items():
        cum += Decimal(repr(frac))
        out.append((name, int((cum * scale).quantize(
            Decimal(1), rounding=ROUND_HALF_EVEN))))
    if cum > 1:
        raise ValueError(f"fractions sum to {cum} > 1")
    return out


def split_corpus(docs: DataFrame, fractions: dict | None = None,
                 id_col: str = "doc_id", split_col: str = "split",
                 fast_hash: bool = False,
                 by: str | None = None) -> DataFrame:
    """Deterministic train/val/test assignment — the dataset-split
    step every training pipeline needs before writing shards.

    Each row gets exactly ONE split label from disjoint hash-bucket
    intervals over a content-addressed hash of ``id_col`` (md5-60bit
    by default — reproducible in any engine; ``fast_hash=True`` uses
    xxhash64 for the JVM fast path).  Assignment is a pure projected
    CASE expression: zero shuffles, independent of partitioning and
    cluster size, stable across runs — a document can never migrate
    between train and test when the corpus is re-read, appended to,
    or repartitioned, because the decision depends only on the id.

    ``fractions`` (default ``{"train": .98, "val": .01, "test": .01}``)
    must sum to at most 1; if the sum is below 1 the remaining hash
    space is a holdout and those rows are DROPPED (documented
    contract).  Returns ``docs`` plus ``split_col``.

    ``by=`` makes the split LEAKAGE-SAFE at a coarser grain: hash a
    grouping column (url host, source domain, dedup-cluster label)
    instead of the id, so every document of a group lands in the SAME
    split — near-duplicates from one source can never straddle
    train/test.  Still a pure projection: no shuffle, no group
    materialization; NULL group keys raise on evaluation rather than
    silently pooling into one giant pseudo-group (hash of NULL is one
    value — that would put every keyless doc in the same split).
    """
    if fractions is None:
        fractions = {"train": 0.98, "val": 0.01, "test": 0.01}
    scale = (1 << 32) if fast_hash else (1 << 60)
    bounds = split_thresholds(fractions, scale)
    if by is not None:
        k = F.when(F.col(by).isNull(),
                   F.raise_error(F.lit(
                       f"split_corpus(by={by!r}): NULL group key - "
                       "fill or drop keyless rows first"))
                   ).otherwise(F.col(by).cast("string"))
    else:
        k = F.col(id_col)
    if fast_hash:
        bucket = F.pmod(F.xxhash64(k), F.lit(1 << 32))
    else:
        bucket = F.conv(
            F.substring(F.md5(k.cast("string")), 1, 15), 16, 10
        ).cast("long")
    # materialize the hash ONCE: Catalyst does not CSE the md5 chain
    # across the CASE branches (a 3-way split would pay 3 hashes per
    # row — tools/audit_expr_reuse.py catches exactly this), and the
    # holdout filter tests the BUCKET (one mention, inlined once by
    # PushDownPredicate) rather than the CASE result (which would
    # inline the whole 3-mention CASE into the pushed filter)
    from .dedup import _claim_col
    _claim_col(docs, "__pas_bucket", "split_corpus")
    out = docs.withColumn("__pas_bucket", bucket)
    if bounds[-1][1] < scale:
        out = out.filter(F.col("__pas_bucket") < F.lit(bounds[-1][1]))
    expr = F.lit(None).cast("string")
    for name, ub in reversed(bounds):
        expr = F.when(F.col("__pas_bucket") < F.lit(ub),
                      F.lit(name)).otherwise(expr)
    return out.withColumn(split_col, expr).drop("__pas_bucket")


def shuffle_corpus(df: DataFrame, n_shards: int = 1024,
                   id_col: str = "doc_id",
                   fast_hash: bool = False) -> DataFrame:
    """Deterministic global corpus shuffle into training shards — the
    last step before writing training data: sequential readers of any
    shard see a pseudo-random document order, yet the permutation is
    fully reproducible (content-addressed, no RNG state).

    Each row hashes to a shard (``pmod(h, n_shards)``) and to a
    position within it (rank of the hash inside the shard, ties
    broken by id).  One shuffle on the shard key + one per-shard
    window sort — shards are the parallelism unit, so size
    ``n_shards`` to keep a shard's rows within an executor's sort
    budget (at 100 TB: thousands of shards, not dozens).  Appending
    documents changes positions only WITHIN affected shards; shard
    membership never changes.

    Returns ``df`` plus ``shard`` and ``shard_pos`` (1-based).  To
    materialize, use :func:`write_training_shards` — it repartitions
    by shard BEFORE writing so each shard directory is one file in
    ``shard_pos`` order (a bare ``to_parquet(sort_by=)`` only sorts
    within write tasks and cannot guarantee read-back order when a
    shard spans tasks).
    """
    from pyspark.sql import Window
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    k = F.col(id_col)
    if fast_hash:
        bucket = F.pmod(F.xxhash64(k), F.lit(1 << 32))
    else:
        bucket = F.conv(
            F.substring(F.md5(k.cast("string")), 1, 15), 16, 10
        ).cast("long")
    # hash materialized once (Catalyst does not CSE it between the
    # shard key and the window order)
    from .dedup import _claim_col
    _claim_col(df, "__pas_h", "shuffle_corpus")
    out = df.withColumn("__pas_h", bucket)
    w = (Window.partitionBy(F.pmod(F.col("__pas_h"), F.lit(n_shards)))
         .orderBy(F.col("__pas_h").asc(), k.asc()))
    return (out.withColumn(
        "shard", F.pmod(F.col("__pas_h"), F.lit(n_shards))
        .cast("long"))
        .withColumn("shard_pos",
                    F.row_number().over(w).cast("long"))
        .drop("__pas_h"))


def write_training_shards(df: DataFrame, path: str,
                          n_shards: int = 1024,
                          id_col: str = "doc_id",
                          fast_hash: bool = False,
                          mode: str = "overwrite") -> None:
    """Materialize :func:`shuffle_corpus` end to end — the writer-side
    half of the shard contract (r7 verdict item 8): sequential readers
    of any written shard see documents in exactly ``shard_pos`` order.

    The docstring recipe ``to_parquet(partition_by="shard",
    sort_by="shard_pos")`` alone is NOT sufficient: ``sort_by`` is
    sortWithinPartitions, so when one shard's rows span several write
    TASKS the shard directory holds several files, each internally
    sorted, and the read-back interleaves them in file-listing order.
    This writer therefore repartitions BY SHARD first (one task — one
    file — per shard directory; the shuffle that was always implied by
    a globally-ordered shard), then sorts within, then writes
    hive-partitioned by ``shard``.  Shards are the parallelism unit:
    size ``n_shards`` so one shard fits a write task's sort budget
    (thousands at 100 TB).  Read-back ordering is pinned by the
    integration test in tests/test_ext.py."""
    sh = shuffle_corpus(df, n_shards=n_shards, id_col=id_col,
                        fast_hash=fast_hash)
    (sh.repartition(n_shards, F.col("shard"))
     .sortWithinPartitions("shard", "shard_pos")
     .write.mode(mode).partitionBy("shard").parquet(path))


def _dsir_bucket_kernel(df: DataFrame, text_col: str,
                        id_col: str | None, buckets: int) -> DataFrame:
    """``importance_weights``' feature bucketing: tokenize (the
    ``_TOKENS`` regex/lower/split/filter), unigram+bigram grams (each
    token, then each adjacent pair joined by one space — the DSIR
    featurization of Xie et al. 2023, §3: hashed n-gram features
    with n<=2), 60-bit md5 per gram via hashlib (bit-identical to SQL
    ``md5()``), bucket = h mod ``buckets`` (h >= 0, so Python ``%``
    == SQL ``pmod``) — and EXACT integer counts, all inside one
    ``mapInPandas`` pass.

    ``id_col`` set: yields one (id, b, c) row per document bucket —
    the per-doc count frame, no explode, no id-keyed aggregate
    exchange.  ``id_col`` None: yields batch-partial (b, c) rows
    (bounded by ``buckets`` per batch) — map-side partial counts the
    caller SUMs, identical totals to counting exploded gram rows.
    NULL-text and tokenless docs emit nothing (``explode`` over a
    NULL/empty gram array).  Runs through ``dedup._map_docs``, like
    the dedup kernels."""
    from collections import Counter

    import hashlib
    import re

    from pyspark.sql import types as T

    pat = re.compile("[^a-zA-Z0-9]+")
    md5 = hashlib.md5

    def fn(batches):
        import pandas as pd
        for pdf in batches:
            texts = pdf[text_col].tolist()
            idvals = (pdf[id_col].tolist() if id_col is not None
                      else [None] * len(texts))
            total = Counter()
            ids_out, bs, cs = [], [], []
            for did, txt in zip(idvals, texts):
                if txt is None:
                    continue
                toks = [t for t in
                        pat.sub(" ", txt).lower().split(" ") if t]
                if not toks:
                    continue
                grams = toks + [toks[i] + " " + toks[i + 1]
                                for i in range(len(toks) - 1)]
                cnt = Counter(
                    (int.from_bytes(md5(g.encode()).digest()[:8],
                                    "big") >> 4) % buckets
                    for g in grams)
                if id_col is None:
                    total.update(cnt)
                else:
                    ids_out.extend([did] * len(cnt))
                    bs.extend(cnt.keys())
                    cs.extend(cnt.values())
            if id_col is None:
                if total:
                    yield pd.DataFrame({"b": list(total.keys()),
                                        "c": list(total.values())})
            elif ids_out:
                yield pd.DataFrame({id_col: ids_out, "b": bs,
                                    "c": cs})

    return dedup._map_docs(df, id_col, text_col, fn,
                           [T.StructField("b", T.LongType()),
                            T.StructField("c", T.LongType())])


def importance_weights(docs: DataFrame, target: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       buckets: int = 1 << 16,
                       fast_hash: bool | None = None) -> DataFrame:
    """DSIR-style importance weights: score every raw document by how
    target-like its hashed n-gram distribution is (Xie et al. 2023 —
    the data-selection recipe behind most curated pretraining mixes).

    Features are unigrams+bigrams hashed into ``buckets`` buckets
    (md5-60bit, so any engine reproduces the bucketing; ``fast_hash``
    is deprecated and ignored).  Two bucket-count models are
    estimated — the ``target`` corpus (what you want more of) and the
    raw corpus itself — and each
    document's log importance weight is the add-one-smoothed
    log-likelihood ratio of its features:

        logw(d) = sum_b c_db * [ln(tc_b + 1) - ln(rc_b + 1)]
                  + n_d * [ln(T_r + B) - ln(T_t + B)]

    with exact BIGINT counts everywhere and the float fold applied
    over the per-document bucket list SORTED by bucket id — the same
    bit-stability contract as :func:`~.text.unigram_logprob` (across
    engines the last ulp of ``ln`` can differ; round for comparison).

    Plan shape at 100 TB: the raw corpus is tokenized/hashed ONCE —
    the per-document (doc, bucket) count frame is persisted and BOTH
    the raw bucket model (a per-bucket sum of the per-doc counts —
    identical exact-BIGINT totals) and the scoring join derive from
    it (r13; previously the raw model was its own corpus pass).  The
    target model is one hash aggregate over the (typically small)
    target corpus.  The model table (every bucket seen in either
    corpus, <= ``buckets`` rows) BROADCASTS to the scoring pass:
    broadcast-join the persisted per-doc counts, one per-doc
    aggregate.  No corpus-sized shuffle beyond the per-doc
    aggregates.

    Returns ``(id_col, n_grams, logw)``; feed to
    :func:`resample_corpus` to select.
    """
    from .dedup import _ignored_fast_hash, _tune
    _ignored_fast_hash(fast_hash, "importance_weights")
    _tune(docs)
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")

    # feature bucketing: the grams are hashed in ONE Arrow
    # mapInPandas pass — hashlib md5 is bit-identical to SQL md5(),
    # and everything the kernel emits is an exact BIGINT count, so the
    # downstream model joins and the bit-stability-contracted logw
    # fold (still SQL) compute from IDENTICAL inputs.  The SQL
    # explode+count it replaced was 2.5x slower at sf0.1 and 6.8x at
    # 500k docs (AB_DSIR_BUCKET_r14.json), and its xxhash64 form 1.4x
    # and 1.5x (AB_HASH_TRANSPORT_r15.json).
    # target side: batch-partial Counter rows -> one tiny SUM
    # (identical totals to counting the exploded rows)
    tcnt = (_dsir_bucket_kernel(target, text_col, None, buckets)
            .groupBy("b").agg(F.sum("c").alias("tc")))
    # raw side: exact per-(doc, bucket) counts straight from the
    # kernel - no id-keyed aggregate exchange
    per_doc = _dsir_bucket_kernel(docs, text_col, id_col, buckets)
    tcnt = tcnt.persist()
    from .similarity import _register_cache
    _register_cache(tcnt)
    # an empty/token-less target would make sum(tc) NULL and every
    # logw silently NULL — and resample_corpus would then "select"
    # the k lowest ids by the tiebreaker.  The probe is nearly free:
    # tcnt is persisted, so the scan it triggers is reused by the
    # model join below.
    if tcnt.limit(1).count() == 0:
        raise ValueError(
            "importance_weights: the target corpus has no tokens "
            "(empty frame or token-less text) - nothing to model")
    # ONE corpus pass instead of two (r13; guide §1.2 "don't compute
    # things twice"): the raw-corpus model is NOT its own
    # tokenize+hash pass — the per-doc (doc, bucket) count frame
    # (built above by the kernel) already contains every
    # count, and summing them per bucket gives the IDENTICAL
    # exact-BIGINT totals.  Persist per_doc (it also feeds the
    # scoring join) and derive the model from it.
    per_doc = per_doc.persist()
    _register_cache(per_doc)
    rcnt = per_doc.groupBy("b").agg(F.sum("c").alias("rc"))
    # model table: every bucket seen in EITHER corpus, zero-filled
    # (add-one smoothing makes absent buckets well-defined); bounded
    # by `buckets` rows, so the scoring join broadcasts it
    model = (rcnt.join(tcnt, "b", "full_outer")
             .select(F.col("b"),
                     F.coalesce("tc", F.lit(0)).alias("tc"),
                     F.coalesce("rc", F.lit(0)).alias("rc")))
    totals = (tcnt.agg(F.sum("tc").alias("__tt")).coalesce(1)
              .crossJoin(rcnt.agg(F.sum("rc").alias("__tr"))
                         .coalesce(1)))
    joined = per_doc.join(F.broadcast(model), "b")
    per = (joined.groupBy(id_col)
           .agg(F.sort_array(F.collect_list(
                    F.struct("b", "c", "tc", "rc"))).alias("__xs"),
                F.sum("c").alias("n_grams")))
    fold = F.expr(
        "aggregate(__xs, cast(0.0 as double), (s, x) -> "
        "s + x.c * (ln(x.tc + 1) - ln(x.rc + 1)))")
    const = (F.log(F.col("__tr") + F.lit(buckets))
             - F.log(F.col("__tt") + F.lit(buckets)))
    return (per.crossJoin(totals)
            .select(F.col(id_col),
                    F.col("n_grams").cast("long").alias("n_grams"),
                    (fold + F.col("n_grams") * const).alias("logw")))


def resample_corpus(weighted: DataFrame, k: int,
                    weight_col: str = "logw", id_col: str = "doc_id",
                    temperature: float = 1.0, seed: str = "pas",
                    fast_hash: bool = False,
                    method: str = "topk",
                    sketch_rel_err: float = 0.001) -> DataFrame:
    """Deterministic importance resampling: draw ``k`` documents
    without replacement with probability proportional to
    ``exp(weight / temperature)`` — the Gumbel-top-k trick (Vieira
    2014; Kool et al. 2019), with the Gumbel noise CONTENT-ADDRESSED:
    ``u = (h60(id || ':' || seed) + 1) / (2^60 + 2)`` in (0, 1),
    ``g = -ln(-ln(u))``, key ``= weight / temperature + g``.  No RNG
    state — the same (corpus, seed) always selects the same set, on
    any cluster, under any partitioning; change ``seed`` to redraw.

    ``temperature`` interpolates between greedy top-k by weight
    (→ 0) and uniform sampling (→ inf).

    Two selection plans:

    - ``method="topk"`` (default): EXACTLY ``k`` rows via one global
      top-k (``TakeOrderedAndProject`` — each partition keeps its top
      ``k``, the driver merges O(P·k)), so ``k`` is bounded by driver
      memory: fine up to ~millions of ids.  Ties break by id.
    - ``method="sketch"``: the billion-row path — a Greenwald-Khanna
      quantile sketch (``approxQuantile``, one distributed pass, one
      double to the driver) estimates the ``1 - k/n`` key quantile
      and the selection is the pure filter ``key >= threshold``:
      never more than O(1) driver state, no global sort, no top-k
      heap.  The result is a PREFIX of the exact key ordering (every
      selected row outranks every unselected one — boundary rows at
      exactly the threshold are included deterministically), but its
      SIZE is ``k ± sketch_rel_err·n`` rather than exactly ``k`` (the
      sketch's rank-error contract).  Tighten ``sketch_rel_err`` to
      taste: cost is the sketch's memory, not another data pass.

      Reproducibility contract (ADVICE r8): the Gumbel KEYS are
      content-addressed and partition-independent, but the GK
      sketch's threshold estimate depends on per-partition insertion
      and merge order, so across DIFFERENT partitionings the
      boundary — and hence the result SIZE — may shift within the
      rank-error tolerance.  Each run individually satisfies the
      prefix property; reruns under the SAME partitioning reproduce
      exactly.  For a partition-invariant selection use
      ``method="topk"`` (exact, driver-bounded k) — or filter to the
      sketch band and finish with an exact boundary inside it.
    """
    from .dedup import _h60
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    if method not in ("topk", "sketch"):
        raise ValueError(
            f"method must be 'topk' or 'sketch', got {method!r}")
    if not seed or not all(c.isalnum() or c in "._-" for c in seed):
        # the seed is spliced into a SQL expression string; restrict
        # it to identifier-ish characters rather than escaping (a
        # seed is a label, not free text)
        raise ValueError(
            f"seed must be non-empty [A-Za-z0-9._-], got {seed!r}")
    from .dedup import _claim_col
    _claim_col(weighted, "__pas_key", "resample_corpus")
    tagged = f"concat(cast(`{id_col}` as string), ':{seed}')"
    u = ((F.expr(_h60(tagged, fast_hash)) + F.lit(1)).cast("double")
         / F.lit(float((1 << 60) + 2)))
    key = (F.col(weight_col) / F.lit(float(temperature))
           - F.log(-F.log(u)))
    keyed = weighted.withColumn("__pas_key", key)
    if method == "sketch":
        if not (0.0 < sketch_rel_err < 1.0):
            raise ValueError(f"sketch_rel_err must be in (0, 1), "
                             f"got {sketch_rel_err}")
        # NULL keys (NULL weights) can never be selected by either
        # method; drop them before the sketch so they don't skew the
        # quantile's rank space
        keyed = keyed.filter(F.col("__pas_key").isNotNull())
        n = keyed.count()
        if n == 0:
            return keyed.withColumnRenamed("__pas_key", "sample_key")
        if k >= n:
            return keyed.withColumnRenamed("__pas_key", "sample_key")
        q = 1.0 - k / n
        thr = keyed.stat.approxQuantile(
            "__pas_key", [q], sketch_rel_err)[0]
        return (keyed.filter(F.col("__pas_key") >= F.lit(thr))
                .withColumnRenamed("__pas_key", "sample_key"))
    return (keyed
            .orderBy(F.col("__pas_key").desc(), F.col(id_col).asc())
            .limit(k)
            .withColumnRenamed("__pas_key", "sample_key"))


def cluster_documents(docs: DataFrame, k: int = 16,
                      text_col: str = "text", id_col: str = "doc_id",
                      dim: int = 256, refine_iters: int = 2,
                      train_fraction: float | None = None) -> DataFrame:
    """Topic-style document clustering with no external model: hashed
    TF-IDF vectors (:func:`~.text.tfidf_vectors`) + the deterministic
    k-means the ANN/SemDeDup path already trains
    (:func:`~.similarity.train_ivf_centroids`) — the corpus-maplike
    step a curation pipeline uses to inspect composition, balance
    mixtures, or stratify sampling.

    Fully deterministic (content-addressed seeds, no RNG), zero
    driver-side data beyond the k×dim centroid matrix.  At 100 TB:
    ``train_fraction`` trains centroids on a hash-sample; assignment
    stays one Arrow-batch matmul per partition (narrow, no shuffle).
    Token-less docs have no direction to embed and are absent (the
    scorer contract).  Returns ``(id_col, cluster)``; join the label
    back to the corpus (AQE broadcasts it when small) or feed the
    label column to :func:`split_corpus(by=)` for cluster-stratified
    leakage-safe splits.
    """
    from .similarity import _assign_cells_udf, train_ivf_centroids
    from .text import tfidf_vectors
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    vecs = tfidf_vectors(docs, dim=dim, text_col=text_col,
                         id_col=id_col)
    centroids = train_ivf_centroids(
        vecs, dim=dim, nlist=k, id_col=id_col, vec_col="embedding",
        refine_iters=refine_iters, train_fraction=train_fraction)
    # hard assignment only: a soft (multi-probe) label would return
    # several rows per doc, and the advertised split_corpus(by=
    # cluster) composition would then place copies of one document in
    # DIFFERENT splits - the exact leakage by= exists to prevent
    cells = _assign_cells_udf(centroids, nprobe=1)
    out = vecs.select(F.col(id_col),
                      cells(F.col("embedding")).alias("__cells"))
    return out.select(id_col,
                      F.col("__cells").getItem(0).cast("long")
                      .alias("cluster"))


#: RegexTokenizer pattern matching the module tokenizer exactly
#: (dedup._TOKENS: lowercase, split on non-alphanumeric runs, drop
#: empties — RegexTokenizer with gaps=True + minTokenLength=1 does
#: the same split; toLowercase handles the case fold)
_ML_TOKEN_PATTERN = "[^a-zA-Z0-9]+"


def train_quality_classifier(positive: DataFrame, negative: DataFrame,
                             text_col: str = "text",
                             buckets: int = 1 << 17,
                             max_iter: int = 20,
                             reg_param: float = 1e-4,
                             elastic_net: float = 0.0,
                             max_train_docs: int | None = 100_000,
                             fast_hash: bool = False):
    """Train the model-based quality filter of the GPT-3 / CCNet
    pipelines (Brown et al. 2020 appendix A; Wenzek et al. 2020): a
    LOGISTIC REGRESSION over hashed unigram+bigram counts that scores
    how ``positive``-like a document is.  ``positive`` is the
    high-quality reference (wiki/books/curated), ``negative`` the raw
    crawl; both are (…, text) frames — at 100 TB train on SAMPLES
    (the model needs thousands of docs a side, not the population).

    Spark-native end to end — RegexTokenizer (the module tokenizer's
    exact split) → two HashingTF legs (unigrams + word bigrams,
    ``buckets`` each, binary counts — the fastText-style recipe) →
    VectorAssembler → ``ml.classification.LogisticRegression``
    (L-BFGS; ``reg_param``/``elastic_net`` regularize).  All JVM: no
    Python in the fit or scoring path, features never materialize
    densely, and the fitted ``PipelineModel`` carries its OWN
    featurization so train and score can never drift.  Vs
    :func:`importance_weights` (DSIR): that is a generative
    importance RATIO for resampling toward a target distribution;
    this is a discriminative quality GATE — pipelines run both.

    ``max_train_docs`` ENFORCES the bounded-training contract (round
    10; the prose above used to be advisory): each side larger than
    the bound is down-sampled to ~``max_train_docs`` docs with a
    deterministic content-addressed hash gate (``h60(text) <
    frac*2^60`` — same set on any cluster under any partitioning; no
    RNG state), and the pre/post counts are logged.  NB the sampling
    fraction is sized from the PRE-null-filter count (the cheap,
    text-column-free one), so on corpora with a high NULL-text rate
    the sample lands proportionally UNDER ``max_train_docs`` — a
    ~bound, not an exact target (ADVICE r10).  Pass ``None``
    to deliberately fit the full population.  ``fast_hash`` switches
    the sampling hash to codegen'd xxhash64 (Spark-only; the md5
    default is DuckDB-reproducible).

    Returns the fitted ``pyspark.ml.PipelineModel`` (save/load with
    its native ``.save(path)`` / ``PipelineModel.load``).  Scoring
    order is deterministic; coefficient values are float-sum stable
    only to aggregation order, so compare scores with a tolerance,
    not bitwise.
    """
    from pyspark.ml import PipelineModel
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import (HashingTF, NGram, RegexTokenizer,
                                    VectorAssembler)
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    if max_train_docs is not None and max_train_docs < 1:
        raise ValueError(
            f"max_train_docs must be >= 1 or None, got {max_train_docs}")

    est_rows: list = []

    # the two sampling-plan counts are independent jobs; run them
    # concurrently so the second back-fills the first's task tail
    # (guide §2.6 overlap-independent-jobs; measured ~0.3 s of the
    # bench leg's 0.7 s sampling-plan stage).  Counts stay on the
    # caller's frames (pre-projection — see the comment in _side).
    if max_train_docs is not None:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=2) as pool:
            n_pos, n_neg = pool.map(
                lambda d: d.count(), (positive, negative))
    else:
        n_pos = n_neg = None

    def _side(df, label, name, n):
        # NULL text would crash the tokenizer stage; a NULL doc
        # carries no quality signal either way
        out = (df.select(F.col(text_col).alias("__qc_text"),
                         F.lit(label).alias("__qc_label"))
               .filter(F.col("__qc_text").isNotNull()))
        if max_train_docs is None:
            return out
        # the sampling fraction is sized from the PRE-projection
        # count (computed above, both sides concurrently): counting
        # `out` forces a full text-column scan (the null filter
        # defeats column pruning), while the caller's frame counts
        # off its own filter columns only — at doc scale the text
        # column IS the corpus, so this count must not read it.
        # NULL-text rows inflate n slightly => a slightly smaller
        # sample, within the operator's "~max_train_docs" contract.
        est_rows.append(min(n, max_train_docs))
        if n <= max_train_docs:
            return out
        # deterministic content-addressed down-sample: the training
        # contract says thousands of docs a side, not the population
        # — at 100 TB an unbounded fit would put the whole corpus
        # through L-BFGS.  h60 over the text is partitioning- and
        # cluster-independent (no RNG), so the training SET (hence
        # the model, to float-sum order) reproduces anywhere.
        from .dedup import _h60
        thresh = int((max_train_docs / n) * float((1 << 60) + 2))
        out = out.filter(
            F.expr(_h60("concat(__qc_text, ':qc_train')", fast_hash))
            < F.lit(thresh))
        print(f"[pandas_alchemy_spark] train_quality_classifier: "
              f"{name} side hash-sampled {n} -> ~{max_train_docs} "
              f"docs (max_train_docs bound)", file=sys.stderr)
        return out

    train = _side(positive, 1.0, "positive", n_pos).unionAll(
        _side(negative, 0.0, "negative", n_neg))
    if max_train_docs is not None and est_rows:
        # the bounded sample inherits the CORPUS scan's partitioning
        # (~2x shuffle partitions of a few hundred rows each), and
        # every L-BFGS iteration ships a dense 2 x buckets x 8 B
        # gradient per task through treeAggregate — measured 45 s of
        # pure aggregation overhead at 64 partitions x 15 iters for
        # a 20k-doc sample.  A few thousand docs per task is the
        # right gradient-pass granularity.
        train = train.coalesce(
            max(2, min(32, int(sum(est_rows)) // 5000)))
    feat_stages = [
        RegexTokenizer(inputCol="__qc_text", outputCol="__qc_tok",
                       pattern=_ML_TOKEN_PATTERN, gaps=True,
                       toLowercase=True, minTokenLength=1),
        NGram(n=2, inputCol="__qc_tok", outputCol="__qc_bi"),
        HashingTF(inputCol="__qc_tok", outputCol="__qc_tf1",
                  numFeatures=buckets, binary=True),
        HashingTF(inputCol="__qc_bi", outputCol="__qc_tf2",
                  numFeatures=buckets, binary=True),
        VectorAssembler(inputCols=["__qc_tf1", "__qc_tf2"],
                        outputCol="__qc_feat"),
    ]
    lr = LogisticRegression(featuresCol="__qc_feat",
                            labelCol="__qc_label",
                            maxIter=max_iter, regParam=reg_param,
                            elasticNetParam=elastic_net)
    # featurize ONCE, then fit (r11; VERDICT r10 #1): L-BFGS makes
    # max_iter+ passes and Spark 4's LogisticRegression does NOT
    # cache its input, so fitting a Pipeline whose LR stage sits on
    # the lazy tokenize→NGram→HashingTF chain re-runs the WHOLE
    # featurization every iteration (~15x redundant work measured on
    # the 20k-doc doc-scale leg).  Run the transformer stages once,
    # persist only the (features, label) frame — sparse vectors, far
    # smaller than the re-tokenization it replaces — fit LR alone on
    # it, and assemble the PipelineModel from the same transformer
    # stages + the fitted LR so scoring featurization cannot drift
    # from training (all stages are stateless Transformers; the
    # assembled model save/loads like Pipeline.fit's would).
    feat = train
    for st in feat_stages:
        feat = st.transform(feat)
    # STRIP the assembler's column metadata before the fit (r11, the
    # actual hot spot behind VERDICT r10 #1): VectorAssembler
    # attaches a per-feature ML-attribute blob to the output column
    # — ~9.6 MB of schema JSON at 2x2^17 features — and
    # LogisticRegression's iterative fit drags that schema through
    # every L-BFGS pass.  Measured same-box at 40k docs x 262144
    # dims x 12 iterations: 69.2 s with the metadata, 4.1 s without,
    # bit-identical coefficients (the attributes are names, not
    # data).  Catalyst cost, not compute — the blob serializes with
    # the plan per job.
    feat = feat.select(
        F.col("__qc_feat").alias("__qc_feat", metadata={}),
        "__qc_label").persist()
    try:
        lr_model = lr.fit(feat)
    finally:
        feat.unpersist()
    model = PipelineModel(feat_stages + [lr_model])
    # Spark 4.1: the fitted LR model's trainingSummary holds a
    # NON-TRANSIENT SparkSession; the prediction UDF closure captures
    # the model, so any plan that ships that closure in a serialized
    # task (observed: the model transform unioned into a larger query
    # with broadcast exchanges) dies "Task not serializable:
    # ObservationManager".  The summary is training-time diagnostics
    # we never expose — drop it (setSummary is package-private in
    # Scala, i.e. public in bytecode, so py4j reaches it; a save/load
    # round-trip would also shed it, at the cost of a filesystem
    # write).
    _drop_lr_summary(model, positive.sparkSession,
                     "train_quality_classifier")
    return model


def _drop_lr_summary(model, spark, op_name: str) -> None:
    """Shed the fitted LR model's trainingSummary (see the comment at
    the call sites — Spark 4.1's summary holds a non-transient
    SparkSession that breaks task serialization when the model
    closure ships in a larger plan).  Diagnostics-only, but LOUD on
    failure (ADVICE r9): a silent pass would bury the only signal."""
    try:
        lrm = model.stages[-1]
        lrm._java_obj.setSummary(spark._jvm.scala.Option.empty())
    except Exception as exc:  # pragma: no cover - Spark-build drift
        print(f"[pandas_alchemy_spark] {op_name}: "
              f"could not drop the LR trainingSummary ({exc!r}); "
              "plans that serialize the model closure (e.g. unions "
              "with broadcast exchanges) may fail 'Task not "
              "serializable: ObservationManager' on this Spark "
              "build — a PipelineModel save/load round-trip also "
              "sheds the summary", file=sys.stderr)


def score_quality(docs: DataFrame, model, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Score every document under a
    :func:`train_quality_classifier` model: returns ``(id_col,
    q_prob)`` with ``q_prob`` = P(positive | doc) in [0, 1].  One
    JVM-side model pass (the PipelineModel re-runs its own
    featurization); token-less and empty docs score at the intercept
    (they carry no features).  NULL text rows are dropped (no
    features to score)."""
    from pyspark.ml.functions import vector_to_array
    scored = model.transform(
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.col(text_col).alias("__qc_text")))
    return scored.select(
        F.col(id_col),
        vector_to_array(F.col("probability")).getItem(1)
        .alias("q_prob"))


#: every column a PipelineModel from train_quality_classifier appends
#: during transform — a corpus column with one of these names would
#: collide with the model pass
_QC_MODEL_COLS = frozenset({
    "__qc_text", "__qc_tok", "__qc_bi", "__qc_tf1", "__qc_tf2",
    "__qc_feat", "rawPrediction", "probability", "prediction"})


def quality_classifier_filter(docs: DataFrame, model,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              threshold: float | None = None,
                              pareto_alpha: float = 9.0,
                              seed: str = "pas",
                              fast_hash: bool = False,
                              scores: DataFrame | None = None
                              ) -> DataFrame:
    """Gate a corpus on the trained quality score.  Two modes:

    - ``threshold=t``: deterministic hard gate ``q_prob >= t``.
    - ``threshold=None`` (default): the GPT-3 stochastic-Pareto rule
      — keep a document iff ``pareto(alpha) > 1 - q_prob`` (Brown et
      al. 2020 appendix A: keeps essentially all high-scorers but
      lets a long tail of low-scorers through, avoiding the
      homogeneity of a hard cut).  The Pareto draw is
      CONTENT-ADDRESSED, not RNG: ``u = (h60(id || ':' || seed) + 1)
      / (2^60 + 2)``, ``x = u^(-1/alpha) - 1`` (inverse-CDF of
      numpy's ``pareto(alpha)``), so the same (corpus, model, seed)
      keeps the same set on any cluster under any partitioning;
      change ``seed`` to redraw.

    Returns the kept documents with ``q_prob`` attached.  Plan (r10;
    VERDICT r9 #1): ``model.transform`` APPENDS columns, so the
    original columns ride through the scoring pass — ONE corpus
    scan, one JVM model projection, then a pure filter; no re-join
    of scores back to the corpus, no shuffle.  This is the operator
    that gates 100 TB of raw crawl, so the plan between scoring and
    the gate filter is asserted shuffle- and join-free in
    ``tests/test_plans.py``.  The join form survives only for a
    caller-supplied pre-scored frame: pass ``scores=`` (an ``(id_col,
    q_prob)`` frame, e.g. from :func:`score_quality` scored once and
    gated several ways) and the gate joins it back instead of
    re-running the model.  A corpus column colliding with the
    model's appended names (``probability`` etc.) also falls back to
    the score+join path — same kept set, one extra shuffle."""
    from .dedup import _h60
    if threshold is not None and not (0.0 <= threshold <= 1.0):
        raise ValueError(
            f"threshold must be in [0, 1], got {threshold}")
    if pareto_alpha <= 0:
        raise ValueError(
            f"pareto_alpha must be > 0, got {pareto_alpha}")
    if not seed or not all(c.isalnum() or c in "._-" for c in seed):
        raise ValueError(
            f"seed must be non-empty [A-Za-z0-9._-], got {seed!r}")
    if scores is None and _QC_MODEL_COLS.isdisjoint(docs.columns):
        # fast path: single scan, no join — the model re-runs its own
        # featurization over the corpus WITH its original columns
        from pyspark.ml.functions import vector_to_array
        scored = model.transform(
            docs.filter(F.col(text_col).isNotNull())
            .withColumn("__qc_text", F.col(text_col)))
        gated = scored.select(
            *[F.col(c) for c in docs.columns],
            vector_to_array(F.col("probability")).getItem(1)
            .alias("q_prob"))
    else:
        if scores is None:
            scores = score_quality(docs, model, text_col=text_col,
                                   id_col=id_col)
        gated = docs.join(scores, id_col)
    if threshold is not None:
        return gated.filter(F.col("q_prob") >= F.lit(threshold))
    tagged = f"concat(cast(`{id_col}` as string), ':{seed}')"
    u = ((F.expr(_h60(tagged, fast_hash)) + F.lit(1)).cast("double")
         / F.lit(float((1 << 60) + 2)))
    draw = F.pow(u, F.lit(-1.0 / pareto_alpha)) - F.lit(1.0)
    return gated.filter(draw > (F.lit(1.0) - F.col("q_prob")))


def evaluate_quality_classifier(model, positive: DataFrame,
                                negative: DataFrame,
                                text_col: str = "text",
                                pareto_alpha: float = 9.0,
                                seed: str = "pas",
                                threshold: float | None = None
                                ) -> dict:
    """Held-out evaluation of a :func:`train_quality_classifier`
    model (round 10 — the operator shipped with separation
    invariants but no measured curve): ``positive``/``negative`` are
    labeled HELD-OUT frames (disjoint from training by caller
    contract).  Returns::

        {"auc": areaUnderROC,            # JVM evaluator, all scores
         "n_pos": ..., "n_neg": ...,     # held-out sizes
         "kept_rate":  kept / total,     # under the actual gate
         "precision_at_kept": pos_kept / kept,
         "recall_at_kept":    pos_kept / n_pos}

    The gate metrics run the REAL :func:`quality_classifier_filter`
    (content-addressed Pareto by default; pass ``threshold=`` for
    the hard gate), so precision@kept-rate measures the operator as
    deployed, not an idealized top-k cut.  AUC comes from Spark ML's
    ``BinaryClassificationEvaluator`` over ``rawPrediction`` — one
    model pass, JVM-side.  Document ids for the Pareto draw are
    ``md5(text)`` (the frames carry no id contract), so the numbers
    reproduce under any partitioning."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    both = (positive.select(F.col(text_col).alias("__qc_text"),
                            F.lit(1.0).alias("__qc_label"))
            .unionAll(negative.select(
                F.col(text_col).alias("__qc_text"),
                F.lit(0.0).alias("__qc_label")))
            .filter(F.col("__qc_text").isNotNull())
            .withColumn("__qc_eval_id", F.md5("__qc_text")))
    both = both.persist()
    try:
        scored = model.transform(both)
        auc = BinaryClassificationEvaluator(
            labelCol="__qc_label", rawPredictionCol="rawPrediction",
            metricName="areaUnderROC").evaluate(scored)
        counts = both.agg(
            F.sum("__qc_label").alias("p"),
            F.count(F.lit(1)).alias("n")).first()
        n_pos, n_total = int(counts["p"]), int(counts["n"])
        kept = quality_classifier_filter(
            both, model, text_col="__qc_text", id_col="__qc_eval_id",
            threshold=threshold, pareto_alpha=pareto_alpha,
            seed=seed)
        krow = kept.agg(
            F.sum("__qc_label").alias("p"),
            F.count(F.lit(1)).alias("n")).first()
        k_pos, k_total = int(krow["p"] or 0), int(krow["n"])
    finally:
        both.unpersist()
    return {"auc": float(auc), "n_pos": n_pos,
            "n_neg": n_total - n_pos,
            "kept_rate": (k_total / n_total) if n_total else 0.0,
            "precision_at_kept": (k_pos / k_total) if k_total else 0.0,
            "recall_at_kept": (k_pos / n_pos) if n_pos else 0.0}


# ---------------------------------------------------------------------------
# model-based language identification (round 10)
# ---------------------------------------------------------------------------

def train_langid_classifier(df: DataFrame, text_col: str = "text",
                            label_col: str = "lang",
                            buckets: int = 1 << 16,
                            max_iter: int = 25,
                            reg_param: float = 1e-4,
                            max_chars: int = 2000,
                            max_train_docs_per_lang: int | None = 50_000,
                            fast_hash: bool = False):
    """Train the fastText-style language identifier of the CCNet
    pipeline (Joulin et al. 2016, arXiv:1607.01759; Wenzek et al.
    2020 use its published lid.176 model): a MULTINOMIAL logistic
    regression over hashed character 2-/3-gram and word-unigram
    counts.  The heuristic :func:`~.text.language_id` (stopword
    hit-rate) is the zero-training baseline; this is the trained
    upgrade for corpora where curated per-language text exists.

    All JVM end to end: one SQLTransformer projects null-safe char
    and word token arrays (chars capped at ``max_chars`` — language
    is decidable from a prefix; unbounded docs would make feature
    cost O(doc) for no accuracy), then NGram -> three HashingTF legs
    (char bigrams, char trigrams, word unigrams; spaces KEPT in the
    char stream — cross-word shapes like 'e d' are strong language
    signal) -> VectorAssembler -> LogisticRegression
    (family="multinomial", L-BFGS).  The fitted PipelineModel carries
    its own featurization AND an IndexToString stage mapping class
    index back to the label string, so save/load round-trips the
    whole predictor with no side state.

    Label indexing is deterministic (labels sorted lexicographically,
    not frequency-ranked like StringIndexer) and the training label
    column is attached OUTSIDE the pipeline — a StringIndexer stage
    would make scoring demand a ``lang`` column on unlabeled corpora.

    ``max_train_docs_per_lang`` is the bounded-training contract,
    STRATIFIED: each language larger than the bound is hash-sampled
    to ~the bound independently (one narrow count pass over the label
    column sizes the fractions), so a 98%-English crawl cannot starve
    the tail languages out of the model.  ``None`` fits everything.
    """
    from pyspark.ml import PipelineModel
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import (HashingTF, IndexToString, NGram,
                                    SQLTransformer, VectorAssembler)
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    if max_chars < 1:
        raise ValueError(f"max_chars must be >= 1, got {max_chars}")
    if (max_train_docs_per_lang is not None
            and max_train_docs_per_lang < 1):
        raise ValueError("max_train_docs_per_lang must be >= 1 or "
                         f"None, got {max_train_docs_per_lang}")

    labeled = df.filter(F.col(text_col).isNotNull()
                        & F.col(label_col).isNotNull())
    # label domain: bounded by the number of languages by construction
    labels = sorted(r[0] for r in
                    labeled.select(label_col).distinct().collect())
    if len(labels) < 2:
        raise ValueError(
            f"need >= 2 distinct {label_col!r} values, got {labels}")
    # label -> class index as a chained F.when (r11; ADVICE r10: an
    # interpolated SQL CASE broke on labels containing a quote —
    # label_col is arbitrary user data, not always clean ISO codes)
    idx_expr = F.lit(None).cast("double")
    for i, lv in enumerate(labels):
        idx_expr = F.when(F.col(label_col) == F.lit(lv),
                          F.lit(float(i))).otherwise(idx_expr)
    train = labeled.select(
        F.col(text_col).alias("__li_text"),
        idx_expr.alias("__li_label"))

    if max_train_docs_per_lang is not None:
        # stratified bound: ONE narrow count pass (label column only)
        # sizes a per-language hash threshold; content-addressed, so
        # the training set reproduces under any partitioning
        from .dedup import _h60
        counts = {r[0]: r[1] for r in labeled.groupBy(label_col)
                  .count().collect()}
        over = {lv: n for lv, n in counts.items()
                if n > max_train_docs_per_lang}
        if over:
            lim = float((1 << 60) + 2)
            thr_expr = "CASE " + " ".join(
                f"WHEN __li_label = {i}.0 THEN "
                + str(int(max_train_docs_per_lang
                          / counts[lv] * lim)
                      if lv in over else int(lim))
                for i, lv in enumerate(labels)) + " END"
            train = train.filter(
                F.expr(_h60("concat(__li_text, ':li_train')",
                            fast_hash))
                < F.expr(thr_expr))
            print("[pandas_alchemy_spark] train_langid_classifier: "
                  + "; ".join(
                      f"{lv} hash-sampled {n} -> "
                      f"~{max_train_docs_per_lang}"
                      for lv, n in sorted(over.items()))
                  + " docs (max_train_docs_per_lang bound)",
                  file=sys.stderr)
        est = sum(min(n, max_train_docs_per_lang)
                  for n in counts.values())
        train = train.coalesce(max(2, min(32, est // 5000)))
    sqlt = SQLTransformer(statement=(
        "SELECT *, "
        "slice(filter(split(lower(coalesce(__li_text, '')), ''), "
        f"c -> c != ''), 1, {int(max_chars)}) AS __li_chars, "
        "filter(split(lower(coalesce(__li_text, '')), "
        f"'{_ML_TOKEN_PATTERN}'), t -> t != '') AS __li_words "
        "FROM __THIS__"))
    feat_stages = [
        sqlt,
        NGram(n=2, inputCol="__li_chars", outputCol="__li_c2"),
        NGram(n=3, inputCol="__li_chars", outputCol="__li_c3"),
        HashingTF(inputCol="__li_c2", outputCol="__li_tf2",
                  numFeatures=buckets, binary=False),
        HashingTF(inputCol="__li_c3", outputCol="__li_tf3",
                  numFeatures=buckets, binary=False),
        HashingTF(inputCol="__li_words", outputCol="__li_tfw",
                  numFeatures=buckets, binary=True),
        VectorAssembler(inputCols=["__li_tf2", "__li_tf3",
                                   "__li_tfw"],
                        outputCol="__li_feat"),
    ]
    lr = LogisticRegression(featuresCol="__li_feat",
                            labelCol="__li_label",
                            family="multinomial",
                            maxIter=max_iter, regParam=reg_param)
    # featurize ONCE, then fit — same rationale as
    # train_quality_classifier (r11; VERDICT r10 #1): persist the
    # sparse (features, label) frame so L-BFGS's ~max_iter passes
    # reuse it instead of re-running the char-split/NGram/HashingTF
    # chain per iteration; assemble the PipelineModel from the same
    # transformer stages + the fitted LR + IndexToString.
    feat = train
    for st in feat_stages:
        feat = st.transform(feat)
    # metadata strip: see train_quality_classifier — the assembler's
    # per-feature attribute blob (~7 MB at 3x2^16 features) rides
    # the plan into every L-BFGS iteration otherwise
    feat = feat.select(
        F.col("__li_feat").alias("__li_feat", metadata={}),
        "__li_label").persist()
    try:
        lr_model = lr.fit(feat)
    finally:
        feat.unpersist()
    model = PipelineModel(feat_stages + [
        lr_model,
        IndexToString(inputCol="prediction", outputCol="lang_pred",
                      labels=labels),
    ])
    # the LR stage is second-to-last here (IndexToString follows)
    _drop_lr_summary_at(model, -2, df.sparkSession,
                        "train_langid_classifier")
    return model


def _drop_lr_summary_at(model, pos: int, spark, op_name: str) -> None:
    try:
        model.stages[pos]._java_obj.setSummary(
            spark._jvm.scala.Option.empty())
    except Exception as exc:  # pragma: no cover - Spark-build drift
        print(f"[pandas_alchemy_spark] {op_name}: "
              f"could not drop the LR trainingSummary ({exc!r}); "
              "see _drop_lr_summary", file=sys.stderr)


def predict_language(docs: DataFrame, model, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Predict language for every document under a
    :func:`train_langid_classifier` model: returns ``(id_col,
    lang_pred, lang_prob)`` with ``lang_prob`` = the winning class's
    posterior.  One JVM model pass; NULL text rows are dropped (no
    features).  Same schema contract as the heuristic
    :func:`~.text.language_id` (``lang_pred``), so downstream
    group-bys swap freely between the two."""
    from pyspark.ml.functions import vector_to_array
    scored = model.transform(
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.col(text_col).alias("__li_text")))
    return scored.select(
        F.col(id_col), F.col("lang_pred"),
        F.array_max(vector_to_array(F.col("probability")))
        .alias("lang_prob"))


def evaluate_langid_classifier(model, labeled: DataFrame,
                               text_col: str = "text",
                               label_col: str = "lang") -> dict:
    """Held-out evaluation against gold labels: accuracy, macro-F1
    (unweighted mean over languages — the tail-language-honest
    number), and the per-language precision/recall/support table.
    One model pass + one tiny confusion aggregate (bounded by
    #langs²)."""
    rows = (model.transform(
        labeled.filter(F.col(text_col).isNotNull()
                       & F.col(label_col).isNotNull())
        .select(F.col(label_col).alias("__li_gold"),
                F.col(text_col).alias("__li_text")))
        .groupBy("__li_gold", "lang_pred").count().collect())
    conf: dict = {}
    for r in rows:
        conf[(r["__li_gold"], r["lang_pred"])] = r["count"]
    langs = sorted({g for g, _ in conf} | {p for _, p in conf})
    total = sum(conf.values())
    correct = sum(n for (g, p), n in conf.items() if g == p)
    per_lang, f1s = {}, []
    for lv in langs:
        tp = conf.get((lv, lv), 0)
        support = sum(n for (g, _), n in conf.items() if g == lv)
        predicted = sum(n for (_, p), n in conf.items() if p == lv)
        prec = tp / predicted if predicted else 0.0
        rec = tp / support if support else 0.0
        f1 = (2 * prec * rec / (prec + rec)) if (prec + rec) else 0.0
        per_lang[lv] = {"precision": prec, "recall": rec,
                        "f1": f1, "support": support}
        if support:
            f1s.append(f1)
    return {"accuracy": correct / total if total else 0.0,
            "macro_f1": sum(f1s) / len(f1s) if f1s else 0.0,
            "n_docs": total, "per_lang": per_lang}
