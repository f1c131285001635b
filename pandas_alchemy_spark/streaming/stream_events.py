"""Structured Streaming twin of ext.events: windowed aggregation with
watermarks over a streaming events source.

The reference has no streaming surface at all (SURVEY.md §2.10); this
is the Spark-native extension.  The batch query (ext.events.
tumbling_window_agg) and this streaming query share semantics: the
streaming one adds a watermark for late data and emits per-window
updates.  Tested by streaming parquet files through a file source into
a memory sink (tests/test_streaming.py).
"""

from __future__ import annotations

import pandas
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")


def read_event_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = 1) -> DataFrame:
    """File-source stream over a directory of parquet event files.
    ``max_files_per_trigger=None`` processes all available files in one
    micro-batch (file order is not time order, so watermarked queries
    that must not drop intra-run 'late' files want a single batch)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_counts(stream: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts per event_type with late-data watermark.
    State is bounded by the watermark: Spark drops window state older
    than (max event time - watermark) — the 100 TB streaming contract."""
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    "event_type", "n_events", "sum_value"))


def run_to_memory_sink(windowed: DataFrame, name: str = "windowed_events",
                       timeout_s: int = 60):
    """Drive the stream into an in-memory table until idle; returns the
    query handle (caller reads spark.table(name))."""
    q = (windowed.writeStream
         .outputMode("complete")
         .format("memory")
         .queryName(name)
         .start())
    q.processAllAvailable()
    return q


def dedup_stream(stream: DataFrame, keys: list[str] | None = None,
                 ts_col: str = "ts",
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming exact deduplication — the streaming twin of
    ext.dedup.exact_dedup.  ``dropDuplicatesWithinWatermark`` keeps
    per-key state only until the watermark passes it, so state is
    bounded by (event-rate x watermark), not by stream history — the
    contract that makes exact dedup runnable forever at 100 TB/day.
    Keys default to ``event_id``."""
    keys = list(keys or ["event_id"])
    return (stream.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(keys))


def windowed_json_agg(stream: DataFrame, props_schema: str = "k int",
                      window: str = "6 hours",
                      watermark: str = "2 hours") -> DataFrame:
    """Streaming JSON ingestion: parse the ``props`` JSON column with
    ``from_json`` (a STATELESS projection — it composes with the
    watermarked window agg without adding state), then tumbling-window
    per-type aggregates of the extracted field.

    This is the canonical firehose shape at scale: raw JSON payloads
    land as strings, get typed executor-side (JVM Jackson parse inside
    codegen, no Python), and only the small windowed aggregate ever
    leaves the stage.  Batch twin asserted in tests/test_streaming.py.
    """
    parsed = stream.withColumn("__p", F.from_json("props", props_schema))
    return (parsed
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"),
                     F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("__p.k")).alias("k_sum"))
            .select(F.col("w.start").alias("window_start"),
                    "event_type", "n_events", "k_sum"))


def read_text_stream(spark: SparkSession, path: str,
                     line_col: str = "text",
                     max_files_per_trigger: int | None = 1) -> DataFrame:
    """File-source stream over a directory of raw text shards — the
    streaming twin of :func:`..sources.io.read_text` (one row per
    line; new files picked up per micro-batch).  The column is named
    ``line_col`` so the batch text operators' expressions apply
    unchanged to the streaming frame."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.text(path).withColumnRenamed("value", line_col)


def streaming_token_totals(stream: DataFrame,
                           line_col: str = "text") -> DataFrame:
    """Running corpus token/char totals over a text stream: the
    ingest-side budget counter for a training-data pipeline.  Pure
    built-in aggregates (complete-mode single row) — state is O(1)."""
    from ..ext.dedup import _TOKENS
    toks = F.expr(_TOKENS.format(col=line_col))
    return (stream
            .select(F.size(toks).alias("__n_tok"),
                    F.length(F.col(line_col)).alias("__n_chars"))
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum("__n_tok").alias("n_tokens"),
                 F.sum("__n_chars").alias("n_chars")))


def streaming_decontaminate(stream: DataFrame, eval_df: DataFrame,
                            n: int = 8, text_col: str = "text",
                            id_col: str = "doc_id",
                            fast_hash: bool = False) -> DataFrame:
    """Ingest-time benchmark decontamination: mark each arriving
    document with its count of word n-grams colliding with a STATIC
    evaluation set — the streaming twin of
    :func:`..ext.dedup.decontaminate`, for pipelines that screen
    documents as they land rather than in a batch sweep.

    STATELESS by construction: a streaming groupBy would keep one
    state row per doc_id forever (no watermark can bound it — doc
    ids never expire), so instead the static side collapses to ONE
    row holding the sorted distinct eval-gram hash array, joined in
    with a stream-static cross join (1-row static side), and the
    collision count is a pure per-row expression:
    ``size(array_intersect(distinct doc gram hashes, eval array))``.
    Append-mode safe, zero state, every doc emits exactly one row
    (0 for clean docs).  Trade vs the batch operator: the per-row
    lambda hashes grams interpreted rather than codegen'd — the
    right shape for ingest screening against benchmark-sized eval
    sets (the batch op's broadcast-join form is the sweep path).
    """
    from ..ext.dedup import _h60, with_shingles
    if not isinstance(n, int) or n < 1:
        # the batch twin's guard: n=0 emits one empty-string shingle
        # per position on BOTH sides, which collides universally and
        # marks every arriving doc contaminated; a downstream drop
        # filter then silently discards the whole stream
        raise ValueError(f"n must be a positive integer, got {n!r}")
    ev = with_shingles(eval_df, text_col, "__sh", n, distinct=False)
    ev_arr = (ev.select(F.explode("__sh").alias("s"))
              .select(F.expr(_h60("s", fast_hash)).alias("g"))
              .agg(F.array_sort(F.collect_set("g")).alias("__ev")))
    tr = with_shingles(stream, text_col, "__sh", n, distinct=False)
    doc_grams = F.expr(
        "array_distinct(transform(__sh, s -> "
        + _h60("s", fast_hash) + "))")
    return (tr.crossJoin(ev_arr)
            .select(F.col(id_col),
                    F.size(F.array_intersect(doc_grams, F.col("__ev")))
                    .cast("long").alias("n_contam_ngrams")))


def streaming_lm_scores(stream: DataFrame, vocab: DataFrame,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Ingest-time unigram-LM quality scoring against a STATIC vocab
    — the streaming twin of :func:`..ext.text.unigram_logprob` with
    an external model (``vocab``: a (term, cnt) frame trained on a
    reference corpus in batch).  Score arriving documents as they
    land; gate or route them before they ever touch the lake.

    STATELESS like :func:`streaming_decontaminate` and for the same
    reason (per-doc aggregates over a stream hold doc-id state
    forever).  The model ships as a driver-built dict inside an
    Arrow-batched pandas UDF — NOT as a Spark map column:
    ``element_at`` on MapData is a LINEAR key scan (no hash index),
    so the pure-SQL form pays O(|vocab|) per token lookup (measured
    843 docs/s at 500k docs with a ~2k-term vocab); the dict form
    does hashed lookups at Arrow-batch granularity.  The vocab is
    model-sized by contract (collecting it is the point of a static
    model); for vocabularies that don't fit a driver dict, score in
    batch where the join can shuffle.

    OOV tokens are excluded from both the sum and the count (the
    batch operator's join does the same); the Python tokenizer
    mirrors the engine's ``[^a-zA-Z0-9]+`` regex exactly.  The fold
    runs in token order, so agreement with the batch twin's sorted
    fold is exact-value up to float-sum ordering (compare ~1e-12
    relative, not bitwise).  Returns ``(id_col, n_lm_tokens,
    logprob)``; docs with zero in-vocab tokens are absent.
    """
    import math
    import re as _re

    from pyspark.sql.functions import pandas_udf

    rows = vocab.filter(F.col("cnt") > 0).collect()
    if not rows:
        raise ValueError("vocab has no positive-count terms")
    lookup = {r["term"]: math.log(r["cnt"]) for r in rows}
    ln_total = math.log(sum(r["cnt"] for r in rows))
    word_re = _re.compile(r"[^a-zA-Z0-9]+")

    # pandas imported at module level: `from __future__ import
    # annotations` stringifies the hints and pyspark resolves them
    # against the module globals
    @pandas_udf("struct<n_lm_tokens: bigint, logprob: double>")
    def _score(texts: pandas.Series) -> pandas.DataFrame:
        ns, lps = [], []
        for t in texts:
            s_ = 0.0
            n_ = 0
            if t:
                for w in word_re.sub(" ", t).lower().split():
                    lw = lookup.get(w)
                    if lw is not None:
                        s_ += lw
                        n_ += 1
            ns.append(n_)
            lps.append((s_ - n_ * ln_total) / n_ if n_ else None)
        return pandas.DataFrame({"n_lm_tokens": ns, "logprob": lps})

    return (stream
            .withColumn("__sc", _score(F.col(text_col)))
            .filter(F.col("__sc.n_lm_tokens") >= 1)
            .select(F.col(id_col),
                    F.col("__sc.n_lm_tokens").alias("n_lm_tokens"),
                    F.col("__sc.logprob").alias("logprob")))


def _signature_kernel(num_hashes: int):
    """Arrow-vectorized per-row MinHash signature: array<bigint> of
    distinct 60-bit shingle hashes -> the K affine minima
    ``min_h pmod((2k+1)·(h mod P31) + (12345 + k·7919), P31)`` —
    the EXACT integer family ``ext.dedup._minhash_base`` aggregates
    (products < 2^36 fit int64, so numpy ``%`` reproduces SQL
    ``pmod`` bit-for-bit on these non-negative inputs).  A
    shingle-less row returns the all-P31 sentinel, which by
    construction matches no reference band key (every real minimum
    is strictly < P31) — same fall-out-of-the-join contract as the
    SQL fold this replaces.

    One K×|shingles| int64 matrix min per row, batch-amortized by
    Arrow transfer.  The replaced form — K interpreted SQL
    ``aggregate()`` lambdas per row — paid K·|shingles| boxed
    closure evaluations in the micro-batch hot path (r8 verdict
    item 5)."""
    import numpy as np

    from ..ext.dedup import _P31
    ks = np.arange(num_hashes, dtype=np.int64)
    mult = (2 * ks + 1)[:, None]
    addc = (12345 + ks * 7919)[:, None]
    sentinel = [int(_P31)] * num_hashes

    @F.pandas_udf("array<bigint>")
    def _sig(hs: pandas.Series) -> pandas.Series:
        out = []
        for arr in hs:
            if arr is None or len(arr) == 0:
                out.append(list(sentinel))
                continue
            h = np.asarray(arr, dtype=np.int64) % _P31
            v = (mult * h[None, :] + addc) % _P31
            out.append(v.min(axis=1).tolist())
        return pandas.Series(out)

    return _sig


def streaming_dedup_against(stream: DataFrame,
                            reference: DataFrame | None = None,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            num_hashes: int = 16, bands: int = 4,
                            shingle_n: int = 3,
                            threshold: float = 0.5,
                            bucket_cap: int | None = 2000,
                            fast_hash: bool | None = None,
                            stream_partitions: int | None = None,
                            index=None,
                            pin_scope=None) -> DataFrame:
    """Ingest-time incremental near-duplicate gating: match each
    arriving document against a STATIC reference corpus with the SAME
    MinHash-LSH family the batch path uses — the streaming twin of
    :func:`..ext.dedup.cross_dedup_pairs`, for pipelines that screen
    a crawl as it lands instead of in a batch sweep.  Returns
    ``(id_new, id_ref, jaccard)`` pairs with ``jaccard >= threshold``
    (exact shingle Jaccard, so precision is 1 like every LSH path).

    STATELESS by construction — three standard stateful shapes are
    deliberately avoided:

    - the batch ``_minhash_base`` groupBy would hold per-doc-id state
      forever (ids never expire, no watermark can bound it), so the
      K min-hash values are computed PER ROW from the row's distinct
      hashed shingle array by ONE Arrow-vectorized ``pandas_udf``
      (a K×|shingles| int64 numpy matrix min per row — exact integer
      math, so signatures stay BIT-identical to the batch side; min
      over the distinct set == min over the exploded multiset, and
      the affine family / band-key format are shared constants).
      The r8 form folded K interpreted SQL ``aggregate()`` lambdas
      per row — K·|shingles| boxed closure evals that capped the
      verify-bound drain at 1,682 docs/s; the kernel lifts the
      signature cost out of the hot path entirely (shingle hashing
      stays codegen'd SQL).
    - candidates come from stream-STATIC equi-joins (band buckets,
      then reference shingle sets), both natively append-safe.
    - a pair colliding in several bands would need dropDuplicates
      (stateful on a stream); instead the CANONICAL-BAND rule from
      the SemDeDup pair stage applies: both signatures ride the
      join, and a pair survives only in the smallest band whose key
      matches — a local filter, exact by construction.

    Reference buckets are ``bucket_cap``-capped with the logged-drop
    policy every LSH path shares.

    Cache lifetime: the persisted static frames are PINNED for the
    stream's lifetime (exempt from the bounded cache ring — a ring
    eviction mid-stream would silently re-run the full reference
    pipeline every micro-batch, the 30x docs/s cliff the persist
    prevents; ADVICE r8).  After stopping the query, call
    :func:`~..ext.similarity.release_pinned_caches` to unpersist
    them.

    ``index=`` takes a prebuilt
    :class:`~..ext.dedup.ReferenceIndex` instead of ``reference`` —
    the build-once-gate-many path (r9): profiling showed a stream
    start against a raw 450k-doc reference spends ~26 s rebuilding
    the static pipeline before the first document is gated; a
    persistent ingest gate indexes the reference ONCE in batch
    (optionally :meth:`~..ext.dedup.ReferenceIndex.save` d to
    parquet) and every stream (re)start reuses it.  The hash-family
    parameters then come FROM the index (this function's
    ``num_hashes``/``bands``/``shingle_n``/``bucket_cap`` are
    ignored — a mismatched family would silently zero recall, so the
    index's params are authoritative); index
    lifecycle is caller-owned (``index.release()``), nothing is
    pinned here.

    ``stream_partitions`` repartitions each micro-batch before the
    heavy work: a file-source batch has one partition per input
    file, so the candidate-verify stage (the dominant cost on
    duplicate-dense corpora) would otherwise run on
    ``maxFilesPerTrigger`` cores regardless of cluster size —
    measured 4x idle cores at 8 files/batch on a 32-core box.  The
    added exchange carries only raw batch rows (cheap next to the
    verify).

    ``fast_hash`` is deprecated and ignored.
    """
    from ..ext.dedup import (_banded, _cap_buckets, _h60,
                             _ignored_fast_hash, _minhash_base,
                             with_shingles)
    _ignored_fast_hash(fast_hash, "streaming_dedup_against")
    if (reference is None) == (index is None):
        raise ValueError(
            "pass exactly one of reference= (raw corpus, indexed at "
            "stream start) or index= (a prebuilt ReferenceIndex)")
    if index is not None:
        # the index's hash family is authoritative — see docstring
        num_hashes = index.num_hashes
        bands = index.bands
        shingle_n = index.shingle_n
        ref_buckets = index.ref_buckets
        ref_sets = index.ref_sets
        rows = num_hashes // bands
    else:
        if bands < 1 or num_hashes < 1 or num_hashes % bands != 0:
            raise ValueError(
                f"num_hashes ({num_hashes}) must be a positive "
                f"multiple of bands ({bands})")
        rows = num_hashes // bands

        # --- static side: shared batch pipeline, built once.
        # PERSISTED AND PINNED: Structured Streaming re-executes the
        # static plan of a stream-static join EVERY MICRO-BATCH —
        # unpersisted, each batch re-runs the full reference
        # shingle/signature pipeline (measured 193 docs/s at 50k
        # stream docs vs a 450k-doc reference; the persist makes
        # batches after the first reuse the cached tables).  Pinned
        # OUTSIDE the bounded cache ring (ADVICE r8): ~8 later
        # cache-registering operator calls while the stream is live
        # would evict these from the ring and re-ship the exact
        # cliff the persist prevents.  The caller owns release: call
        # ext.similarity.release_pinned_caches() after query.stop().
        # per-stream pin scope (ADVICE r9): with two live gates,
        # release_pinned_caches(scope) unpins only THIS stream's
        # frames; the scope rides on the returned frame as
        # ._pas_pin_scope when the caller didn't supply one
        from ..ext.similarity import _pin_cache
        if pin_scope is None:
            pin_scope = object()
        br = _minhash_base(reference, text_col, id_col, num_hashes,
                           shingle_n).persist()
        _pin_cache(br, pin_scope)  # feeds BOTH derived tables below
        ref_buckets = (_banded(br, id_col, "id_ref", bands, rows)
                       .groupBy("band", "bh")
                       .agg(F.array_sort(F.collect_list("id_ref"))
                            .alias("ids")))
        ref_buckets = _cap_buckets(ref_buckets, "ids", bucket_cap,
                                   "streaming_dedup_against")
        ref_buckets = ref_buckets.persist()
        _pin_cache(ref_buckets, pin_scope)
        # per-ref-doc SURVIVING bands (post-cap): the canonical-band
        # rule below must pick the smallest matching band AMONG
        # SURVIVING buckets — if the true smallest matching band was
        # capped out, its candidate row never exists and an unaware
        # canonical filter would silently drop the pair that a
        # surviving band caught (the batch twin keeps a pair when
        # ANY surviving band matches)
        surv_bands = (ref_buckets
                      .select("band", F.explode("ids").alias("id_ref"))
                      .groupBy("id_ref")
                      .agg(F.collect_set("band").alias("__sb")))
        ref_sets = (br.select(F.col(id_col).alias("id_ref"),
                              F.col("hs").alias("hs_r"),
                              F.col("signature").alias("sig_r"))
                    .join(surv_bands, "id_ref")).persist()
        _pin_cache(ref_sets, pin_scope)

    # --- stream side: per-row signature, no aggregation
    if stream_partitions is not None:
        if not isinstance(stream_partitions, int) or stream_partitions < 1:
            raise ValueError(f"stream_partitions must be a positive "
                             f"int, got {stream_partitions!r}")
        stream = stream.repartition(stream_partitions)
    sh = with_shingles(stream, text_col, "__shraw", shingle_n,
                       distinct=False)
    hs_expr = ("array_distinct(transform(__shraw, s -> "
               + _h60("s") + "))")
    sig_udf = _signature_kernel(num_hashes)
    # NULL text filtered on the RAW column only.  Deliberately NO
    # filter on size(__hs): PushDownPredicate inlines a derived-column
    # predicate below the projections, and the shingle lambda
    # references the token array INSIDE its per-shingle lambda — the
    # inlined form re-tokenizes per shingle, O(tokens²) per doc
    # (measured 4.8 s -> 120 s on a 50k-doc batch).  Shingle-less
    # docs are harmless without the filter: their signature is all
    # P31 sentinels (every real minhash is pmod(...) < P31 strictly,
    # so no reference band key can ever equal theirs) and they fall
    # out of the bucket join.
    tr = (sh.filter(F.col(text_col).isNotNull())
          .withColumn("__hs", F.expr(hs_expr))
          .withColumn("__sig", sig_udf(F.col("__hs")))
          .select(F.col(id_col).alias("id_new"),
                  F.col("__hs").alias("hs_n"), F.col("__sig")))
    banded_expr = (f"transform(sequence(0, {bands - 1}), b -> "
                   f"struct(b as band, concat_ws(',', "
                   f"slice(__sig, b * {rows} + 1, {rows})) as bh))")
    tb = (tr.select("id_new", "hs_n", "__sig",
                    F.explode(F.expr(banded_expr)).alias("bb"))
          .select("id_new", "hs_n", "__sig", "bb.band", "bb.bh"))
    cand = (tb.join(ref_buckets, ["band", "bh"])
            .select("id_new", "hs_n", "__sig", "band",
                    F.explode("ids").alias("id_ref"))
            .join(ref_sets, "id_ref"))
    canonical = F.expr(
        f"array_min(filter(sequence(0, {bands - 1}), b -> "
        f"array_contains(__sb, b) AND "
        f"concat_ws(',', slice(__sig, b * {rows} + 1, {rows})) = "
        f"concat_ws(',', slice(sig_r, b * {rows} + 1, {rows}))))")
    jac = (F.size(F.array_intersect("hs_n", "hs_r"))
           / F.size(F.array_union("hs_n", "hs_r")))
    out = (cand.filter(F.col("band") == canonical)
           .select("id_new", "id_ref", jac.alias("jaccard"))
           .filter(F.col("jaccard") >= threshold))
    if pin_scope is not None:
        # hand the owner its release handle (index mode pins nothing,
        # so there is nothing to scope there)
        out._pas_pin_scope = pin_scope
    return out


def streaming_semantic_dedup_against(stream: DataFrame,
                                     index_path: str,
                                     threshold: float = 0.9,
                                     nprobe: int = 2,
                                     id_col: str | None = None,
                                     vec_col: str | None = None,
                                     stream_partitions: int | None = None,
                                     pin_scope=None) -> DataFrame:
    """Ingest-time SEMANTIC near-duplicate gating: match each
    arriving embedding against a persisted :func:`~..ext.similarity.
    build_ivf_index` reference — the streaming twin of
    :func:`~..ext.similarity.semantic_dedup_against`, completing the
    symmetry the MinHash family already has
    (``cross_dedup_pairs`` ↔ :func:`streaming_dedup_against`).
    Returns ``(id_new, id_ref, cosine)`` with cosine >= ``threshold``
    — batch-twin VALUE-EQUAL on the same rows (test-pinned).

    STATELESS by construction, the same discipline as the MinHash
    gate:

    - cell assignment is a per-row Arrow ``pandas_udf`` against the
      driver-held sidecar centroids (nlist×dim doubles) — no
      aggregation, no watermark, no state store;
    - candidates come from a stream-STATIC equi-join on the cell id,
      natively append-safe;
    - a reference vector lives in exactly ONE cell (hard assignment
      at build) while the stream row probes ``nprobe`` cells, so a
      pair can surface at most once — no stateful dropDuplicates
      needed, exactly the batch twin's argument.

    The reference cells are read once from the index table,
    PERSISTED AND PINNED for the stream's lifetime (a stream-static
    join re-executes the static plan every micro-batch; unpinned,
    the bounded cache ring would evict the reference mid-stream and
    re-read the index per batch).  Unlike the batch twin there is no
    probed-cell partition pruning — a long-lived stream eventually
    probes every cell, so the whole index is cached up front; gate
    memory is the index size, the number the operator exists to
    bound (index rows, not corpus rows).  Call
    :func:`~..ext.similarity.release_pinned_caches` after
    ``query.stop()``.

    Geometry is FROZEN at the index build (the sidecar is
    authoritative — a mismatched centroid set would silently zero
    recall, the same argument as the MinHash index's hash family).
    Maintain the reference with
    :func:`~..ext.similarity.append_to_ivf_index` /
    ``maintain_ivf_index`` and restart the gate to pick up growth.
    """
    import json as _json
    import os as _os

    from ..ext.similarity import (_DOT, _assign_cells_udf,
                                  _pin_cache, norm_expr)
    with open(_os.path.join(index_path,
                            "_ivf_centroids.json")) as fh:
        meta = _json.load(fh)
    centroids = meta["centroids"]
    id_col = id_col or meta["id_col"]
    vec_col = vec_col or meta["vec_col"]
    nprobe = max(1, min(int(nprobe), len(centroids)))
    if pin_scope is None:
        pin_scope = object()
    spark = stream.sparkSession
    ref = (spark.read.parquet(index_path)
           .select(F.col("cell"),
                   F.col(id_col).alias("id_ref"),
                   F.col(vec_col).alias("rv"),
                   norm_expr(vec_col).alias("rn"))
           .persist())
    _pin_cache(ref, pin_scope)
    if stream_partitions is not None:
        if (not isinstance(stream_partitions, int)
                or stream_partitions < 1):
            raise ValueError(f"stream_partitions must be a positive "
                             f"int, got {stream_partitions!r}")
        stream = stream.repartition(stream_partitions)
    cells = _assign_cells_udf(centroids, nprobe=nprobe)
    newa = (stream.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("id_new"),
                    F.col(vec_col).alias("nv"),
                    norm_expr(vec_col).alias("nn"),
                    F.explode(cells(F.col(vec_col))).alias("cell")))
    dot = _DOT.format(a="nv", b="rv")
    cos = F.expr(f"({dot}) / nullif(nn * rn, 0.0)")
    # NaN cosines dropped as in the batch twin (Spark: NaN >= t)
    out = (newa.join(ref, "cell")
           .select("id_new", "id_ref", cos.alias("cosine"))
           .filter((F.col("cosine") >= threshold)
                   & ~F.isnan("cosine")))
    out._pas_pin_scope = pin_scope
    return out


# ---------------------------------------------------------------------------
# streaming corpus profiling (round 10)
# ---------------------------------------------------------------------------

def streaming_profile_sink(stream: DataFrame, state_path: str,
                           checkpoint: str, text_col: str = "text",
                           group_col: str | None = "lang",
                           lg_k: int = 12):
    """Incremental corpus profiling at ingest: each micro-batch is
    reduced to its :func:`~..ext.profile.profile_sketches` state rows
    (a few KB per group — sums, HLL binary, log-histogram) and written
    to ``state_path/batch_id=N``.  The corpus itself is never stored
    or re-read by the profiler; :func:`streaming_profile_report`
    renders the running report from the state table alone.

    Exactly-once by construction: each batch OVERWRITES its own
    ``batch_id=`` directory, so a foreachBatch retry after a crash
    re-emits the same rows instead of appending duplicates (the
    parquet-append + dedup-on-read alternative cannot dedup HLL
    binaries, whose bytes vary with partition order).  The layout is
    a hive-partitioned table — readers prune by batch_id for free.

    Returns the started :class:`StreamingQuery` (availableNow
    trigger: drains everything visible, then stops — callers loop
    waves the way the other ingest gates here do).
    """
    from ..ext import profile as _profile

    def _write(batch_df, batch_id: int):
        if not batch_df.take(1):
            return
        (_profile.profile_sketches(batch_df, text_col=text_col,
                                   group_col=group_col, lg_k=lg_k)
         .coalesce(1)
         .write.mode("overwrite")
         .parquet(f"{state_path}/batch_id={batch_id}"))

    return (stream.writeStream
            .foreachBatch(_write)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def streaming_profile_report(spark: SparkSession, state_path: str,
                             quantiles: tuple = (0.5, 0.9, 0.99)):
    """The running report over everything profiled so far: read the
    state table (tiny — groups x batches rows), merge
    (``hll_union_agg`` + bucket-wise histogram sums), finalize.
    Identical output to batch :func:`~..ext.profile.finalize_profile`
    over the union of all ingested docs — the batch-twin contract the
    tests pin across micro-batch boundaries AND a checkpoint restart.
    """
    from pyspark.errors import AnalysisException

    from ..ext import profile as _profile
    try:
        states = spark.read.parquet(state_path).drop("batch_id")
    except AnalysisException:
        # zero non-empty batches drained => the sink never wrote a
        # batch_id= dir (r11; ADVICE r10): report "nothing profiled
        # yet" as an EMPTY frame in the report schema, not a
        # path/schema-inference error
        empty = spark.createDataFrame([], "text string, grp string")
        states = _profile.profile_sketches(empty, text_col="text",
                                           group_col="grp")
    return _profile.finalize_profile(
        _profile.merge_profile_sketches(states), quantiles=quantiles)


def streaming_quality_gate(stream: DataFrame, model,
                           threshold: float | None = None,
                           pareto_alpha: float = 9.0,
                           seed: str = "pas",
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           fast_hash: bool = False,
                           stream_partitions: int | None = None
                           ) -> DataFrame:
    """Ingest-time model-based quality filter (r11) — the GPT-3/CCNet
    gate deployed the way :func:`streaming_language_gate` deploys
    langid: the fitted PipelineModel is row-local (hash featurization
    + one matrix-vector product) and the Pareto draw is
    content-addressed (``h60(id || seed)``, no RNG state), so the
    WHOLE gate is stateless and applies to a streaming frame
    directly — no state store, no watermark, and the kept set is
    identical to the batch twin
    :func:`~..ext.pipeline.quality_classifier_filter` row for row
    (tested).  Returns the kept documents as (id, text, q_prob).

    ``stream_partitions`` is the same task-width knob as the other
    gates here: a micro-batch's task count is its FILE count, so
    repartition up to the core count when the trigger's file count
    is below it."""
    from ..ext import pipeline as _pipeline
    src = stream
    if stream_partitions is not None:
        src = src.repartition(stream_partitions)
    kept = _pipeline.quality_classifier_filter(
        src.select(id_col, text_col), model, text_col=text_col,
        id_col=id_col, threshold=threshold,
        pareto_alpha=pareto_alpha, seed=seed, fast_hash=fast_hash)
    return kept.select(id_col, text_col, "q_prob")


def streaming_language_gate(stream: DataFrame, model,
                            keep_langs: list[str] | None = None,
                            min_prob: float = 0.0,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            stream_partitions: int | None = None) -> DataFrame:
    """Ingest-time language filter — the CCNet deployment shape of
    :func:`~..ext.pipeline.train_langid_classifier`: keep only docs
    whose predicted language is in ``keep_langs`` with posterior >=
    ``min_prob``.  The fitted PipelineModel is row-local (hashing
    featurization + one matrix-vector product + argmax), so it
    applies to a streaming frame directly — no state store, no
    watermark, per-micro-batch cost linear in batch size, identical
    output to the batch twin row for row (tested).

    ``keep_langs=None`` passes everything through annotated
    (``lang_pred``, ``lang_prob``) instead of gating.

    ``stream_partitions`` repartitions each micro-batch BEFORE the
    model transform (same knob as :func:`streaming_dedup_against`):
    a micro-batch's task count is its FILE count, so with
    maxFilesPerTrigger=4 the scoring pass runs 4-wide no matter how
    many cores the cluster has — measured 3.4k docs/s vs the batch
    twin's 9.4k on 32 cores.  The per-batch shuffle is a few MB of
    text against an 8x parallelism unlock; set it to the executor
    core count when the trigger's file count is below it."""
    from pyspark.ml.functions import vector_to_array
    src = stream.filter(F.col(text_col).isNotNull())
    if stream_partitions is not None:
        src = src.repartition(stream_partitions)
    scored = (model.transform(
        src.withColumn("__li_text", F.col(text_col)))
        .withColumn("lang_prob",
                    F.array_max(vector_to_array(F.col("probability")))))
    out = scored.select(id_col, text_col, "lang_pred", "lang_prob")
    if keep_langs is not None:
        out = out.filter(F.col("lang_pred").isin(list(keep_langs))
                         & (F.col("lang_prob") >= F.lit(min_prob)))
    elif min_prob > 0.0:
        out = out.filter(F.col("lang_prob") >= F.lit(min_prob))
    return out
