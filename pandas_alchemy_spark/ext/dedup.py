"""Deduplication operators for large-scale text corpora.

Beyond-reference extension (SURVEY.md §7 Phase 4): exact dedup,
MinHash+LSH, SimHash, and n-gram Jaccard near-dup detection over a
``documents``-shaped table (doc_id, text, ...).

Scale design (100 TB intent):
- Hot paths are either expression-level (whole-stage codegen via
  higher-order array functions) or ONE Arrow ``mapInPandas`` pass per
  document batch (the md5 MinHash transport, r14) — never row-at-a-
  time Python UDFs.
- SimHash signatures are computed entirely *narrow* (per-row array
  fold) — zero shuffle until the final candidate join.
- MinHash/LSH shuffles only on (band, band_hash) buckets — the classic
  sublinear candidate generation; no O(n^2) cross join.
- Exact dedup is a single hash-aggregate; first-per-key via max-struct,
  no window sort.

Hashing uses md5-derived 60-bit integers (not xxhash64) so the DuckDB
correctness oracle can reproduce signatures bit-for-bit.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _register_cache(sdf) -> None:
    """Route every module-internal ``persist`` through the bounded
    similarity cache ring so repeated calls release the oldest cached
    frame deterministically instead of accumulating session-lifetime
    storage (ADVICE r7: five operators persisted internal frames the
    caller never receives and could never unpersist)."""
    from .similarity import _register_cache as _rc
    _rc(sdf)


def _claim_col(df: DataFrame, name: str, what: str) -> None:
    """Guard an internal helper column name: a pre-existing user
    column would be silently overwritten by the withColumn (and in
    quality_score's case, REPLACE the user's data in the output) —
    raise loudly instead (ADVICE r7)."""
    if name in df.columns:
        raise ValueError(
            f"{what}: input already has a column named {name!r}, "
            f"which this operator uses internally - rename or drop "
            f"it first")


def _cap_buckets(buckets: DataFrame, member_col: str,
                 cap: int | None, what: str) -> DataFrame:
    """Drop degenerate LSH buckets (> ``cap`` members) with a LOGGED
    count — never silently.

    At corpus scale the common degenerate case is boilerplate: millions
    of byte-identical documents share every band signature, so one
    bucket holds 10^5-10^6 ids and the within-bucket pair explode
    materializes O(B^2) rows in a single task.  The cap bounds that
    task at O(cap^2).  The principled spill path is to pre-collapse
    exact duplicates first (:func:`exact_dedup` — identical docs are
    where degenerate buckets come from), then run LSH on the
    representatives; an oversized bucket that SURVIVES exact collapse
    is near-certainly one boilerplate template and its pairs carry no
    information worth O(B^2).

    The drop count rides an ``observe()`` metric collected DURING the
    caller's own action and logged from a daemon thread — zero extra
    jobs, zero extra passes (an earlier eager count() cost ~25% of the
    whole pipeline)."""
    if cap is None:
        return buckets
    import threading

    from pyspark.sql import Observation
    obs = Observation()
    observed = buckets.observe(
        obs, F.sum((F.size(member_col) > cap).cast("long")).alias("n_over"))

    def _log():
        try:
            n = obs.get.get("n_over")  # blocks until the caller acts
            if n:
                print(f"[pandas_alchemy_spark] {what}: dropped {n} "
                      f"oversized LSH bucket(s) (> {cap} members); "
                      "pre-collapse exact duplicates (exact_dedup) to "
                      "avoid degenerate buckets", file=sys.stderr)
        except Exception:
            pass

    threading.Thread(target=_log, daemon=True).start()
    return observed.filter(F.size(member_col) <= cap)


def _observe_over_cap(buckets: DataFrame, member_col: str, cap: int,
                      what: str) -> DataFrame:
    """Attach the zero-extra-pass over-cap counter (same Observation
    mechanism as ``_cap_buckets``) with the r13 star-emission log
    text."""
    import threading

    from pyspark.sql import Observation
    obs = Observation()
    observed = buckets.observe(
        obs, F.sum((F.size(member_col) > cap).cast("long"))
        .alias("n_over"))

    def _log():
        try:
            n = obs.get.get("n_over")  # blocks until the caller acts
            if n:
                print(f"[pandas_alchemy_spark] {what}: {n} oversized "
                      f"LSH bucket(s) (> {cap} members) emitted as "
                      "O(B) representative stars instead of full "
                      "cliques; pre-collapse exact duplicates "
                      "(exact_dedup) to avoid degenerate buckets",
                      file=sys.stderr)
        except Exception:
            pass

    threading.Thread(target=_log, daemon=True).start()
    return observed


def _pairs_with_star_cap(buckets: DataFrame, member_col: str,
                         cap: int | None, what: str,
                         a: str = "id_a",
                         b: str = "id_b") -> DataFrame:
    """Bucket-local pair expansion with the r13 star cap (VERDICT
    r12 #4): a bucket of B sorted members explodes to its full
    O(B²) combination clique when B <= ``cap``, and to a
    representative STAR — min-member → each other member, O(B) rows
    — when it is larger, so a boilerplate flood of ANY size keeps
    its connectivity for :func:`connected_components` /
    :func:`cluster_near_dups` while the degenerate task stays
    linear (the old ``_cap_buckets`` made the whole group vanish
    from the pair set — a log line instead of pairs).  For dedup
    the full clique is never needed: a star spans the same
    connected component.

    ONE conditional expression in ONE explode — not a kept/over
    branch split, which would re-run the caller's bucket
    aggregation once per branch (Spark executes shared UNPERSISTED
    subtrees per DAG branch).  Size-1 buckets yield empty arrays
    under both arms and fall out of the explode.  Members are
    ``array_sort``-ed by every caller, so both arms emit the same
    ``a < b`` orientation.  Over-cap bucket count logged via
    Observation; uncapped (``cap`` is None) keeps the pure clique
    expansion."""
    clique = (f"flatten(transform({member_col}, (x, i) -> "
              f"transform(slice({member_col}, i + 2, "
              f"size({member_col})), y -> "
              f"struct(x as {a}, y as {b}))))")
    if cap is None:
        expr = clique
    else:
        star = (f"transform(slice({member_col}, 2, "
                f"size({member_col}) - 1), y -> "
                f"struct(element_at({member_col}, 1) as {a}, "
                f"y as {b}))")
        expr = (f"CASE WHEN size({member_col}) <= {cap} "
                f"THEN {clique} ELSE {star} END")
        buckets = _observe_over_cap(buckets, member_col, cap, what)
    return (buckets.select(F.explode(F.expr(expr)).alias("p"))
            .select(f"p.{a}", f"p.{b}"))

# tokenize: lowercase, strip non-alphanumerics, split
_TOKENS = "filter(split(lower(regexp_replace({col}, '[^a-zA-Z0-9]+', ' ')), ' '), t -> t != '')"

#: md5-based 60-bit hash of a string expression (15 hex chars < 2^60),
#: reproducible in DuckDB as: ('0x' || substr(md5(s),1,15))::BIGINT
_H60 = "cast(conv(substr(md5({s}), 1, 15), 16, 10) as bigint)"

#: fast-path 60-bit hash: xxhash64 masked to non-negative 60 bits.
#: Native codegen (no hex round-trip) — the md5 form exists ONLY so
#: the DuckDB oracle can reproduce signatures bit-for-bit; production
#: runs at scale should pass fast_hash=True (hash QUALITY is
#: equivalent for MinHash; only the oracle equality breaks).
_H60_FAST = "(xxhash64({s}) & 1152921504606846975)"


def _h60(s: str, fast: bool = False) -> str:
    return (_H60_FAST if fast else _H60).format(s=s)


#: Catalyst's InferFiltersFromGenerate synthesizes size(generator)>0
#: filters and pushes them below projections, INLINING the whole
#: tokenize/shingle pipeline into the filter (O(n^2) re-tokenization
#: per row; measured 3-6x slowdown on every explode-based operator
#: here).  The generators in this module never benefit from the rule.
_BAD_RULE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def _tune(df: DataFrame) -> DataFrame:
    """Exclude InferFiltersFromGenerate for this session (the rule
    re-inlines the shingle generator into pushed filters — O(n²)
    re-evaluation).  DELIBERATELY sticky: the plan executes lazily
    after this function returns, so a set/restore scope would undo
    the exclusion before the query ever runs.  The engine's own
    ``init_db`` applies the same exclusion at session build."""
    conf = df.sparkSession.conf
    current = conf.get("spark.sql.optimizer.excludedRules", None)
    if not current:
        conf.set("spark.sql.optimizer.excludedRules", _BAD_RULE)
    elif _BAD_RULE not in current:
        conf.set("spark.sql.optimizer.excludedRules", f"{current},{_BAD_RULE}")
    return df


def tokens_expr(col: str):
    return F.expr(_TOKENS.format(col=col))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact text hash.  One hash-aggregate
    (map-side partial min), no window."""
    h = F.md5(F.col(text_col))
    return (df.select(h.alias("text_hash"), F.col(id_col))
              .groupBy("text_hash")
              .agg(F.min(id_col).alias("keep_id"),
                   F.count(F.lit(1)).alias("n_copies")))


def shingles_expr(col: str, n: int = 3, distinct: bool = True):
    """Word n-gram shingles as an array<string>.

    ``col`` should be a *materialized token-array column* (see
    :func:`with_shingles`) — embedding the tokenizer here would
    re-tokenize inside the per-shingle lambda, turning an O(len) pass
    into O(len^2) per document."""
    raw = (f"transform(sequence(0, greatest(size({col}) - {n}, 0)),"
           f" i -> concat_ws(' ', slice({col}, i + 1, {n})))")
    # a token-less doc (e.g. non-Latin text under the ASCII
    # tokenizer, or pure punctuation) must yield NO shingles — the
    # bare expression would emit [''] and every such doc would
    # minhash/Jaccard as an exact near-duplicate of every other,
    # silently destroying unrelated documents in cluster_near_dups
    guarded = (f"case when size({col}) = 0 "
               f"then array() else {raw} end")
    return F.expr(f"array_distinct({guarded})" if distinct
                  else guarded)


def with_shingles(df: DataFrame, text_col: str, out: str = "__sh",
                  n: int = 3, distinct: bool = True) -> DataFrame:
    """Two-step tokenize-then-shingle so each stage sees a column, not
    a recomputed expression."""
    toked = df.withColumn("__toks", tokens_expr(text_col))
    return toked.withColumn(out, shingles_expr("__toks", n, distinct)).drop("__toks")


def hashed_shingle_sets(df: DataFrame, text_col: str, id_col: str,
                        shingle_n: int = 3,
                        fast_hash: bool = False) -> DataFrame:
    """(id, hs array<long>) — the DISTINCT shingle set as 60-bit
    hashes, built by explode + collect_set (one codegen'd aggregate;
    dedup happens in the agg hash map, not via interpreted
    array_distinct).  All downstream set algebra (Jaccard) runs on
    longs — far cheaper to shuffle/cache than shingle strings, and
    identical up to md5 collisions (~(n^2)/2^60, negligible)."""
    sh = with_shingles(df, text_col, "__shraw", shingle_n, distinct=False)
    ex = sh.select(F.col(id_col), F.explode("__shraw").alias("s"))
    hashed = ex.select(id_col, F.expr(_h60("s", fast_hash)).alias("h"))
    return hashed.groupBy(id_col).agg(F.collect_set("h").alias("hs"))


#: Mersenne prime 2^31-1 for universal hashing
_P31 = 2147483647


def minhash_signature(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 32,
                      shingle_n: int = 3,
                      fast_hash: bool = False) -> DataFrame:
    """(id, signature array<long>, hs) — universal-hash MinHash:
    ONE md5 per shingle reduced to 31 bits, then K affine hashes
    h_k(x) = ((2k+1)·x + c_k) mod (2^31-1).

    Transport notes (see :func:`_minhash_base`): the md5 default runs
    as one Arrow ``mapInPandas`` pass (r14 — no explode, no exchange,
    hashlib md5 bit-identical to SQL ``md5()``); ``fast_hash=True``
    keeps the codegen explode + K-MIN-aggregate SQL pipeline.  The
    earlier finding still binds the SQL form: higher-order array
    lambdas are interpreted per element AND Catalyst's
    CollapseProject re-inlines the hashed array into every k-lambda
    (K x md5 recompute); explode + plain aggregates keeps everything
    in whole-stage codegen with map-side partial MIN."""
    return _minhash_base(df, text_col, id_col, num_hashes,
                         shingle_n, fast_hash)


def _minhash_base(df, text_col, id_col, num_hashes, shingle_n,
                  fast_hash) -> DataFrame:
    """The shared shingle→hash→K-MIN pipeline behind
    :func:`minhash_signature` and :func:`minhash_lsh_pairs` — ONE
    implementation so the hash family can never drift between the
    signature API and the LSH path.

    Two transports, same (id, signature, hs) values:

    - md5 (``fast_hash=False``, the DuckDB-reproducible default):
      ONE Arrow ``mapInPandas`` pass — tokenize, shingle, md5 via
      ``hashlib`` (bit-identical to Spark's ``md5()``), K affine
      minima and the distinct hash set all inside the document's own
      row.  No explode, no groupBy exchange (the SQL form shipped one
      partially-aggregated row per doc through an Exchange and paid
      an md5→hex→conv round-trip per shingle in codegen; the kernel
      measured 2.6x at sf0.1 and 7.8x at 500k docs,
      ``AB_MINHASH_KERNEL_r14.json``, outputs asserted bit-equal).
      ``hs`` comes back sorted ascending — a deterministic order
      where ``collect_set`` was partition-order-dependent; every
      consumer is set-algebraic (``array_intersect``/``array_union``).
    - xxhash64 (``fast_hash=True``): the original codegen explode +
      K-MIN-aggregate SQL pipeline (:func:`_minhash_base_sql`) —
      xxhash64 has no bit-identical Python counterpart here, and the
      hex round-trip the kernel exists to kill is absent from this
      path.
    """
    if fast_hash:
        return _minhash_base_sql(df, text_col, id_col, num_hashes,
                                 shingle_n, fast_hash)
    return _minhash_base_kernel(df, text_col, id_col, num_hashes,
                                shingle_n)


def _minhash_base_sql(df, text_col, id_col, num_hashes, shingle_n,
                      fast_hash) -> DataFrame:
    """The codegen explode + K-MIN-aggregate formulation (see
    :func:`_minhash_base` for when it runs).  Kept verbatim: it is
    the ``fast_hash`` transport and the differential pin the kernel
    is tested against."""
    sh = with_shingles(_tune(df), text_col, "__shraw", shingle_n, distinct=False)
    ex = sh.select(F.col(id_col), F.explode("__shraw").alias("s"))
    hashed = ex.select(id_col, F.expr(_h60("s", fast_hash)).alias("h"))
    aggs = [F.min(F.expr(
        f"pmod((2 * {k} + 1) * (h % {_P31}) + (12345 + {k} * 7919), {_P31})")).alias(f"__m{k}")
        for k in range(num_hashes)]
    aggs.append(F.collect_set("h").alias("hs"))
    return hashed.groupBy(id_col).agg(*aggs).select(
        F.col(id_col),
        F.array(*[F.col(f"__m{k}") for k in range(num_hashes)]).alias("signature"),
        F.col("hs"))


def _minhash_kernel_fn(text_col: str, id_col: str, num_hashes: int,
                       shingle_n: int):
    """Batch function for the Arrow md5-MinHash transport.  Per
    document: tokenize (same regex/lower/split/filter as ``_TOKENS``),
    shingle (same ``sequence``/``slice``/``concat_ws`` geometry as
    :func:`shingles_expr`, multiset), 60-bit md5 (first 15 hex chars
    == first 60 bits of the digest), then the K affine minima
    ``pmod((2k+1)·(h mod P31) + (12345 + k·7919), P31)`` — computed
    over the DISTINCT hash set (min over the set == min over the
    multiset, the streaming ``_signature_kernel`` argument).  Docs
    whose token list is empty emit nothing (``explode`` over an empty
    shingle array); NULL-text docs emit one md5("") hash — the SQL
    pipeline's exact (quirky) behavior, see the comment in the body.

    numpy shape notes (measured): one flat int64 buffer over the
    batch + ``minimum.reduceat`` per k beats the K×N matrix form 21x
    (smaller temporaries, one mod + conditional subtract instead of
    two mods — the affine sum is < P31 + 131130, one subtract
    suffices)."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    pat = re.compile("[^a-zA-Z0-9]+")
    md5 = hashlib.md5
    # NULL text in the SQL pipeline yields __toks = NULL, which slips
    # past the size(__toks) = 0 guard (greatest(NULL, 0) = 0 →
    # sequence → slice(NULL) → concat_ws → "") and emits exactly ONE
    # empty-string shingle — replicated verbatim (probed, test-pinned)
    null_hs = [int.from_bytes(md5(b"").digest()[:8], "big") >> 4]

    def fn(batches):
        for pdf in batches:
            ids, counts, hss = [], [], []
            for did, txt in zip(pdf[id_col].tolist(),
                                pdf[text_col].tolist()):
                if txt is None:
                    ids.append(did)
                    counts.append(1)
                    hss.append(list(null_hs))
                    continue
                toks = [t for t in
                        pat.sub(" ", txt).lower().split(" ") if t]
                if not toks:
                    continue
                m = len(toks) - shingle_n
                if m < 0:
                    m = 0
                hs = sorted({
                    int.from_bytes(
                        md5(" ".join(toks[i:i + shingle_n])
                            .encode()).digest()[:8], "big") >> 4
                    for i in range(m + 1)})
                ids.append(did)
                counts.append(len(hs))
                hss.append(hs)
            if not ids:
                continue
            flat = np.fromiter(
                (h for doc in hss for h in doc), dtype=np.int64,
                count=sum(counts))
            flat %= _P31
            offsets = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=offsets[1:])
            sig = np.empty((num_hashes, len(counts)), dtype=np.int64)
            buf = np.empty(len(flat), dtype=np.int64)
            for k in range(num_hashes):
                np.multiply(flat, int(2 * k + 1), out=buf)
                np.mod(buf, _P31, out=buf)
                np.add(buf, int(12345 + k * 7919), out=buf)
                np.subtract(buf, _P31, out=buf, where=buf >= _P31)
                sig[k] = np.minimum.reduceat(buf, offsets)
            yield pd.DataFrame({id_col: ids,
                                "signature": list(sig.T),
                                "hs": hss})

    return fn


def _spread(sel: DataFrame) -> DataFrame:
    """``sel`` re-spread to ``defaultParallelism`` partitions when it
    has fewer — the input of a map-side Arrow kernel, whose only
    parallelism is its input's.  The probe is ``rdd``'s partition
    count: free on a plain scan, but it runs Spark jobs eagerly on a
    shuffled (``groupBy``/``orderBy``) input."""
    par = sel.sparkSession.sparkContext.defaultParallelism
    if sel.rdd.getNumPartitions() < par:
        return sel.repartition(par)
    return sel


def _minhash_base_kernel(df, text_col, id_col, num_hashes,
                         shingle_n) -> DataFrame:
    """Arrow transport of :func:`_minhash_base` (md5 family only).
    Projects to exactly (id, text) before the opaque kernel (guide
    §4.1 — ``mapInPandas`` defeats column pruning otherwise).  A
    single- or few-file scan is re-spread to ``defaultParallelism``
    first: ALL of the kernel's work happens map-side, so scan
    parallelism is the only parallelism it gets (the SQL form had the
    same scan-side skew but hid it behind the aggregate's exchange);
    the repartition ships only (id, text) — the lightest possible
    proxy for this pipeline — and is skipped when the scan is already
    wide enough."""
    from pyspark.sql import types as T
    sel = _spread(df.select(id_col, text_col))
    id_field = [f for f in df.schema.fields if f.name == id_col][0]
    schema = T.StructType([
        id_field,
        T.StructField("signature", T.ArrayType(T.LongType())),
        T.StructField("hs", T.ArrayType(T.LongType()))])
    return sel.mapInPandas(
        _minhash_kernel_fn(text_col, id_col, num_hashes, shingle_n),
        schema)


def _banded(base: DataFrame, id_col: str, out_id: str,
            bands: int, rows: int) -> DataFrame:
    """(out_id, band, bh) band rows from a `_minhash_base` frame —
    ONE banding-key construction shared by every LSH path
    (:func:`minhash_lsh_pairs`, :func:`cross_dedup_pairs`): the band
    key format is also replayed literally by the DuckDB oracle, so a
    drifted copy would silently desynchronize the two engines."""
    return (base.select(
        F.col(id_col).alias(out_id),
        F.explode(F.expr(
            f"transform(sequence(0, {bands - 1}), b -> "
            f" struct(b as band, concat_ws(',', "
            f"slice(signature, b * {rows} + 1, {rows})) as bh))"
        )).alias("bb"))
        .select(out_id, "bb.band", "bb.bh"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 32,
                      bands: int = 8, shingle_n: int = 3,
                      threshold: float = 0.5,
                      bucket_cap: int | None = 2000,
                      fast_hash: bool = False) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    signature -> ``bands`` bands of ``num_hashes/bands`` rows; docs
    sharing any band signature become candidates; candidates are
    verified with exact shingle Jaccard at ``threshold``.
    Returns (id_a, id_b, jaccard).

    Execution shape (matters at scale):
    - the shingle/signature frame is persisted — every downstream
      branch would otherwise re-run the md5 pipeline (Spark re-executes
      shared subtrees per DAG branch);
    - candidate pairs come from a groupBy-(band,key) + within-bucket
      combination explode, NOT a self-join — one shuffle on bucket
      keys, no second copy of the corpus in flight;
    - band key = the band's signature values as a string — oracle-
      reproducible; re-hash it (xxhash64) to narrow the shuffle key at
      very large scale;
    - buckets larger than ``bucket_cap`` emit a representative STAR
      (O(B) candidate rows, logged — see :func:`_pairs_with_star_cap`)
      instead of the O(B^2) within-bucket explode that would pin one
      task on a degenerate boilerplate bucket; star candidates pass
      the same Jaccard verify, so an exact-copy flood keeps its
      connectivity for clustering at any size (r13 — previously the
      whole bucket dropped and the flood vanished from the pair
      set).  Pre-collapse exact dups to keep full pairwise recall.
    """
    if bands < 1 or num_hashes < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple "
            f"of bands ({bands}); bands > num_hashes would collapse "
            "every document into one empty-key bucket, and a "
            "non-divisible split silently discards signature rows")
    rows = num_hashes // bands
    # ONE aggregate (shared _minhash_base) produces both the K
    # minhash values (over h mod 2^31-1; min over the multiset ==
    # min over the set) and the distinct hashed-shingle set for the
    # exact-Jaccard verify.
    base = _minhash_base(df, text_col, id_col, num_hashes,
                         shingle_n, fast_hash)
    base = base.persist()
    _register_cache(base)
    banded = _banded(base, id_col, id_col, bands, rows)
    buckets = (banded.groupBy("band", "bh")
               .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
               .filter(F.size("ids") > 1))
    # clique-or-star in one pass (r13): over-cap boilerplate buckets
    # emit representative stars — candidates still pass the exact-
    # Jaccard verify below, and an exact-copy flood keeps jaccard
    # 1.0 rep->member edges, so clustering collapses it however
    # large it grows
    pairs = _pairs_with_star_cap(buckets, "ids", bucket_cap,
                                 "minhash_lsh_pairs").dropDuplicates()
    sha = base.select(F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a"))
    shb = base.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b"))
    jac = (F.size(F.array_intersect("hs_a", "hs_b"))
           / F.size(F.array_union("hs_a", "hs_b")))
    return (pairs.join(sha, "id_a").join(shb, "id_b")
            .select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def simhash_signature(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", bits: int = 60,
                      fast_hash: bool = False) -> DataFrame:
    """(id, sh) 60-bit SimHash of the token multiset (the underlying
    token hash is 60-bit, so bits above 59 would be constant zero —
    a "64-bit" signature here was 60 effective bits with 4 dead
    aggregates).

    Transports (the minhash :func:`_minhash_base` split, r14): the
    md5 default runs as ONE Arrow ``mapInPandas`` pass — tokenize,
    md5 per DISTINCT token weighted by its occurrence count, the
    ``bits`` majority votes and the bit-pack all inside the
    document's own row; no token explode, no id-keyed aggregate
    exchange (the kernel measured 2.7x at sf0.1 and 20.3x at 500k
    docs — the SQL form's 60 SUM(CASE) aggregates ran over every
    exploded token occurrence; ``AB_SIMHASH_KERNEL_r14.json``,
    signatures asserted bit-equal).  ``fast_hash=True`` keeps the codegen SQL pipeline
    (:func:`_simhash_signature_sql`) — explode tokens, ONE md5 per
    token, ``bits`` SUM(CASE) aggregates (map-side partials); the
    earlier finding still binds it: higher-order array lambdas are
    interpreted per-element and were ~10x slower than the explode
    form."""
    if fast_hash:
        return _simhash_signature_sql(df, text_col, id_col, bits,
                                      fast_hash)
    return _simhash_signature_kernel(df, text_col, id_col, bits)


def _simhash_signature_sql(df: DataFrame, text_col: str,
                           id_col: str, bits: int,
                           fast_hash: bool) -> DataFrame:
    """The codegen explode + SUM(CASE) formulation (see
    :func:`simhash_signature` for when it runs).  Kept verbatim: it
    is the ``fast_hash`` transport and the differential pin the
    kernel is tested against."""
    th = _h60("t", fast_hash)
    tok = _tune(df).select(F.col(id_col),
                           F.explode(tokens_expr(text_col)).alias("t"))
    tok = tok.select(id_col, F.expr(th).alias("h"))
    sums = tok.groupBy(id_col).agg(*[
        F.sum(F.expr(f"case when (shiftright(h, {b}) & 1) = 1 then 1 else -1 end")).alias(f"s{b}")
        for b in range(bits)])
    packed = " + ".join(
        f"(case when s{b} > 0 then shiftleft(cast(1 as bigint), {b}) else cast(0 as bigint) end)"
        for b in range(bits))
    return sums.select(id_col, F.expr(packed).alias("sh"))


def _simhash_kernel_fn(text_col: str, id_col: str, bits: int):
    """Batch function for the Arrow md5-SimHash transport.  Per
    document: tokenize (same regex/lower/split/filter as ``_TOKENS``),
    60-bit md5 per DISTINCT token with its multiset count as the vote
    weight (Σ cnt·(2·bit−1) == the per-occurrence SUM(CASE) — fewer
    md5 calls, identical integer sums), then bit b of ``sh`` is set
    iff the weighted vote is positive (2·Σ cnt·bit_b > Σ cnt).
    Tokenless and NULL-text docs emit nothing — ``explode`` over an
    empty/NULL token array (no shingle-style CASE guard on this
    path, so NULL drops here, unlike the minhash kernel)."""
    import hashlib
    import re
    from collections import Counter

    import numpy as np
    import pandas as pd

    pat = re.compile("[^a-zA-Z0-9]+")
    md5 = hashlib.md5

    def fn(batches):
        for pdf in batches:
            ids, counts, ntoks, flat_h, flat_w = [], [], [], [], []
            for did, txt in zip(pdf[id_col].tolist(),
                                pdf[text_col].tolist()):
                if txt is None:
                    continue
                toks = [t for t in
                        pat.sub(" ", txt).lower().split(" ") if t]
                if not toks:
                    continue
                cnt = Counter(toks)
                ids.append(did)
                counts.append(len(cnt))
                ntoks.append(len(toks))
                for t, c in cnt.items():
                    flat_h.append(int.from_bytes(
                        md5(t.encode()).digest()[:8], "big") >> 4)
                    flat_w.append(c)
            if not ids:
                continue
            flat = np.asarray(flat_h, dtype=np.int64)
            w = np.asarray(flat_w, dtype=np.int64)
            n_tok = np.asarray(ntoks, dtype=np.int64)
            offsets = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=offsets[1:])
            sh = np.zeros(len(counts), dtype=np.int64)
            buf = np.empty(len(flat), dtype=np.int64)
            for b in range(bits):
                np.right_shift(flat, b, out=buf)
                np.bitwise_and(buf, 1, out=buf)
                np.multiply(buf, w, out=buf)
                wb = np.add.reduceat(buf, offsets)
                sh |= (2 * wb > n_tok).astype(np.int64) << b
            yield pd.DataFrame({id_col: ids, "sh": sh})

    return fn


def _simhash_signature_kernel(df, text_col, id_col, bits) -> DataFrame:
    """Arrow transport of :func:`simhash_signature` (md5 family
    only).  Same boundary discipline as :func:`_minhash_base_kernel`:
    narrow (id, text) projection before the opaque kernel, and a
    single-/few-file scan re-spread to ``defaultParallelism`` first
    (all kernel work is map-side)."""
    from pyspark.sql import types as T
    sel = _spread(df.select(id_col, text_col))
    id_field = [f for f in df.schema.fields if f.name == id_col][0]
    schema = T.StructType([id_field,
                           T.StructField("sh", T.LongType())])
    return sel.mapInPandas(
        _simhash_kernel_fn(text_col, id_col, bits), schema)


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  bucket_cap: int | None = 2000,
                  fast_hash: bool = False) -> DataFrame:
    """Near-dup pairs by SimHash: band the 60-bit signature into 4
    15-bit chunks (pigeonhole: hamming<=3 -> >=1 chunk equal), join on
    chunk equality, verify with bit_count(a XOR b).  Chunk buckets
    larger than ``bucket_cap`` are dropped with a logged count
    (:func:`_cap_buckets`) — degenerate boilerplate protection.

    r12 rewrite — pair at the SIGNATURE level, expand to ids at the
    end.  Web-scale corpora are full of exact duplicates, and exact
    copies share the whole 60-bit signature, so the pigeonhole join
    only needs one representative per distinct signature: the
    bucket/combination/verify work drops from O(docs) to O(distinct
    signatures) (the exact-copy sf10 fixture: 100 copies per doc =
    10^4x less pairing work), identical-signature pairs regenerate
    locally from the per-signature id lists (hamming 0 by identity),
    and cross-signature pairs expand through two joins on the
    signature key AFTER the hamming filter, so the only pair-sized
    exchange left carries TRUE pairs.  The dedup exchange also
    shrank: a signature pair surfacing in k chunks dedups on the
    (sig_a, sig_b) key before expansion.  Value-identical to the
    per-doc formulation off the cap; ``bucket_cap`` binds at TWO
    boilerplate sites, both logged and both STAR-preserving (r13;
    VERDICT r12 #4 — previously the flood dropped whole, with a log
    line instead of pairs):

    - an identical-signature group larger than the cap emits
      representative→member pairs (hamming 0, O(B) rows — a star
      spans the same connected component as the clique, so
      :func:`cluster_near_dups` still collapses the flood at any
      size) and joins the cross-signature stage through its
      representative id only (O(1) per flood instead of
      O(B × neighbor group));
    - a chunk bucket holding more than ``bucket_cap`` DISTINCT
      signatures emits representative→member signature candidates
      (O(B)) instead of the O(B²) combination explode; they pass
      the same hamming verify as clique candidates."""
    sig = simhash_signature(df, text_col, id_col,
                            fast_hash=fast_hash)
    groups = (sig.groupBy("sh")
              .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
              .persist())
    _register_cache(groups)
    # identical-signature pairs: hamming 0 by identity, generated
    # locally per group (no join, no shuffle beyond the sig agg);
    # over-cap exact-copy floods emit representative stars (r13 —
    # O(B) rows, connectivity preserved at any flood size)
    within = (_pairs_with_star_cap(groups, "ids", bucket_cap,
                                   "simhash_pairs exact-copy group")
              .select("id_a", "id_b",
                      F.lit(0).cast("int").alias("hamming")))
    if bucket_cap is not None:
        # a flood still takes part in cross-signature pairing,
        # through its representative id only (ids truncated to
        # [rep]: O(1) per flood instead of O(B x neighbor group))
        groups = groups.select(
            "sh",
            F.when(F.size("ids") <= bucket_cap, F.col("ids"))
            .otherwise(F.slice("ids", 1, 1)).alias("ids"))
    # 4 chunks x 15 bits cover the full 60-bit signature: a 16-bit
    # chunking left chunk 3 with only 12 effective bits (16x larger
    # buckets than designed — inflated false candidates + cap drops)
    chunked = groups.select(
        "sh",
        F.explode(F.expr(
            "transform(sequence(0, 3), c -> "
            "struct(c as chunk, (shiftright(sh, c * 15) & 32767) as ch))"
        )).alias("cc")).select("sh", "cc.chunk", "cc.ch")
    # bucket-local combinations instead of a self-join: one shuffle
    # on (chunk, ch); buckets hold bare signatures (the key IS the
    # payload — no struct, no id list riding along)
    buckets = (chunked.groupBy("chunk", "ch")
               .agg(F.array_sort(F.collect_list("sh")).alias("ms"))
               .filter(F.size("ms") > 1))
    # clique-or-star in one pass: an over-cap chunk bucket emits
    # O(B) representative-signature candidates, which the hamming
    # verify below prunes exactly like clique candidates
    rep = _pairs_with_star_cap(buckets, "ms", bucket_cap,
                               "simhash_pairs", a="sh_a", b="sh_b")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # verify BEFORE the dedup exchange: false candidates die locally,
    # so the dropDuplicates shuffle carries true signature pairs only
    rep = (rep.select("sh_a", "sh_b", ham.alias("hamming"))
           .filter(F.col("hamming") <= max_hamming)
           .dropDuplicates(["sh_a", "sh_b"]))
    cross = (rep
             .join(groups.select(F.col("sh").alias("sh_a"),
                                 F.col("ids").alias("ids_a")), "sh_a")
             .join(groups.select(F.col("sh").alias("sh_b"),
                                 F.col("ids").alias("ids_b")), "sh_b")
             .select(F.explode("ids_a").alias("a"), "ids_b", "hamming")
             .select("a", F.explode("ids_b").alias("b"), "hamming")
             .select(F.least("a", "b").alias("id_a"),
                     F.greatest("a", "b").alias("id_b"),
                     F.col("hamming").cast("int").alias("hamming")))
    return within.unionAll(cross)


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard for all pairs sharing at least one shingle.

    Explode shingles -> inner self-join on shingle (the shuffle is on
    shingle values, not the cross product) -> per-pair intersection
    count -> Jaccard against per-doc set sizes."""
    sh = hashed_shingle_sets(_tune(df), text_col, id_col, n).persist()
    _register_cache(sh)
    sizes = sh.select(id_col, F.size("hs").alias("sz"))
    ex = sh.select(id_col, F.explode("hs").alias("g"))
    l, r = ex.alias("l"), ex.alias("r")
    inter = (l.join(r, (F.col("l.g") == F.col("r.g"))
                    & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .groupBy(F.col(f"l.{id_col}").alias("id_a"),
                      F.col(f"r.{id_col}").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("n_inter")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    # no forced broadcast: the size tables are one row PER DOCUMENT
    # (corpus-sized at 100 TB — a forced broadcast would OOM the
    # driver); AQE broadcasts them at runtime when they are actually
    # small, and the shuffle join on the id keys is safe otherwise
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


# r13 batch 5: below this many DIRECTED edge rows (the symmetric
# doubled form — i.e. floor/2 undirected pairs) connected_components
# collects the edge list and solves exactly on the driver instead of
# running the distributed propagation loop.  Same bounded-small-side
# principle as a broadcast join (Spark collects ≤ the broadcast
# threshold to the driver on every BHJ build): 500k two-id rows is
# tens of MB of driver memory and a few hundred ms of union-find,
# while each distributed loop ROUND costs a join + aggregate +
# checkpoint no matter how tiny the graph is — 2.6-3.5 s of pure
# fixed overhead on the sf0.1 bench graphs (AB_CC_DRIVER_r13.json).
# Large graphs take the distributed loop unchanged.
_CC_DRIVER_EDGE_FLOOR = 500_000


#: byte budget for the driver-solve label frame's broadcast HINT
#: (ADVICE r13): the edge-row floor bounds ROWS, not bytes — wide
#: string ids could push the label frame to hundreds of MB, and a
#: broadcast hint bypasses autoBroadcastJoinThreshold.  Above this
#: estimate the frame returns unhinted and AQE decides.
_CC_BROADCAST_BYTE_CAP = 64 << 20


def _cc_driver_union_find(edges: DataFrame, n_edges: int):
    """Exact driver-side CC over a bounded, already-counted edge
    frame: union-find keeping the MIN id as each set's root, so the
    labeling (component = min reachable id) is identical to the
    distributed loop's least fixpoint.  Id order agrees across
    engines: Python compares ints like Spark's least(), and for
    strings UTF-8 byte order (Spark) equals code-point order
    (Python) because UTF-8 is order-preserving.

    Returns ``None`` when the bounded collect itself fails (ADVICE
    r13: the row floor does not bound BYTES — wide string ids just
    under the floor can trip spark.driver.maxResultSize) — the
    caller then falls through to the distributed loop, which handles
    any size."""
    try:
        rows = edges.collect()
    except Exception as exc:  # noqa: BLE001 — deliberate fallback
        print(f"[pandas_alchemy_spark] connected_components: bounded "
              f"edge collect failed ({str(exc)[:160]}); falling back "
              f"to the distributed loop", file=sys.stderr)
        return None
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[0], r[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if ra < rb:                      # min id stays the root
            parent[rb] = ra
        else:
            parent[ra] = rb
    labels = [(v, find(v)) for v in parent]
    print(f"[pandas_alchemy_spark] connected_components: {n_edges} "
          f"edge row(s) <= driver floor {_CC_DRIVER_EDGE_FLOOR}; "
          f"exact union-find on the driver ({len(parent)} vertices)",
          file=sys.stderr)
    from pyspark.sql import types as T
    idt = edges.schema["a"].dataType
    schema = T.StructType([T.StructField("id", idt, True),
                           T.StructField("component", idt, True)])
    out = edges.sparkSession.createDataFrame(labels, schema)
    # broadcast into the callers' label joins (ids ⋈ component): a
    # createDataFrame relation plans as ExistingRDD whose size
    # statistic defaults to "huge", so without the hint the full
    # corpus id set pays a sort-merge exchange against a frame we
    # just built ON the driver.  The hint is BYTE-gated (ADVICE r13):
    # the labels are already in driver memory, so the estimate is
    # exact-order (UTF-8 ≈ chars for these ids; 2 cells/row + struct
    # overhead), and a wide-string-id frame past the cap returns
    # unhinted for AQE to place.
    if labels and isinstance(labels[0][0], str):
        est = sum(len(v) + len(c) for v, c in labels) + 32 * len(labels)
    else:
        est = 48 * len(labels)
    if est > _CC_BROADCAST_BYTE_CAP:
        print(f"[pandas_alchemy_spark] connected_components: label "
              f"frame ~{est >> 20} MB exceeds the broadcast-hint cap "
              f"({_CC_BROADCAST_BYTE_CAP >> 20} MB); returning "
              f"unhinted", file=sys.stderr)
        return out
    return F.broadcast(out)


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         max_iters: int = 20,
                         on_nonconverged: str = "raise") -> DataFrame:
    """Connected components over a pair graph (near-dup clustering):
    iterative min-label propagation — each vertex repeatedly adopts
    the smallest component id among itself, its neighbors, and (r13
    pointer-jump shortcut) its current label's own label, until a
    fixed point.

    Converges in O(diameter) propagation rounds, roughly halved by
    the shortcut (near-dup graphs are shallow:
    cliques and short chains, typically <5).  Each round is one
    edge-join + one min-aggregate — all shuffles on the vertex id, no
    driver-side graph state; convergence is checked with a count of
    changed labels (a scalar per round).  This is the standard
    large-graph CC recipe (GraphX/Pregel formulation) expressed in
    plain DataFrame ops.

    Graphs at or below ``_CC_DRIVER_EDGE_FLOOR`` directed edge rows
    (r13) never enter the loop: the bounded edge list is collected
    and solved exactly on the driver (union-find, min-id roots) —
    the same small-side-collect principle as a broadcast join, with
    identical labels by construction.  ``max_iters`` and
    ``on_nonconverged`` apply to the distributed loop only; the
    driver solve cannot fail to converge.

    ``max_iters`` is a HARD budget: at extreme scale a pathological
    chain (diameter > budget) would otherwise turn into a silently
    slow loop — instead the loop stops and, per ``on_nonconverged``,
    RAISES (default) or warns with partially-propagated labels.  The
    converged-in-N count is logged to stderr either way so the bench
    log shows the iteration behavior at every scale.

    Returns (id, component) where component = min vertex id reachable.
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(
            f"on_nonconverged must be 'raise' or 'warn', "
            f"got {on_nonconverged!r}")
    edges = (pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
             .union(pairs.select(F.col(dst).alias("a"),
                                 F.col(src).alias("b"))))
    # persist, partitioned on the join key (r13): the (possibly
    # expensive) pair lineage runs once into the cache, and the
    # cached blocks arrive at every round's neighbor join already
    # hash-partitioned by `b` so no round re-exchanges the edge set
    # — the largest frame in the loop.  The old eager localCheckpoint
    # also ran the lineage once but reported UnknownPartitioning
    # (plans/r13/semdedup_before.txt shows the UnknownPartitioning(0)
    # scan), so every round paid an edge-sized Exchange on top.
    edges = (edges.filter(F.col("a") != F.col("b")).distinct()
             .repartition(F.col("b")).persist())
    from .similarity import _register_cache
    _register_cache(edges)
    # size gate (r13 batch 5): the count materializes the edge cache
    # — work the round-1 init aggregate below would have paid anyway,
    # so the large-graph path's only extra cost is one in-memory
    # scan.  Small graphs skip the loop entirely: collect the bounded
    # edge list and solve exactly on the driver (see
    # _CC_DRIVER_EDGE_FLOOR).  max_iters / on_nonconverged guard the
    # DISTRIBUTED loop's round budget; the driver solve is exact and
    # never hits a budget.
    n_edges = edges.count()
    if n_edges <= _CC_DRIVER_EDGE_FLOOR:
        out = _cc_driver_union_find(edges, n_edges)
        if out is not None:
            edges.unpersist()
            return out
        # bounded collect failed (bytes, not rows — ADVICE r13):
        # continue into the distributed loop below
    # initialize labels at the ROUND-1 state directly (r13): the
    # vertex set used to come from a distinct() — the same-priced
    # aggregate keyed the same way also yields each vertex's direct
    # neighbor min, which is exactly what one propagation round over
    # the identity labeling computes.  One full loop round (join +
    # agg + join) disappears for free.
    labels = (edges.groupBy("a")
              .agg(F.least(F.col("a"), F.min("b")).alias("comp"))
              .select(F.col("a").alias("id"), "comp"))
    converged_in = None
    changed = None
    for i in range(max_iters):
        # neighbor labels: for each edge a->b, b's current component
        nbr = (edges.join(labels.withColumnRenamed("id", "b")
                          .withColumnRenamed("comp", "nbr_comp"), "b")
               .groupBy("a").agg(F.min("nbr_comp").alias("min_nbr")))
        # LAZY localCheckpoint + count in ONE action per round (r13;
        # previously an EAGER checkpoint job AND a count job — 2
        # jobs/round): the convergence count materializes the
        # checkpoint blocks as a side effect.  The checkpoint (not a
        # bare persist) is load-bearing: labels feeds each round
        # TWICE (the join and the neighbor aggregate), so without
        # per-round lineage truncation the logical plan doubles per
        # iteration — 2^rounds nodes; the AQE plan-string alone
        # OOMed the driver at round ~10 when this was tried with
        # persist() only.
        stepped = (labels.withColumnRenamed("comp", "old_comp")
                   .join(nbr, labels["id"] == nbr["a"], "left")
                   .select(F.col("id"), F.col("old_comp"),
                           F.least("old_comp", "min_nbr").alias("comp")))
        # pointer-jump shortcut (r13; guide §1.2 "fewer passes"):
        # additionally adopt the component of the CURRENT label's
        # vertex — comp := least(comp, comp[comp]) against the
        # round-start label map.  Labels only ever hold ids of
        # reachable vertices, and reachability is transitive, so the
        # invariant (and the unique least fixpoint = min reachable
        # id) is unchanged; a long chain propagates ~2 hops per
        # round instead of 1.  Measured on the sf0.1 semdedup pair
        # graph: 8 -> 7 rounds and 5.37 -> 3.77 s (min-of-3,
        # identical labels); the parent map is one more n-row
        # consumer of the checkpointed round-start labels.
        #
        # GATED to the deep-graph case (i >= 1): near-dup graphs at
        # scale are overwhelmingly shallow cliques — the doc-scale
        # artifacts converge in 2 total rounds (init + 1 loop round)
        # — and for them a vertex-set-sized extra join per round is
        # pure overhead, with a skew hazard on the comp key (every
        # member of a flood component shares one comp value).  A
        # graph still unconverged after the init round plus one full
        # propagation round has real chains, and only then does the
        # shortcut engage.
        if i >= 1:
            parent = labels.select(F.col("id").alias("comp"),
                                   F.col("comp").alias("__pcomp"))
            stepped = (stepped.join(parent, "comp", "left")
                       .select("id", "old_comp",
                               F.least("comp", "__pcomp").alias("comp")))
        new_labels = stepped.localCheckpoint(eager=False)
        changed = new_labels.filter(
            F.col("comp") != F.col("old_comp")).count()
        labels = new_labels.drop("old_comp")
        if changed == 0:
            converged_in = i + 1
            break
    if converged_in is None:
        msg = (f"connected_components did not converge within "
               f"max_iters={max_iters} ({changed} labels still "
               "changing); the component diameter exceeds the "
               "iteration budget — raise max_iters or inspect the "
               "pair graph for pathological chains")
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings
        warnings.warn(msg, RuntimeWarning)
    else:
        print(f"[pandas_alchemy_spark] connected_components: converged "
              f"in {converged_in}/{max_iters} round(s)", file=sys.stderr)
    return labels.select(F.col("id"), F.col("comp").alias("component"))


def cluster_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.6,
                      num_hashes: int = 64, bands: int = 16,
                      bucket_cap: int | None = 2000,
                      max_iters: int = 20,
                      on_nonconverged: str = "raise") -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH candidate pairs ->
    Jaccard verify at ``threshold`` -> connected components.  Returns
    (id, component, keep) where keep marks the component
    representative (min id) — filter keep to deduplicate the corpus
    transitively (A~B~C collapse to one doc even when A!~C)."""
    pairs = minhash_lsh_pairs(df, text_col=text_col, id_col=id_col,
                              num_hashes=num_hashes, bands=bands,
                              threshold=threshold, bucket_cap=bucket_cap)
    comp = connected_components(pairs, src="id_a", dst="id_b",
                                max_iters=max_iters,
                                on_nonconverged=on_nonconverged)
    ids = df.select(F.col(id_col).alias("id"))
    all_labels = (ids.join(comp, "id", "left")
                  .select("id", F.coalesce("component", F.col("id"))
                          .alias("component")))
    return all_labels.withColumn(
        "keep", F.col("id") == F.col("component"))


def dedup_paragraphs(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", sep: str = "\n\n",
                     min_chars: int = 1) -> DataFrame:
    """Corpus-level EXACT paragraph dedup (the C4/RefinedWeb recipe):
    each distinct paragraph survives only in the document where it
    first appears (smallest id, then earliest position) and is
    dropped everywhere else; documents are reassembled preserving
    their remaining paragraphs' order.  Paragraphs shorter than
    ``min_chars`` are exempt (boilerplate fragments like headers
    would otherwise vanish from all but one document).

    Scale shape: posexplode (in-stage generator, no shuffle) →
    row_number over a window partitioned by the PARAGRAPH (one
    shuffle, hash-distributed on content — the corpus-wide dedup
    decision is per-paragraph-local) → re-aggregate per document
    (second shuffle).  No self-joins, no driver materialization; the
    widest state is one paragraph's occurrence list on one reducer.

    Returns (id_col, text_deduped, n_paras, n_kept)."""
    from pyspark.sql import Window

    # \Q..\E quotes the separator: F.split takes a JAVA REGEX, so a
    # metacharacter separator ('|', '...') would otherwise shatter
    # the text per character while concat_ws reassembles literally
    parts = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col),
                             "\\Q" + sep + "\\E"))
        .alias("__pos", "__para"))
    # exempt (short) paragraphs skip the content window entirely:
    # running row_number over them anyway would concentrate every
    # blank/boilerplate fragment in the corpus onto single reducers
    # (the empty-paragraph partition is the classic skew key)
    exempt = F.length("__para") < min_chars
    w = Window.partitionBy("__para").orderBy(id_col, "__pos")
    dedupable = (parts.filter(~exempt).withColumn(
        "__keep", F.row_number().over(w) == 1))
    marked = dedupable.unionByName(
        parts.filter(exempt).withColumn("__keep", F.lit(True)))
    kept = (marked.filter(F.col("__keep"))
            .groupBy(id_col)
            .agg(F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("__pos", "__para"))),
                    lambda s: s["__para"])).alias("text_deduped"),
                F.count(F.lit(1)).alias("n_kept")))
    totals = parts.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paras"))
    return (totals.join(kept, id_col, "left")
            .select(id_col,
                    F.coalesce("text_deduped", F.lit(""))
                    .alias("text_deduped"),
                    "n_paras",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept")))


def decontaminate(df: DataFrame, eval_df: DataFrame, n: int = 8,
                  text_col: str = "text", id_col: str = "doc_id",
                  mode: str = "mark", min_hits: int = 1,
                  fast_hash: bool = False) -> DataFrame:
    """Benchmark decontamination: find training documents that share
    any word ``n``-gram with an EVALUATION set (the GPT-3 appendix-C
    recipe, 13-gram collision; Dolma/FineWeb use 8-32).  Removing them
    prevents eval answers from leaking into training data.

    Plan shape (100 TB design): the eval side reduces to its DISTINCT
    n-gram hashes — benchmarks are tiny next to a training corpus, so
    that side BROADCASTS; the training side explodes its shingles ONCE
    and inner-joins the broadcast (no shuffle of the corpus into the
    join), then one hash-aggregate counts distinct colliding grams per
    doc — the only shuffles are over the COLLIDING subset (the hit
    aggregate and the final mark join, which AQE broadcasts when the
    hit set is small).  No self-join; cost is one corpus scan +
    explode.

    ``mode='mark'`` returns every input row plus ``n_contam_ngrams``
    (0 for clean docs); ``mode='drop'`` filters out docs with >=
    ``min_hits`` colliding n-grams.  60-bit md5 shingle hashes keep
    the broadcast compact and the oracle reproducible
    (``fast_hash=True`` switches to xxhash64 for production runs)."""
    if mode not in ("mark", "drop"):
        raise ValueError(f"mode must be 'mark' or 'drop', got {mode!r}")
    if not isinstance(n, int) or n < 1:
        raise ValueError(f"n must be a positive integer, got {n!r}")
    if not isinstance(min_hits, int) or min_hits < 1:
        # min_hits=0 would make the drop filter `count < 0` and
        # silently delete the ENTIRE corpus
        raise ValueError(
            f"min_hits must be a positive integer, got {min_hits!r}")
    if "n_contam_ngrams" in df.columns:
        # idempotent re-mark: replace a stale count instead of
        # producing an ambiguous duplicate column in the join below
        df = df.drop("n_contam_ngrams")
    ev = with_shingles(_tune(eval_df), text_col, "__sh", n,
                       distinct=False)
    ev_grams = (ev.select(F.explode("__sh").alias("s"))
                .select(F.expr(_h60("s", fast_hash)).alias("g"))
                .distinct())
    tr = with_shingles(_tune(df), text_col, "__sh", n, distinct=False)
    ex = (tr.select(F.col(id_col), F.explode("__sh").alias("s"))
          .select(id_col, F.expr(_h60("s", fast_hash)).alias("g")))
    hits = (ex.join(F.broadcast(ev_grams), "g")
            .groupBy(id_col)
            .agg(F.countDistinct("g").alias("n_contam_ngrams")))
    marked = (df.join(hits, id_col, "left")
              .withColumn("n_contam_ngrams",
                          F.coalesce("n_contam_ngrams", F.lit(0))))
    if mode == "mark":
        return marked
    return (marked.filter(F.col("n_contam_ngrams") < min_hits)
            .drop("n_contam_ngrams"))


def cross_dedup_pairs(new: DataFrame, reference: DataFrame | None = None,
                      text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 32, bands: int = 8,
                      shingle_n: int = 3, threshold: float = 0.5,
                      bucket_cap: int | None = 2000,
                      fast_hash: bool = False,
                      index=None) -> DataFrame:
    """Near-duplicate pairs ACROSS two corpora — the incremental-
    ingestion shape :func:`minhash_lsh_pairs` cannot express without
    waste: a new crawl arrives and must be deduplicated against the
    training set you already have, without re-pairing the existing
    corpus against itself (its internal pairs are already resolved,
    and at 100 TB re-deriving them dominates the whole job).

    Both sides run the SAME shared ``_minhash_base`` pipeline (one
    hash family — a drifted family would silently zero the recall),
    band identically, and candidates come from an inner JOIN of the
    new side's band rows against the reference side's band BUCKETS
    (grouped ids, ``bucket_cap``-capped with a logged drop like every
    LSH path here).  Only cross pairs exist by construction — the
    join's two inputs are distinct corpora — so the shuffle carries
    band keys and ids, never a second copy of either corpus, and the
    reference side's internal O(B^2) pair explosion never happens.
    Candidates are verified with exact shingle Jaccard.

    Returns ``(id_new, id_ref, jaccard)`` with ``jaccard >=
    threshold``.  Ids may collide across corpora (they are different
    tables); the output columns keep the sides apart.

    ``index=`` takes a prebuilt :class:`ReferenceIndex` instead of
    ``reference`` (build-once-query-many — the reference side's
    signatures/buckets are static across incremental sweeps, so
    re-deriving them per sweep is pure waste at 100 TB).  The hash
    family then comes FROM the index; this function's
    ``num_hashes``/``bands``/``shingle_n``/``fast_hash``/
    ``bucket_cap`` are ignored, and the output is identical to the
    inline path with the same parameters (test-pinned).
    """
    if (reference is None) == (index is None):
        raise ValueError(
            "pass exactly one of reference= (raw corpus) or index= "
            "(a prebuilt ReferenceIndex)")
    if index is not None:
        # the index's hash family is authoritative (a mismatched
        # family on the new side would silently zero recall)
        num_hashes = index.num_hashes
        bands = index.bands
        shingle_n = index.shingle_n
        fast_hash = index.fast_hash
        ref_buckets = index.ref_buckets
        shb = index.ref_sets.select("id_ref", F.col("hs_r"))
    elif bands < 1 or num_hashes < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple "
            f"of bands ({bands})")
    rows = num_hashes // bands
    bn = _minhash_base(new, text_col, id_col, num_hashes,
                       shingle_n, fast_hash).persist()
    _register_cache(bn)
    if index is None:
        br = _minhash_base(reference, text_col, id_col, num_hashes,
                           shingle_n, fast_hash).persist()
        _register_cache(br)
        ref_buckets = (_banded(br, id_col, "id_ref", bands, rows)
                       .groupBy("band", "bh")
                       .agg(F.array_sort(F.collect_list("id_ref"))
                            .alias("ids")))
        ref_buckets = _cap_buckets(ref_buckets, "ids", bucket_cap,
                                   "cross_dedup_pairs")
        shb = br.select(F.col(id_col).alias("id_ref"),
                        F.col("hs").alias("hs_r"))
    cand = (_banded(bn, id_col, "id_new", bands, rows)
            .join(ref_buckets, ["band", "bh"])
            .select("id_new", F.explode("ids").alias("id_ref"))
            .dropDuplicates())
    sha = bn.select(F.col(id_col).alias("id_new"),
                    F.col("hs").alias("hs_n"))
    jac = (F.size(F.array_intersect("hs_n", "hs_r"))
           / F.size(F.array_union("hs_n", "hs_r")))
    return (cand.join(sha, "id_new").join(shb, "id_ref")
            .select("id_new", "id_ref", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def duplicate_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 16,
                    fast_hash: bool = False) -> DataFrame:
    """Repeated-passage (exact-substring) duplicate spans — the
    within/across-document span dedup of Lee et al. 2022
    (arXiv:2107.06499, ExactSubstr), re-expressed over hashed rolling
    token windows instead of a suffix array: every ``n``-token window
    is 60-bit-hashed; a window whose hash occurs MORE than once
    corpus-wide marks a duplicated region; every occurrence except
    the global first (smallest ``(id, pos)``) becomes part of a span,
    and overlapping/adjacent window hits merge into MAXIMAL spans.

    Paragraph dedup (:func:`dedup_paragraphs`) misses repeated
    passages that don't align to paragraph boundaries; this operator
    is boundary-free at the cost of ``n``-token resolution (a
    repeated region shorter than ``n`` tokens is invisible — the
    paper's threshold is 50 BPE tokens).

    Plan shape at 100 TB: the window frame is ~one row per corpus
    token but NARROW (hash, id, pos); duplicate detection is one
    hash-aggregate with map-side partial count/min — hot keys (a
    boilerplate window repeated millions of times) collapse in the
    partial aggregate, so there is no skewed sort (an earlier window-
    function formulation would put every occurrence of one hash on
    one reducer).  The join back carries only duplicated hashes;
    span merging is a per-document window (bounded by document
    length).  No self-joins, no driver state.

    Returns ``(id_col, span_start, span_end, n_windows)`` with
    token-index spans ``[span_start, span_end)`` over the module
    tokenizer's token stream, ordered ties broken deterministically.
    """
    from pyspark.sql import Window
    if not isinstance(n, int) or n < 2:
        raise ValueError(f"n must be an int >= 2, got {n!r}")
    _tune(df)
    toked = df.select(F.col(id_col), tokens_expr(text_col).alias("__tk"))
    # short docs are guarded INSIDE the expression, not by a filter on
    # size(__tk): PushDownPredicate inlines a derived-column predicate
    # below the projection, re-tokenizing every row inside the Filter
    # — the exact pattern the r8 plan audit removed from
    # chunk_documents/bigram_logprob (ADVICE r8).  The guard itself is
    # required: sequence(0, size-n) DESCENDS when size < n.  An empty
    # window array posexplodes to no rows — same result, one
    # tokenization.
    win = toked.select(
        id_col,
        F.posexplode(F.expr(
            f"case when size(__tk) < {n} then array() else "
            f"transform(sequence(0, size(__tk) - {n}), "
            f"i -> concat_ws(' ', slice(__tk, i + 1, {n}))) end"))
        .alias("pos", "w"))
    # hashed feeds BOTH the occurrence aggregate and the join probe
    # below; without a persist the tokenize+explode+hash pipeline (the
    # expensive corpus pass) executes twice.  The frame is narrow
    # (id, pos, 60-bit hash — no window text), so caching it costs a
    # token-count-sized spill at worst while halving the corpus passes
    # (guide §1.2 step 1: don't recompute what you already computed).
    hashed = win.select(id_col, "pos",
                        F.expr(_h60("w", fast_hash)).alias("h")).persist()
    _register_cache(hashed)
    # duplicate hashes + their global first occurrence: ONE partial-
    # aggregatable groupBy (count + min-struct), skew-proof
    occ = (hashed.groupBy("h")
           .agg(F.count(F.lit(1)).alias("__cnt"),
                F.min(F.struct(F.col(id_col).alias("i"),
                               F.col("pos").alias("p"))).alias("__f"))
           .filter(F.col("__cnt") >= 2))
    dup = (hashed.join(occ, "h")
           .filter(~((F.col(id_col) == F.col("__f.i"))
                     & (F.col("pos") == F.col("__f.p"))))
           .select(id_col, "pos"))
    # gaps-and-islands: merge window hits whose [pos, pos+n) overlap
    # or touch into one maximal span per island
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w_doc).isNull()
        | (F.col("pos") > F.lag("pos").over(w_doc) + n), 1).otherwise(0)
    grp = (dup.withColumn("__brk", brk)
           .withColumn("__grp", F.sum("__brk").over(
               w_doc.rowsBetween(Window.unboundedPreceding,
                                 Window.currentRow))))
    return (grp.groupBy(id_col, "__grp")
            .agg(F.min("pos").cast("long").alias("span_start"),
                 (F.max("pos") + n).cast("long").alias("span_end"),
                 F.count(F.lit(1)).cast("long").alias("n_windows"))
            .drop("__grp"))


def remove_duplicate_spans(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", n: int = 16,
                           fast_hash: bool = False,
                           spans: DataFrame | None = None) -> DataFrame:
    """Drop every repeated passage found by :func:`duplicate_spans`
    from the token stream and reassemble (first occurrence survives;
    the Lee et al. 2022 removal policy).  Like
    :func:`dedup_paragraphs`, the rebuilt text is the TOKEN stream
    re-joined with single spaces — punctuation/case outside the
    tokenizer's alphabet does not round-trip.

    Returns ``(id_col, text_deduped, n_tokens, n_removed)``.  Spans
    collect per document into a (small) array via one aggregate; the
    token filter is a per-row lambda over tokens × that document's
    spans — no shuffle beyond the span join (AQE broadcasts the span
    table when small)."""
    if spans is None:
        spans = duplicate_spans(df, text_col=text_col, id_col=id_col,
                                n=n, fast_hash=fast_hash)
    per_doc = (spans.groupBy(id_col)
               .agg(F.collect_list(F.struct(
                   F.col("span_start").alias("s"),
                   F.col("span_end").alias("e"))).alias("__spans")))
    toked = df.select(F.col(id_col), tokens_expr(text_col).alias("__tk"))
    joined = toked.join(per_doc, id_col, "left")
    kept = F.expr(
        "case when __spans is null then __tk else "
        "filter(__tk, (t, i) -> not exists(__spans, "
        "sp -> i >= sp.s and i < sp.e)) end")
    return (joined
            .withColumn("__kept", kept)
            .select(F.col(id_col),
                    F.concat_ws(" ", "__kept").alias("text_deduped"),
                    F.size("__tk").cast("long").alias("n_tokens"),
                    (F.size("__tk") - F.size("__kept")).cast("long")
                    .alias("n_removed")))


def dedup_against(new: DataFrame, reference: DataFrame | None = None,
                  text_col: str = "text", id_col: str = "doc_id",
                  num_hashes: int = 32, bands: int = 8,
                  shingle_n: int = 3, threshold: float = 0.5,
                  bucket_cap: int | None = 2000,
                  fast_hash: bool = False,
                  index=None) -> DataFrame:
    """Keep only the ``new`` documents that are NOT near-duplicates
    of anything in ``reference`` (see :func:`cross_dedup_pairs` for
    the candidate/verify machinery, its 100 TB shape, and the
    ``index=`` prebuilt-:class:`ReferenceIndex` path).  One LEFT
    ANTI join on the distinct matched ids — AQE broadcasts the
    matched-id set when it is small, which is the common case for an
    incremental crawl against a deduplicated corpus."""
    pairs = cross_dedup_pairs(
        new, reference, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        threshold=threshold, bucket_cap=bucket_cap,
        fast_hash=fast_hash, index=index)
    hit = (pairs.select(F.col("id_new").alias(id_col)).distinct())
    return new.join(hit, id_col, "left_anti")


def _release_frame(sdf: DataFrame) -> None:
    """Free a frame's storage whether it was ``persist()``-ed or
    ``localCheckpoint()``-ed (r12; ADVICE r11).
    ``DataFrame.unpersist()`` only covers the former — checkpoint
    blocks are not registered in the CacheManager, so on a long
    ingest chain each superseded index's blocks lingered until GC.
    For a checkpointed frame the analyzed plan is a ``LogicalRDD``
    whose internal RDD holds the blocks; unpersist THAT directly.
    Best-effort by design: on Spark Connect (no ``_jdf``) or a
    stopped session it degrades to the old GC-eventually behavior."""
    try:
        sdf.unpersist()
    except Exception:
        pass
    try:
        plan = sdf._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


class ReferenceIndex:
    """A prebuilt MinHash-LSH index over a STATIC reference corpus —
    the build-once-gate-many half of incremental dedup, the exact
    storage-level pattern :func:`~.similarity.build_ivf_index` sets
    for ANN (r9: profiling showed the 50k-doc streaming drain was
    DOMINATED by rebuilding the 450k-doc reference pipeline at
    stream start — 26 s of the 29.7 s drain; a persistent gate
    should pay that once, in batch, not per stream restart).

    Holds two persisted frames plus the hash-family parameters that
    produced them (a gate run with different parameters would
    silently zero recall, so the params travel WITH the index):

    - ``ref_buckets`` (band, bh, ids): the banded LSH buckets,
      already ``bucket_cap``-capped (the cap is fixed at build).
    - ``ref_sets`` (id_ref, hs_r, sig_r, __sb): per-doc shingle-hash
      set, signature, and post-cap surviving bands.
    - ``ref_over`` (band, bh): keys of buckets DROPPED at the cap —
      tombstones (r10).  Tiny by construction (only degenerate
      boilerplate buckets saturate).  They exist so :meth:`append`
      is value-equal to a from-scratch rebuild on the union: a
      saturated bucket must stay saturated when new members arrive,
      not silently resurrect with only the new ids.

    Lifecycle is CALLER-OWNED: frames are persisted (not in the
    bounded cache ring, not pinned) — call :meth:`release` when no
    consumer is live.  ``save``/:func:`load_reference_index` write/
    read the frames as parquet with a params sidecar, so a
    100 TB reference is indexed once and any number of ingest
    streams (or later batch sweeps) reuse the files.  The reference
    GROWS without a full rebuild via :meth:`append`."""

    def __init__(self, ref_buckets: DataFrame, ref_sets: DataFrame,
                 num_hashes: int, bands: int, shingle_n: int,
                 fast_hash: bool, bucket_cap: int | None,
                 ref_over: DataFrame | None = None,
                 n_base: int | None = None, n_appended: int = 0):
        self.ref_buckets = ref_buckets
        self.ref_sets = ref_sets
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.fast_hash = fast_hash
        self.bucket_cap = bucket_cap
        self.ref_over = ref_over
        #: docs indexed at build time (None on a lazy build until the
        #: first append materializes a count) / via append() — the
        #: compaction-policy inputs (r11; VERDICT r10 #7)
        self.n_base = n_base
        self.n_appended = n_appended

    _br = None  # set only on lazy builds (see build_reference_index)
    #: True once any append/compact ran with ``materialize=False``:
    #: those skip the accounting count, so the counters UNDERCOUNT
    #: from that point on.  ``appended_fraction`` then returns None
    #: (policy disabled) instead of silently never tripping
    #: (r12; ADVICE r11).
    _lazy_accounting = False

    def release(self) -> None:
        """Free the index frames' storage (idempotent).  Covers both
        backing modes: a built index holds ``persist()``-ed frames
        (CacheManager unpersist), while appended/compacted indexes
        hold ``localCheckpoint()``-ed frames whose blocks live on the
        checkpointed RDD itself — :func:`_release_frame` unpersists
        that RDD directly (r12; ADVICE r11: plain ``unpersist()`` was
        a no-op for the checkpointed case, so superseded indexes on a
        long ingest chain freed memory only at GC's leisure)."""
        for sdf in (self.ref_buckets, self.ref_sets, self.ref_over,
                    self._br):
            if sdf is not None:
                _release_frame(sdf)

    def save(self, path: str) -> "ReferenceIndex":
        """Write the index as parquet tables + a params sidecar
        (``_dedup_index.json``).  Bucket rows are written as the
        aggregation produced them (shuffle-partition-bounded files;
        no extra repartition — consumers read all bands anyway)."""
        import json
        import os
        self.ref_buckets.write.mode("overwrite").parquet(
            os.path.join(path, "ref_buckets"))
        self.ref_sets.write.mode("overwrite").parquet(
            os.path.join(path, "ref_sets"))
        if self.ref_over is not None:
            self.ref_over.write.mode("overwrite").parquet(
                os.path.join(path, "ref_over"))
        with open(os.path.join(path, "_dedup_index.json"), "w") as fh:
            json.dump({"num_hashes": self.num_hashes,
                       "bands": self.bands,
                       "shingle_n": self.shingle_n,
                       "fast_hash": self.fast_hash,
                       "bucket_cap": self.bucket_cap,
                       "has_over": self.ref_over is not None,
                       "n_base": self.n_base,
                       "n_appended": self.n_appended}, fh)
        return self

    def append(self, new_docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               materialize: bool = True) -> "ReferenceIndex":
        """Grow the reference WITHOUT re-minhashing the existing
        corpus (r10; VERDICT r9 #6 — a real ingest pipeline adds
        accepted docs to its reference continuously): minhash only
        ``new_docs`` with the index's own hash family, merge their
        band rows into the existing buckets (one shuffle of the
        bucket table + the new docs — never a second pass over the
        old corpus text), re-cap with logged drops, and recompute
        the per-doc surviving-band sets.

        VALUE-EQUAL to ``build_reference_index(old_corpus UNION
        new_docs)`` by construction (test-pinned): the merged bucket
        carries exactly the union's members (old ids ride in the
        stored buckets), previously-saturated keys stay dropped via
        the ``ref_over`` tombstones (saturation is monotone — a
        bucket over the cap can only grow), and newly-over-cap
        buckets drop with the same logged policy.  Old docs whose
        every band saturated at build are unrecoverable from the
        index, and stay absent — exactly as the rebuild would drop
        them.  Indexes loaded from a pre-r10 save (no tombstones)
        get an empty tombstone set — exact equality then holds only
        if no bucket was dropped at the original build (the common
        case; the build logs any drop).

        New ids must be DISJOINT from the indexed ids (the natural
        ingest contract — accepted docs are new): a re-appended id
        would keep two signature rows where the rebuild merges one
        doc's shingles.  ``materialize=True`` enforces it (one cheap
        semi-join probe piggybacked on the warm-up counts);
        ``materialize=False`` trusts the caller — and also OPTS THE
        INDEX OUT of compaction accounting (no count without
        triggering compute), permanently: ``appended_fraction()``
        returns None from then on (r12; ADVICE r11).

        Returns a NEW :class:`ReferenceIndex`; the old one is left
        intact (live streams may still hold it) — release it when
        its consumers stop."""
        rows = self.num_hashes // self.bands
        nb = _minhash_base(new_docs, text_col, id_col,
                           self.num_hashes, self.shingle_n,
                           self.fast_hash).persist()
        if materialize:
            dup = (nb.select(F.col(id_col).alias("id_ref"))
                   .join(self.ref_sets.select("id_ref"), "id_ref",
                         "left_semi").limit(1).count())
            if dup:
                nb.unpersist()
                raise ValueError(
                    "ReferenceIndex.append: new_docs share ids with "
                    "the indexed reference — appended docs must "
                    "carry fresh ids (a re-appended id would keep "
                    "two signature rows where a rebuild merges one)")
        new_band = _banded(nb, id_col, "id_ref", self.bands, rows)
        old_rows = self.ref_buckets.select(
            "band", "bh", F.explode("ids").alias("id_ref"))
        merged = (old_rows.unionAll(
            new_band.select("band", "bh", "id_ref"))
            .groupBy("band", "bh")
            .agg(F.array_sort(F.collect_list("id_ref")).alias("ids")))
        spark = new_docs.sparkSession
        over_old = self.ref_over
        if over_old is None:
            over_old = spark.createDataFrame(
                [], "band int, bh string")
        if self.bucket_cap is not None:
            # tombstoned keys stay dropped; then the shared cap
            # policy (logged drops) handles newly-saturated keys
            surv = merged.join(over_old, ["band", "bh"], "left_anti")
            over_new = (merged.filter(
                F.size("ids") > self.bucket_cap)
                .select("band", "bh")
                .unionAll(over_old).distinct())
            surv = _cap_buckets(surv, "ids", self.bucket_cap,
                                "ReferenceIndex.append")
        else:
            surv = merged
            over_new = over_old
        # localCheckpoint, NOT persist (r11): a persisted frame still
        # CARRIES its full logical plan, so an append CHAIN nests
        # every predecessor's plan — ~10 appends deep the driver
        # OOMs just RENDERING the tree during persist (found by the
        # 20-append longevity test).  Checkpointing truncates the
        # lineage per append, so plan depth is O(1) however many
        # waves arrive — the same executor-local-blocks tradeoff
        # connected_components documents.
        over_new = over_new.localCheckpoint(eager=materialize)
        ref_buckets2 = surv.localCheckpoint(eager=materialize)
        surv_bands = (ref_buckets2
                      .select("band",
                              F.explode("ids").alias("id_ref"))
                      .groupBy("id_ref")
                      .agg(F.collect_set("band").alias("__sb")))
        all_sets = (self.ref_sets.select("id_ref", "hs_r", "sig_r")
                    .unionAll(nb.select(
                        F.col(id_col).alias("id_ref"),
                        F.col("hs").alias("hs_r"),
                        F.col("signature").alias("sig_r"))))
        ref_sets2 = (all_sets.join(surv_bands, "id_ref")
                     .localCheckpoint(eager=materialize))
        idx = ReferenceIndex(ref_buckets2, ref_sets2,
                             self.num_hashes, self.bands,
                             self.shingle_n, self.fast_hash,
                             self.bucket_cap, ref_over=over_new,
                             n_base=self.n_base,
                             n_appended=self.n_appended)
        idx._lazy_accounting = self._lazy_accounting
        if materialize:
            # the eager localCheckpoints above already materialized
            # the frames; only the accounting count remains (on the
            # already-persisted new-doc base)
            idx.n_appended = self.n_appended + nb.count()
            nb.unpersist()
        else:
            # no count without triggering compute — the counters now
            # undercount, so flag the index out of the compaction
            # policy (appended_fraction -> None) rather than letting
            # needs_compaction() silently never trip (ADVICE r11)
            idx._lazy_accounting = True
            idx._br = nb
        return idx

    def compact(self, materialize: bool = True) -> "ReferenceIndex":
        """Rebuild the index FROM ITS OWN STORED STATE (r11) — the
        corpus-free answer to :meth:`needs_compaction`: a true
        rebuild at 100 TB means re-reading and re-minhashing the
        whole reference corpus, but ``ref_sets`` already holds every
        surviving doc's shingle-hash set and signature, so
        compaction re-bands the signatures (the cheap stage), re-caps
        fresh, and recomputes the surviving-band sets — one pass over
        the INDEX, never over the text.

        VALUE-EQUAL to ``build_reference_index`` on the corpus the
        index still holds, with one deliberate carry: saturation
        TOMBSTONES are preserved.  They must be — a doc whose every
        band saturated is absent from ``ref_sets``, so a tombstoned
        bucket would otherwise re-form UNDER the cap with only its
        surviving members and silently resurrect.  With no tombstones
        (the common case at the production cap; the r11 longevity run
        recorded 0 across 20 waves) compaction is exactly a fresh
        rebuild.  Appended-mass accounting resets
        (``n_base`` = current doc count, ``n_appended`` = 0), so
        :meth:`needs_compaction` clears.  Returns a NEW index; the
        old one is left intact — release it when its consumers stop.
        """
        rows = self.num_hashes // self.bands
        spark = self.ref_sets.sparkSession
        base = self.ref_sets.select(
            F.col("id_ref"), F.col("sig_r").alias("signature"))
        grouped = (_banded(base, "id_ref", "id_ref", self.bands,
                           rows)
                   .groupBy("band", "bh")
                   .agg(F.array_sort(F.collect_list("id_ref"))
                        .alias("ids")))
        over_old = self.ref_over
        if over_old is None:
            over_old = spark.createDataFrame(
                [], "band int, bh string")
        if self.bucket_cap is not None:
            surv = grouped.join(over_old, ["band", "bh"],
                                "left_anti")
            over_new = (surv.filter(
                F.size("ids") > self.bucket_cap)
                .select("band", "bh")
                .unionAll(over_old).distinct())
            surv = _cap_buckets(surv, "ids", self.bucket_cap,
                                "ReferenceIndex.compact")
        else:
            surv = grouped
            over_new = over_old
        over_new = over_new.localCheckpoint(eager=materialize)
        ref_buckets2 = surv.localCheckpoint(eager=materialize)
        surv_bands = (ref_buckets2
                      .select("band",
                              F.explode("ids").alias("id_ref"))
                      .groupBy("id_ref")
                      .agg(F.collect_set("band").alias("__sb")))
        ref_sets2 = (self.ref_sets.select("id_ref", "hs_r", "sig_r")
                     .join(surv_bands, "id_ref")
                     .localCheckpoint(eager=materialize))
        idx = ReferenceIndex(ref_buckets2, ref_sets2,
                             self.num_hashes, self.bands,
                             self.shingle_n, self.fast_hash,
                             self.bucket_cap, ref_over=over_new,
                             n_appended=0)
        if materialize:
            idx.n_base = ref_sets2.count()
        else:
            # n_base stays None -> the policy is disabled on the
            # compacted index; flag it so the reason is queryable
            idx._lazy_accounting = True
        return idx

    def appended_fraction(self) -> float | None:
        """Appended docs as a fraction of the BUILD-time corpus, or
        None when the accounting is unavailable: the build was lazy
        (no base count recorded), or any append/compact ran with
        ``materialize=False`` (its docs were never counted, so the
        ratio would silently undercount — r12; ADVICE r11).  A None
        here disables :meth:`needs_compaction`; schedule compaction
        externally or use ``materialize=True`` throughout."""
        if not self.n_base or self._lazy_accounting:
            return None
        return self.n_appended / self.n_base

    def needs_compaction(self,
                         max_appended_fraction: float = 1.0) -> bool:
        """The compaction trigger (r11; VERDICT r10 #7).  Appends are
        VALUE-equal to a rebuild at any depth (tombstones keep
        saturation monotone — test-pinned through 20 sequential
        appends), so the trigger is a COST policy, not a quality one:
        each append shuffles the whole bucket table (O(index) per
        wave), so once the appended mass reaches the build-time mass
        (default 1.0) the accumulated append cost exceeds one
        rebuild.  :meth:`compact` is the corpus-free mechanism: it
        rebuilds from the stored signatures without re-reading any
        reference text.  Returns False when the accounting is
        unavailable — lazy build (no base count) or any
        ``materialize=False`` append/compact in the chain — pass
        ``materialize=True`` throughout to enable the policy."""
        frac = self.appended_fraction()
        return frac is not None and frac >= max_appended_fraction


def maintain_reference_index(
        idx: ReferenceIndex, new_docs: DataFrame,
        text_col: str = "text", id_col: str = "doc_id",
        max_appended_fraction: float = 1.0,
        release_old: bool = True,
) -> tuple[ReferenceIndex, dict]:
    """The one-call ingest-maintenance step (r12): append a wave,
    check the compaction policy, compact when due, and release every
    superseded index — the full append -> monitor -> compact
    lifecycle the r11/r12 longevity runs measured piecewise
    (``SCALE_append_longevity_r12.json``: appends O(index) per wave,
    hits rebuild-equal at every depth, trigger fires at appended
    mass >= build mass, corpus-free compact 8.3 s vs 29.1 s rebuild
    at 500k docs — at 100 TB the avoided corpus re-read IS the win).

    A steady-state ingest pipeline calls this per accepted batch and
    never thinks about index hygiene again::

        idx, info = dedup.maintain_reference_index(idx, accepted)

    Returns ``(index, info)`` where ``info`` records the append
    seconds, whether compaction ran, its seconds, and the
    post-maintenance appended fraction.  Superseded indexes are
    released HERE (deterministically — release() covers checkpointed
    frames since r12).  ``release_old=False`` keeps the PASSED-IN
    index alive (r13; ADVICE r12: release() is destructive for
    checkpoint-backed indexes — dropped blocks cannot be recomputed —
    so a caller still holding the input index, e.g. a live stream's
    gate, got a permanently broken handle; intermediate indexes this
    function itself created are always released)."""
    import time as _time
    t0 = _time.time()
    grown = idx.append(new_docs, text_col=text_col, id_col=id_col)
    if release_old:
        idx.release()
    info = {"append_s": round(_time.time() - t0, 3),
            "compacted": False, "compact_s": None,
            "appended_fraction": grown.appended_fraction()}
    if grown.needs_compaction(max_appended_fraction):
        t0 = _time.time()
        comp = grown.compact()
        grown.release()
        info["compacted"] = True
        info["compact_s"] = round(_time.time() - t0, 3)
        info["appended_fraction"] = comp.appended_fraction()
        return comp, info
    return grown, info


def build_reference_index(reference: DataFrame,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          num_hashes: int = 16, bands: int = 4,
                          shingle_n: int = 3,
                          bucket_cap: int | None = 2000,
                          fast_hash: bool = False,
                          materialize: bool = True) -> ReferenceIndex:
    """Build a :class:`ReferenceIndex` from a reference corpus — the
    same shared ``_minhash_base`` / banding / cap machinery every
    LSH path here uses (one hash family, never a drifted copy).

    ``materialize=True`` (default) runs the build NOW (two counts),
    so a streaming gate's first micro-batch doesn't pay it; pass
    False to keep it lazy when the index feeds a batch job anyway."""
    if bands < 1 or num_hashes < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple "
            f"of bands ({bands})")
    rows = num_hashes // bands
    br = _minhash_base(reference, text_col, id_col, num_hashes,
                       shingle_n, fast_hash).persist()
    grouped = (_banded(br, id_col, "id_ref", bands, rows)
               .groupBy("band", "bh")
               .agg(F.array_sort(F.collect_list("id_ref"))
                    .alias("ids")))
    if materialize:
        # grouped feeds BOTH ref_buckets and ref_over; unpersisted,
        # the band explode + collect_list aggregate executes once per
        # derived frame (guide §1.2).  Cache it for the build, drop it
        # with br once the derived frames are materialized.
        grouped = grouped.persist()
    if bucket_cap is not None:
        # tombstones for the dropped (saturated) keys — r10: they
        # make append() rebuild-equal (a saturated bucket must stay
        # saturated when new members arrive).  Tiny by construction.
        ref_over = (grouped.filter(F.size("ids") > bucket_cap)
                    .select("band", "bh")).persist()
    else:
        ref_over = reference.sparkSession.createDataFrame(
            [], "band int, bh string").persist()
    ref_buckets = _cap_buckets(grouped, "ids", bucket_cap,
                               "build_reference_index").persist()
    # per-ref-doc SURVIVING bands (post-cap): the canonical-band rule
    # must pick the smallest matching band AMONG SURVIVING buckets
    # (see streaming_dedup_against — a capped-out smallest band would
    # otherwise silently drop pairs a surviving band caught)
    surv_bands = (ref_buckets
                  .select("band", F.explode("ids").alias("id_ref"))
                  .groupBy("id_ref")
                  .agg(F.collect_set("band").alias("__sb")))
    ref_sets = (br.select(F.col(id_col).alias("id_ref"),
                          F.col("hs").alias("hs_r"),
                          F.col("signature").alias("sig_r"))
                .join(surv_bands, "id_ref")).persist()
    idx = ReferenceIndex(ref_buckets, ref_sets, num_hashes, bands,
                         shingle_n, fast_hash, bucket_cap,
                         ref_over=ref_over)
    if materialize:
        ref_buckets.count()
        idx.n_base = ref_sets.count()
        ref_over.count()
        # br/grouped fed the derived frames; once those are
        # materialized they are dead weight
        br.unpersist()
        grouped.unpersist()
    else:
        # lazy: br must stay cached until both frames evaluate (each
        # would otherwise re-derive the whole minhash subtree); tie
        # its lifetime to the index
        idx._br = br
    return idx


def load_reference_index(spark, path: str,
                         materialize: bool = True) -> ReferenceIndex:
    """Load a :meth:`ReferenceIndex.save` directory: read the two
    parquet tables (persisted; ``materialize`` warms them) and the
    params sidecar."""
    import json
    import os
    with open(os.path.join(path, "_dedup_index.json")) as fh:
        meta = json.load(fh)
    ref_buckets = spark.read.parquet(
        os.path.join(path, "ref_buckets")).persist()
    ref_sets = spark.read.parquet(
        os.path.join(path, "ref_sets")).persist()
    ref_over = None
    if meta.get("has_over"):
        ref_over = spark.read.parquet(
            os.path.join(path, "ref_over")).persist()
    if materialize:
        ref_buckets.count()
        ref_sets.count()
        if ref_over is not None:
            ref_over.count()
    return ReferenceIndex(ref_buckets, ref_sets,
                          int(meta["num_hashes"]), int(meta["bands"]),
                          int(meta["shingle_n"]),
                          bool(meta["fast_hash"]),
                          meta["bucket_cap"], ref_over=ref_over,
                          n_base=meta.get("n_base"),
                          n_appended=int(meta.get("n_appended", 0)))
