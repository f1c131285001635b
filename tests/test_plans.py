"""Physical-plan audits: the scale properties the engine promises —
pushdown, broadcast, one-shuffle aggregation, top-k form — asserted
against the executed plans via pandas_alchemy_spark.plans."""

from __future__ import annotations

import pandas_alchemy_spark as pas
from pandas_alchemy_spark.plans import (
    broadcast_join_count,
    exchange_count,
    has_pushed_filters,
    physical_plan,
    uses_take_ordered,
)
from tests.conftest import SF_DIR


def test_mask_filter_pushes_to_scan(spark):
    li = pas.read_parquet(f"{SF_DIR}/lineitem.parquet")
    f = li[li.l_quantity < 24]
    f = f[f.l_discount >= 0.05]
    out = f[["l_orderkey", "l_quantity"]]
    # chained masks compose into scan-side PushedFilters
    assert has_pushed_filters(out, "l_quantity")
    assert has_pushed_filters(out, "l_discount")
    # and the scan reads only what the projection needs
    plan = physical_plan(out)
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1]


def test_nlargest_compiles_to_take_ordered(spark):
    o = pas.read_parquet(f"{SF_DIR}/orders.parquet")
    top = o.nlargest(10, "o_totalprice")[["o_orderkey", "o_totalprice"]]
    # orderBy+limit -> one-pass top-k, never a global sort
    assert uses_take_ordered(top)


def test_dimension_merges_broadcast(spark):
    c = pas.read_parquet(f"{SF_DIR}/customer.parquet")
    n = pas.read_parquet(f"{SF_DIR}/nation.parquet")
    j = c.merge(n[["n_nationkey", "n_name"]], left_on="c_nationkey",
                right_on="n_nationkey", how="inner", broadcast=True)
    assert broadcast_join_count(j) >= 1


def test_groupby_agg_single_shuffle(spark):
    li = pas.read_parquet(f"{SF_DIR}/lineitem.parquet")
    out = (li.groupby(["l_returnflag", "l_linestatus"])
           .agg(sum_qty=("l_quantity", "sum"),
                n=("l_quantity", "count")))
    # one hash-aggregate shuffle; map-side partial agg handles the rest
    assert exchange_count(out) == 1


def test_window_topk_single_shuffle(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    out = (o.withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") <= 3))
    assert exchange_count(out) == 1


def test_semi_join_no_right_payload(spark):
    o = pas.read_parquet(f"{SF_DIR}/orders.parquet")
    li = pas.read_parquet(f"{SF_DIR}/lineitem.parquet")
    ret = li[li.l_returnflag == "R"][["l_orderkey"]]
    sj = o.merge(ret, left_on="o_orderkey", right_on="l_orderkey",
                 how="semi")
    plan = physical_plan(sj)
    assert "LeftSemi" in plan
    # the build side scans ONLY the join key — no payload columns
    right_schema = plan.split("ReadSchema")[-1]
    assert "l_quantity" not in right_schema


def test_asof_join_single_shuffle_per_side(spark):
    from pandas_alchemy_spark.operators.asof import asof_join
    from pyspark.sql import functions as F
    ev = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
          .select(F.col("o_custkey").alias("k"),
                  F.col("o_orderdate").alias("t"),
                  F.col("o_totalprice").alias("v")))
    j = asof_join(ev.limit(1000), ev, on="t", by="k")
    # union+window form: shuffles bounded (never a range-explosion
    # join); at most the union's two inputs + one window partition
    assert exchange_count(j) <= 3
    assert "CartesianProduct" not in physical_plan(j)


def test_interval_join_no_cartesian(spark):
    from pandas_alchemy_spark.ext.events import load_events
    from pandas_alchemy_spark.operators.interval import interval_join
    from pyspark.sql import functions as F
    ev = (load_events(spark, f"{SF_DIR}/events.parquet")
          .select("user_id", "event_id", F.unix_micros("ts").alias("t")))
    pairs = interval_join(ev, ev, on="t", tolerance=120_000_000,
                          by="user_id")
    plan = physical_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scan_head_stays_cheap_limit(spark):
    # a plain scan's head() must remain an early-exit LIMIT (no sort,
    # no TakeOrdered over the full table) — the REORDERED index state
    # only forces ordering when a reordering verb intervened
    li = pas.read_parquet(f"{SF_DIR}/lineitem.parquet")
    h = li.head(5)
    plan = physical_plan(h)
    assert "TakeOrderedAndProject" not in plan
    assert "CollectLimit" in plan or "GlobalLimit" in plan


def test_minhash_pipeline_no_cartesian_bounded_shuffles(spark):
    from pandas_alchemy_spark.ext import dedup
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4,
                                    threshold=0.4)
    plan = physical_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # signature agg + bucket agg + pair joins — candidate generation
    # is bucket-local, never a corpus self-join.  The bound is loose:
    # neighboring tests may leave session conf (broadcast threshold)
    # that turns the two verify joins into sort-merge (+2 exchanges
    # each); the invariant under test is "no quadratic join", not an
    # exact exchange census.
    assert exchange_count(pairs) <= 12


def test_emb_near_dup_no_cartesian(spark):
    from pandas_alchemy_spark.ext import similarity
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").head(1)[0][0])
    pairs = similarity.embedding_near_dup_pairs(emb, dim=dim, planes=6,
                                                tables=4, threshold=0.9)
    plan = physical_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cat_codes_literal_map_no_join(spark):
    # domain <= _MAP_MAX compiles to a literal-map projection: zero
    # joins, zero exchanges — the scan is the whole plan
    c = pas.read_parquet(f"{SF_DIR}/customer.parquet")
    codes = c.c_mktsegment.astype("category").cat.codes
    plan = physical_plan(codes)
    assert "Join" not in plan
    assert exchange_count(codes) == 0


def test_cat_codes_wide_domain_broadcasts(spark):
    # above the threshold the lookup is a BROADCAST hash join — the
    # data side must not shuffle
    from pandas_alchemy_spark.accessors import CategoricalMethods
    c = pas.read_parquet(f"{SF_DIR}/customer.parquet")
    cat = c.c_mktsegment.astype("category")
    old = CategoricalMethods._MAP_MAX
    CategoricalMethods._MAP_MAX = 0
    try:
        codes = cat.cat.codes
    finally:
        CategoricalMethods._MAP_MAX = old
    assert broadcast_join_count(codes) == 1
    assert "SortMergeJoin" not in physical_plan(codes)


def test_assign_same_lineage_inlines_no_join(spark):
    # assigning a Series derived from the SAME frame inlines the
    # expression into the projection — no alignment join, no shuffle
    c = pas.read_parquet(f"{SF_DIR}/customer.parquet")
    codes = c.c_mktsegment.astype("category").cat.codes
    out = c.assign(code=codes)[["c_mktsegment", "code"]]
    plan = physical_plan(out)
    assert "Join" not in plan
    assert exchange_count(out) == 0


def test_json_extract_scan_prunes_columns(spark):
    # json path extraction is a projection; the scan must read ONLY
    # props + event_type, not the whole events row
    import pandas_alchemy_spark as pas_
    ev = pas_.read_parquet(f"{SF_DIR}/events.parquet")
    k = pas_.json_extract(ev.props, "$.k")
    out = ev.assign(k=k)[["event_type", "k"]]
    schema = physical_plan(out).split("ReadSchema")[-1]
    assert "props" in schema and "event_type" in schema
    assert "user_id" not in schema and "value" not in schema


def test_stack_is_generator_no_shuffle(spark):
    # df.stack = one explode generator over the scan — zero exchanges
    n = pas.read_parquet(f"{SF_DIR}/nation.parquet",
                         index="n_nationkey")
    st = n[["n_regionkey"]].stack()
    assert exchange_count(st) == 0
    assert "CartesianProduct" not in physical_plan(st)


def test_crosstab_single_aggregate_shuffle(spark):
    o = pas.read_parquet(f"{SF_DIR}/orders.parquet")
    ct = pas.crosstab(o.o_orderpriority, o.o_orderstatus)
    plan = physical_plan(ct)
    assert "CartesianProduct" not in plan
    # groupBy+pivot: one shuffle for the group keys (+ AQE reads);
    # never one job per pivot value
    assert exchange_count(ct) <= 2


def test_curate_corpus_no_quadratic_join(spark):
    from pandas_alchemy_spark.ext.pipeline import curate_corpus
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = curate_corpus(docs, capacity=512)
    plan = physical_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_resample_single_aggregate_shuffle(spark):
    # the bucket expression inlines into the scan projection (same-
    # lineage assign), so resample().agg() is ONE hash-aggregate
    # shuffle — no join, no pre-shuffle for the bucketing itself
    o = pas.read_parquet(f"{SF_DIR}/orders.parquet")
    out = (o[["o_orderdate", "o_totalprice"]]
           .resample("MS", on="o_orderdate")
           .agg(rev=("o_totalprice", "sum")))
    assert "Join" not in physical_plan(out)
    assert exchange_count(out) == 1


def test_q7_broadcasts_dims_bounded_shuffles(spark):
    import __spark_entry__ as E
    out = E.q7_volume(spark, SF_DIR)
    # filtered supplier + customer dims broadcast into the fact scans;
    # the lineitem×orders SortMergeJoin (one exchange per side) and the
    # final groupby are the only HASH shuffles — exchange_count also
    # counts the two BroadcastExchanges, so subtract them
    assert broadcast_join_count(out) >= 2
    assert exchange_count(out) - broadcast_join_count(out) <= 3


def test_q17_avg_subquery_broadcasts_back(spark):
    import __spark_entry__ as E
    out = E.q17_small_qty(spark, SF_DIR)
    # brand dim AND the one-row-per-part average frame both broadcast;
    # no shuffle join against the per-part limits
    assert broadcast_join_count(out) >= 2


def test_q13_left_join_then_single_regroup(spark):
    import __spark_entry__ as E
    out = E.q13_distribution(spark, SF_DIR)
    plan = physical_plan(out)
    assert "CartesianProduct" not in plan
    # per-custkey count, left join, per-count regroup: ≤4 exchanges
    assert exchange_count(out) <= 4


def test_grouped_ewm_jvm_only_single_shuffle(spark):
    o = pas.read_parquet(f"{SF_DIR}/orders.parquet").set_index("o_orderkey")
    s = o.groupby("o_custkey")["o_totalprice"].ewm(alpha=0.25).mean()
    plan = physical_plan(s.to_spark())
    # the power-trick form is pure window expressions: no Python
    # evaluation anywhere, one key shuffle feeding both window passes
    assert "Python" not in plan and "FlatMapGroupsInPandas" not in plan
    assert exchange_count(s.to_spark()) == 1


def test_global_cumsum_no_single_partition_window(spark):
    # round 5: global cum* is a segmented scan (operators/segscan) —
    # range-pinned partitions + per-partition pass + scalar carries;
    # the result plan must contain NO window at all and never funnel
    # through a single partition
    o = pas.read_parquet(f"{SF_DIR}/orders.parquet").set_index("o_orderkey")
    s = o["o_totalprice"].cumsum()
    plan = physical_plan(s.to_spark())
    assert "SinglePartition" not in plan
    assert "Window" not in plan


def test_global_rank_no_single_partition_window(spark):
    o = pas.read_parquet(f"{SF_DIR}/orders.parquet").set_index("o_orderkey")
    for method in ("min", "first", "dense", "average", "max"):
        s = o["o_totalprice"].rank(method=method)
        plan = physical_plan(s.to_spark())
        assert "SinglePartition" not in plan, method
        assert "Window" not in plan, method


def test_tpch_adapted_plan_shapes(spark):
    """The adapted partsupp-surrogate queries keep the plans you'd
    want at scale: dims broadcast, Q21's cached pair aggregate is
    reused (InMemoryTableScan), and the finished-order slice joins
    as a semi join, not a broadcast of a fact-sized key list."""
    import __spark_entry__ as E
    sf = "/root/testdata/sf0.001"
    q16 = E.q16_supplier_cnt(spark, sf)
    p16 = q16._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p16  # part dim + complaints list
    q21 = E.q21_waiting_supp(spark, sf)
    p21 = q21._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in p21  # pair aggregate computed once
    assert "LeftSemi" in p21           # finished orders: semi join


def test_text_ops_tokenize_once(spark):
    """Catalyst does not CSE the regexp tokenizer across filter
    lambdas, so language_id/quality_score/token_stats materialize the
    token array once (a multi-use non-cheap column that survives
    CollapseProject).  Regression: the optimized plan must contain
    exactly ONE tokenizer regexp per operator (language_id previously
    carried 8 — measured 3.6x slower at sf0.1)."""
    from pandas_alchemy_spark.ext import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for op in (text.language_id, text.quality_score, text.token_stats):
        plan = op(docs)._jdf.queryExecution().optimizedPlan().toString()
        # the tokenizer's unique shape (quotes are stripped in the
        # rendered plan, so match the call structure)
        n = plan.count("split(lower(regexp_replace(")
        assert n == 1, f"{op.__name__}: {n} tokenizer mentions in plan"


def test_scale_report_flags_and_clean(spark):
    """scale_report: flags the known red flags on crafted plans and
    stays empty on a plan we'd ship."""
    from pyspark.sql import Window
    from pyspark.sql import functions as SF

    from pandas_alchemy_spark.ext import text
    from pandas_alchemy_spark.plans import scale_report

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    # clean: pushed filter + projection
    clean = li.filter("l_quantity < 24").select("l_orderkey", "l_quantity")
    assert scale_report(clean)["flags"] == []
    # single-partition global window
    w = li.withColumn("rn", SF.row_number().over(
        Window.orderBy("l_orderkey")))
    assert any(k == "single_partition"
               for k, _ in scale_report(w)["flags"])
    # cartesian
    cart = li.limit(3).crossJoin(li.limit(3).select(
        SF.col("l_orderkey").alias("b")))
    assert any(k == "cartesian" for k, _ in scale_report(cart)["flags"])
    # repeated expensive expression (the pre-fix language_id shape)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tok = "filter(split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ')), ' '), t -> t != '')"
    rep = docs.select(SF.expr(f"size({tok})").alias("a"),
                      SF.expr(f"size(slice({tok}, 1, 2))").alias("b"))
    assert any(k == "repeated_expensive_exprs"
               for k, _ in scale_report(rep)["flags"])
    # the fixed operators stay clean of that flag
    assert not any(k == "repeated_expensive_exprs"
                   for k, _ in scale_report(text.language_id(docs))["flags"])


def test_round7_ops_plan_shapes(spark):
    """Plan regressions for the round-7 operators:

    - split_corpus / shuffle_corpus evaluate the md5 hash chain ONCE
      (the 3-branch CASE previously paid 3 hashes per row —
      tools/audit_expr_reuse.py finding);
    - chunk_documents is shuffle-free (narrow posexplode+slice);
    - shuffle_corpus has exactly one exchange (the shard key);
    - unigram_logprob carries no repeated expensive expressions
      (the vocab persist collapses the triple scan)."""
    from pandas_alchemy_spark.ext import pipeline, text
    from pandas_alchemy_spark.plans import scale_report
    from pandas_alchemy_spark.plans.audit import exchange_count

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    for name, df in (
            ("split", pipeline.split_corpus(docs)),
            ("split_holdout", pipeline.split_corpus(docs, {"a": 0.5})),
            ("shuffle", pipeline.shuffle_corpus(docs, n_shards=8))):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for ln in plan.splitlines():
            assert ln.count("md5(") <= 1, (name, ln[:160])

    ch = text.chunk_documents(docs, chunk_tokens=64, overlap=16)
    assert exchange_count(ch) == 0
    assert exchange_count(
        pipeline.shuffle_corpus(docs, n_shards=8)) == 1
    flags = scale_report(text.unigram_logprob(docs))["flags"]
    assert not any(k == "repeated_expensive_exprs" for k, _ in flags)


def test_plans_round7_session4_ops(spark):
    """Plan regressions for the session-4 operators:

    - bm25_search: the query-term join is a BROADCAST (the corpus
      must never shuffle into it) and the plan carries no repeated
      expensive expressions (tokenize-once discipline);
    - importance_weights: the model join broadcasts (bounded bucket
      table), and the md5 gram hash appears at most once per plan
      line (hash-once discipline);
    - cross_dedup_pairs: no cartesian product (candidates come from
      the band-key equi-join), scale_report raises no red flags.
    """
    from pandas_alchemy_spark.ext import dedup, pipeline, text
    from pandas_alchemy_spark.plans import scale_report

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    qs = spark.createDataFrame([("q0", "hash join filter")],
                               "query_id string, query string")
    bm = text.bm25_search(docs, qs, k=5)
    phys = bm._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys
    assert "CartesianProduct" not in phys
    flags = scale_report(bm)["flags"]
    assert not any(k == "repeated_expensive_exprs" for k, _ in flags)

    iw = pipeline.importance_weights(
        docs, docs.filter("lang = 'en'"), buckets=1024)
    physw = iw._jdf.queryExecution().executedPlan().toString()
    # the model join broadcasts; the two 1-row totals ride
    # BroadcastNestedLoopJoin (a 1-row side is not a cartesian risk)
    assert "BroadcastHashJoin" in physw
    opt = iw._jdf.queryExecution().optimizedPlan().toString()
    for ln in opt.splitlines():
        assert ln.count("md5(") <= 1, ln[:160]

    xp = dedup.cross_dedup_pairs(
        docs.filter("doc_id % 3 = 0"), docs.filter("doc_id % 3 <> 0"),
        num_hashes=16, bands=4, threshold=0.4)
    physx = xp._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in physx


def test_plans_tfidf_bigram_shapes(spark):
    """Plan regressions for the session-4 scorers:

    - tfidf_vectors: the df/model joins broadcast; the md5 term hash
      appears at most once per optimized-plan line (hash-once);
    - bigram_logprob: the three model tables broadcast into the
      scoring pass and no repeated expensive expressions survive
      (tokenize-once discipline, scale_report clean)."""
    from pandas_alchemy_spark.ext import text
    from pandas_alchemy_spark.plans import scale_report

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    tv = text.tfidf_vectors(docs, dim=32)
    phys = tv._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys
    assert "CartesianProduct" not in phys
    opt = tv._jdf.queryExecution().optimizedPlan().toString()
    for ln in opt.splitlines():
        assert ln.count("md5(") <= 1, ln[:160]

    bi = text.bigram_logprob(docs)
    physb = bi._jdf.queryExecution().executedPlan().toString()
    # the model joins are deliberately UNHINTED (the bigram table is
    # unbounded at web scale; AQE chooses at runtime) — assert only
    # that nothing quadratic appears and the plan is expr-clean
    assert "CartesianProduct" not in physb
    flags = scale_report(bi)["flags"]
    assert not any(k == "repeated_expensive_exprs" for k, _ in flags)


def test_plans_tfidf_norm_fold_once(spark):
    """tfidf_vectors normalization (r9): the L2 fold must appear
    exactly ONCE in the optimized plan.  The r8 form (__nrm
    withColumn + filter + division lambda) collapsed into a plan
    where the fold ran PER ELEMENT inside the division lambda plus
    once more in the pushed filter — dim² interpreted ops per row,
    measured 116.7 s of the operator's 117.8 s at 500k docs.  Also
    pinned: the embedding must remain consumable by a pandas_udf
    directly above the aggregate (the nested-lambda-capture
    let-binding form broke Python-UDF extraction in Spark 4.1) —
    test_ext.py::test_cluster_documents* covers that at value level.
    """
    from pandas_alchemy_spark.ext import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (text.tfidf_vectors(docs, dim=32)
            ._jdf.queryExecution().optimizedPlan().toString())
    # the L2 fold renders as one aggregate(...(v * v)...) lambda
    n = plan.count("* lambda v")
    assert n == 1, f"tfidf_vectors: {n} L2-fold mentions in plan"


def test_plans_duplicate_spans_tokenize_once_per_scan(spark):
    """duplicate_spans (ADVICE r8): the size(__tk) >= n guard must
    live INSIDE the window-transform expression, not as a filter —
    PushDownPredicate inlines a derived-column predicate below the
    projection, re-tokenizing every row inside the Filter (the exact
    pattern the r8 audit removed from chunk_documents and
    bigram_logprob).  The hashed-window frame feeds two consumers
    (the occurrence aggregate and the join back), so the optimized
    plan carries exactly TWO tokenizer mentions — one per scan
    subtree — not four."""
    from pandas_alchemy_spark.ext import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (dedup.duplicate_spans(docs, n=8)
            ._jdf.queryExecution().optimizedPlan().toString())
    n = plan.count("split(lower(regexp_replace(")
    assert n == 2, f"duplicate_spans: {n} tokenizer mentions in plan"


def test_scale_report_adjudicates_benign_flags(spark):
    """scale_report (r10, VERDICT r9 #2): the final SinglePartition
    exchange under a scalar aggregate and a BroadcastNestedLoopJoin
    with a 1-row (scalar-agg lineage) build side are how clean plans
    compile — they must NOT flag; a genuine lost-equi-condition join
    and a global window still must."""
    from pyspark.sql import Window
    from pyspark.sql import functions as SF

    from pandas_alchemy_spark.plans import scale_report

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # scalar aggregate: Exchange SinglePartition feeding keys=[] agg
    sc = docs.agg(SF.count(SF.lit(1)).alias("n"))
    assert not any(k == "single_partition"
                   for k, _ in scale_report(sc)["flags"])
    # 1-row broadcast (doc count attached per row): compiles to
    # BroadcastNestedLoopJoin over an IdentityBroadcastMode exchange
    # of a scalar aggregate — the plan you WANT
    j = docs.crossJoin(docs.agg(
        SF.count(SF.lit(1)).alias("n_total"))).select(
        "doc_id", "n_total")
    assert not any(k == "cartesian"
                   for k, _ in scale_report(j)["flags"])
    # a REAL lost-equi-condition join (multi-row both sides) flags
    nat = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    reg = spark.read.parquet(f"{SF_DIR}/region.parquet")
    bad = nat.join(reg, nat.n_regionkey < reg.r_regionkey)
    assert any(k == "cartesian"
               for k, _ in scale_report(bad)["flags"])
    # a genuine global window still flags single_partition
    w = docs.withColumn("rn", SF.row_number().over(
        Window.orderBy("doc_id")))
    assert any(k == "single_partition"
               for k, _ in scale_report(w)["flags"])


def test_plans_quality_gate_no_join_no_shuffle(spark):
    """quality_classifier_filter (r10, VERDICT r9 #1): the gate is
    the operator that scores 100 TB of raw crawl — model.transform
    APPENDS columns, so there must be NO join and NO exchange
    between the scoring pass and the gate filter (one corpus scan).
    Both gate modes, plus column survival."""
    from pandas_alchemy_spark.ext import pipeline

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    m = pipeline.train_quality_classifier(
        docs.filter("lang = 'en'"), docs.filter("lang <> 'en'"),
        max_iter=5)
    for kept in (pipeline.quality_classifier_filter(docs, m),
                 pipeline.quality_classifier_filter(
                     docs, m, threshold=0.5)):
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan
        assert "Exchange" not in plan, plan
        assert kept.columns == docs.columns + ["q_prob"]
    # the pre-scored path keeps the join form
    sc = pipeline.score_quality(docs, m)
    kept2 = pipeline.quality_classifier_filter(docs, m, scores=sc)
    plan2 = kept2._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan2


def test_metadata_resolvable_plan_walk(spark):
    """_metadata_resolvable (r13; VERDICT r12 #5): the rowid wrap
    must decide by PLAN WALK whether `_metadata.row_index` resolves —
    the old try/except logged a JVM AnalysisException ERROR block and
    paid an analyzer pass on every derived-frame wrap.  Metadata
    propagates through Project/Filter/alias down to the file
    relation; an Aggregate (and therefore a pivot, which is
    Project-over-Aggregate and still reports one input file) kills
    it."""
    from pandas_alchemy_spark.core import _metadata_resolvable

    base = spark.read.parquet(f"{SF_DIR}/region.parquet")
    assert _metadata_resolvable(base)
    assert _metadata_resolvable(base.select("r_regionkey"))
    assert _metadata_resolvable(base.filter("r_regionkey > 0"))
    assert _metadata_resolvable(base.alias("x"))
    assert not _metadata_resolvable(
        base.groupBy("r_regionkey").count())
    piv = base.groupBy().pivot("r_name").count()
    assert len(piv.inputFiles()) == 1  # the trap: looks like a scan
    assert not _metadata_resolvable(piv)
    # and the wrap itself stays correct on both shapes
    from pandas_alchemy_spark.core import DataFrame as PDF
    assert len(PDF.from_spark(piv)) == 1
    assert PDF.from_table(f"{SF_DIR}/region.parquet").head(2).shape[0] == 2


def test_plans_semantic_dedup_against_partition_pruned(spark, tmp_path):
    """semantic_dedup_against (r13): the headline scale claim is that
    the reference scan reads ONLY the probed cell directories — the
    driver-collected probe list must land as a PartitionFilter on the
    index scan (Catalyst prunes unprobed directories before a byte is
    read), and the join must be a cell equi-join, not a cartesian."""
    import re

    from pandas_alchemy_spark.ext import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").head(1)[0][0])
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb.filter("vec_id % 2 = 0"), idx,
                               dim=dim, nlist=8)
    new = emb.filter("vec_id % 2 = 1").limit(5)
    xp = similarity.semantic_dedup_against(spark, idx, new,
                                           threshold=0.3, nprobe=1)
    plan = xp._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
