"""Physical-plan regression guards: the properties that make these
queries survive 100x scale must stay in the plan — losing a pushdown
or a broadcast is a silent 10-100x regression the row-level oracle
can't see."""

from __future__ import annotations

import pytest

from database_convertor_spark.plans.catalog import CATALOG

from .conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    df = CATALOG[name].builder(spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def test_predicates_push_to_scan(spark):
    plan = _plan(spark, "open_orders")
    assert "PushedFilters: [" in plan
    assert "EqualTo(o_orderstatus,O)" in plan
    # (the PushedFilters list may be truncated in the plan string)
    assert "GreaterThan(o_total" in plan


def test_scan_prunes_columns(spark):
    plan = _plan(spark, "open_orders")
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_orderdate" not in scan  # unused column never read


def test_dimension_joins_broadcast(spark):
    assert "BroadcastHashJoin" in _plan(spark, "market_segment_revenue")
    plan = _plan(spark, "regional_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # nation/region + customer dim


def test_left_rollup_preaggregates_before_join(spark):
    plan = _plan(spark, "customer_order_stats")
    # partial aggregate must sit BELOW the join (fact never joins raw)
    assert "partial_count" in plan
    join_pos = plan.index("Join")
    assert plan.index("HashAggregate", join_pos) > join_pos  # agg feeds join


def test_top_k_avoids_global_sort(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "top_orders")


def test_fuzzy_is_blocking_first(spark):
    """Fuzzy_match must take the token-blocking equi-join, with the
    rescue confined to the left-anti residual. At test scale the right
    side is dimension-sized, so the size gate selects the EXACT rescue:
    one broadcast nested loop bounded by |residual| x |dim| — the
    round-3 verdict's prescribed trade (gram blocking provably returns
    wrong argmaxes at loose thresholds; correctness outranks plan
    aesthetics). The gate itself is exercised in
    test_fuzzy_scale_regime_has_no_nested_loop below."""
    plan = _plan(spark, "fuzzy_match_customers")
    # candidate generation is a hash/merge equi-join on the token key
    assert any(j in plan for j in
               ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
    # the gated exact rescue runs NATIVELY inside Arrow-batched
    # tasks (r10: _duckdb_lev_rung — the JVM nested loop emitted
    # 14M pair rows through codegen; the native rung returns one
    # argmax row per residual left), so the plan carries a
    # MapInPandas node and ZERO JVM nested loops
    assert "MapInPandas" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 0
    assert "LeftAnti" in plan                    # residual restriction
    assert "RoundRobinPartitioning" in plan      # rescue probe spread out
    assert "CartesianProduct" not in plan


def test_fuzzy_scale_regime_has_no_nested_loop(spark, monkeypatch):
    """Above the size gate (forced here with EXACT_RESCUE_LIMIT=0) the
    rescue must degrade to the rarest-q-gram equi-join: zero nested
    loops, zero cartesians — the 100-TB plan shape."""
    from database_convertor_spark.operators import entity_resolution as er
    from database_convertor_spark.sources.readers import read_table

    customer = read_table(spark, SF_SMALL, "customer")
    supplier = read_table(spark, SF_SMALL, "supplier")
    monkeypatch.setattr(er, "EXACT_RESCUE_LIMIT", 0)
    df = er.fuzzy_join(customer, supplier, "c_name", "s_name",
                       "c_custkey", "s_suppkey", threshold=0.5, top_k=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == 0
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_pairwise_ops_have_no_cartesian(spark):
    for name in ["dedup_ngram_jaccard", "dedup_ngram_adjacent",
                 "dedup_minhash_lsh", "dedup_simhash",
                 "dedup_embedding_cosine", "ann_ivf_topk",
                 "ann_ivf_multiprobe", "corpus_curation_stats",
                 "dedup_incremental_pairs", "benchmark_contamination_hits",
                 "doc_boilerplate_removed", "dedup_winnowing",
                 "dedup_embedding_srp", "ann_pq_topk", "ann_pq_rerank",
                 "ann_ivfpq_topk", "ann_hard_negatives",
                 "doc_bm25_search", "doc_tfidf_keywords",
                 "doc_bigram_logprob", "dedup_containment_pairs",
                 "benchmark_containment_pairs"]:
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        # NL is allowed only on documented broadcast paths (the
        # multiprobe top-nprobe codebook probe); every dedup pair
        # generator must stay pure equi-join
        if name.startswith("dedup_"):
            assert "BroadcastNestedLoopJoin" not in plan, name


@pytest.mark.parametrize("name", ["pricing_summary", "event_type_counts"])
def test_aggregates_are_two_phase(spark, name):
    plan = _plan(spark, name)
    assert "partial_" in plan  # map-side combine present


def test_provider_merge_is_single_partial_aggregate(spark):
    """D6 first-wins must stay one partial-aggregable groupBy — a
    window or per-field join here would shuffle every provider row."""
    plan = _plan(spark, "provider_enrichment_merge")
    assert "partial_min" in plan                  # map-side combine
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan            # no per-field joins


def test_linkedin_pick_is_single_aggregate(spark):
    plan = _plan(spark, "linkedin_profile_pick")
    assert "partial_min" in plan
    assert "Window" not in plan


def test_name_match_join_blocks_on_domain(spark):
    """J8's containment ladder must ride an equi-join on the domain
    key, never a nested loop over all officer x email pairs."""
    plan = _plan(spark, "officer_email_matches")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_partitioned_layout_prunes_on_read(spark, tmp_path_factory):
    """The 100 TB disk layout contract: a corpus written partitioned by
    lang must plan a lang-filtered read as partition pruning (no data
    files of other langs touched), with the predicate absent from the
    post-scan filter."""
    from database_convertor_spark.sources.readers import read_table

    path = str(tmp_path_factory.mktemp("bylang") / "docs")
    (read_table(spark, SF_SMALL, "documents")
     .write.partitionBy("lang").mode("overwrite").parquet(path))
    df = spark.read.parquet(path).filter("lang = 'en'").select("doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "Scan parquet" in ln or
            "PartitionFilters" in ln]
    assert any("PartitionFilters" in ln and "lang" in ln for ln in scan)


def _logical_node_names(node):
    """Class names of a logical plan tree, recursing through children.
    InMemoryRelation is a LEAF in the logical plan, so the walk stops
    at cache boundaries — unlike plan STRINGS, which inline every
    cached child plan and make occurrence-counting meaningless."""
    yield node.getClass().getSimpleName()
    for i in range(node.children().length()):
        yield from _logical_node_names(node.children().apply(i))


def test_nb_quality_scans_corpus_exactly_once(spark):
    """Round-6 ADVICE closure: naive_bayes_quality evaluates the heavy
    quality_score projection on EXACTLY ONE corpus scan. Structural
    proof on the optimized logical plans: the output reads only caches
    (no direct parquet relation), and of the frames the operator
    persists for the query exactly one — the base frame — reads the
    corpus; the token stream derives from that cache, so quality_score
    has a single evaluating subtree."""
    from database_convertor_spark import session
    from database_convertor_spark.operators.text_analysis import (
        naive_bayes_quality,
    )
    from database_convertor_spark.sources.readers import read_table

    docs = read_table(spark, SF_SMALL, "documents")
    out = naive_bayes_quality(docs)
    names = list(_logical_node_names(
        out._jdf.queryExecution().optimizedPlan()))
    assert not any("LogicalRelation" in n for n in names), \
        "output must read the corpus only through the persisted base"
    assert any("InMemoryRelation" in n for n in names)

    # the fixture started a new query, so the record holds exactly
    # this call's frames, in persist order: base, toks, vocab
    with session._QUERY_LOCK:
        frames = [df for dfs in session._QUERY_FRAMES.values()
                  for df in dfs]
    assert len(frames) == 3

    def _physical_node_names(node):
        """Walk a cached SparkPlan; InMemoryTableScanExec is a leaf,
        so the walk stops at nested cache boundaries."""
        name = node.getClass().getSimpleName()
        yield name
        if name == "AdaptiveSparkPlanExec":
            yield from _physical_node_names(node.inputPlan())
            return
        for i in range(node.children().length()):
            yield from _physical_node_names(node.children().apply(i))

    direct_readers = []
    for name, df in zip(["base", "toks", "vocab"], frames):
        imr = df._jdf.queryExecution().optimizedPlan()
        # each frame is self-cached: its optimized plan IS its own
        # InMemoryRelation; the computation lives in cachedPlan()
        assert imr.getClass().getSimpleName() == "InMemoryRelation"
        if any("FileSourceScan" in n for n in
               _physical_node_names(imr.cachedPlan())):
            direct_readers.append(name)
    assert direct_readers == ["base"], \
        f"only the base frame may scan the corpus, got {direct_readers}"
    out.limit(1).collect()   # the plan executes


def test_persist_for_query_survives_same_plan_reinvocation(spark):
    """Regression (r7): CacheManager dedups cache entries by canonical
    plan, so invoking an operator twice on the same input makes the
    second call's persist share the first call's entry — releasing the
    first call's frame would silently un-cache the second (every
    consumer re-scanning). Both invocations must read through
    InMemoryRelation, within one query and across a ``new_query()``
    (which releases the shared entry BEFORE the second persist)."""
    from pyspark.storagelevel import StorageLevel

    from database_convertor_spark import session
    from database_convertor_spark.operators.text_analysis import (
        naive_bayes_quality,
    )
    from database_convertor_spark.sources.readers import read_table

    docs = read_table(spark, SF_SMALL, "documents")
    for between in (lambda: None, session.new_query):
        for i in range(2):
            if i:
                between()
            out = naive_bayes_quality(docs)
            names = list(_logical_node_names(
                out._jdf.queryExecution().optimizedPlan()))
            assert not any("LogicalRelation" in n for n in names)
            assert any("InMemoryRelation" in n for n in names)
        # the second call's persisted frames (base, toks, vocab)
        with session._QUERY_LOCK:
            frames = [df for dfs in session._QUERY_FRAMES.values()
                      for df in dfs][-3:]
        assert [df.storageLevel for df in frames] \
            == [StorageLevel.MEMORY_AND_DISK] * 3


def test_orders_page_keyset_plan_and_contents(spark):
    """W5's scale twin: for the boundary = last key of the previous
    row_number page, keyset pagination returns the IDENTICAL page
    contents, and its plan is a pushed-down range filter +
    TakeOrderedAndProject — no global window, no single-partition
    funnel, per-page cost tracks the page rather than the offset."""
    from database_convertor_spark.operators.relational import (
        orders_page,
        orders_page_keyset,
    )
    from database_convertor_spark.sources.readers import read_table

    orders = read_table(spark, SF_SMALL, "orders")
    prev = orders_page(orders, page=3, page_size=20).collect()
    boundary = prev[-1].o_orderkey
    nxt = orders_page(orders, page=4, page_size=20).collect()
    got = orders_page_keyset(orders, after_key=boundary,
                             page_size=20).collect()
    assert [(r.o_orderkey, r.o_custkey, r.o_totalprice) for r in got] \
        == [(r.o_orderkey, r.o_custkey, r.o_totalprice) for r in nxt]

    plan = orders_page_keyset(orders, after_key=boundary) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "GreaterThan(o_orderkey" in plan      # range filter pushed
    assert "Window" not in plan                  # no O(offset) window


def test_srp_verify_plan_is_mass_adaptive(spark):
    """The r8 third-decade redesign, structurally pinned: with a
    known-small measured mass the SRP verify takes the narrow-attach
    plan (3 joins: banding self-join + two vector attaches); with no
    estimate (budget disabled) it MUST take the streamed in-join
    verify — exactly ONE join, so nothing pair-sized is ever sorted
    (the plan that completed sf100 where narrow-attach filled the
    disk)."""
    from pyspark.sql import functions as F

    from database_convertor_spark.operators.dedup import (
        embedding_srp_pairs,
    )
    from database_convertor_spark.sources.readers import read_table

    emb = read_table(spark, SF_SMALL, "embeddings") \
        .select("vec_id", "embedding").filter(F.col("vec_id") < 80)

    def njoins(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sum(plan.count(j) for j in
                   ("SortMergeJoin", "ShuffledHashJoin",
                    "BroadcastHashJoin"))

    narrow = embedding_srp_pairs(emb)                 # mass measured, tiny
    assert njoins(narrow) == 3
    streamed = embedding_srp_pairs(emb, max_candidate_pairs=None)
    assert njoins(streamed) == 1


def test_rp_project_plan_has_no_shuffle(spark):
    """The JL projection is embarrassingly row-parallel: plan-literal
    planes, per-row dots, posexplode — no Exchange anywhere (the 100
    TB cost is exactly one read of the embedding column)."""
    plan = _plan(spark, "embedding_rp_project")
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan
