"""Golden tests for the full-text relevance family (operators/search):
pure-Python BM25 / TF-IDF references on a tiny corpus, edge cases
(empty doc, absent term, ubiquitous term), and the plan-shape
invariants the 100 TB story depends on."""

from __future__ import annotations

import math

import pytest

from database_convertor_spark.operators.search import (
    bm25_search,
    query_terms,
    tfidf_keywords,
)

CORPUS = {
    1: "the quick brown fox jumps over the lazy dog",
    2: "spark spark spark join",
    3: "quick join quick join",
    4: "",
    5: "unrelated words only here",
}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in CORPUS.items()], ["doc_id", "text"])


def _python_bm25(query, k1=1.2, b=0.75):
    terms = sorted({t for t in query.lower().split() if t})
    tokenized = {i: t.lower().split() for i, t in CORPUS.items()}
    n = len(tokenized)
    avgdl = sum(len(v) for v in tokenized.values()) / n
    df = {t: sum(1 for v in tokenized.values() if t in v) for t in terms}
    out = {}
    for i, toks in tokenized.items():
        score, matched = 0.0, False
        for t in terms:
            tf = toks.count(t)
            matched = matched or tf > 0
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            score += (idf * tf * (k1 + 1.0)
                      / (tf + k1 * (1.0 - b + b * len(toks) / avgdl)))
        if matched:
            out[i] = (len(toks), round(score, 4))
    return out


def test_bm25_matches_python_reference(docs):
    got = {r.doc_id: (r.n_tokens, r.bm25)
           for r in bm25_search(docs, "quick join", top_k=10).collect()}
    assert got == _python_bm25("quick join")
    # doc 3 is saturated with both terms: it must rank first
    rows = bm25_search(docs, "quick join", top_k=10).collect()
    assert rows[0].doc_id == 3
    # non-matching and empty docs are absent
    assert 4 not in got and 5 not in got


def test_bm25_absent_term_is_harmless(docs):
    # a term with df=0 contributes 0 to every score (tf=0), so the
    # ranking equals the present-terms-only query's ranking
    with_ghost = {r.doc_id: r.bm25
                  for r in bm25_search(docs, "quick join zzz_ghost",
                                       top_k=10).collect()}
    without = {r.doc_id: r.bm25
               for r in bm25_search(docs, "quick join", top_k=10).collect()}
    assert with_ghost == without


def test_bm25_dedupes_and_normalizes_query_terms(docs):
    a = {(r.doc_id, r.bm25)
         for r in bm25_search(docs, "Quick  JOIN quick", top_k=10).collect()}
    b = {(r.doc_id, r.bm25)
         for r in bm25_search(docs, "join quick", top_k=10).collect()}
    assert a == b
    with pytest.raises(ValueError):
        query_terms("   ")


def test_bm25_top_k_cap(docs):
    assert len(bm25_search(docs, "quick join the", top_k=2).collect()) == 2


def test_bm25_plan_shape(docs):
    plan = bm25_search(docs, "quick join")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # the only join is the one-row stats broadcast
    assert "SortMergeJoin" not in plan


def _python_tfidf(k=2):
    tokenized = {i: t.lower().split() for i, t in CORPUS.items()}
    n = len(tokenized)
    df = {}
    for toks in tokenized.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    out = set()
    for i, toks in tokenized.items():
        if not toks:
            continue
        scored = sorted(
            ((round(toks.count(t) / len(toks) * math.log(n / df[t]), 4), t)
             for t in set(toks)),
            key=lambda p: (-p[0], p[1]))
        for rank, (s, t) in enumerate(scored[:k], start=1):
            out.add((i, t, rank, s))
    return out


def test_tfidf_matches_python_reference(docs):
    got = {(r.doc_id, r.term, r.rank, r.tfidf)
           for r in tfidf_keywords(docs, k=2).collect()}
    assert got == _python_tfidf(k=2)


def test_tfidf_ubiquitous_term_scores_zero(spark):
    # 'common' appears in every doc -> ln(N/df) = ln(1) = 0
    d = spark.createDataFrame(
        [(1, "common alpha"), (2, "common beta"), (3, "common gamma")],
        ["doc_id", "text"])
    got = {(r.doc_id, r.term): r.tfidf for r in tfidf_keywords(d, k=2).collect()}
    assert got[(1, "common")] == 0.0
    # the distinctive term outranks it
    ranks = {(r.doc_id, r.term): r.rank for r in tfidf_keywords(d, k=2).collect()}
    assert ranks[(1, "alpha")] == 1 and ranks[(1, "common")] == 2


def test_tfidf_empty_doc_yields_no_rows(docs):
    assert tfidf_keywords(docs, k=3).filter("doc_id = 4").count() == 0


def test_bm25_snippets_highlight_semantics(spark):
    """Each hit carries a context window around the FIRST occurrence
    of any query term: the snippet contains a query term, clamps at
    the document start, and the hit set/order equals bm25_search."""
    from database_convertor_spark.operators.search import (
        bm25_search,
        bm25_search_snippets,
    )
    docs = spark.createDataFrame(
        [(1, "quick start of doc " + "pad " * 30),
         (2, "pad " * 30 + "quick in the middle " + "pad " * 30),
         (3, "no match here at all")],
        ["doc_id", "text"])
    got = {r.doc_id: r for r in
           bm25_search_snippets(docs, "quick", top_k=5,
                                window=10).collect()}
    assert set(got) == {1, 2}
    # doc 1: term at position 1 -> window clamps to the doc start
    assert got[1].snippet.startswith("quick")
    assert len(got[1].snippet) == 20
    # doc 2: mid-doc occurrence -> 10 chars of left context
    assert "quick" in got[2].snippet
    assert not got[2].snippet.startswith("quick")
    # scores/ids identical to the plain hit page
    plain = {(r.doc_id, r.bm25) for r in
             bm25_search(docs, "quick", top_k=5).collect()}
    assert {(r.doc_id, r.bm25) for r in got.values()} == plain


def test_bm25_snippets_carry_rank_and_order(docs):
    """Round-6 ADVICE closure: the snippet join no longer discards the
    BM25 ordering — a rank column rides through and the page is sorted
    by it (top hit first) without consumer re-sorting."""
    from database_convertor_spark.operators.search import (
        bm25_search_snippets,
    )
    rows = bm25_search_snippets(docs, "quick join", top_k=10,
                                window=15).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    bm25s = [r.bm25 for r in rows]
    assert bm25s == sorted(bm25s, reverse=True)
    hits = bm25_search(docs, "quick join", top_k=10).collect()
    assert [r.doc_id for r in rows] == [r.doc_id for r in hits]


def test_landed_text_index_prunes_and_matches(spark, tmp_path):
    """The landed text-index contract (text twin of the IVFADC index):
    bucket directories on disk, the query's term buckets arrive as a
    PartitionFilters entry on the postings scan (file pruning), and
    the hit page is IDENTICAL to bm25_search on the source corpus —
    same scores, same order, same rounding."""
    from database_convertor_spark.operators.search import (
        land_text_index,
        search_text_index,
    )
    from database_convertor_spark.sources.readers import read_table
    from .conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents")
    path = str(tmp_path / "text_index")
    stats = land_text_index(docs, path, n_buckets=16)
    assert stats["n_docs"] == docs.count()

    landed = search_text_index(spark, path, "dup join scan", top_k=25)
    plan = landed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan

    direct = bm25_search(docs, "dup join scan", top_k=25)
    assert [tuple(r) for r in landed.collect()] == \
        [tuple(r) for r in direct.collect()]

    import os
    buckets = [d for d in os.listdir(path) if d.startswith("bucket=")]
    assert len(buckets) >= 2          # the inverted lists ARE the layout


def test_text_index_path_guard_refuses_uri_schemes(docs):
    """The stats sidecar is local-file I/O — URI-scheme paths are
    refused up front (same contract as the IVFPQ codebook sidecar)."""
    import pytest

    from database_convertor_spark.operators.search import (
        land_text_index,
        search_text_index,
    )
    with pytest.raises(NotImplementedError, match="local-filesystem"):
        land_text_index(docs, "s3a://bucket/idx")
    with pytest.raises(NotImplementedError, match="local-filesystem"):
        search_text_index(docs.sparkSession, "hdfs://nn/idx", "x")


def test_term_bucket_driver_twin_matches_spark(spark):
    """The driver-side CRC-32 bucket computation must agree with the
    Spark-side column for every term — it is what turns the query into
    a partition filter."""
    from pyspark.sql import functions as F

    from database_convertor_spark.operators.search import (
        _term_bucket_col,
        _term_bucket_py,
    )
    terms = ["quick", "join", "scan", "zebra", "a", "Ångström",
             "longish-term-with-dashes", "123"]
    df = spark.createDataFrame([(t,) for t in terms], ["term"])
    got = {r.term: r.b for r in df.select(
        "term", _term_bucket_col(F.col("term"), 16).alias("b")).collect()}
    for t in terms:
        assert got[t] == _term_bucket_py(t, 16), t


def _rrf_python(text_ranks, vec_ranks, rrf_k=60, top_k=25):
    ids = set(text_ranks) | set(vec_ranks)
    out = []
    for d in ids:
        s = 0.0
        if d in text_ranks:
            s += 1.0 / (rrf_k + text_ranks[d])
        if d in vec_ranks:
            s += 1.0 / (rrf_k + vec_ranks[d])
        out.append((round(s, 6), d))
    out.sort(key=lambda p: (-p[0], p[1]))
    return out[:top_k]


def test_hybrid_search_rrf_fusion_semantics(spark):
    """RRF fusion: rank-only (no score mixing), absent legs contribute
    0, ties break on doc_id — checked against a pure-Python replica on
    a corpus where the lexical and semantic legs disagree."""
    from database_convertor_spark.operators.search import (
        hybrid_search_rrf,
    )
    from database_convertor_spark.sources.readers import read_table
    from .conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents")
    emb = read_table(spark, SF_SMALL, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    got = hybrid_search_rrf(docs, emb, "dup join scan", qv,
                            top_k=25, candidates=50).collect()

    text_ranks = {r.doc_id: r.bm25_rank for r in got
                  if r.bm25_rank is not None}
    vec_ranks = {r.doc_id: r.vec_rank for r in got
                 if r.vec_rank is not None}
    # vec 0 matches itself at cosine 1.0 -> semantic rank 1
    assert vec_ranks.get(0) == 1
    # both legs contributed (disagreeing candidate sets)
    assert any(r.bm25_rank is None for r in got)
    assert any(r.vec_rank is None for r in got)
    # rrf values recompute from the ranks alone
    for r in got:
        want = 0.0
        if r.bm25_rank is not None:
            want += 1.0 / (60 + r.bm25_rank)
        if r.vec_rank is not None:
            want += 1.0 / (60 + r.vec_rank)
        assert r.rrf == round(want, 6)
    # ordering: rrf desc, doc_id asc
    keys = [(-r.rrf, r.doc_id) for r in got]
    assert keys == sorted(keys)


def test_compact_text_index_unfreezes_stats(spark, tmp_path):
    """After streaming appends, compaction recomputes N/sumdl from
    the current postings (plus the build-time token-less residual) —
    post-compaction searches score appended docs under CURRENT
    stats, identical to a fresh rebuild on the full corpus."""
    import os

    from database_convertor_spark.operators.search import (
        compact_text_index,
        land_text_index,
        search_text_index,
    )
    from database_convertor_spark.sources.readers import read_table
    from .conftest import SF_SMALL

    base = read_table(spark, SF_SMALL, "documents")
    old = base.filter("doc_id < 300")
    new = base.filter("doc_id >= 300 and doc_id < 400")
    path = str(tmp_path / "ti")
    land_text_index(old, path, n_buckets=8)
    # append the new docs' postings the way the stream sink does
    from database_convertor_spark.operators.search import _postings
    _postings(new, 8).write.mode("append") \
        .partitionBy("bucket").parquet(path)
    spark.catalog.refreshByPath(path)

    stats = compact_text_index(spark, path)
    fresh_path = str(tmp_path / "ti_fresh")
    fresh_stats = land_text_index(
        base.filter("doc_id < 400"), fresh_path, n_buckets=8)
    assert stats == fresh_stats
    got = search_text_index(spark, path, "dup join scan").collect()
    want = search_text_index(spark, fresh_path, "dup join scan").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert os.path.exists(os.path.join(path, "_stats.json"))


def test_hybrid_indexed_matches_in_memory_at_full_recall(spark, tmp_path):
    """The index-backed hybrid entry point equals the in-memory one
    whenever the ADC shortlist covers the exact top-candidates — here
    forced outright (nprobe = all cells, shortlist = corpus size), so
    the comparison is exact equality, not recall."""
    from database_convertor_spark.operators.search import (
        hybrid_search_rrf,
        hybrid_search_rrf_indexed,
        land_text_index,
    )
    from database_convertor_spark.operators.similarity_search import (
        land_ivfpq_index,
    )
    from database_convertor_spark.sources.readers import read_table
    from .conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents")
    emb = read_table(spark, SF_SMALL, "embeddings")
    tpath, apath = str(tmp_path / "ti"), str(tmp_path / "ai")
    land_text_index(docs, tpath, n_buckets=16)
    land_ivfpq_index(emb, apath, n_cells=8, m=4, ks=8, n_iter=2)
    qv = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]

    got = hybrid_search_rrf_indexed(
        spark, tpath, apath, "dup join scan", qv, emb,
        top_k=25, candidates=50, nprobe=8,
        shortlist=emb.count()).collect()
    want = hybrid_search_rrf(docs, emb, "dup join scan", qv,
                             top_k=25, candidates=50).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_hybrid_indexed_prunes_both_legs(spark, tmp_path):
    """The 100 TB contract of the indexed path: the text leg's
    postings scan carries a bucket PartitionFilter, the semantic leg's
    codes scan carries a cell PartitionFilter, and the raw-float
    re-rank fetch arrives as a pushed-down In(vec_id, ...) point
    fetch — per-query cost tracks posting + probed-cell mass, never
    the corpus."""
    from database_convertor_spark.operators.search import (
        hybrid_search_rrf_indexed,
        land_text_index,
    )
    from database_convertor_spark.operators.similarity_search import (
        land_ivfpq_index,
    )
    from database_convertor_spark.sources.readers import read_table
    from .conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents")
    emb = read_table(spark, SF_SMALL, "embeddings")
    tpath, apath = str(tmp_path / "ti"), str(tmp_path / "ai")
    land_text_index(docs, tpath, n_buckets=16)
    land_ivfpq_index(emb, apath, n_cells=8, m=4, ks=8, n_iter=2)
    qv = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]

    fused = hybrid_search_rrf_indexed(
        spark, tpath, apath, "dup join scan", qv, emb,
        top_k=25, candidates=50, nprobe=2, shortlist=50)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    part_lines = [ln for ln in plan.splitlines()
                  if "PartitionFilters: [" in ln]
    assert any("bucket" in ln for ln in part_lines)   # text leg prunes
    assert "In(vec_id" in plan                        # point fetch pushed

    # the ADC leg's codes scan runs inside the entry point (its ids
    # are the collected shortlist, a bounded driver scalar), so its
    # plan is asserted on the same search the entry point issues
    from database_convertor_spark.operators.similarity_search import (
        search_ivfpq_index,
    )
    qdf = spark.createDataFrame([(-1, qv)],
                                "vec_id long, embedding array<double>")
    leg = search_ivfpq_index(spark, apath, qdf, k=50, nprobe=2)
    leg_plan = leg._jdf.queryExecution().executedPlan().toString()
    leg_lines = [ln for ln in leg_plan.splitlines()
                 if "PartitionFilters: [" in ln]
    assert any("cell" in ln for ln in leg_lines)      # codes leg prunes


def test_compact_text_index_collapses_reingested_postings(spark, tmp_path):
    """ADVICE r7 closure: a document re-landed AROUND the stream's
    anti-join guard (e.g. across two independent builds) leaves
    duplicate (term, doc_id) postings that double its tf and inflate
    df; compaction must collapse them so the result is
    indistinguishable from a fresh rebuild — stats, scores and order
    all equal."""
    from database_convertor_spark.operators.search import (
        _postings,
        compact_text_index,
        land_text_index,
        search_text_index,
    )
    from database_convertor_spark.sources.readers import read_table
    from .conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents").filter("doc_id < 300")
    path = str(tmp_path / "ti")
    land_text_index(docs, path, n_buckets=8)
    # re-ingest 50 ALREADY-INDEXED docs verbatim (duplicate postings)
    _postings(docs.filter("doc_id < 50"), 8).write.mode("append") \
        .partitionBy("bucket").parquet(path)
    spark.catalog.refreshByPath(path)

    stats = compact_text_index(spark, path)
    fresh = str(tmp_path / "ti_fresh")
    assert stats == land_text_index(docs, fresh, n_buckets=8)
    got = search_text_index(spark, path, "dup join scan").collect()
    want = search_text_index(spark, fresh, "dup join scan").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # the duplicate rows themselves are gone, not just the stats
    from pyspark.sql import functions as F
    dupes = (spark.read.parquet(path).groupBy("term", "doc_id")
             .count().filter(F.col("count") > 1))
    assert dupes.count() == 0


def test_compact_text_index_crash_mid_swap_recovers(spark, tmp_path,
                                                   monkeypatch):
    """Kill point between the compaction swap's rename-aside and its
    rename-in: the old index survives under the dot-aside name, and the
    next compaction rolls it back before reading, then completes — the
    index ends whole at its path, searching like a fresh build, with no
    aside left beside it."""
    import os

    from database_convertor_spark.operators.search import (
        _postings,
        compact_text_index,
        land_text_index,
        search_text_index,
    )
    from database_convertor_spark.sources.readers import read_table
    from .conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents").filter("doc_id < 300")
    path = str(tmp_path / "ti")
    land_text_index(docs, path, n_buckets=8)
    _postings(docs.filter("doc_id < 50"), 8).write.mode("append") \
        .partitionBy("bucket").parquet(path)
    spark.catalog.refreshByPath(path)

    calls = {"n": 0}
    real_rename = os.rename

    def crash_on_second_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected crash")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second_rename)
    with pytest.raises(OSError, match="injected crash"):
        compact_text_index(spark, path)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(path)           # caught mid-swap

    stats = compact_text_index(spark, path)
    fresh = str(tmp_path / "ti_fresh")
    assert stats == land_text_index(docs, fresh, n_buckets=8)
    got = search_text_index(spark, path, "dup join scan").collect()
    want = search_text_index(spark, fresh, "dup join scan").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert not any(e.endswith("__aside") for e in os.listdir(tmp_path))
    # no staging dir remains
    assert sorted(os.listdir(tmp_path)) == ["ti", "ti_fresh"]


def test_search_text_index_clamps_idf_nonnegative(spark, tmp_path):
    """ADVICE r7 closure: after heavy streaming appends, a term's LIVE
    postings df can exceed the FROZEN sidecar N; unclamped, its idf
    goes negative — a regime neither the batch path nor a rebuilt
    index would produce. The clamp degrades the term to no-signal
    (score contribution 0) instead."""
    from database_convertor_spark.operators.search import (
        _postings,
        land_text_index,
        search_text_index,
    )

    base = spark.createDataFrame(
        [(1, "zzterm alpha"), (2, "beta gamma")], ["doc_id", "text"])
    path = str(tmp_path / "ti")
    land_text_index(base, path, n_buckets=4)          # frozen N = 2
    extra = spark.createDataFrame(
        [(i, "zzterm filler") for i in range(10, 16)],
        ["doc_id", "text"])                            # live df -> 7 > 2
    _postings(extra, 4).write.mode("append") \
        .partitionBy("bucket").parquet(path)
    spark.catalog.refreshByPath(path)

    rows = search_text_index(spark, path, "zzterm", top_k=25).collect()
    assert rows                                        # still searchable
    assert all(r.bm25 >= 0.0 for r in rows)            # never negative
    # the saturated term carries no signal: every matching doc ties at 0
    assert {r.bm25 for r in rows} == {0.0}


def test_search_text_index_many_matches_single(spark, tmp_path):
    """The batched landed-index search serves N queries from ONE
    pruned scan with pages IDENTICAL per query to the single-query
    path (same live-df regime, same sorted-term-order score fold) —
    and the scan still carries the bucket PartitionFilter."""
    from database_convertor_spark.operators.search import (
        land_text_index,
        search_text_index,
        search_text_index_many,
    )
    from database_convertor_spark.sources.readers import read_table
    from .conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents")
    path = str(tmp_path / "ti")
    land_text_index(docs, path, n_buckets=16)
    queries = ["dup join scan", "quick brown", "scan filter join",
               "zzz_no_such_term"]
    batched = search_text_index_many(spark, path, queries, top_k=25)
    got = {}
    for r in batched.collect():
        got.setdefault(r.query_id, []).append(
            (r.doc_id, r.n_tokens, r.bm25))
    for qi, q in enumerate(queries):
        want = [(r.doc_id, r.n_tokens, r.bm25) for r in
                search_text_index(spark, path, q, top_k=25).collect()]
        assert got.get(qi, []) == want, q
    assert 3 not in got                       # no-hit query yields no rows

    plan = batched._jdf.queryExecution().executedPlan().toString()
    lines = [ln for ln in plan.splitlines() if "PartitionFilters: [" in ln]
    assert any("bucket" in ln for ln in lines)


def test_hybrid_indexed_many_matches_single(spark, tmp_path):
    """The batched index-backed hybrid serves N (query, vector) pairs
    with per-query results IDENTICAL to hybrid_search_rrf_indexed —
    same legs, same shortlist semantics, same fusion."""
    from database_convertor_spark.operators.search import (
        hybrid_search_rrf_indexed,
        hybrid_search_rrf_indexed_many,
        land_text_index,
    )
    from database_convertor_spark.operators.similarity_search import (
        land_ivfpq_index,
    )
    from database_convertor_spark.sources.readers import read_table
    from .conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents")
    emb = read_table(spark, SF_SMALL, "embeddings")
    tpath, apath = str(tmp_path / "ti"), str(tmp_path / "ai")
    land_text_index(docs, tpath, n_buckets=16)
    land_ivfpq_index(emb, apath, n_cells=8, m=4, ks=8, n_iter=2)

    queries = ["dup join scan", "quick brown", "zzz_no_such_term"]
    vecs = [[float(x) for x in r["embedding"]]
            for r in emb.filter("vec_id < 3").collect()]
    batched = hybrid_search_rrf_indexed_many(
        spark, tpath, apath, queries, vecs, emb,
        top_k=25, candidates=50, nprobe=2, shortlist=60)
    got = {}
    for r in batched.collect():
        got.setdefault(r.query_id, []).append(
            (r.doc_id, r.rrf, r.bm25_rank, r.vec_rank))
    for qi, (q, v) in enumerate(zip(queries, vecs)):
        want = [(r.doc_id, r.rrf, r.bm25_rank, r.vec_rank) for r in
                hybrid_search_rrf_indexed(
                    spark, tpath, apath, q, v, emb,
                    top_k=25, candidates=50, nprobe=2,
                    shortlist=60).collect()]
        assert got.get(qi, []) == want, q


_RETRY_SCRIPT = """
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import functions as F
from database_convertor_spark.functions.text import tokens
from database_convertor_spark.operators.search import land_text_index
from database_convertor_spark.session import get_spark
from database_convertor_spark.sources.readers import read_table

sf_dir, out = sys.argv[1], sys.argv[2]
marker = os.path.join(out, "failed")
spark = get_spark("retry", master="local[4,2]", shuffle_partitions=4)
docs = read_table(spark, sf_dir, "documents")

@F.udf("boolean")
def fail_first_attempt(doc_id):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        open(marker, "a").close()
        raise RuntimeError("injected task failure")
    return True

stats = land_text_index(docs.filter(fail_first_attempt("doc_id")),
                        os.path.join(out, "index"), n_buckets=8)
n = docs.select(F.size(tokens(F.lower(F.col("text")))).alias("n"))
row = n.agg(F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("sumdl"),
            F.sum((F.col("n") > 0).cast("long")).alias("nd")).first()
print(json.dumps({
    "failed": os.path.exists(marker),
    "sidecar": [stats["n_docs"], stats["sumdl"],
                stats["n_docs"] - stats["n_tokenless"]],
    "recount": [row.n_docs, row.sumdl, row.nd]}))
spark.stop()
"""


def test_land_text_index_stats_exact_under_task_retry(tmp_path):
    """The sidecar's n_docs, sumdl and nd are observed on the landing
    writes (accumulator-backed): under local[4,2] with partition 0's
    first attempt failing in every job that reads the input, they
    still equal an exact recount. Runs in its own interpreter so the
    suite's shared session keeps its master."""
    import json
    import os
    import subprocess
    import sys

    from .conftest import SF_SMALL

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root + os.pathsep
               + os.environ.get("PYTHONPATH", ""),
               SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, SF_SMALL, str(tmp_path)],
        cwd=root, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["failed"], "the injected failure never fired"
    assert out["sidecar"] == out["recount"]
