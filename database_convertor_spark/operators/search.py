"""Full-text relevance search — the Spark-native analog of the
reference's Elasticsearch search surface. The reference ships every
search through an external ES cluster: bool/match query construction
(api_clients.py:678-728 `/root/reference/DatabaseConverter/api_clients.py:678`)
and relevance-ranked hit pages rendered to the user. Here the same
capability runs IN the engine over the landed corpus: BM25
(Robertson/Sparck Jones — the exact scoring function Lucene/ES uses by
default) ranks documents against a query string, and TF-IDF keyword
extraction surfaces each document's most distinctive terms (the
"significant terms" ES aggregation, per document).

Scale shape (the whole point of doing it in-engine at 100 TB):

- ``bm25_search`` never shuffles corpus-sized data AT ALL. Per-row
  term frequencies for the (few) query terms and the document length
  come from ONE array traversal inside WholeStageCodegen
  (``F.aggregate`` with a struct accumulator — one tokenize, one
  pass, no explode). Corpus statistics (N, avgdl, per-term document
  frequencies) are ONE partial-aggregable all-reduce producing a
  single broadcast row; scoring is a per-row expression over the
  persisted narrow stats frame, and the top-k is a
  TakeOrderedAndProject (per-partition heads, never a global sort).

- ``tfidf_keywords`` is the classic inverted-index pipeline: one
  explode feeding a map-side-combining (doc, term) count, the two
  marginals (doc length, term document-frequency) re-aggregated FROM
  that persisted frame (never a second corpus scan), N as a broadcast
  row, and the per-document top-k as a window over the aggregated
  frame keyed by doc_id.

Determinism contract (both operators are value-oracled in DuckDB):
scores are rounded to 4dp IN the ordering key, ties break on the
lexically smallest term / smallest doc_id, and every sum folds in a
fixed term order — so a distributed run and a serial oracle agree
cell-for-cell.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import persist_for_query
from .similarity_search import _require_local_index_path, _sidecar_cached


def query_terms(query: str) -> list[str]:
    """Distinct, lowercased, sorted query terms — the deterministic
    term order every BM25 sum folds in."""
    terms = sorted({t for t in re.split(r"\s+", query.lower()) if t})
    if not terms:
        raise ValueError("bm25_search: query has no terms")
    return terms


def bm25_search(documents: DataFrame, query: str,
                k1: float = 1.2, b: float = 0.75,
                top_k: int = 25) -> DataFrame:
    """Rank documents against ``query`` with BM25 (the Lucene/ES
    default scoring), entirely in-engine:

        idf(t)  = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        score   = sum_t idf(t) * tf_t * (k1+1)
                               / (tf_t + k1 * (1 - b + b * dl/avgdl))

    with N = corpus size, df_t = documents containing t, dl = document
    token length, avgdl = mean dl over the corpus. Only documents
    matching at least one query term are returned, top_k by
    (score desc, doc_id) — the ES "match query" hit page.

    Distributed shape: per-row (dl, tf per query term) in ONE array
    traversal (struct-accumulator ``F.aggregate`` — one tokenize per
    row, no explode, no shuffle); the narrow per-doc stats frame is
    persisted once and feeds both the one-row global aggregate
    (broadcast back) and the scoring pass; the final top-k plans as
    TakeOrderedAndProject. At 100 TB the corpus is scanned exactly
    once and nothing wider than (doc_id, m+1 longs) ever moves.

    Reference analog: ES match-query search pages
    (api_clients.py:678-728); the scoring function is ES's own.
    """
    from ..functions.text import tokens

    terms = query_terms(query)
    m = len(terms)

    def _acc(dl, tfs):
        return F.struct(dl.alias("dl"),
                        *[c.alias(f"tf{i}") for i, c in enumerate(tfs)])

    zero = _acc(F.lit(0).cast("long"),
                [F.lit(0).cast("long")] * m)
    row = F.aggregate(
        tokens(F.lower(F.col("text"))), zero,
        lambda acc, t: _acc(
            acc["dl"] + 1,
            [acc[f"tf{i}"] + (t == F.lit(term)).cast("long")
             for i, term in enumerate(terms)]))
    per_doc = documents.select(
        "doc_id", F.coalesce(row, zero).alias("_s")).select(
        "doc_id", F.col("_s.dl").alias("_dl"),
        *[F.col(f"_s.tf{i}").alias(f"_tf{i}") for i in range(m)])
    per_doc = persist_for_query(per_doc)

    gstats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_dl").cast("double").alias("_sumdl"),
        *[F.sum((F.col(f"_tf{i}") > 0).cast("long")).cast("double")
          .alias(f"_df{i}") for i in range(m)])

    matched = reduce(lambda a, c: a + c,
                     [F.col(f"_tf{i}") for i in range(m)]) > 0
    score = _bm25_score(m, k1, b)
    return (per_doc.crossJoin(F.broadcast(gstats))
            .filter(matched)
            .select("doc_id", F.col("_dl").alias("n_tokens"),
                    F.round(score, 4).alias("bm25"))
            .orderBy(F.desc("bm25"), "doc_id")
            .limit(top_k))


def _bm25_score(m: int, k1: float, b: float):
    """The BM25 scoring expression over the conventional stats columns
    (_dl, _tf{i}; _n, _sumdl, _df{i}) — extracted so ``bm25_search``
    (stats refit per call) and ``search_text_index`` (stats read from
    the landed index) build the IDENTICAL expression tree: same fixed
    term-order fold, same literal arithmetic — bit-identical scores."""
    avgdl = F.col("_sumdl") / F.col("_n")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / avgdl)
    parts = []
    for i in range(m):
        # clamped at 0: with df <= N (always true when stats and df
        # come from the same corpus pass) the argument exceeds 1 and
        # the clamp is a no-op, but on a landed index AFTER streaming
        # appends the live postings df can exceed the frozen sidecar N
        # — without the clamp that mixed regime would score a term
        # NEGATIVELY, which neither the batch nor a rebuilt index
        # would ever produce
        idf = F.greatest(
            F.log(F.lit(1.0) + (F.col("_n") - F.col(f"_df{i}") + 0.5)
                  / (F.col(f"_df{i}") + 0.5)),
            F.lit(0.0))
        tf = F.col(f"_tf{i}").cast("double")
        parts.append(idf * tf * F.lit(k1 + 1.0) / (tf + norm))
    return reduce(lambda a, c: a + c, parts)


def bm25_search_snippets(documents: DataFrame, query: str,
                         k1: float = 1.2, b: float = 0.75,
                         top_k: int = 25, window: int = 40) -> DataFrame:
    """The full ES hit page: BM25 top-k PLUS a highlight snippet per
    hit — a FIXED ``2 * window``-character excerpt starting ``window``
    characters before the first occurrence of any query term (the
    same fixed-fragment semantics as ES's highlighter
    ``fragment_size``: the budget is a character count, so a term
    longer than ``window`` is excerpted from its start, not padded —
    size ``window`` to the longest query term when that matters; the
    reference renders exactly these fragments from ES highlight
    fields). The snippet expression evaluates on
    ONLY the top_k rows: the ranked ids broadcast into a hash-join
    probe of the corpus (text fetched for matching rows; the text
    column never shuffles — a production deployment would serve this
    point fetch from a keyed row store).

    First-occurrence position = min over query terms of the term's
    position in the lowercased text (term order breaks nothing: min is
    order-free); the excerpt clamps at the document start. Output:
    (doc_id, rank, n_tokens, bm25, snippet) — ``rank`` carries the
    BM25 hit-page position THROUGH the snippet join (the join would
    otherwise discard the ordering), and the result re-sorts by it so
    the page reads top-hit-first without consumer work.
    """
    hits = bm25_search(documents, query, k1=k1, b=b, top_k=top_k)
    rw = Window.orderBy(F.desc("bm25"), "doc_id")
    hits = hits.withColumn("rank", F.row_number().over(rw).cast("int"))
    terms = query_terms(query)
    low = F.lower(F.col("text"))
    positions = F.array_compact(F.array(*[
        F.nullif(F.instr(low, term), F.lit(0)) for term in terms]))
    pos = F.array_min(positions)
    start = F.greatest(F.lit(1), pos - window)
    snippet = F.when(pos.isNull(), F.lit(None).cast("string")) \
        .otherwise(F.col("text").substr(start, F.lit(2 * window)))
    return (F.broadcast(hits)
            .join(documents.select("doc_id", "text"), "doc_id")
            .select("doc_id", "rank", "n_tokens", "bm25",
                    snippet.alias("snippet"))
            .orderBy("rank"))


def tfidf_keywords(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k distinctive terms by TF-IDF — the ES
    "significant terms" idea applied per document (keyword extraction
    for tagging / faceting a landed corpus):

        tfidf(d, t) = (tf_{d,t} / dl_d) * ln(N / df_t)

    Ubiquitous terms (df = N) score exactly 0 and fall to the bottom
    on the tie-break — no stopword list needed.

    Distributed shape: one explode into a map-side-combining
    (doc_id, term) count (the inverted-index build — the ONLY
    corpus-sized shuffle); both marginals (dl by re-aggregating on
    doc_id, df by re-aggregating on term) read the PERSISTED counts
    frame, never the corpus again; N rides as a one-row broadcast; the
    top-k is a row_number window over the aggregated frame. Output
    (doc_id, term, rank, tfidf), ties broken by term asc; empty
    documents yield no rows.
    """
    from ..functions.text import tokens

    tf = (documents.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("_tf")))
    tf = persist_for_query(tf)
    dl = tf.groupBy("doc_id").agg(F.sum("_tf").alias("_dl"))
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("_df"))
    n = documents.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    scored = (tf.join(dl, "doc_id").join(df_, "term")
              .crossJoin(F.broadcast(n))
              .select("doc_id", "term", F.round(
                  (F.col("_tf").cast("double") / F.col("_dl"))
                  * F.log(F.col("_n") / F.col("_df")), 4).alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("doc_id", "term", "rank", "tfidf"))


# ------------------------------------------------- landed text index
# The reference's ES is a PERSISTENT index queried many times;
# ``bm25_search`` refits corpus stats per query string. This family
# lands the inverted index once and serves every subsequent query from
# an index scan that prunes at the FILE level — the text twin of the
# landed IVFADC ANN index (land_ivfpq_index / search_ivfpq_index).

#: default term-hash fan-out of the landed index's bucket partitioning
N_TERM_BUCKETS = 64


def _term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of ``_term_bucket_col`` — CRC-32 is the same
    public polynomial in zlib and in Spark's crc32(), so the driver
    can compute a query's bucket set without touching the cluster."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


def _term_bucket_col(col: Column, n_buckets: int) -> Column:
    return (F.crc32(F.encode(col, "utf-8")) % n_buckets).cast("int")


def _postings(documents: DataFrame, n_buckets: int) -> DataFrame:
    """(bucket, term, doc_id, tf, dl) posting rows for a document
    frame — the shared encoder of the batch build and the streaming
    append (same tokenize, same bucket hash). One tokenize+explode,
    one map-side-combining (doc, term) count; dl rides as a window sum
    over the aggregated frame (posting-sized, never corpus-sized)."""
    from ..functions.text import tokens

    tf = (documents
          .select("doc_id",
                  F.explode(tokens(F.lower(F.col("text")))).alias("term"))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    dl = F.sum("tf").over(Window.partitionBy("doc_id"))
    return (tf.withColumn("dl", dl.cast("long"))
            .withColumn("bucket", _term_bucket_col(F.col("term"),
                                                   n_buckets)))


def land_text_index(documents: DataFrame, path: str,
                    n_buckets: int = N_TERM_BUCKETS) -> dict:
    """Build and LAND the BM25 index: the postings table
    (bucket, term, doc_id, tf, dl) written PARTITIONED BY the term's
    hash bucket — a query's terms prune to <= m of ``n_buckets``
    partition directories at the file level (the inverted lists ARE
    the directory layout, the ES/Lucene segment idea re-expressed as
    parquet partitioning) — plus a one-row stats sidecar
    (_stats.json: n_docs INCLUDING token-less docs, total token count,
    the bucket fan-out). Returns the stats dict.

    Train-once/probe-many is THE 100 TB usage shape: the corpus scan
    (tokenize, explode, count) happens here exactly once; every
    subsequent ``search_text_index`` touches only the queried terms'
    buckets. Reference analog: the persistent ES index behind
    api_clients.py:678-728 — queries hit the index, never the corpus.
    """
    import json
    import os

    from pyspark.sql import Observation

    _require_local_index_path(path, "_stats.json")
    post = _postings(documents, n_buckets)
    # sumdl / nd observed ON the postings write itself (r11, guide
    # §1.2 — the stats formerly cost a THIRD job that re-READ the
    # just-landed parquet end to end): sum(tf) is the total token
    # count, and the per-doc first-row indicator (row_number over the
    # doc partition the dl window already establishes — same exchange,
    # one extra in-partition sort key) sums to the exact
    # distinct-doc count without a DISTINCT aggregate (which
    # CollectMetrics disallows). Same accumulator-backed caveat as
    # n_docs below: a shuffle-map retry can double-count; acceptable
    # for the local/bench sidecar, a production deployment keeps these
    # in the table's catalog statistics.
    rn = F.row_number().over(Window.partitionBy("doc_id").orderBy("term"))
    obs_p = Observation()
    post = (post.withColumn("_rn", rn)
            .observe(obs_p,
                     F.coalesce(F.sum("tf"), F.lit(0)).alias("sumdl"),
                     F.coalesce(F.sum((F.col("_rn") == 1).cast("long")),
                                F.lit(0)).alias("nd"))
            .drop("_rn"))
    post.write.mode("overwrite").partitionBy("bucket").parquet(path)
    # doc-id MANIFEST sidecar (underscore dir — invisible to the
    # postings read): the streaming ingest guard anti-joins arrivals
    # against this n_docs-row column instead of scanning + distinct-ing
    # the whole postings table per micro-batch (the "doc-id manifest"
    # a continuous production deployment keeps; measured ~5x cheaper
    # guard at the sf10 probe). Token-less docs are listed too — they
    # are indexed (they count in N) even though they left no postings.
    # n_docs counts EVERY document (bm25's N), token-less included —
    # observed on the manifest write itself (the Observation node sits
    # BELOW the distinct, so it counts documents rows), folding what
    # was a separate corpus-scan job into this one; sumdl re-derives
    # from the landed postings (sum of tf == total token count; empty
    # docs contribute 0 either way)
    obs = Observation()
    (documents.select("doc_id")
     .observe(obs, F.count(F.lit(1)).alias("n"))
     .distinct()
     .write.mode("overwrite").parquet(os.path.join(path, "_manifest")))
    n_docs = int(obs.get["n"])
    documents.sparkSession.catalog.refreshByPath(path)
    pm = obs_p.get
    # token-less docs leave no postings but count in bm25's N; carry
    # the residual so compact_text_index can recompute N later
    stats = {"n_docs": int(n_docs), "sumdl": int(pm["sumdl"]),
             "n_buckets": int(n_buckets),
             "n_tokenless": int(n_docs) - int(pm["nd"])}
    with open(os.path.join(path, "_stats.json"), "w") as fh:
        json.dump(stats, fh)
    return stats


def search_text_index(spark, path: str, query: str,
                      k1: float = 1.2, b: float = 0.75,
                      top_k: int = 25) -> DataFrame:
    """Serve a BM25 hit page from the LANDED index — identical
    results to ``bm25_search`` on the corpus the index was built from
    (same scoring expression via ``_bm25_score``, same rounding, same
    tie-break), at index-scan cost: the query's term buckets are
    computed DRIVER-SIDE (CRC-32 twin), so the postings scan arrives
    with a PartitionFilter on <= m of n_buckets directories, and the
    rows read are only the queried terms' postings. Per-term document
    frequencies come from one aggregate over that pruned scan (a
    term's postings count IS its df); n_docs/sumdl ride from the
    sidecar as literals.

    Staleness contract: streaming appends
    (``run_text_index_ingest_stream``) add new documents' postings, so
    per-term df is LIVE (it counts the current postings, appended docs
    included), while N and sumdl stay FROZEN at the sidecar's
    build-time values until ``compact_text_index`` or a
    ``land_text_index`` rebuild un-freezes them (the ES
    refresh-vs-merge trade). Appended docs are immediately searchable;
    in the mixed regime a live df can approach or exceed the frozen N,
    which is why ``_bm25_score`` clamps idf at 0 — a heavily-appended
    term degrades to no-signal instead of scoring negatively."""
    _require_local_index_path(path, "_stats.json")
    _, stats = _sidecar_cached(path, "_stats.json")
    terms = query_terms(query)
    m = len(terms)
    buckets = sorted({_term_bucket_py(t, stats["n_buckets"])
                      for t in terms})
    post = (spark.read.parquet(path)
            .filter(F.col("bucket").isin(buckets)
                    & F.col("term").isin(terms)))
    per_doc = post.groupBy("doc_id").agg(
        F.max("dl").alias("_dl"),
        *[F.coalesce(F.sum(F.when(F.col("term") == t, F.col("tf"))),
                     F.lit(0)).cast("long").alias(f"_tf{i}")
          for i, t in enumerate(terms)])
    gstats = post.agg(
        *[F.sum((F.col("term") == t).cast("long")).cast("double")
          .alias(f"_df{i}") for i, t in enumerate(terms)]) \
        .select(F.lit(float(stats["n_docs"])).alias("_n"),
                F.lit(float(stats["sumdl"])).alias("_sumdl"),
                *[F.coalesce(F.col(f"_df{i}"), F.lit(0.0))
                  .alias(f"_df{i}") for i in range(m)])
    score = _bm25_score(m, k1, b)
    return (per_doc.crossJoin(F.broadcast(gstats))
            .select("doc_id", F.col("_dl").alias("n_tokens"),
                    F.round(score, 4).alias("bm25"))
            .orderBy(F.desc("bm25"), "doc_id")
            .limit(top_k))


def search_text_index_many(spark, path: str, queries: list[str],
                           k1: float = 1.2, b: float = 0.75,
                           top_k: int = 25) -> DataFrame:
    """Serve a BATCH of BM25 hit pages from the landed index with ONE
    pruned postings scan — the interactive-search server shape at
    100 TB (the reference's ES endpoint answers many queries over one
    corpus): the union of all queries' term buckets prunes the scan
    once, a broadcast (query_id, term) frame fans the postings out to
    the queries that asked for each term, and every query's page
    computes in the same job. This amortizes the per-query fixed cost
    (plan compile + job launch — measured ~1 s/query at the sf1 probe)
    across the batch: N queries cost one scan + one shuffle, not N of
    each.

    Result contract: for each query, rows IDENTICAL to
    ``search_text_index(spark, path, query)`` (tested): same live-df /
    frozen-N stats regime, same idf clamp, and the per-(query, doc)
    score folds its per-term contributions IN SORTED TERM ORDER via an
    array_sort-then-aggregate (a distributed groupBy SUM of doubles
    would be order-nondeterministic; absent terms contribute exact
    0.0, so folding only the present terms in term order reproduces
    ``_bm25_score``'s fixed-order sum bit for bit).

    Output: (query_id, doc_id, n_tokens, bm25), query_id = the
    query's position in ``queries``, top_k rows per query ordered by
    (bm25 desc, doc_id).
    """
    _require_local_index_path(path, "_stats.json")
    _, stats = _sidecar_cached(path, "_stats.json")
    per_query = [query_terms(q) for q in queries]
    all_terms = sorted({t for ts in per_query for t in ts})
    buckets = sorted({_term_bucket_py(t, stats["n_buckets"])
                      for t in all_terms})
    qt = spark.createDataFrame(
        [(qi, t) for qi, ts in enumerate(per_query) for t in ts],
        "query_id int, term string")

    post = (spark.read.parquet(path)
            .filter(F.col("bucket").isin(buckets)
                    & F.col("term").isin(all_terms)))
    # per-term LIVE df from the pruned scan (the search_text_index
    # regime), shared across queries that ask for the same term
    df_ = post.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("_df"))
    n = float(stats["n_docs"])
    avgdl = float(stats["sumdl"]) / n
    idf = F.greatest(
        F.log(F.lit(1.0) + (F.lit(n) - F.col("_df") + 0.5)
              / (F.col("_df") + 0.5)),
        F.lit(0.0))
    tf = F.col("tf").cast("double")
    norm = (F.lit(k1) * (F.lit(1.0 - b)
                         + F.lit(b) * F.col("dl") / F.lit(avgdl)))
    contrib = idf * tf * F.lit(k1 + 1.0) / (tf + norm)
    scored = (post.join(F.broadcast(qt), "term")
              .join(F.broadcast(df_), "term")
              .select("query_id", "doc_id", "term", "dl",
                      contrib.alias("_c")))
    folded = (scored.groupBy("query_id", "doc_id")
              .agg(F.max("dl").alias("_dl"),
                   F.aggregate(
                       F.array_sort(F.collect_list(
                           F.struct(F.col("term"), F.col("_c")))),
                       F.lit(0.0),
                       lambda acc, s: acc + s["_c"]).alias("_score")))
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), "doc_id")
    return (folded.select("query_id", "doc_id",
                          F.col("_dl").cast("long").alias("n_tokens"),
                          F.round("_score", 4).alias("bm25"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top_k)
            .drop("_rn")
            .orderBy("query_id", F.desc("bm25"), "doc_id"))


def compact_text_index(spark, path: str) -> dict:
    """Compact a landed text index after streaming appends — the ES
    merge: rewrite each bucket's accumulated small append files into
    one pass's worth of fresh parquet, COLLAPSE any duplicate
    (term, doc_id) postings a re-ingested document left behind (the
    stream's anti-join guard prevents these within its own lifetime,
    but a doc re-landed across streams/builds would otherwise double
    its tf and inflate df permanently — after this pass an
    identically-re-ingested doc is indistinguishable from a fresh
    rebuild; a doc re-ingested with CHANGED text collapses to the
    max tf/dl per term, a documented approximation since postings
    carry no version), AND un-freeze the global stats (N, sumdl
    recomputed from the deduplicated postings), so scores stop
    drifting. n_docs counts distinct indexed doc_ids plus the
    build-time token-less residual carried in the sidecar (a streamed
    EMPTY document leaves no postings, so it cannot be recounted here
    — the one documented drift this pass cannot repair).

    Stage-and-swap, crash-safe ordering: the rewrite (stats sidecar
    included) lands COMPLETE in a staging dir and replaces the index
    with ``writers._swap_dir`` — at every intermediate point a full,
    searchable index exists on disk under either the final or the
    aside name. A crash mid-swap is repaired by the next index writer
    (this compaction, or the text index stream), which starts with
    ``writers._reconcile_asides``. Returns the refreshed stats."""
    import json
    import os

    from ..sources.writers import _reconcile_asides, _stage_dir, _swap_dir

    _require_local_index_path(path, "_stats.json")
    _reconcile_asides(path)
    with open(os.path.join(path, "_stats.json")) as fh:
        old = json.load(fh)
    post = (spark.read.parquet(path)
            .groupBy("bucket", "term", "doc_id")
            .agg(F.max("tf").alias("tf"), F.max("dl").alias("dl"))
            .select("doc_id", "term", "tf", "dl", "bucket"))
    agg = post.agg(
        F.countDistinct("doc_id").alias("nd"),
        F.coalesce(F.sum("tf"), F.lit(0)).alias("sumdl")).head()
    n_tokenless = old.get("n_tokenless", 0)
    stats = {"n_docs": int(agg["nd"]) + int(n_tokenless),
             "sumdl": int(agg["sumdl"]),
             "n_buckets": int(old["n_buckets"]),
             "n_tokenless": int(n_tokenless)}
    staging = _stage_dir(path)
    post.write.mode("overwrite").partitionBy("bucket").parquet(staging)
    # rebuild the ingest-guard manifest from the deduplicated postings
    # UNION the old manifest (which alone remembers token-less docs —
    # they leave no postings to recount)
    manifest = post.select("doc_id").distinct()
    old_manifest = os.path.join(path, "_manifest")
    if os.path.isdir(old_manifest):
        manifest = manifest.unionByName(
            spark.read.parquet(old_manifest)).distinct()
    manifest.write.mode("overwrite").parquet(
        os.path.join(staging, "_manifest"))
    with open(os.path.join(staging, "_stats.json"), "w") as fh:
        json.dump(stats, fh)
    _swap_dir(staging, path)
    spark.catalog.refreshByPath(path)
    return stats


def hybrid_search_rrf(documents: DataFrame, embeddings: DataFrame,
                      query: str, query_vec: list[float],
                      top_k: int = 25, candidates: int = 50,
                      rrf_k: int = 60, k1: float = 1.2,
                      b: float = 0.75) -> DataFrame:
    """Hybrid retrieval — the production search pattern the
    reference's ES + the ANN family imply when composed: a lexical leg
    (BM25 over the text) and a semantic leg (cosine over the embedding
    column) each produce a ranked candidate list, fused by Reciprocal
    Rank Fusion (Cormack et al. 2009, the public fusion rule ES/
    OpenSearch ship for hybrid search):

        rrf(d) = sum over legs of 1 / (rrf_k + rank_leg(d))

    with absent legs contributing 0 — rank-based fusion needs no score
    normalization across incommensurable scales (BM25 vs cosine),
    which is exactly why RRF beats score mixing in practice.

    Distributed shape: each leg is the family's own top-``candidates``
    plan (BM25: one corpus scan + TakeOrderedAndProject; vector: the
    broadcast-query brute scan — swap in ``search_text_index`` /
    ``ann_pq_topk`` legs at index scale, fusion unchanged); the fusion
    is a full-outer equi-join of two <= ``candidates``-row frames —
    driver-scale, never corpus-scale.

    Determinism contract: leg ranks use the legs' own rounded-score
    orderings (ties on id); rrf rounds to 6dp in the ordering key,
    ties break on doc_id. Output: (doc_id, rrf, bm25_rank, vec_rank)
    — NULL rank on a leg that did not surface the doc.

    ``embeddings`` rows join to documents by vec_id == doc_id;
    ``query_vec`` is the literal query embedding (an external query,
    so corpus self-matches are NOT excluded).

    Both legs re-scan their table per query — fine for one-off
    queries; for the many-queries-over-one-landed-corpus shape (the
    reference's actual ES usage) use ``hybrid_search_rrf_indexed``,
    which serves BOTH legs from the landed, partition-pruned indexes.
    """
    text_leg = _bm25_rank_leg(
        bm25_search(documents, query, k1=k1, b=b, top_k=candidates))
    vec_leg = _cosine_rank_leg(
        embeddings.select("vec_id", "embedding"), query_vec, candidates)
    return _rrf_fuse(text_leg, vec_leg, rrf_k=rrf_k, top_k=top_k)


def _bm25_rank_leg(hits: DataFrame) -> DataFrame:
    """(doc_id, bm25_rank) from a BM25 hit page — the lexical leg's
    rank assignment shared by the in-memory and the index-backed
    hybrid entry points (same ordering key: rounded bm25 desc,
    doc_id)."""
    tw = Window.orderBy(F.desc("bm25"), "doc_id")
    return hits.select(
        "doc_id", F.row_number().over(tw).cast("int").alias("bm25_rank"))


def _cosine_rank_leg(embeddings: DataFrame, query_vec: list[float],
                     candidates: int) -> DataFrame:
    """(doc_id, vec_rank): exact-cosine top-``candidates`` of the
    given (vec_id, embedding) frame against the literal query vector —
    the semantic leg's rank assignment shared by the in-memory path
    (frame = the whole embeddings table) and the index-backed path
    (frame = the point-fetched ADC shortlist). Same determinism
    contract in both: sim rounded 4dp IN the ordering key, ties on
    doc_id."""
    from ..functions.similarity import cosine_similarity

    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = F.round(cosine_similarity(
        F.col("embedding").cast("array<double>"), qv), 4)
    vec_leg = (embeddings
               .select(F.col("vec_id").alias("doc_id"),
                       sim.alias("_sim"))
               .orderBy(F.desc("_sim"), "doc_id")
               .limit(candidates))
    vw = Window.orderBy(F.desc("_sim"), "doc_id")
    return vec_leg.select(
        "doc_id", F.row_number().over(vw).cast("int").alias("vec_rank"))


def _rrf_fuse(text_leg: DataFrame, vec_leg: DataFrame, rrf_k: int,
              top_k: int) -> DataFrame:
    """Reciprocal Rank Fusion of the two rank legs — candidate-sized
    full-outer join, absent legs contribute 0, rrf rounded 6dp in the
    ordering key, ties on doc_id. Shared verbatim by
    ``hybrid_search_rrf`` and ``hybrid_search_rrf_indexed`` so the two
    entry points cannot drift."""
    rrf = (F.coalesce(1.0 / (F.lit(rrf_k) + F.col("bm25_rank")),
                      F.lit(0.0))
           + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("vec_rank")),
                        F.lit(0.0)))
    return (text_leg.join(vec_leg, "doc_id", "full_outer")
            .select("doc_id", F.round(rrf, 6).alias("rrf"),
                    "bm25_rank", "vec_rank")
            .orderBy(F.desc("rrf"), "doc_id")
            .limit(top_k))


def hybrid_search_rrf_indexed(spark, text_index_path: str,
                              ann_index_path: str, query: str,
                              query_vec: list[float],
                              embeddings: DataFrame,
                              top_k: int = 25, candidates: int = 50,
                              rrf_k: int = 60, k1: float = 1.2,
                              b: float = 0.75, nprobe: int = 2,
                              shortlist: int = 200) -> DataFrame:
    """Hybrid retrieval served from the LANDED indexes — the scale
    path of ``hybrid_search_rrf`` for the reference's actual usage
    shape (an interactive search endpoint: MANY queries over ONE
    landed corpus, where per-query corpus scans are the scale-killer):

    - lexical leg: ``search_text_index`` — the query's term buckets
      arrive as a PartitionFilter on the postings scan, so the leg
      reads <= m of n_buckets directories, never the corpus; scores
      are bit-identical to ``bm25_search`` on the indexed corpus by
      construction (shared ``_bm25_score`` expression).
    - semantic leg: ``search_ivfpq_index`` shortlists ``shortlist``
      candidates by ADC distance (the probed cells arrive as a
      PartitionFilter on the codes scan — nprobe of n_cells
      directories), then ONLY those ids fetch raw floats from
      ``embeddings`` (a pushed-down ``vec_id IN (...)`` point fetch —
      the faiss refine step, same recipe as ``ann_pq_rerank``) for the
      exact-cosine re-rank to the leg's top-``candidates``. The leg
      equals the in-memory exact leg whenever the ADC shortlist covers
      the true top-``candidates`` — the standard, documented ANN
      recall trade, tunable via ``shortlist``/``nprobe``.
    - fusion: ``_rrf_fuse``, shared verbatim with the in-memory path.

    The query vector enters the index search under query_id = -1 (no
    corpus vec_id is negative), so corpus self-matches are NOT
    excluded — same externality contract as ``hybrid_search_rrf``.

    Per-query cost therefore tracks posting mass + probed-cell mass +
    shortlist size — independent of corpus size once the indexes are
    landed. Output schema and determinism contract identical to
    ``hybrid_search_rrf``. Warm-path latency: probe selection runs
    driver-side and the sidecar parses + ADC rank expressions are
    memoized per (session, index mtime)
    (``search_ivfpq_index_local``), so a warm query pays only the two
    pruned scans + fuse — ~2x under the cold first call (SCALE.md
    warm-latency row; results identical by the probe-twin tests).
    """
    from ..operators.similarity_search import search_ivfpq_index_local

    text_leg = _bm25_rank_leg(
        search_text_index(spark, text_index_path, query,
                          k1=k1, b=b, top_k=candidates))

    short = search_ivfpq_index_local(
        spark, ann_index_path, [(-1, query_vec)],
        k=shortlist, nprobe=nprobe)
    # bounded driver scalar: <= shortlist ids — becomes the pushed-down
    # In() point fetch on the raw-embedding store
    ids = [r.neighbor_id for r in short.select("neighbor_id").collect()]
    fetched = embeddings.select("vec_id", "embedding").filter(
        F.col("vec_id").isin(ids) if ids else F.lit(False))
    vec_leg = _cosine_rank_leg(fetched, query_vec, candidates)

    return _rrf_fuse(text_leg, vec_leg, rrf_k=rrf_k, top_k=top_k)


def hybrid_search_rrf_indexed_many(spark, text_index_path: str,
                                   ann_index_path: str,
                                   queries: list[str],
                                   query_vecs: list[list[float]],
                                   embeddings: DataFrame,
                                   top_k: int = 25, candidates: int = 50,
                                   rrf_k: int = 60, k1: float = 1.2,
                                   b: float = 0.75, nprobe: int = 2,
                                   shortlist: int = 200) -> DataFrame:
    """The BATCHED index-backed hybrid — the full interactive-server
    workload in a constant number of jobs: N (query string, query
    vector) pairs served from the landed indexes with per-query
    results IDENTICAL to ``hybrid_search_rrf_indexed`` (tested).

    Distributed shape:
    - lexical legs: ``search_text_index_many`` — ONE term-bucket-
      pruned postings scan for all queries (measured 2.9x over N
      single scans at 20 queries, SCALE.md), per-query bm25 ranks via
      a query-partitioned window;
    - semantic legs: ``search_ivfpq_index`` natively handles a query
      FRAME — all N queries probe in one cell-pruned codes scan
      (query_id = -(i+1), no corpus collision); the UNION of the ADC
      shortlists (<= N x shortlist ids, a bounded driver scalar)
      point-fetches raw floats once (pushed In()), and each query
      exact-reranks its own shortlist against its own vector
      (broadcast (query_id, qvec) join — same cosine expression, same
      4dp rounding, same tie-break as the single path);
    - fusion: the same RRF arithmetic per query, full-outer on
      (query_id, doc_id), top_k per query via a query-partitioned
      window.

    Output: (query_id, doc_id, rrf, bm25_rank, vec_rank), query_id =
    position in ``queries``, ordered (query_id, rrf desc, doc_id).
    """
    from ..functions.similarity import cosine_similarity
    from ..operators.similarity_search import search_ivfpq_index_local

    if len(queries) != len(query_vecs):
        raise ValueError("queries and query_vecs must be parallel lists")

    hits = search_text_index_many(spark, text_index_path, queries,
                                  k1=k1, b=b, top_k=candidates)
    tw = Window.partitionBy("query_id").orderBy(F.desc("bm25"), "doc_id")
    text_leg = hits.select(
        "query_id", "doc_id",
        F.row_number().over(tw).cast("int").alias("bm25_rank"))

    short = search_ivfpq_index_local(
        spark, ann_index_path,
        [(-(i + 1), v) for i, v in enumerate(query_vecs)],
        k=shortlist, nprobe=nprobe)
    pairs = [(int(r.query_id), int(r.neighbor_id)) for r in
             short.select("query_id", "neighbor_id").collect()]
    all_ids = sorted({nid for _, nid in pairs})
    fetched = embeddings.select("vec_id", "embedding").filter(
        F.col("vec_id").isin(all_ids) if all_ids else F.lit(False))
    sl = spark.createDataFrame(
        [(-qid - 1, nid) for qid, nid in pairs] or
        [(0, -1)], "query_id int, vec_id long")
    if not pairs:
        sl = sl.filter(F.lit(False))
    qv = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(query_vecs)],
        "query_id int, _qv array<double>")
    sim = F.round(cosine_similarity(
        F.col("embedding").cast("array<double>"), F.col("_qv")), 4)
    vw = Window.partitionBy("query_id").orderBy(F.desc("_sim"), "doc_id")
    vec_leg = (F.broadcast(sl).join(fetched, "vec_id")
               .join(F.broadcast(qv), "query_id")
               .select("query_id", F.col("vec_id").alias("doc_id"),
                       sim.alias("_sim"))
               .withColumn("_vrn", F.row_number().over(vw))
               .filter(F.col("_vrn") <= candidates)
               .select("query_id", "doc_id",
                       F.col("_vrn").cast("int").alias("vec_rank")))

    rrf = (F.coalesce(1.0 / (F.lit(rrf_k) + F.col("bm25_rank")),
                      F.lit(0.0))
           + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("vec_rank")),
                        F.lit(0.0)))
    fw = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (text_leg.join(vec_leg, ["query_id", "doc_id"], "full_outer")
            .select("query_id", "doc_id",
                    F.round(rrf, 6).alias("rrf"),
                    "bm25_rank", "vec_rank")
            .withColumn("_rn", F.row_number().over(fw))
            .filter(F.col("_rn") <= top_k)
            .drop("_rn")
            .orderBy("query_id", F.desc("rrf"), "doc_id"))
