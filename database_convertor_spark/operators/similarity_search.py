"""Similarity search over an embedding column (array<float>).

Search:
- ``brute_force_topk`` — exact top-k by cosine; the query set
  broadcasts, the corpus streams; per-partition top-k then a global
  k-merge (TakeOrdered via window over query_id). Baseline + oracle.
  ``brute_force_topk_numpy`` is its Arrow-batched GEMM twin.
- ``ivf_topk`` and the IVF/PQ/IVFADC family — the scale paths: probe
  only the coarse-quantizer bucket(s) of each query and/or scan
  compressed codes. Bucket pruning turns the scan into
  corpus/n_buckets per query, the IVF trade: recall bounded by bucket
  assignment.
Pair scoring is higher-order-function expressions (zip_with +
aggregate) — JVM-side, no Python per row.

Codebooks: the k-means and PQ fits, ``kmeans_assign`` and
``pq_encode`` are Arrow-batched numpy GEMM kernels (``mapInPandas``)
sharing one expanded-form squared L2 (``_sq_dists``) and one Lloyd
per-task fold (``_lloyd_partials``). k-means is PQ with one subspace
(plus optional re-normalization); under ``LOCAL_FIT_ROWS_BUDGET`` rows
a fit collects the vectors once and runs that fold driver-side over
every chunk (``_lloyd_local``), past it once per task per iteration
(``_lloyd_distributed``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.similarity import cosine_similarity
from ..session import (
    check_budget_policy,
    collect_within_budget,
    pair_budget,
    persist_for_query,
    session_memo,
)
from .dedup import _session_plan_cached

# brute_force_topk_numpy materializes the query set on the driver and
# broadcasts it — the guard that keeps that contract from OOMing when
# a caller points it at a corpus-sized "query" frame.
MAX_BROADCAST_QUERIES = 1_000_000


def _scored_pairs(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").cast("array<double>").alias("q_emb"),
                       F.col("label").alias("q_label"))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").cast("array<double>").alias("c_emb"),
                      F.col("label").alias("c_label"))
    return q, c


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """Exact ANN baseline: broadcast the (small) query set against the
    corpus, cosine per pair, row_number window per query."""
    q, c = _scored_pairs(queries, corpus)
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id"))
    sim = cosine_similarity(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (pairs.withColumn("_sim", sim)
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("_sim", 4).alias("cosine")))


def brute_force_topk_numpy(queries: DataFrame, corpus: DataFrame,
                           k: int = 5) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matrix multiply —
    the wide-vector fast path the expression-based ``brute_force_topk``
    docstring promises. Same results, same oracle.

    Scale shape: the query set is a broadcastable dimension (the same
    contract F.broadcast(q) makes in the HOF path) — it is materialized
    ONCE into a (n_queries x dim) float64 matrix and shipped to
    executors as a Spark broadcast; the corpus streams through
    mapInPandas in Arrow batches, each batch scored with ONE
    (batch x dim) @ (dim x n_queries) GEMM instead of per-pair
    zip_with/aggregate expression trees. Each batch emits only its
    local top-(k+1) rows per query (k+1 so dropping the self-match
    downstream can never lose a true neighbor), and the global window
    ranks candidates_per_query <= (k+1) * n_batches rows — never the
    full score matrix.
    """
    import numpy as np
    import pandas as pd

    spark = queries.sparkSession
    # id types follow the inputs (a bigint assumption here silently
    # corrupted string-keyed callers); the broadcast guard keeps the
    # "query set is a dimension" contract honest instead of OOMing
    q_t = dict(queries.dtypes)["vec_id"]
    c_t = dict(corpus.dtypes)["vec_id"]
    out_schema = (f"query_id {q_t}, neighbor_id {c_t}, "
                  f"rank int, cosine double")
    qpd = collect_within_budget(queries.select("vec_id", "embedding"),
                                MAX_BROADCAST_QUERIES)
    if qpd is None:
        raise ValueError(
            f"brute_force_topk_numpy broadcasts the query set; got more "
            f"than {MAX_BROADCAST_QUERIES} query vectors — use ivf_topk/"
            f"ivf_topk_multiprobe for corpus-scale query sets")
    if len(qpd) == 0:
        return spark.createDataFrame([], out_schema)
    qids = qpd["vec_id"].to_numpy()
    qm = np.vstack(qpd["embedding"].to_numpy()).astype("float64")
    qnorm = np.linalg.norm(qm, axis=1, keepdims=True)
    qm = qm / np.where(qnorm == 0, 1.0, qnorm)  # zero vec -> sim 0
    bc = spark.sparkContext.broadcast((qids, qm))
    take = k + 1

    def score(batches):
        q_ids, q_mat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
            cnorm = np.linalg.norm(cm, axis=1, keepdims=True)
            cm = cm / np.where(cnorm == 0, 1.0, cnorm)
            sims = cm @ q_mat.T                      # (batch, n_queries)
            n = min(take, sims.shape[0])
            # local top-n rows per query column, then emit candidates
            top = np.argpartition(-sims, n - 1, axis=0)[:n, :]
            nid = pdf["vec_id"].to_numpy()
            out = {"query_id": np.repeat(q_ids, n),
                   "neighbor_id": nid[top].T.ravel(),
                   "_sim": np.take_along_axis(sims, top, axis=0).T.ravel()}
            yield pd.DataFrame(out)

    par = corpus.sparkSession.sparkContext.defaultParallelism
    cands = (corpus.select("vec_id", "embedding").repartition(par)
             .mapInPandas(score,
                          f"query_id {q_t}, neighbor_id {c_t}, _sim double"))
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"),
                                               F.asc("neighbor_id"))
    return (cands.filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("_sim", 4).alias("cosine")))


def sq8_fit(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension min/max over the corpus — the "codebook" of 8-bit
    scalar quantization (SQ8, the int8 index format every production
    vector store ships beside PQ). ONE exploded scan + a dims-keyed
    groupBy (map-side partial min/max, so the shuffle is dims-sized
    rows per partition, not corpus-sized), folded into a single
    (mins, maxs) row ordered by dimension."""
    ex = corpus.select(F.posexplode(vec_col).alias("pos", "v"))
    dims = ex.groupBy("pos").agg(
        F.min(F.col("v").cast("double")).alias("mn"),
        F.max(F.col("v").cast("double")).alias("mx"))
    return dims.agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "mn"))),
                    lambda s: s["mn"]).alias("mins"),
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "mx"))),
                    lambda s: s["mx"]).alias("maxs"))


def sq8_encode(corpus: DataFrame, stats: DataFrame,
               vec_col: str = "embedding") -> DataFrame:
    """8-bit codes per vector: code[d] = round((v_d - min_d) /
    (max_d - min_d) * 255), constant dimensions -> 0. Pure transform
    expression over a one-row broadcast stats attach — JVM-side, no
    Python. Held as array<int> for plan readability; the production
    landed format packs one byte per dim (binary column), a 4x
    index-footprint / memory-bandwidth cut vs float32."""
    enc = F.transform(
        F.col(vec_col),
        lambda v, i: F.when(
            F.get("maxs", i) == F.get("mins", i), F.lit(0)
        ).otherwise(
            F.round((v.cast("double") - F.get("mins", i))
                    / (F.get("maxs", i) - F.get("mins", i)) * 255, 0)
            .cast("int")))
    return (corpus.crossJoin(F.broadcast(stats))
            .select("vec_id", enc.alias("code")))


def sq8_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
             stats: DataFrame | None = None) -> DataFrame:
    """Asymmetric SQ8 search: full-precision queries scored against the
    DEQUANTIZED 8-bit corpus (the standard scalar-quantization trade —
    queries keep their precision, so quantization error enters each
    pair once, not twice). Scan shape == brute_force_topk; the scale
    win is the 4x smaller index the scan streams over, not candidate
    count — compose with IVF bucket pruning (ivf_topk) when both are
    wanted. Dequantization is the exact affine inverse of sq8_encode,
    term-for-term reproduced in the DuckDB oracle.

    ``stats`` takes a precomputed ``sq8_fit`` frame so a repeated
    caller (batch query loops, a landed-index lifecycle) pays the
    codebook scan once, not per search — fresh-corpus stats and
    passed-in stats produce identical results by construction."""
    if stats is None:
        stats = sq8_fit(corpus)
    codes = sq8_encode(corpus, stats)
    deq = codes.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.transform(
            "code",
            lambda cd, i: F.get("mins", i)
            + (cd.cast("double") * (F.get("maxs", i) - F.get("mins", i)))
            / F.lit(255.0)).alias("sq_emb"))
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").cast("array<double>").alias("q_emb"))
    pairs = deq.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id"))
    sim = cosine_similarity(F.col("q_emb"), F.col("sq_emb"))
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("vec_id"))
    return (pairs.withColumn("_sim", sim)
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank",
                    F.round("_sim", 4).alias("cosine")))


def rp_planes(dim: int, out_dim: int) -> list[list[float]]:
    """Deterministic Rademacher projection planes for
    Johnson–Lindenstrauss reduction: sign(j, d) = +1/-1 from bit 0 of
    md5("rp:j:d") — the dedup.srp_signs seed recipe under a distinct
    'rp:' namespace (so the JL planes never correlate with the SRP-LSH
    hyperplanes), reproducible in Python plan literals and in the
    DuckDB oracle through the same md5 arithmetic."""
    from ..functions.text import _hash_const

    return [[1.0 if _hash_const(f"rp:{j}:{d}") % 2 else -1.0
             for d in range(dim)] for j in range(out_dim)]


def rp_project(embeddings: DataFrame, out_dim: int = 16,
               dim: int | None = None,
               vec_col: str = "embedding") -> DataFrame:
    """Johnson–Lindenstrauss random projection (Achlioptas 2003's
    Rademacher variant — public result): y_j = <x, r_j> / sqrt(out_dim)
    for out_dim fixed ±1 hyperplanes. Distances/inner products are
    preserved within (1±ε) w.h.p. at out_dim = O(log n / ε²) — the
    standard pre-ANN / pre-clustering dimensionality cut (64→16 here
    is a 4x scan/shuffle-width reduction for every downstream
    k-means / IVF / brute-force pass).

    Pure higher-order-function expressions (one zip_with+aggregate dot
    per output dim, plan literals for the planes) — JVM-side, no UDF,
    no shuffle: a projection is embarrassingly row-parallel. Output is
    EXPLODED (vec_id, pos, value) with value rounded to 6dp — scalar
    columns so driver-facing consumers (and the value-hash oracle)
    never sort an array column.

    ``dim`` defaults to the actual embedding length (one head() on a
    narrow size() projection — the embedding_srp_pairs discipline: a
    wrong caller dim would NULL every dot product).

    Plan-literal budget (the embedding_srp_pairs lesson): the planes
    are dim x out_dim literals baked into the plan; past ~100k
    products codegen/analysis time dominates, so the operator refuses
    and names the remedy (an Arrow-batched GEMM — the
    brute_force_topk_numpy shape — is the right tool for wide
    projections, not a bigger expression tree)."""
    if dim is None:
        row = embeddings.select(
            F.size(F.col(vec_col)).alias("n")).head()
        if row is None:
            raise ValueError("rp_project: empty embeddings input")
        dim = row["n"]
    if dim * out_dim > 100_000:
        raise ValueError(
            f"rp_project: {dim} x {out_dim} = {dim * out_dim} plan-literal "
            "plane entries would dominate codegen/analysis time; for wide "
            "projections use an Arrow-batched numpy GEMM (the "
            "brute_force_topk_numpy execution shape) instead of the "
            "expression path")
    planes = rp_planes(dim, out_dim)
    scale = float(out_dim) ** 0.5
    outs = []
    for j in range(out_dim):
        sv = F.array(*[F.lit(s) for s in planes[j]])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), sv,
                       lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x)
        outs.append(F.round(dot / F.lit(scale), 6))
    return embeddings.select(
        "vec_id",
        F.posexplode(F.array(*outs)).alias("pos", "value")).select(
        "vec_id", F.col("pos").cast("int").alias("pos"), "value")


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """IVF-bucketed ANN: only corpus vectors in the query's bucket are
    scored (label = coarse centroid assignment). The bucket equi-join
    replaces the cross join; at 100 TB the corpus is additionally
    partitioned by label on disk so the probe prunes files."""
    q, c = _scored_pairs(queries, corpus)
    pairs = c.join(F.broadcast(q), (F.col("c_label") == F.col("q_label"))
                   & (F.col("neighbor_id") != F.col("query_id")))
    sim = cosine_similarity(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (pairs.withColumn("_sim", sim)
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("_sim", 4).alias("cosine")))


def label_centroids(corpus: DataFrame) -> DataFrame:
    """Per-label mean vector (the coarse quantizer codebook, recovered
    from the assignments): posexplode -> avg per (label, dim) ->
    reassemble ordered. One narrow shuffle keyed by (label, dim);
    output is n_labels rows — codebook-sized, always broadcastable."""
    dims = (corpus
            .select("label", F.posexplode(
                F.col("embedding").cast("array<double>")).alias("pos", "x"))
            .groupBy("label", "pos")
            .agg(F.avg("x").alias("cx")))
    return (dims.groupBy("label")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cx"))),
                lambda s: s["cx"]).alias("centroid")))


def _norm_rows(mat):
    """Unit-normalize numpy rows in place-safe form (zero rows kept)."""
    import numpy as np

    n = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.where(n == 0, 1.0, n)


#: row budget for the driver-local fit path (guide §1.2 — the
#: distributed loop is the wrong algorithm under a size threshold,
#: the same argument as components.local_edges_budget): under it the
#: vectors are collected ONCE and every Lloyd/PQ iteration runs as
#: local numpy — one job instead of 1 + n_iter sequential
#: collect-barrier jobs per fit. 65,536 rows x 64 dims is ~32 MB of
#: driver floats; the element cap below bounds wide-vector corpora.
#: A 100 TB corpus blows the limit probe and falls back to the
#: distributed loop — it never collects. Read at call time, so a test
#: forces the distributed loop by setting it to 0.
LOCAL_FIT_ROWS_BUDGET = 65_536
_LOCAL_FIT_MAX_ELEMENTS = 8_388_608
#: a distributed Lloyd iteration collects its npart x m x k per-task
#: partial rows directly up to this many, else reduces them through a
#: groupBy (see _lloyd_distributed)
_DIRECT_PARTIAL_ROWS = 65_536


def _arrow_batch_rows(spark) -> int:
    """The session's Arrow batch size — the local fit chunks the
    collected rows at the same boundaries the mapInPandas generators
    see, so on a single-partition input (every driver fixture) the
    local fold is BIT-identical to the distributed one."""
    try:
        return int(spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))
    except Exception:  # pragma: no cover - conf absent
        return 10_000


def _vectors(frame: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """The (_id, _v array<double>) projection the fits and assign read."""
    return frame.select(F.col(id_col).alias("_id"),
                        F.col(vec_col).cast("array<double>").alias("_v"))


def _collect_vectors_local(emb: DataFrame):
    """The (_id, _v) projection collected for a local fit, or None
    past ``LOCAL_FIT_ROWS_BUDGET`` rows (0 disables), past the element
    cap, or on a failed collect — callers fall back to the distributed
    loop."""
    budget = LOCAL_FIT_ROWS_BUDGET
    pdf = collect_within_budget(emb, budget) if budget else None
    if pdf is not None and len(pdf):
        head = pdf["_v"].iloc[0]
        dim = 0 if head is None else len(head)
        if len(pdf) * dim > _LOCAL_FIT_MAX_ELEMENTS:
            return None
    return pdf


_LOCAL_INIT_ID_TYPES = ("bigint", "int", "smallint", "tinyint", "string")


def _md5_init_local(pdf, emb: DataFrame, n: int):
    """Driver-side twin of ``_md5_init_vecs`` over the collected
    rows: the n smallest (md5_60(str(id)), id). Python's str() of an
    integer and a UTF-8 string compare exactly as Spark's string cast
    + binary ordering do for the integral/string id types this is
    gated on; other id types fall back to the one-job selection."""
    import hashlib

    if dict(emb.dtypes)["_id"] not in _LOCAL_INIT_ID_TYPES:
        return None

    def h(x) -> int:
        return int(hashlib.md5(str(x).encode("utf-8"))
                   .hexdigest()[:15], 16)

    order = sorted(((h(i), i, pos) for pos, i in
                    enumerate(pdf["_id"].tolist())))[:n]
    return [list(pdf["_v"].iloc[pos]) for _, _, pos in order]


def _vec_chunks(vs, batch_rows: int):
    """The collected vector column as float64 matrices chunked at the
    Arrow batch size — the exact per-batch shapes the distributed
    generators GEMM over (BLAS results can differ at the ulp across
    matrix shapes, so the chunking IS part of the equivalence)."""
    import numpy as np

    return [np.vstack(vs.iloc[i:i + batch_rows].to_numpy())
            .astype("float64")
            for i in range(0, len(vs), batch_rows)]


def _sq_dists(X, cents):
    """Squared L2 from every row of ``X`` to every row of ``cents`` in
    expanded form, ||x||^2 - 2 x.c + ||c||^2: one GEMM. The one
    distance of the fits, ``kmeans_assign``, ``pq_encode`` and their
    driver-side twins — a twin is bit-identical to its kernel because
    both evaluate this expression on the same shapes; argmin takes the
    lowest index on ties."""
    return (X ** 2).sum(1)[:, None] - 2 * X @ cents.T + (cents ** 2).sum(1)


def _init_books(init_vecs: list[list[float]], m: int, normalize: bool,
                op: str) -> list:
    """The m per-subspace init codebooks from full init vectors (one
    codebook of k = len(init_vecs) rows each; k-means is m=1),
    unit-normalized first when ``normalize``. Refuses an empty init
    (empty corpus) and a dim not divisible by m, naming ``op``."""
    import numpy as np

    if not init_vecs:
        raise ValueError(f"{op}: empty corpus — nothing to train on")
    X0 = np.vstack([np.asarray(v, dtype="float64") for v in init_vecs])
    if normalize:
        X0 = _norm_rows(X0)
    dim = X0.shape[1]
    if dim % m:
        raise ValueError(f"{op}: dim {dim} not divisible by m={m}")
    sub = dim // m
    return [X0[:, j * sub:(j + 1) * sub].copy() for j in range(m)]


def _lloyd_partials(chunks, books: list, normalize: bool) -> list:
    """One task's Lloyd fold: each chunk (a float64 matrix of full
    vectors, unit-normalized first when ``normalize``) is assigned per
    subspace to its nearest centroid by ``_sq_dists``, and the
    per-(subspace, cluster) vector sums, counts and squared distances
    accumulate over the chunks in order. Returns one
    (j, c, sum, count, sq-dist) row per (subspace, cluster) that won a
    row, in (j asc, c asc) order. The distributed loop runs it once per
    task; the local loop once over every collected chunk."""
    import numpy as np

    m = len(books)
    k, sub = books[0].shape
    sums = np.zeros((m, k, sub))
    counts = np.zeros((m, k), dtype=np.int64)
    dists = np.zeros((m, k))
    seen = np.zeros((m, k), dtype=bool)
    for X in chunks:
        if normalize:
            X = _norm_rows(X)
        for j, cents in enumerate(books):
            Xj = X[:, j * sub:(j + 1) * sub]
            d2 = _sq_dists(Xj, cents)
            a = d2.argmin(axis=1)
            mind = d2[np.arange(len(Xj)), a]
            for c in np.unique(a):
                msk = a == c
                sums[j, c] += Xj[msk].sum(0)
                counts[j, c] += int(msk.sum())
                dists[j, c] += float(mind[msk].sum())
                seen[j, c] = True
    return [(j, c, sums[j, c], int(counts[j, c]), float(dists[j, c]))
            for j in range(m) for c in range(k) if seen[j, c]]


def _lloyd_step(books: list, rows, normalize: bool) -> tuple[list, float]:
    """Fold one iteration's (j, c, sum, count, sq-dist) rows, in the
    order given, into the new codebooks and the iteration's inertia.
    An emptied cluster keeps its centroid. ``normalize`` re-projects
    the centroids onto the unit sphere after the mean update
    (spherical k-means, faiss-style): on unit vectors L2-argmin ==
    cosine-argmax, so the assignment metric and the cosine probe
    ranking in _probe_and_search agree; a raw mean centroid would be
    assigned by L2 but probed by cosine — an inconsistent pair that
    costs recall at nprobe < k."""
    import numpy as np

    m = len(books)
    k, sub = books[0].shape
    sums = np.zeros((m, k, sub))
    counts = np.zeros((m, k))
    inertia = 0.0
    for j, c, s, n, d in rows:
        sums[j, c] += np.asarray(s, dtype="float64")
        counts[j, c] += n
        inertia += d
    new = []
    for j, C in enumerate(books):
        newC = C.copy()
        nz = counts[j] > 0
        newC[nz] = sums[j][nz] / counts[j][nz, None]
        new.append(_norm_rows(newC) if normalize else newC)
    return new, inertia


def _lloyd_local(chunks, books: list, n_iter: int,
                 normalize: bool) -> tuple[list, list[float]]:
    """Lloyd's loop over driver-resident chunks: each iteration is one
    ``_lloyd_partials`` fold over all of them, so on a
    single-partition input it is bit-identical to
    ``_lloyd_distributed``. Returns (codebooks, inertia per
    iteration)."""
    inertia = []
    for _ in range(n_iter):
        books, d = _lloyd_step(
            books, _lloyd_partials(chunks, books, normalize), normalize)
        inertia.append(d)
    return books, inertia


def _lloyd_distributed(emb: DataFrame, books: list, n_iter: int,
                       normalize: bool) -> tuple[list, list[float]]:
    """Lloyd's loop over the ``_v`` column of ``emb`` (the caller
    persists it): per iteration one ``mapInPandas`` pass runs
    ``_lloyd_partials`` once per TASK over its Arrow batches against
    the broadcast codebooks, so at most npart x m x k rows leave the
    executors. Up to ``_DIRECT_PARTIAL_ROWS`` they are collected
    directly and folded driver-side in partition order — one stage per
    iteration instead of map + posexplode/groupBy + reduce (measured
    0.42 s -> 0.22 s per iteration at sf0.1). Past it (a 100 TB scan
    is ~10^5-10^6 tasks, whose partials would be GBs) the grouped
    reduction bounds what reaches the driver. On a single-partition
    input the direct fold is bit-identical to ``_lloyd_local``; across
    tasks, or through the groupBy, the summation grouping changes,
    which is inside the contract float summation already has
    (centroids are rounding-stabilized downstream). (A pure-expression
    argmin was tried first: every iteration's new centroid LITERALS
    force a fresh whole-stage-codegen compile of a k x dim expression
    tree — ~2 s/iteration of compile for milliseconds of data work.
    The GEMM path recompiles nothing.)"""
    import numpy as np
    import pandas as pd

    sc = emb.sparkSession.sparkContext
    m = len(books)
    k, sub = books[0].shape
    direct = emb.rdd.getNumPartitions() * m * k <= _DIRECT_PARTIAL_ROWS
    inertia = []
    for _ in range(n_iter):
        bc = sc.broadcast(books)

        def partials(batches):
            rows = _lloyd_partials(
                (np.vstack(pdf["_v"].to_numpy()).astype("float64")
                 for pdf in batches if len(pdf)), bc.value, normalize)
            if rows:
                yield pd.DataFrame(
                    [(j, c, s.tolist(), n, d) for j, c, s, n, d in rows],
                    columns=["j", "c", "s", "n", "d"])

        mp = emb.mapInPandas(
            partials, "j int, c int, s array<double>, n long, d double")
        rows = mp.collect() if direct else _grouped_partials(mp, sub)
        books, d = _lloyd_step(books, rows, normalize)
        inertia.append(d)
        bc.destroy()
    return books, inertia


def _grouped_partials(mp: DataFrame, sub: int) -> list:
    """The past-``_DIRECT_PARTIAL_ROWS`` reduction of one iteration's
    per-task partial rows: a groupBy(j, c, dim) sum, reassembled into
    one (j, c, sum, count, sq-dist) row per (subspace, cluster), in
    (j, c) order. Every dim's group sums the same count and sq-dist
    rows; dim 0's is the one read."""
    import numpy as np

    agg = (mp.select("j", "c", "n", "d", F.posexplode("s").alias("p", "x"))
           .groupBy("j", "c", "p")
           .agg(F.sum("x").alias("x"), F.sum("n").alias("n"),
                F.sum("d").alias("d"))
           .collect())
    rows: dict = {}
    for r in agg:
        row = rows.setdefault((r.j, r.c), [r.j, r.c, np.zeros(sub), 0, 0.0])
        row[2][r.p] = r.x
        if r.p == 0:
            row[3], row[4] = r.n, r.d
    return [rows[key] for key in sorted(rows)]


def _round9(books: list) -> list:
    """Codebooks as nested lists rounded to 9dp — the cross-engine
    contract of the PQ and IVFPQ codebooks (see ``pq_fit``)."""
    return [[[round(x, 9) for x in c] for c in b.tolist()] for b in books]


def _lloyd_fit(corpus: DataFrame, k: int, m: int, n_iter: int,
               id_col: str, vec_col: str, normalize: bool,
               init_vecs: list[list[float]] | None,
               op: str) -> tuple[list, list[float]]:
    """The one Lloyd fit behind ``kmeans_fit`` (m=1) and ``pq_fit``:
    under ``LOCAL_FIT_ROWS_BUDGET`` rows the vectors collect ONCE and
    the whole loop is ``_lloyd_local`` (one job); past it — or for an
    id type the driver-side md5 init does not cover — the projection
    is persisted, the init takes one job and ``_lloyd_distributed``
    one per iteration. Init: ``init_vecs`` when given, else the k rows
    with the smallest md5(id); fewer rows than k clamp k. Returns
    (codebooks, inertia per iteration)."""
    emb = _vectors(corpus, id_col, vec_col)
    pdf = _collect_vectors_local(emb)
    if pdf is not None:
        init = (init_vecs[:k] if init_vecs is not None
                else _md5_init_local(pdf, emb, k))
        if init is not None:
            return _lloyd_local(
                _vec_chunks(pdf["_v"], _arrow_batch_rows(emb.sparkSession)),
                _init_books(init, m, normalize, op), n_iter, normalize)
    emb = emb.persist()
    try:
        if init_vecs is None:
            init_vecs = _md5_init_vecs(emb, k, id_col="_id", vec_col="_v")
        return _lloyd_distributed(
            emb, _init_books(init_vecs[:k], m, normalize, op), n_iter,
            normalize)
    finally:
        emb.unpersist()


def _md5_init_vecs(corpus: DataFrame, n: int, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> list[list[float]]:
    """The deterministic k-means init selection as its own job: the
    ``n`` rows with the smallest (md5(id), id) — content-independent
    and engine-reproducible — returned as double vectors in init
    order. Shared by ``kmeans_fit``/``pq_fit`` (their default) and by
    ``ivfpq_fit_encode``, which collects max(n_cells, ks) rows ONCE
    and feeds both fits from the single collect (r11 — one init
    barrier instead of two in the IVFADC build chain)."""
    from ..functions.text import md5_long

    rows = (corpus.select(
                F.col(id_col).alias("_id"),
                F.col(vec_col).cast("array<double>").alias("_v"),
                md5_long(F.col(id_col).cast("string")).alias("_h"))
            .orderBy("_h", "_id").limit(n).collect())
    return [list(r._v) for r in rows]


def kmeans_fit(corpus: DataFrame, k: int = 8, n_iter: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding",
               normalize: bool = False,
               init_vecs: list[list[float]] | None = None,
               ) -> tuple[list[list[float]], list[float]]:
    """Lloyd's k-means over the embedding column — trains the IVF
    coarse quantizer instead of trusting a precomputed ``label``
    (which real corpora don't have). Returns (centroids, inertia per
    iteration).

    Spark shape (the same loop MLlib's KMeans runs): the codebook is
    k x dim doubles — driver-side state by design, broadcast into
    each iteration; the DATA never leaves executors. Per iteration one
    ``mapInPandas`` pass scores each Arrow batch against the codebook
    with a single (batch x dim) @ (dim x k) GEMM and emits only each
    task's k x dim partial sums + counts + inertia (``_lloyd_partials``;
    k-means is ``pq_fit``'s loop with one subspace). Under the module
    constant ``LOCAL_FIT_ROWS_BUDGET`` rows the vectors collect once
    and the same fold runs driver-side: one job instead of 1 + n_iter
    (``_lloyd_fit``).

    Deterministic: init picks the k rows with the smallest
    md5(id) (content-independent, engine-reproducible), ties on id;
    an emptied cluster keeps its previous centroid.

    ``normalize=True`` trains on unit vectors AND re-normalizes the
    centroids after every mean update (true spherical k-means) — the
    right codebook when the downstream search metric is cosine, and
    the discipline that keeps assignment (L2 on the sphere) and probe
    ranking (cosine) the same ordering.
    """
    books, inertia = _lloyd_fit(corpus, k, 1, n_iter, id_col, vec_col,
                                normalize, init_vecs, "kmeans_fit")
    return books[0].tolist(), inertia


def kmeans_assign(corpus: DataFrame, centroids: list[list[float]],
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  normalize: bool = False,
                  carry_vec: bool = False) -> DataFrame:
    """(id, cluster_id) under a fixed codebook: a shuffle-free
    Arrow-batched argmin (one GEMM per batch against the broadcast
    codebook) — the write path that lands a corpus partitioned by
    cluster for IVF file pruning. ``normalize`` must match the fit.

    ``carry_vec=True`` additionally returns the (double-cast, raw —
    never normalized) vector as ``_v``: consumers that need the
    assignment AND the vector (the IVFPQ residual builder) read it
    from this one pass instead of equi-joining the assignment back to
    the corpus — one scan and zero shuffles where the join shape paid
    two scans plus a sort-merge exchange (guide §2.4)."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    C = np.asarray(centroids, dtype="float64")
    bc = spark.sparkContext.broadcast(C)
    id_t = dict(corpus.dtypes)[id_col]

    def assign(batches):
        cents = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf["_v"].to_numpy()).astype("float64")
            if normalize:
                X = _norm_rows(X)
            out = {id_col: pdf["_id"],
                   "cluster_id": _sq_dists(X, cents).argmin(axis=1)}
            if carry_vec:
                out["_v"] = pdf["_v"]
            yield pd.DataFrame(out)

    schema = f"{id_col} {id_t}, cluster_id int"
    if carry_vec:
        schema += ", _v array<double>"
    return _vectors(corpus, id_col, vec_col).mapInPandas(assign, schema)


def _probe_and_search(queries: DataFrame, labeled_corpus: DataFrame,
                      centroids_df: DataFrame, k: int,
                      nprobe: int) -> DataFrame:
    """Shared probe/rank/search tail of every multi-probe IVF variant
    (label-derived or trained codebook): rank the broadcast codebook
    per query by centroid cosine (rounded so the probe choice is
    reproducible across engines; label breaks ties), equi-join the
    top-``nprobe`` buckets against the labeled corpus, window-rank the
    scored pairs. ``labeled_corpus`` columns: (neighbor_id, c_emb,
    label); ``centroids_df``: (label, centroid)."""
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").cast("array<double>").alias("q_emb"))
    csim = F.round(cosine_similarity(F.col("q_emb"), F.col("centroid")), 4)
    pw = (Window.partitionBy("query_id")
          .orderBy(F.desc("_csim"), F.asc("label")))
    probes = (q.crossJoin(F.broadcast(centroids_df))
              .withColumn("_csim", csim)
              .withColumn("_pr", F.row_number().over(pw))
              .filter(F.col("_pr") <= nprobe)
              .select("query_id", "q_emb", "label"))
    pairs = labeled_corpus.join(F.broadcast(probes), "label").filter(
        F.col("neighbor_id") != F.col("query_id"))
    sim = cosine_similarity(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"),
                                               F.asc("neighbor_id"))
    return (pairs.withColumn("_sim", sim)
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("_sim", 4).alias("cosine")))


def ivf_topk_kmeans(queries: DataFrame, corpus: DataFrame, k: int = 5,
                    n_clusters: int = 8, n_iter: int = 5,
                    nprobe: int = 2) -> DataFrame:
    """End-to-end learned-codebook IVF: train k-means on the corpus,
    assign corpus vectors to buckets, rank the codebook per query and
    probe the top-``nprobe`` buckets (same probe/search shape as
    ``ivf_topk_multiprobe``, with the trained quantizer replacing the
    precomputed labels). The codebook is SPHERICAL (trained on unit
    vectors): the search ranks by cosine, so buckets must partition by
    angle, not magnitude — L2 buckets on raw vectors probe the wrong
    cells."""
    cents, _ = kmeans_fit(corpus, k=n_clusters, n_iter=n_iter,
                          normalize=True)
    # carry_vec (r11, guide §2.4 — the same single-pass fix the IVFPQ
    # residual builder got in r10): the assignment pass carries the
    # double-cast raw vector through, so the labeled corpus comes out
    # of ONE Arrow pass instead of corpus ⨝ assignment — that join
    # re-scanned the corpus and paid a sort-merge exchange to reunite
    # each row with its own label
    c = (kmeans_assign(corpus, cents, normalize=True, carry_vec=True)
         .select(F.col("vec_id").alias("neighbor_id"),
                 F.col("_v").alias("c_emb"),
                 F.col("cluster_id").alias("label")))
    cents_df = queries.sparkSession.createDataFrame(
        [(i, c_) for i, c_ in enumerate(cents)],
        "label int, centroid array<double>")
    return _probe_and_search(queries, c, cents_df, k, nprobe)


def _band_topk(pairs: DataFrame, k: int, lo: float, hi: float) -> DataFrame:
    """Shared band-and-rank tail of both hard_negatives paths: exact
    cosine on the candidate pairs, keep the [lo, hi) band on the
    ROUNDED similarity (reproducible band edges), top-k per anchor."""
    sim = F.round(cosine_similarity(F.col("q_emb"), F.col("c_emb")), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"),
                                               F.asc("neighbor_id"))
    return (pairs.withColumn("_sim", sim)
            .filter((F.col("_sim") >= lo) & (F.col("_sim") < hi))
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.col("_sim").alias("cosine")))


def hard_negatives(queries: DataFrame, corpus: DataFrame, k: int = 5,
                   lo: float = 0.3, hi: float = 0.8,
                   max_pair_mass: float | None = 25_000_000,
                   on_budget_exceeded: str = "raise",
                   shortlist_k: int | None = None,
                   m: int = 4, ks: int = 8,
                   n_iter: int = 3) -> DataFrame:
    """Hard-negative mining for contrastive training (the classic
    recipe behind dense-retriever / embedding fine-tuning data): for
    each anchor, the top-k most similar vectors whose cosine falls in
    the band [lo, hi) — similar enough to be informative negatives,
    below the near-duplicate zone where a "negative" is probably a
    positive. Same distributed shape as ``brute_force_topk`` (anchor
    set broadcasts, corpus streams, per-anchor window top-k); the band
    filter runs on the ROUNDED similarity so the band edges are
    reproducible across engines.

    Regime gate (the same discipline as ngram_jaccard_pairs /
    semantic_dedup, r6 verdict's last weak row): the exact path is an
    anchors x corpus scan, and a caller mining negatives for a full
    training corpus (anchors ~ corpus) would otherwise get quadratic
    work plus an unguarded broadcast. Two guards run before any join:

    - anchors over ``MAX_BROADCAST_QUERIES`` raise unconditionally
      (BOTH paths broadcast the anchor frame — chunk the anchor set).
    - estimated pair mass n_anchors * n_corpus past ``max_pair_mass``:
      ``on_budget_exceeded='raise'`` (default) raises naming the
      shortlist route; ``'route'`` generates candidates from the PQ/ADC
      shortlist instead of the exact scan (corpus touched as m int
      codes; top ``shortlist_k`` per anchor by approximate distance,
      then exact-cosine band + re-rank of the shortlist ONLY). Routed
      recall vs brute is bounded by the shortlist's recall — negatives
      are always a subset of the true band (precision exact: every
      emitted pair passed the exact cosine verify);
      ``max_pair_mass=None`` skips the estimate and runs the exact plan.

    ``shortlist_k`` defaults to ``max(50, 10 * k)`` — head-room for
    band members ranked below the near-dup zone the shortlist
    necessarily surfaces first.

    Gate cost note: the pair-mass estimate needs one count() of each
    input. On a landed parquet corpus that is metadata-cheap; on a
    COMPUTED corpus frame it materializes the subplan once — still
    ~dim x cheaper than the exact scan it guards against, but callers
    in that shape should persist the corpus first (or pass
    ``max_pair_mass=None`` when the scale is known-safe). The corpus
    count is memoized per session on the corpus plan
    (``dedup._session_plan_cached``, as the histogram gates are), so
    a repeat build over the same corpus pays only the anchor count.

    Output: (query_id, neighbor_id, rank, cosine). Inputs need only
    (vec_id, embedding) — no label column (shortlist-produced anchor
    frames don't carry one).
    Reference has no analog (beyond-reference training-data operator).
    """
    check_budget_policy(on_budget_exceeded)
    n_q = queries.limit(MAX_BROADCAST_QUERIES + 1).count()
    if n_q > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"hard_negatives broadcasts the anchor set (both the exact "
            f"and the shortlist path); got more than "
            f"{MAX_BROADCAST_QUERIES} anchors — chunk the anchor frame "
            f"and union the per-chunk results")
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"))
    sk = shortlist_k if shortlist_k is not None else max(50, 10 * k)
    gate = pair_budget(
        "hard_negatives", "max_pair_mass", max_pair_mass,
        lambda: float(n_q) * _session_plan_cached(
            (corpus,), "count", lambda: float(corpus.count())),
        f"anchors x corpus pair mass; the exact scan is quadratic when "
        f"anchors ~ corpus. on_budget_exceeded='route' mines from the "
        f"PQ/ADC shortlist (top {sk} per anchor by approximate "
        f"distance, exact-cosine band + re-rank of the shortlist only: "
        f"approximate recall, exact precision)",
        on_budget_exceeded)
    if gate.route:
        cands = _pq_candidates(queries, corpus, m=m, ks=ks, n_iter=n_iter)
        sw = Window.partitionBy("query_id").orderBy(
            F.asc("_adist"), F.asc("neighbor_id"))
        short = (cands.withColumn("_r", F.row_number().over(sw))
                 .filter(F.col("_r") <= sk)
                 .select("query_id", "neighbor_id"))
        pairs = (short.join(F.broadcast(q), "query_id")
                 .join(c, "neighbor_id"))
        return _band_topk(pairs, k, lo, hi)
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id"))
    return _band_topk(pairs, k, lo, hi)


def pq_fit(corpus: DataFrame, m: int = 4, ks: int = 8, n_iter: int = 3,
           id_col: str = "vec_id", vec_col: str = "embedding",
           init_vecs: list[list[float]] | None = None,
           ) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split the vector into
    ``m`` contiguous subspaces and train an independent ``ks``-centroid
    k-means in each — the compressed representation is then m small
    codes (m * log2(ks) bits) instead of dim floats, the memory lever
    that keeps a 100 TB embedding corpus scannable.

    Each subspace trains the SAME distributed Lloyd's loop as the IVF
    coarse quantizer (deterministic md5 init — the init rows are the
    same k vectors for every subspace, sliced — numpy-GEMM argmin per
    Arrow batch, emptied cluster keeps its centroid), but ALL m
    subspaces fit in ONE corpus pass per iteration: each batch's GEMMs
    emit (subspace, cluster) partial sums together, so the fit costs
    ``n_iter + 1`` corpus jobs instead of the m x (n_iter + 1) the
    per-subspace chains would (measured r7: the fit dominated every
    PQ-family query; at 100 TB an m-fold reduction in corpus passes is
    the difference between one index build and five). Only
    m x ks x (dim/m) partials shuffle per iteration. Under the module
    constant ``LOCAL_FIT_ROWS_BUDGET`` rows the same per-task fold runs
    driver-side over one collect — one job (``_lloyd_fit``). The returned
    centroids are rounded to 9dp — the cross-engine contract that
    keeps downstream ADC distance tables reproducible to their own
    6dp rounding (mean-update arithmetic agrees to ~1e-13 across
    engines AND across partial-sum orders; rounding the codebook pins
    every consumer to identical doubles before any distance is
    formed). The serial DuckDB oracles unroll the same per-subspace
    chains and stay green — the combined pass changes job count, not
    arithmetic.
    """
    books, _ = _lloyd_fit(corpus, ks, m, n_iter, id_col, vec_col, False,
                          init_vecs, "pq_fit")
    return _round9(books)


def pq_encode(corpus: DataFrame, codebooks: list[list[list[float]]],
              id_col: str = "vec_id", vec_col: str = "embedding",
              carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """(id, codes array<int>) under fixed PQ codebooks — the
    compressed-index write path: a shuffle-free Arrow-batched argmin
    per subspace (one (batch x sub) @ (sub x ks) GEMM each, expanded-
    form squared L2, lowest code on ties — the same arithmetic
    contract as ``kmeans_assign``). At scale the output is m
    small ints per vector, landed once and scanned by every ADC
    query instead of the raw floats. ``carry_cols`` pass through
    unchanged (same single-pass rationale as
    ``kmeans_assign(carry_vec=True)`` — an IVFPQ build carries the
    cell label through instead of joining it back on)."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    C = [np.asarray(b, dtype="float64") for b in codebooks]
    m = len(C)
    sub = C[0].shape[1]
    bc = spark.sparkContext.broadcast(C)
    dtypes = dict(corpus.dtypes)
    id_t = dtypes[id_col]

    def encode(batches):
        books = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf["_v"].to_numpy()).astype("float64")
            codes = np.empty((len(X), m), dtype="int32")
            for j, cents in enumerate(books):
                codes[:, j] = _sq_dists(X[:, j * sub:(j + 1) * sub],
                                        cents).argmin(axis=1)
            out = {id_col: pdf["_id"], "codes": list(codes)}
            for c in carry_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    schema = f"{id_col} {id_t}, codes array<int>"
    for c in carry_cols:
        schema += f", {c} {dtypes[c]}"
    return (corpus.select(F.col(id_col).alias("_id"),
                          F.col(vec_col).cast("array<double>").alias("_v"),
                          *[F.col(c) for c in carry_cols])
            .mapInPandas(encode, schema))


_SQL_NON_FINITE = {"nan": "CAST('NaN' AS DOUBLE)",
                   "inf": "CAST('Infinity' AS DOUBLE)",
                   "-inf": "CAST('-Infinity' AS DOUBLE)"}


def _sql_double(x: float) -> str:
    """Exact SQL double literal: repr() is the shortest round-trip
    decimal, so the parser recovers the identical double; plain
    decimals get the D suffix (undecorated they parse as DECIMAL),
    scientific notation is already DOUBLE in Spark SQL. NaN and the
    infinities have no literal form (a bare ``nan`` parses as a column
    name) and become casts from their string spellings."""
    r = repr(float(x))
    if r in _SQL_NON_FINITE:
        return _SQL_NON_FINITE[r]
    return r if "e" in r else r + "D"


def _sql_double_array(vals) -> str:
    return "array(" + ", ".join(_sql_double(v) for v in vals) + ")"


def _adc_tables_sql(books: list, src: str) -> str:
    """SQL text of the per-row ADC distance-table expression over
    subvectors of the column expression ``src`` — semantically the
    exact tree the old per-literal builder produced
    (round(self_dot - 2*dot + ||cent||^2, 6) per (subspace, centroid),
    same operator order, same left-fold aggregates), built as ONE
    parsed string instead of ~m x ks x sub ``F.lit`` Py4J round trips
    (r11, guide §1.2 — the literal build cost ~1.5 s of DRIVER time
    per call at the fixture codebook sizes, most of a warm query's
    latency; equivalence pinned by
    ``test_sql_adc_tables_match_literal_builder``)."""
    m = len(books)
    sub = len(books[0][0])
    outer = []
    for j in range(m):
        sv = f"slice({src}, {j * sub + 1}, {sub})"
        entries = []
        for cent in books[j]:
            dot = (f"aggregate(zip_with({sv}, {_sql_double_array(cent)}, "
                   f"(a, b) -> a * b), 0.0D, (acc, x) -> acc + x)")
            self_dot = (f"aggregate(transform({sv}, x -> x * x), 0.0D, "
                        f"(acc, x) -> acc + x)")
            csq = _sql_double(float(sum(x * x for x in cent)))
            entries.append(f"round({self_dot} - 2 * {dot} + {csq}, 6)")
        outer.append("array(" + ", ".join(entries) + ")")
    return "array(" + ", ".join(outer) + ")"


def ann_pq_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                m: int = 4, ks: int = 8, n_iter: int = 3) -> DataFrame:
    """ANN by asymmetric distance computation over PQ codes (Jegou et
    al. 2011's ADC): fit per-subspace codebooks, encode the corpus to
    m codes per vector, then score each (query, neighbor) as

        adist = sum_j T_q[j][code_j]   with
        T_q[j][c] = ||q_j - centroid_{j,c}||^2

    — the query stays EXACT (asymmetric), only the corpus is
    quantized. Returns (query_id, neighbor_id, rank, adist) with the
    k smallest approximate distances per query (ties on neighbor_id).

    Distributed shape — the faiss ADC scan re-expressed relationally:
    the corpus-side operand is ONLY (vec_id, m ints) — the compressed
    index, never the raw floats; each query's m x ks distance table is
    a per-row EXPRESSION over codebook literals (computed once per
    query row, broadcast with the tiny query frame); scoring is m
    array lookups per pair folded in fixed subspace order (no
    distributed sum — a groupBy over per-subspace parts would re-add
    doubles in nondeterministic order); the final top-k is a window
    over per-query candidates. Table entries are rounded to 6dp so a
    serial oracle reproduces the ranking bit-for-bit.
    """
    cands = _pq_candidates(queries, corpus, m=m, ks=ks, n_iter=n_iter)
    w = Window.partitionBy("query_id").orderBy(F.asc("_adist"),
                                               F.asc("neighbor_id"))
    return (cands
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("_adist", 4).alias("adist")))


def _pq_candidates(queries: DataFrame, corpus: DataFrame, m: int,
                   ks: int, n_iter: int) -> DataFrame:
    """Shared ADC scan of ``ann_pq_topk`` / ``ann_pq_rerank``:
    (query_id, neighbor_id, _adist) over the compressed code table —
    fit, encode, broadcast per-query distance tables, fixed-order
    lookup fold. Self-pairs excluded."""
    books = pq_fit(corpus, m=m, ks=ks, n_iter=n_iter)
    codes = pq_encode(corpus, books)

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"))
    # one parsed SQL string instead of m*ks*sub F.lit round trips
    # (r11 — see _adc_tables_sql)
    qt = q.select("query_id",
                  F.expr(_adc_tables_sql(books, "q_emb")).alias("_t"))

    adist = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)), F.lit(0.0),
        lambda acc, j: acc + F.element_at(F.element_at(F.col("_t"), j),
                                          F.element_at(F.col("codes"), j)
                                          + 1))
    return (codes.withColumnRenamed("vec_id", "neighbor_id")
            .crossJoin(F.broadcast(qt))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("_adist", adist)
            .select("query_id", "neighbor_id", "_adist"))


def ann_ivfpq_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                   n_cells: int = 8, m: int = 4, ks: int = 8,
                   n_iter: int = 3, nprobe: int = 2) -> DataFrame:
    """The full IVFADC index (Jegou et al. 2011 §IV — what faiss
    ships as IVF<n>,PQ<m>): a coarse quantizer prunes the corpus to
    ``nprobe`` of ``n_cells`` inverted lists per query, and a product
    quantizer over the RESIDUALS (x - coarse_centroid) compresses
    what remains, scored by asymmetric distance

        adist(q, x) = sum_j T_{q,cell}[j][code_j(x)]  with
        T_{q,cell}[j][c] = ||(q - c_cell)_j - cent_{j,c}||^2

    — residual PQ beats plain PQ because residuals concentrate near 0
    (one shared codebook spans every cell's displacement
    distribution), and the cell pruning bounds the scan.

    Distributed shape — both 100 TB levers composed: the corpus is
    touched as (vec_id, cell, m codes); candidate selection is a
    broadcast equi-join on the CELL key (nprobe/n_cells of the index
    per query — with the index landed partitioned by cell, file
    pruning); the per-(query, probed cell) distance tables are
    expressions over codebook literals computed on n_queries x nprobe
    rows; scoring is the fixed-order lookup fold. Training = one
    coarse Lloyd's + m residual sub-Lloyd's, the one Lloyd loop of
    ``kmeans_fit`` and ``pq_fit``.

    Cross-engine contract: the coarse codebook and the residuals are
    rounded to 9dp (so the residual sub-quantizers train on identical
    inputs in both engines), probe ranking and table entries round to
    6dp, adist folds in fixed subspace order.

    Output: (query_id, neighbor_id, rank, adist) — approximate
    distances over probed cells only.
    """
    import hashlib
    import json

    coarse, books, codes = ivfpq_fit_encode(corpus, n_cells=n_cells,
                                            m=m, ks=ks, n_iter=n_iter)
    probes = _ivfpq_probes(queries, coarse, nprobe)
    # memoize the rank Columns on the CODEBOOK CONTENT (r11): repeated
    # in-memory builds over the same corpus train identical (9dp-
    # rounded) codebooks, so the expression build — like the landed
    # searchers' — need only happen once per session per index
    ckey = ("inmem", hashlib.md5(
        json.dumps([coarse, books]).encode()).hexdigest())
    exprs = _rank_exprs_cached(ckey, coarse, books)
    return _ivfpq_rank(codes, probes, coarse, books, k, exprs=exprs)


def _residual_init_vecs(init_vecs: list[list[float]],
                        coarse: list) -> list[list[float]]:
    """Driver-side twin of ``_ivfpq_residuals`` for the (tiny) init
    rows: assign each vector to its nearest coarse centroid with
    ``_sq_dists``, as the ``kmeans_assign`` kernel does, then 9dp-round
    the residual with ``_spark_round_py`` (the bit-exact HALF_UP twin
    of Spark's round). Lets ``ivfpq_fit_encode``
    derive the PQ sub-fit's init rows from the ONE shared init collect
    instead of a second takeOrdered job over the full residual frame
    (r11 — one init barrier in the IVFADC build, not two); equality
    with the cluster-computed residuals is pinned by
    ``test_ivfpq_driver_init_matches_cluster_residuals``."""
    import numpy as np

    X = np.asarray(init_vecs, dtype="float64")
    C = np.asarray(coarse, dtype="float64")
    cells = _sq_dists(X, C).argmin(axis=1)
    return [[_spark_round_py(float(a) - float(b), 9)
             for a, b in zip(vec, C[cell])]
            for vec, cell in zip(X, cells)]


def ivfpq_fit_encode(corpus: DataFrame, n_cells: int = 8, m: int = 4,
                     ks: int = 8, n_iter: int = 3,
                     ) -> tuple[list, list, DataFrame]:
    """Train the IVFADC index and encode the corpus: returns
    (coarse codebook, residual PQ codebooks, codes DataFrame with
    (vec_id, cell, codes)) — the compressed index a 100 TB deployment
    lands partitioned by cell (``land_ivfpq_index``).

    Job chain (r11 — guide §1.2, fewer sequential barriers): under
    the module constant ``LOCAL_FIT_ROWS_BUDGET`` rows the vectors
    collect ONCE and the whole train — coarse Lloyd iterations,
    per-row residuals (the exact kmeans_assign arithmetic + HALF_UP
    9dp round twin), PQ iterations — runs as ``_lloyd_local``, so the
    build is ONE job plus the lazy encode; the residual FRAME stays a
    distributed persist (for the query) that materializes inside the
    first consumer's job (the encode scans the corpus — that never
    collects). Past the budget: one md5-init collect feeds both
    ``_lloyd_distributed`` fits (init ordering is content-independent;
    the PQ init residuals are derived driver-side via
    ``_residual_init_vecs``), 1 + 2 x n_iter sequential jobs."""
    import numpy as np

    op = "ivfpq_fit_encode"
    emb = _vectors(corpus)
    pdf = _collect_vectors_local(emb)
    init = (_md5_init_local(pdf, emb, max(n_cells, ks))
            if pdf is not None else None)
    if init:
        chunks = _vec_chunks(pdf["_v"], _arrow_batch_rows(emb.sparkSession))
        coarse = _round9(_lloyd_local(
            chunks, _init_books(init[:n_cells], 1, False, op), n_iter,
            False)[0])[0]
        # per-chunk residuals: the kmeans_assign argmin and the 9dp
        # HALF_UP round of the zip_with expression (vectorized twin —
        # _spark_round_np)
        Cc = np.asarray(coarse, dtype="float64")
        res_chunks = [_spark_round_np(X - Cc[_sq_dists(X, Cc).argmin(axis=1)])
                      for X in chunks]
        books, _ = _lloyd_local(
            res_chunks,
            _init_books(_residual_init_vecs(init[:ks], coarse), m, False, op),
            n_iter, False)
        res = _ivfpq_residuals(corpus, coarse)
    else:
        init = _md5_init_vecs(corpus, max(n_cells, ks))
        emb = emb.persist()
        try:
            coarse = _round9(_lloyd_distributed(
                emb, _init_books(init[:n_cells], 1, False, op), n_iter,
                False)[0])[0]
        finally:
            emb.unpersist()
        # the residual frame is persisted for the query: the PQ fit
        # trains on it and the encode reads it
        res = _ivfpq_residuals(corpus, coarse)
        books, _ = _lloyd_distributed(
            _vectors(res),
            _init_books(_residual_init_vecs(init[:ks], coarse), m, False, op),
            n_iter, False)
    books = _round9(books)
    codes = (pq_encode(res, books, carry_cols=("cluster_id",))
             .select("vec_id", F.col("cluster_id").alias("cell"), "codes"))
    return coarse, books, codes


def _ivfpq_residuals(corpus: DataFrame, coarse: list) -> DataFrame:
    """(vec_id, cluster_id, embedding=9dp-rounded residual) under a
    fixed coarse codebook. PERSISTED for the query: the residual
    frame feeds every PQ sub-fit (m slices x n_iter passes), the
    encode pass, and the cell join — without the persist, each of
    those re-runs the assignment GEMM + corpus join from scratch
    (m+2 full corpus-residual computations where one suffices)."""
    # carry_vec: assignment and vector come out of ONE corpus pass —
    # the former corpus.join(assign) shape re-scanned the corpus and
    # paid a sort-merge exchange to reunite a row with its own label.
    # The coarse codebook rides as one parsed SQL array literal (r11 —
    # n_cells x dim F.lit round trips removed, see _adc_tables_sql)
    assign = kmeans_assign(corpus, coarse, carry_vec=True)
    coarse_sql = ("array(" + ", ".join(_sql_double_array(c)
                                       for c in coarse) + ")")
    res = (assign.select("vec_id", "cluster_id",
                         F.expr(f"zip_with(_v, element_at({coarse_sql}, "
                                f"cluster_id + 1), "
                                f"(a, b) -> round(a - b, 9))")
                         .alias("embedding")))
    return persist_for_query(res)


def ivfpq_encode_under(corpus: DataFrame, coarse: list,
                       books: list) -> DataFrame:
    """Encode NEW vectors under a FROZEN index (no refit — the faiss
    discipline for incremental index maintenance: codebooks are fixed
    at build time, arrivals are assigned + residual-encoded under
    them). Returns (vec_id, cell, codes) ready to append to the
    cell-partitioned codes table."""
    res = _ivfpq_residuals(corpus, coarse)
    return (pq_encode(res, books, carry_cols=("cluster_id",))
            .select("vec_id", F.col("cluster_id").alias("cell"), "codes"))


def _ivfpq_probes(queries: DataFrame, coarse: list,
                  nprobe: int) -> DataFrame:
    """(query_id, q_emb, cell): the top-``nprobe`` coarse cells per
    query by 6dp-rounded L2 to the (rounded) coarse centroids."""
    def dot2(a_col, b_col):
        return F.aggregate(F.zip_with(a_col, b_col,
                                      lambda a, b: (a - b) * (a - b)),
                           F.lit(0.0), lambda acc, x: acc + x)

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"))
    cells = queries.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(coarse)],
        "cell int, centroid array<double>")
    pd2 = F.round(dot2(F.col("q_emb"), F.col("centroid")), 6)
    pw = Window.partitionBy("query_id").orderBy(F.asc("_pd2"),
                                                F.asc("cell"))
    return (q.crossJoin(F.broadcast(cells))
            .withColumn("_pd2", pd2)
            .withColumn("_pr", F.row_number().over(pw))
            .filter(F.col("_pr") <= nprobe)
            .select("query_id", "q_emb", "cell"))


def _ivfpq_rank_exprs(coarse: list, books: list) -> tuple[Column, Column]:
    """(qres, tables): the query-INDEPENDENT Column expressions of the
    ADC rank — the coarse-centroid residual and the per-(query, cell)
    distance tables over the residual subvectors. Built from ONE
    parsed SQL string each (r11): the former per-literal build cost
    n_cells*dim + m*ks*sub ``F.lit`` Py4J round-trips (~1.5 s measured
    at the fixture codebook sizes), which was most of a warm
    single-query's latency; ``search_ivfpq_index`` /
    ``search_ivfpq_index_local`` / ``ann_ivfpq_topk`` additionally
    memoize the built Columns per (session, codebook identity) via
    ``_rank_exprs_cached``. Columns are immutable unresolved
    expressions referencing q_emb/cell by name, so reuse across query
    frames is sound."""
    coarse_sql = ("array(" + ", ".join(_sql_double_array(c)
                                       for c in coarse) + ")")
    qres = F.expr(f"zip_with(q_emb, element_at({coarse_sql}, cell + 1), "
                  f"(a, b) -> a - b)")
    tables = F.expr(_adc_tables_sql(books, "_qr"))
    return qres, tables


# sidecar key -> (qres, tables): bench loops and interactive servers
# re-touch a handful of live indexes
_rank_exprs_memo = session_memo(32)


def _rank_exprs_cached(sidecar_key: tuple, coarse: list,
                       books: list) -> tuple[Column, Column]:
    return _rank_exprs_memo(sidecar_key,
                            lambda: _ivfpq_rank_exprs(coarse, books))


def _ivfpq_rank(codes: DataFrame, probes: DataFrame, coarse: list,
                books: list, k: int,
                exprs: tuple[Column, Column] | None = None) -> DataFrame:
    """The probed ADC tail shared by in-memory and landed-index
    search: per-(query, probed cell) residual distance tables as
    broadcast expressions, fixed-order lookup fold, window top-k.
    ``exprs`` lets the landed-index searchers pass the memoized
    query-independent Columns (``_rank_exprs_cached``)."""
    m = len(books)
    qres, tables = exprs if exprs is not None else _ivfpq_rank_exprs(
        coarse, books)
    probes = probes.withColumn("_qr", qres)
    qt = probes.select("query_id", "cell", tables.alias("_t"))

    adist = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)), F.lit(0.0),
        lambda acc, j: acc + F.element_at(F.element_at(F.col("_t"), j),
                                          F.element_at(F.col("codes"), j)
                                          + 1))
    w = Window.partitionBy("query_id").orderBy(F.asc("_adist"),
                                               F.asc("neighbor_id"))
    return (codes.withColumnRenamed("vec_id", "neighbor_id")
            .join(F.broadcast(qt), "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("_adist", adist)
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("_adist", 4).alias("adist")))


def land_ivfpq_index(corpus: DataFrame, path: str, n_cells: int = 8,
                     m: int = 4, ks: int = 8, n_iter: int = 3,
                     ) -> tuple[list, list]:
    """Write the IVFADC index to disk the way a 100 TB deployment
    lands it: the codes table PARTITIONED BY CELL (so a search's
    nprobe cells prune at the file level — the inverted lists ARE the
    directory layout) plus the two codebooks as a JSON sidecar
    (codebook-sized driver state; a production deployment would put
    it in the table's metadata/catalog). Returns (coarse, books)."""
    import json
    import os

    _require_local_index_path(path, "_codebooks.json")
    coarse, books, codes = ivfpq_fit_encode(corpus, n_cells=n_cells,
                                            m=m, ks=ks, n_iter=n_iter)
    codes.write.mode("overwrite").partitionBy("cell").parquet(path)
    # vec-id manifest sidecar (underscore dir — invisible to the codes
    # read): the streaming ingest guard's n_vecs-row anti-join target,
    # the text index's discipline (see land_text_index)
    (corpus.select("vec_id").distinct()
     .write.mode("overwrite").parquet(os.path.join(path, "_manifest")))
    with open(os.path.join(path, "_codebooks.json"), "w") as fh:
        json.dump({"coarse": coarse, "books": books}, fh)
    return coarse, books


def compact_ivfpq_index(spark, path: str) -> int:
    """Compact a landed IVFADC index after streaming appends — the
    codes-table twin of ``search.compact_text_index``: rewrite each
    cell's accumulated small append files into one pass's worth of
    fresh parquet and COLLAPSE any duplicate vec_id a re-landed vector
    left behind (the stream's anti-join guard prevents these within
    its own lifetime, but a vector re-landed across streams/builds
    would otherwise appear twice in every probed page — duplicate
    neighbor rows with inflated ranks). An identically-re-ingested
    vector encodes to identical (cell, codes) under the frozen
    codebooks, so the collapse reproduces a fresh build; divergent
    re-ingests collapse to the array-max codes per (vec_id, cell) — a
    deterministic, documented approximation (codes carry no version).
    The codebook sidecar is untouched (frozen by design).

    Crash-safe stage-and-swap, as in the text twin: staging lands
    COMPLETE (sidecar copied in) and replaces the index with
    ``writers._swap_dir``; a crash mid-swap is repaired by the next
    index writer (this compaction, or the IVFPQ index stream), which
    starts with ``writers._reconcile_asides``.
    Returns the compacted row count."""
    import os
    import shutil

    from ..sources.writers import _reconcile_asides, _stage_dir, _swap_dir

    _require_local_index_path(path, "_codebooks.json")
    _reconcile_asides(path)
    codes = (spark.read.parquet(path)
             .groupBy("vec_id", "cell")
             .agg(F.max("codes").alias("codes"))
             .select("vec_id", "codes", "cell"))
    n = codes.count()
    staging = _stage_dir(path)
    codes.write.mode("overwrite").partitionBy("cell").parquet(staging)
    # rebuild the ingest-guard manifest from the compacted codes
    # (every indexed vector has a code row — no token-less analog here)
    (codes.select("vec_id").distinct()
     .write.mode("overwrite").parquet(os.path.join(staging, "_manifest")))
    shutil.copyfile(os.path.join(path, "_codebooks.json"),
                    os.path.join(staging, "_codebooks.json"))
    _swap_dir(staging, path)
    spark.catalog.refreshByPath(path)
    return int(n)


def _require_local_index_path(path: str, sidecar: str) -> None:
    """An index's JSON sidecar (IVFPQ codebooks, text-index stats) is
    read/written with local-file I/O; a URI-scheme path (hdfs://,
    s3a://, ...) would land the parquet remotely and then fail (or
    silently divorce) the sidecar — refuse up front. A production
    deployment keeps the sidecar's contents in the table's
    metadata/catalog instead."""
    if "://" in path:
        raise NotImplementedError(
            "index paths must be local-filesystem paths in this "
            f"environment: the {sidecar} sidecar uses local file I/O. "
            "For an object-store/HDFS deployment, keep its contents in "
            "the table metadata/catalog instead.")


# (sidecar path, content digest) -> parsed JSON. Keyed
# on the BYTES, not mtime+size: a re-land/compaction producing a
# same-size sidecar within one coarse-mtime tick must not serve stale
# codebooks (round-9 advice). Sidecars are small JSON, so re-reading +
# hashing per call is cheap; what the cache saves is the JSON parse
# and — via the key doubling as the identity token for
# ``_rank_exprs_cached`` — the ~1.5 s ADC expression rebuild.
_sidecar_memo = session_memo(64)


def _sidecar_cached(path: str, name: str) -> tuple[tuple, dict]:
    """Parse a JSON index sidecar once per (file, content digest):
    returns the (cache key, parsed dict). The returned dict is a deep
    copy — callers may mutate it without poisoning the cache."""
    import copy
    import hashlib
    import json
    import os

    full = os.path.join(path, name)
    with open(full, "rb") as fh:
        raw = fh.read()
    key = (full, hashlib.md5(raw).hexdigest())
    return key, copy.deepcopy(_sidecar_memo(key, lambda: json.loads(raw)))


def _spark_round_py(x: float, scale: int = 6) -> float:
    """Driver-side twin of Spark's ROUND on a double: Catalyst rounds
    via BigDecimal.valueOf(x).setScale(scale, HALF_UP), and
    BigDecimal.valueOf parses Double.toString's shortest-roundtrip
    decimal — Python's repr() is the same shortest-roundtrip string,
    so Decimal(repr(x)) + ROUND_HALF_UP reproduces it bit for bit
    (property-tested against the expression engine over every fixture
    vector in test_similarity_search)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP))


def _spark_round_np(arr, scale: int = 9):
    """Vectorized ``_spark_round_py``: the fast path rounds to nearest
    via floor(x*10^s + 0.5) — for values whose scaled fraction is
    farther from the .5 boundary than the float error of x*10^s this
    EQUALS HALF_UP on the shortest-roundtrip decimal (ties-away-from-
    zero vs ties-up differ only AT the boundary); boundary-adjacent
    elements take the exact Decimal fallback. The error — x's distance
    from its shortest decimal plus the product's rounding, both scaled
    — is under 1.5 ulp of x*10^s, so the suspect band is the larger of
    1e-4 and |x*10^s| * 2^-50 (at |x| ~ 1e4 and scale 9 the error is
    ~1e-3, past a fixed 1e-4 band). Bit-equality with the scalar twin
    pinned by test_spark_round_np_matches_py."""
    import numpy as np

    p = 10.0 ** scale
    s = arr * p
    frac = s - np.floor(s)
    out = np.floor(s + 0.5) / p
    suspect = np.abs(frac - 0.5) < np.maximum(1e-4, np.abs(s) * 2.0 ** -50)
    if suspect.any():
        flat_out = out.reshape(-1)
        flat_in = np.asarray(arr, dtype="float64").reshape(-1)
        for i in np.flatnonzero(suspect.reshape(-1)):
            flat_out[i] = _spark_round_py(float(flat_in[i]), scale)
        out = flat_out.reshape(out.shape)
    return out


def _probe_cells_py(qvecs: list, coarse: list, nprobe: int) -> list:
    """Driver-side twin of ``_ivfpq_probes``' cell choice for LOCAL
    query vectors: per query, 6dp-rounded L2 to each (rounded) coarse
    centroid — the same left-fold order as the F.aggregate expression,
    so the doubles are identical — then the top-``nprobe`` cells by
    (distance, cell). One list of cell ids per query, probe-rank
    order. Exists so the interactive single-query path
    (``search_ivfpq_index_local``) never pays a Spark job for an
    n_queries x n_cells decision that is driver-sized by contract."""
    out = []
    for vec in qvecs:
        ds = []
        for cell, cent in enumerate(coarse):
            acc = 0.0
            for a, b in zip(vec, cent):
                d = a - b
                acc = acc + d * d
            ds.append((_spark_round_py(acc, 6), cell))
        ds.sort()
        out.append([cell for _, cell in ds[:nprobe]])
    return out


def search_ivfpq_index(spark, path: str, queries: DataFrame, k: int = 5,
                       nprobe: int = 2) -> DataFrame:
    """Search a landed IVFADC index with file pruning: probe selection
    runs on the broadcastable query dimension, the probed cell set
    (<= n_queries x nprobe ints, driver-bounded by the ANN query
    contract) becomes a PARTITION FILTER on the codes scan — the plan
    reads nprobe-cell directories, not the index. Identical results to
    ``ann_ivfpq_topk`` under the same codebooks. The codebook parse
    and the query-independent ADC rank expressions are memoized per
    (session, sidecar mtime), so repeat searches of a live index skip
    the ~1.5 s expression build (SCALE.md warm-latency row)."""
    _require_local_index_path(path, "_codebooks.json")
    ckey, cb = _sidecar_cached(path, "_codebooks.json")
    coarse, books = cb["coarse"], cb["books"]
    probes = _ivfpq_probes(queries, coarse, nprobe)
    probed_cells = sorted(
        r.cell for r in probes.select("cell").distinct().collect())
    codes = (spark.read.parquet(path)
             .filter(F.col("cell").isin(probed_cells)))
    return _ivfpq_rank(codes, probes, coarse, books, k,
                       exprs=_rank_exprs_cached(ckey, coarse, books))


def search_ivfpq_index_local(spark, path: str, queries: list,
                             k: int = 5, nprobe: int = 2) -> DataFrame:
    """The INTERACTIVE twin of ``search_ivfpq_index`` for
    driver-resident query vectors (``queries`` = [(query_id, vector),
    ...] — the hybrid endpoint's shape, where the query arrives as a
    Python list, not a DataFrame): identical results (tested), but
    probe selection runs driver-side (``_probe_cells_py``, the exact
    twin of ``_ivfpq_probes``) so a warm query costs ONE Spark job —
    the cell-pruned ADC scan — instead of three (createDataFrame +
    crossJoin probe job, then the scan). With the codebook parse and
    rank expressions memoized (``_sidecar_cached`` /
    ``_rank_exprs_cached``), warm per-query latency drops ~2x
    (SCALE.md). The 100 TB framing: probe choice is an
    n_cells-sized decision per query — driver arithmetic, not a
    cluster job; the cluster only ever sees the pruned codes scan."""
    _require_local_index_path(path, "_codebooks.json")
    ckey, cb = _sidecar_cached(path, "_codebooks.json")
    coarse, books = cb["coarse"], cb["books"]
    qvecs = [[float(x) for x in vec] for _, vec in queries]
    cells = _probe_cells_py(qvecs, coarse, nprobe)
    probes = spark.createDataFrame(
        [(int(qid), qv, int(c))
         for (qid, _), qv, cs in zip(queries, qvecs, cells) for c in cs],
        "query_id long, q_emb array<double>, cell int")
    probed_cells = sorted({c for cs in cells for c in cs})
    codes = (spark.read.parquet(path)
             .filter(F.col("cell").isin(probed_cells)))
    return _ivfpq_rank(codes, probes, coarse, books, k,
                       exprs=_rank_exprs_cached(ckey, coarse, books))


def ann_pq_rerank(queries: DataFrame, corpus: DataFrame, k: int = 5,
                  m: int = 4, ks: int = 8, n_iter: int = 3,
                  shortlist: int = 25) -> DataFrame:
    """The production two-stage ANN recipe (faiss's IVFADC + refine):
    the compressed ADC scan shortlists ``shortlist`` candidates per
    query by approximate distance, then ONLY those rows join back to
    the raw embeddings for an exact-cosine re-rank to the final top-k.
    At 100 TB the expensive exact arithmetic touches
    shortlist x n_queries rows instead of the corpus — the raw-float
    fetch is a narrow equi-join on neighbor_id against the (pruned)
    embedding store, never a scan.

    Output: (query_id, neighbor_id, rank, cosine) — same schema as
    the exact searchers, so recall against ``brute_force_topk`` is a
    set comparison.
    """
    cands = _pq_candidates(queries, corpus, m=m, ks=ks, n_iter=n_iter)
    sw = Window.partitionBy("query_id").orderBy(F.asc("_adist"),
                                                F.asc("neighbor_id"))
    short = (cands.withColumn("_sr", F.row_number().over(sw))
             .filter(F.col("_sr") <= shortlist)
             .select("query_id", "neighbor_id"))
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"))
    sim = cosine_similarity(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"),
                                               F.asc("neighbor_id"))
    return (short.join(c, "neighbor_id").join(F.broadcast(q), "query_id")
            .withColumn("_sim", sim)
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("_sim", 4).alias("cosine")))


def ivf_topk_multiprobe(queries: DataFrame, corpus: DataFrame,
                        k: int = 5, nprobe: int = 2) -> DataFrame:
    """Multi-probe IVF: rank the codebook per query by centroid cosine
    and search the top-``nprobe`` buckets instead of only the query's
    own — the standard recall lever when the assignment is noisy near
    bucket boundaries. Probe selection is a codebook-sized cross join
    (n_queries x n_labels, both broadcastable); the corpus is still
    touched ONLY via the label equi-join, nprobe/n_labels of it per
    query. Centroid cosines are rounded before ranking so the probe
    choice is reproducible across engines (label breaks ties)."""
    cents = label_centroids(corpus)
    c = corpus.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").cast("array<double>").alias("c_emb"),
                      "label")
    return _probe_and_search(queries, c, cents, k, nprobe)
