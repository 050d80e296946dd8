"""Connected components over an edge list — turns near-duplicate PAIRS
(from minhash_lsh_pairs / simhash_pairs / embedding_neardup_pairs) into
duplicate GROUPS with a canonical representative, which is what a
dedup pipeline actually consumes ("keep one doc per cluster").

Algorithm: TRUE alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public
algorithm):

  large-star: every node u links each LARGER neighbor to the minimum
              of its neighborhood (m = min(Γ(u) ∪ {u}));
  small-star: orient edges large->small; every node u links its
              smaller neighbors AND itself to its minimum neighbor.

Each phase is one groupBy-min + one join; the edge set contracts
toward per-component stars in O(log n) rounds — unlike plain
min-label propagation, which needs O(diameter) rounds and dies on
long chains (a real shape for near-dup pairs of serialized documents).
Each round ends in a RELIABLE checkpoint() — lineage is truncated so
plans don't grow exponentially, and the round state lives in the
checkpoint directory (not executor memory), so the iteration survives
executor loss at cluster scale. If the session has no checkpoint dir
configured, one is created under the local temp dir — fine for
local/dev runs; a cluster job should ``setCheckpointDir`` to durable
storage (HDFS/object store) before calling.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import collect_within_budget

# temp checkpoint dirs auto-created below, swept at interpreter exit —
# Spark never removes the checkpoint ROOT itself, and per-RDD file
# cleanup only happens when spark.cleaner.referenceTracking
# .cleanCheckpoints is on (session.get_spark sets it; a foreign session
# may not)
_AUTO_CKPT_DIRS: list[str] = []


def _sweep_auto_ckpt_dirs() -> None:
    while _AUTO_CKPT_DIRS:
        shutil.rmtree(_AUTO_CKPT_DIRS.pop(), ignore_errors=True)


atexit.register(_sweep_auto_ckpt_dirs)


def ensure_checkpoint_dir(sc) -> None:
    """Give the context a checkpoint dir if it has none — temp-dir
    fallback for local/dev runs (swept at exit); a cluster job should
    ``setCheckpointDir`` to durable storage first. Shared by every
    iterative operator that truncates lineage per round (connected
    components' star rounds, BPE's merge passes)."""
    if sc.getCheckpointDir() is None:
        ckpt = tempfile.mkdtemp(prefix="dcs-iter-ckpt-")
        _AUTO_CKPT_DIRS.append(ckpt)
        sc.setCheckpointDir(ckpt)


def _large_star(e: DataFrame, symmetric_safe: bool = False) -> DataFrame:
    """Connect every larger neighbor of u to min(Γ(u) ∪ {u}).

    ``symmetric_safe``: the input is distinct AND oriented one way
    (every edge has a > b) — then e ∪ swap(e) cannot contain
    duplicates and the symmetrization distinct (a full extra shuffle)
    is skipped. True for every loop round after the first, whose input
    is _small_star output. Output is always distinct and oriented
    a > b by construction."""
    sym = e.unionByName(e.select(F.col("b").alias("a"),
                                 F.col("a").alias("b")))
    if not symmetric_safe:
        sym = sym.distinct()
    mins = (sym.groupBy("a")
            .agg(F.min("b").alias("_mn"))
            .select("a", F.least("a", "_mn").alias("m")))
    return (sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct())


def _small_star(e: DataFrame, oriented: bool = False) -> DataFrame:
    """Orient large->small, then connect u's smaller neighbors and u
    itself to its minimum neighbor.

    ``oriented``: the input is already distinct with a > b on every
    row (true for _large_star output), so the re-orientation and its
    distinct shuffle are skipped."""
    if oriented:
        d = e
    else:
        d = (e.select(F.greatest("a", "b").alias("a"),
                      F.least("a", "b").alias("b"))
             .filter(F.col("a") != F.col("b"))
             .distinct())
    mins = d.groupBy("a").agg(F.min("b").alias("m"))  # m < a always
    nbrs = (d.join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b")))
    self_links = mins.select("a", F.col("m").alias("b"))
    return (nbrs.unionByName(self_links)
            .filter(F.col("a") != F.col("b"))
            .distinct())


def _fingerprint(e: DataFrame) -> tuple[int, int]:
    """Order-insensitive edge-set fingerprint: (count, xor of row
    hashes) — xor can't overflow under ANSI mode, unlike sum."""
    row = (e.select(F.xxhash64("a", "b").alias("h"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("x"))
           .first())
    return row.n, row.x


def _local_components(e0: DataFrame, pdf=None) -> DataFrame | None:
    """Driver-side connected components for edge sets under the local
    budget: label propagation with pointer doubling, executed as
    native hash joins in an embedded DuckDB (O(log n) rounds). Output
    contract identical to the star rounds — one row per distinct node,
    component = minimum reachable node id; at the fixpoint every edge
    carries equal labels and no label can drop below the component
    minimum, so the fixpoint IS the minimum. Returns None (caller
    falls back to the distributed rounds) on asymmetric src/dst types
    or null endpoints — the star rounds' coalesce semantics for those
    are not worth reproducing locally.

    ``pdf``: the already-collected edge frame (the budget probe's
    collect doubles as this one — r11); None collects here."""
    import duckdb

    if e0.schema[0].dataType != e0.schema[1].dataType:
        return None
    if pdf is None:
        pdf = e0.toPandas()
    if len(pdf) and (pdf["a"].isna().any() or pdf["b"].isna().any()):
        return None
    con = duckdb.connect()
    con.register("e_raw", pdf)
    con.execute("CREATE TEMP TABLE edges AS "
                "SELECT a, b FROM e_raw WHERE a <> b "
                "UNION SELECT b AS a, a AS b FROM e_raw WHERE a <> b")
    con.execute("CREATE TEMP TABLE lab AS SELECT node, node AS comp FROM "
                "(SELECT a AS node FROM e_raw "
                " UNION SELECT b AS node FROM e_raw)")
    while True:
        # one neighbor-min sweep ...
        con.execute(
            "CREATE OR REPLACE TEMP TABLE lab2 AS "
            "SELECT l.node, "
            "       least(l.comp, coalesce(min(nl.comp), l.comp)) AS comp "
            "FROM lab l "
            "LEFT JOIN edges e ON e.a = l.node "
            "LEFT JOIN lab nl ON nl.node = e.b "
            "GROUP BY l.node, l.comp")
        # ... then a pointer jump (comp <- comp[comp]): doubles the
        # propagation distance per round, so chains converge in
        # O(log n) rounds instead of O(diameter)
        con.execute(
            "CREATE OR REPLACE TEMP TABLE lab3 AS "
            "SELECT l.node, least(l.comp, c.comp) AS comp "
            "FROM lab2 l JOIN lab2 c ON c.node = l.comp")
        changed = con.execute(
            "SELECT count(*) FROM lab3 j JOIN lab l ON l.node = j.node "
            "WHERE j.comp <> l.comp").fetchone()[0]
        con.execute("CREATE OR REPLACE TEMP TABLE lab AS "
                    "SELECT * FROM lab3")
        if changed == 0:
            break
    out = con.execute(
        "SELECT node, comp AS component FROM lab").df()
    dt = e0.schema[0].dataType
    schema = T.StructType([T.StructField("node", dt),
                           T.StructField("component", dt)])
    return e0.sparkSession.createDataFrame(out, schema)


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iterations: int = 20,
                         local_edges_budget: int = 5_000_000) -> DataFrame:
    """Edge list (undirected) -> (node, component) where component is
    the minimum node id reachable. Output one row per distinct node.

    ``local_edges_budget`` (guide §1.2 — the distributed algorithm is
    the wrong algorithm under a size threshold): when the deduped edge
    list fits the budget, the components are computed driver-side in
    one native pass over the already-checkpointed edges instead of
    O(log n) star rounds of shuffle+checkpoint jobs (each round is a
    full Spark job; measured ~0.5 s/round at sf0.1 for microseconds
    of actual graph work). The distributed rounds remain the path for
    every edge set past the budget — a 100 TB near-dup graph never
    collects. 0 disables the local path."""
    sc = edges.sparkSession.sparkContext
    ensure_checkpoint_dir(sc)
    e0 = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
          .distinct())
    if local_edges_budget:
        # budget probe + collect in ONE action (r11 — the former shape
        # was checkpoint-then-count-then-toPandas: three jobs and TWO
        # computations of the upstream pair join). The local path
        # never checkpoints: the driver copy IS the materialization.
        # Byte-aware (round-10 advice): the row budget is calibrated
        # for fixed-width numeric ids (~16 bytes/edge driver-side), so
        # for other id types the probe's row cap is budget/4 (a 64-byte
        # floor per edge) and the true byte gate — rows x max(width,
        # 16) <= budget x 16, width measured over the collected rows —
        # applies after the collect: ~80 MB of edge payload whatever
        # the id type.
        integral = all(isinstance(f.dataType,
                                  (T.LongType, T.IntegerType,
                                   T.ShortType, T.ByteType))
                       for f in e0.schema.fields)
        pdf = collect_within_budget(
            e0, local_edges_budget if integral
            else max(local_edges_budget // 4, 1))
        if pdf is not None and not integral and len(pdf):
            width = float(
                (pdf["a"].astype(str).str.encode("utf-8").str.len()
                 + pdf["b"].astype(str).str.encode("utf-8").str.len())
                .mean())
            if len(pdf) * max(width, 16.0) > local_edges_budget * 16.0:
                pdf = None
        if pdf is not None:
            local = _local_components(e0, pdf=pdf)
            if local is not None:
                return local
    # materialize the input ONCE for the star rounds: the edge list is
    # usually the output of an expensive pairwise operator (blocked
    # near-dup join), and the first round references it four times —
    # without this checkpoint the whole upstream pipeline re-executes
    # per reference (measured 11.4s -> ~1s for round 0 on 458k ngram
    # pairs at sf0.1)
    e0 = e0.checkpoint(eager=True)
    nodes = (e0.select(F.col("a").alias("node"))
             .unionByName(e0.select(F.col("b").alias("node")))
             .distinct())
    e = e0.filter(F.col("a") != F.col("b"))
    prev = None
    converged = False
    for it in range(max_iterations):
        # round 0's input has arbitrary orientation; every later round
        # consumes _small_star output (distinct, a > b), letting both
        # stars skip their normalization shuffles
        ls = _large_star(e, symmetric_safe=it > 0)
        # non-eager: the fingerprint below is the round's FIRST action
        # on e, so it materializes the checkpoint as part of its own
        # job — one job per round instead of checkpoint-then-
        # fingerprint (measured ~9% off corpus_deduped at sf0.1);
        # lineage truncation and durability are identical
        e = _small_star(ls, oriented=True).checkpoint(eager=False)
        fp = _fingerprint(e)
        if fp == prev:
            converged = True
            break
        prev = fp
    if not converged:
        # each round at least halves the tree heights; a non-converged
        # exit would silently return under-merged clusters
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{max_iterations} large-star/small-star rounds — "
            f"raise max_iterations")
    # at convergence e is a star per component: node -> component min
    # (min(b) guards the degenerate duplicate-target case)
    links = e.groupBy("a").agg(F.min("b").alias("component"))
    return (nodes.join(links, nodes.node == links.a, "left")
            .select("node",
                    F.coalesce("component", F.col("node")).alias("component")))


def dedup_clusters(pairs: DataFrame, left_col: str, right_col: str) -> DataFrame:
    """Near-dup pairs -> (doc_id, cluster_id, is_canonical): cluster_id
    is the minimum doc id of the component; the canonical row is the
    one to keep."""
    comps = connected_components(pairs, left_col, right_col)
    return comps.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"))


def drop_near_duplicates(documents: DataFrame, pairs: DataFrame | None = None,
                         left_col: str = "doc_a",
                         right_col: str = "doc_b",
                         clusters: DataFrame | None = None,
                         score_col: str | None = None) -> DataFrame:
    """The end-to-end dedup contract: remove every non-canonical member
    of every near-dup cluster from the corpus. Pass ``clusters`` (a
    precomputed ``dedup_clusters`` frame) when the caller also needs
    the cluster map for something else (a leakage-safe split) — the
    canonical-member semantics then live HERE only, and the iterative
    components run executes once.

    ``score_col`` picks WHICH member of each cluster survives: by
    default the minimum doc_id (the arbitrary-but-deterministic choice
    most dedup papers make); with a score column the HIGHEST-scoring
    member wins (ties → min doc_id) — the "keep the best-quality copy"
    policy a training-data pipeline actually wants, since near-dup
    clusters routinely mix a clean original with truncated or
    boilerplate-wrapped mirrors.

    Scale shape: the ranking window partitions by cluster_id over
    CLUSTER MEMBERS ONLY (a frame bounded by the duplicated subset,
    not the corpus), and clusters are small by construction — no
    corpus-sized window anywhere."""
    if clusters is None:
        if pairs is None:
            raise ValueError("drop_near_duplicates needs pairs or clusters")
        clusters = dedup_clusters(pairs, left_col, right_col)
    if score_col is None:
        losers = (clusters
                  .filter(~F.col("is_canonical"))
                  .select(F.col("doc_id")))
    else:
        from pyspark.sql import Window
        members = (documents.select("doc_id", score_col)
                   .join(clusters.select("doc_id", "cluster_id"), "doc_id"))
        w = (Window.partitionBy("cluster_id")
             .orderBy(F.col(score_col).desc_nulls_last(),
                      F.col("doc_id").asc()))
        losers = (members.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") > 1)
                  .select("doc_id"))
    return documents.join(losers, "doc_id", "left_anti")
