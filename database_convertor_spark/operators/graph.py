"""Graph layer — SURVEY J3/J4/A8: the reference's shared-officer
company network (database.py:666-695 on-the-fly; database.py:937-970
materialized), transposed to the driver schema as "suppliers sharing
parts" (lineitem is the appointments-style M:N edge list).

Scale design:
- distinct (part, supplier) FIRST — the self-join input is the distinct
  edge list, not the raw fact table (lineitem rows per (part,supp) > 1
  would otherwise multiply join output quadratically);
- the self-join shuffles both sides on the join key (partkey): hot
  parts (celebrity keys) are the skew risk — AQE skew-join splits them;
  an explicit salting path is warranted if one key exceeds executor
  memory;
- countDistinct after the pair groupBy is exact, matching the
  reference's COUNT(DISTINCT officer_id); approx_count_distinct is the
  documented fallback at extreme scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shared_supplier_pairs(lineitem: DataFrame, min_shared: int = 3) -> DataFrame:
    """Pairs of suppliers sharing >= min_shared distinct parts.
    Port of the shared-officer edge computation (J3 + A8 + HAVING).

    Shape (r11, guide §2.4 — remove shuffles outright): ONE scan into
    a map-side-combining ``collect_set`` per part (the distinct and
    the per-part grouping share one exchange), then the within-part
    pairs are GENERATED from the sorted supplier array (posexplode x
    tail-slice explode — codegen'd Generates, no join), then one
    pair-keyed count. Two exchanges total where the former
    distinct + self-join + count paid the distinct exchange, two join
    exchanges over a re-computed scan subtree, and the count exchange.
    Pair mass is identical (each within-part pair materializes exactly
    once, supp_a < supp_b by the array sort); a celebrity part
    concentrates its C(s,2) pairs in one task exactly as the join's
    hash partition did — the documented skew lever stays AQE.
    Null-part rows are dropped up front: the join's equality predicate
    never matched them (and TPC-H has none)."""
    supps = (lineitem
             .filter(F.col("l_partkey").isNotNull())
             .groupBy("l_partkey")
             .agg(F.array_sort(F.collect_set("l_suppkey")).alias("_s"))
             .filter(F.size("_s") >= 2))
    # The per-part frame is bytes-tiny (one array row per part), so
    # AQE coalesces it to ~1 post-shuffle partition — and the ~C(s,2)
    # pair explosion below then runs on ONE task (measured 2.9 s of a
    # 3.8 s query at sf0.1 in a single-task explode+aggregate). An
    # explicit round-robin repartition of the small aggregated rows
    # (guide §2.5 — repartition immediately after the skew-creating
    # step) spreads the explosion across the cluster for the cost of
    # shuffling parts-count rows.
    supps = supps.repartition(
        lineitem.sparkSession.sparkContext.defaultParallelism)
    pairs = (supps
             .select(F.posexplode("_s").alias("_i", "supp_a"), "_s")
             .select("supp_a",
                     F.explode(F.slice(F.col("_s"), F.col("_i") + 2,
                                       F.size("_s"))).alias("supp_b")))
    return (pairs.groupBy("supp_a", "supp_b")
            .agg(F.count(F.lit(1)).alias("shared_parts"))
            .filter(F.col("shared_parts") >= min_shared))


def materialize_edges(lineitem: DataFrame, path: str, min_shared: int = 3) -> None:
    """Full-refresh materialization of the edge table (the reference's
    update_shared_officer_edges DELETE + INSERT...SELECT becomes an
    overwrite — database.py:937-970)."""
    shared_supplier_pairs(lineitem, min_shared).write.mode("overwrite").parquet(path)


def refresh_edges_incremental(existing_edges: DataFrame, edges: DataFrame,
                              changed_parts: DataFrame,
                              min_shared: int = 3) -> DataFrame:
    """Incremental edge refresh — the reference recomputes the entire
    edge table weekly (database.py:937-970 DELETE + INSERT...SELECT);
    at 100 TB a full self-join recompute is the bottleneck, so this
    variant recomputes ONLY supplier pairs affected by changed parts:

      affected suppliers = suppliers of changed parts
      recompute pairs where at least one side is affected (their
      counts may have changed); keep existing pairs untouched otherwise.

    Cost scales with the touched neighborhood, not the graph: the
    self-join's build side is restricted to affected suppliers' edges
    BEFORE the join (a disjunctive filter applied after a full
    self-join cannot push below it — that was the round-1 defect).
    Affected pairs split into two disjoint cases, each an equi-join
    with the small side bounded by the neighborhood:

      (affected, affected):   aff_edges x aff_edges, supp_a < supp_b
      (affected, unaffected): aff_edges x unaff_edges, canonicalized
                              with least/greatest (sides are disjoint
                              supplier sets, so no self-pair and no
                              double-count)

    ``changed_parts``: one column ``l_partkey``."""
    edges = edges.select("l_partkey", "l_suppkey").distinct()
    affected_supp = (edges.join(F.broadcast(changed_parts), "l_partkey")
                     .select("l_suppkey").distinct())
    aff = F.broadcast(affected_supp.withColumnRenamed("l_suppkey", "s"))
    aff_edges = edges.join(aff, edges.l_suppkey == F.col("s"), "left_semi")
    unaff_edges = edges.join(aff, edges.l_suppkey == F.col("s"), "left_anti")

    x = aff_edges.alias("x")
    both_aff = (x.join(aff_edges.alias("y"),
                       (F.col("x.l_partkey") == F.col("y.l_partkey"))
                       & (F.col("x.l_suppkey") < F.col("y.l_suppkey")))
                .select(F.col("x.l_suppkey").alias("supp_a"),
                        F.col("y.l_suppkey").alias("supp_b")))
    one_aff = (x.join(unaff_edges.alias("z"),
                      F.col("x.l_partkey") == F.col("z.l_partkey"))
               .select(F.least("x.l_suppkey", "z.l_suppkey").alias("supp_a"),
                       F.greatest("x.l_suppkey", "z.l_suppkey").alias("supp_b")))
    touched_pairs = (both_aff.unionByName(one_aff)
                     .groupBy("supp_a", "supp_b")
                     .agg(F.count(F.lit(1)).alias("shared_parts"))
                     .filter(F.col("shared_parts") >= min_shared))
    # "edge touches NO affected supplier" as TWO chained hash
    # anti-joins — the OR-disjunction form plans as a nested loop
    # (OR of equalities has no single hash key), which at scale is
    # |edges| x |affected| per-row scans; chained anti-joins are
    # hash joins with identical semantics
    untouched = (existing_edges
                 .join(aff, existing_edges.supp_a == F.col("s"), "left_anti")
                 .join(aff, F.col("supp_b") == F.col("s"), "left_anti"))
    return untouched.unionByName(touched_pairs)


def supplier_neighborhood(lineitem: DataFrame, supplier: DataFrame,
                          suppkey: int, min_shared: int = 2) -> DataFrame:
    """Neighborhood lookup on the edge relation (SURVEY J4,
    database.py:985-1011) — the reference does an N+1 per-edge detail
    fetch; here it is one join. The suppkey filter is applied BEFORE the
    name join, and supplier (the dimension) broadcasts."""
    edges = shared_supplier_pairs(lineitem, min_shared)
    mine = edges.filter((F.col("supp_a") == suppkey) | (F.col("supp_b") == suppkey))
    neighbor = F.when(F.col("supp_a") == suppkey,
                      F.col("supp_b")).otherwise(F.col("supp_a"))
    mine = mine.select(neighbor.alias("neighbor_suppkey"), "shared_parts")
    return (mine.join(F.broadcast(supplier),
                      mine.neighbor_suppkey == supplier.s_suppkey)
            .select("neighbor_suppkey", F.col("s_name").alias("neighbor_name"),
                    "shared_parts"))


def pagerank(pairs: DataFrame, damping: float = 0.85, n_iter: int = 5,
             id_a: str = "supp_a", id_b: str = "supp_b") -> DataFrame:
    """PageRank over an undirected edge list (Brin & Page 1998 —
    public algorithm), the centrality upgrade of the shared-officer
    network the reference only ever materializes as raw edges
    (database.py:666-695): which suppliers sit at the CENTER of the
    shared-part graph, not just who touches whom.

    Each of the ``n_iter`` power iterations is ONE equi-join
    (edges ⨝ deg ⨝ ranks) + ONE map-side-combining groupBy — the
    standard distributed PageRank shape; per-iteration work is
    O(|edges|) shuffled on the node key, never quadratic. Ranks are
    rounded to 6dp each iteration, which (a) makes the fixpoint
    engine-portable — both the Spark run and the DuckDB oracle start
    every iteration from IDENTICAL doubles, so float-sum
    order-sensitivity cannot compound across iterations — and (b)
    changes values by < 5e-7/iteration, far below any ranking use.
    Symmetric edges mean no dangling nodes (every node has
    out-degree >= 1), so the damping term needs no dangling-mass
    redistribution.

    Lineage discipline: edges/deg are persisted once and each
    iteration's ranks are persisted and MATERIALIZED before the next
    builds on them (rank frames are node-sized — tiny), so iteration
    k+1's plan reads an InMemoryRelation instead of replaying
    iterations 1..k (an unpersisted loop planned 159 exchanges at 5
    iterations; persisted it is ~3/iteration). Callers iterating to
    convergence at cluster scale should graduate to
    ``components.ensure_checkpoint_dir`` + ``checkpoint()``, the CC
    module's executor-loss-safe discipline.

    Output: (node, pagerank) — ranks sum to ~1 over the graph.
    """
    from pyspark.storagelevel import StorageLevel

    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .unionByName(
                 pairs.select(F.col(id_b).alias("src"),
                              F.col(id_a).alias("dst")))
             .distinct()).persist(StorageLevel.MEMORY_AND_DISK)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    nodes = deg.select(F.col("src").alias("node"))
    n = nodes.count()
    if n == 0:
        edges.unpersist()
        deg.unpersist()
        return nodes.withColumn("pagerank", F.lit(0.0))
    ranks = nodes.select("node", F.lit(1.0 / n).alias("r"))
    base = (1 - damping) / n
    prev = None
    for _ in range(n_iter):
        contrib = (edges.join(deg, "src")
                   .join(ranks.withColumnRenamed("node", "src"), "src")
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.sum(F.col("r") / F.col("deg")).alias("s")))
        ranks = (nodes.join(contrib, "node", "left")
                 .select("node",
                         F.round(F.lit(base) + F.lit(damping)
                                 * F.coalesce("s", F.lit(0.0)),
                                 6).alias("r"))
                 .persist(StorageLevel.MEMORY_AND_DISK))
        ranks.count()                  # materialize before stacking
        if prev is not None:
            prev.unpersist()
        prev = ranks
    # the final ranks frame is materialized in cache; the builder
    # frames can be released (an evicted-final-cache recompute
    # would replay from source — correct, just cold)
    edges.unpersist()
    deg.unpersist()
    return ranks.select("node", F.col("r").alias("pagerank"))


def triangle_counts(pairs: DataFrame, id_a: str = "supp_a",
                    id_b: str = "supp_b") -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge list — the cohesion upgrade of the shared-officer
    network (reference database.py:666-695 materializes raw edges
    only): which suppliers sit inside tightly-interlocked cliques vs
    merely touching many others.

    Scale design — DEGREE-ORDERED ORIENTATION (Suri & Vassilvitskii
    2011, "the curse of the last reducer"; public methodology): each
    edge is directed from its lower-(degree, id) endpoint to the
    higher, wedges are generated only at each edge's LOW-degree end,
    and a wedge closes into a triangle iff its two far endpoints are
    an edge. Wedge fan-out per node is then bounded by its ORIENTED
    out-degree — O(sqrt(m)) max instead of max raw degree — so a
    celebrity node (the exact skew that kills naive triangle joins)
    generates almost no wedges; total work is O(m^1.5) worst case,
    shuffled as two equi-joins, never a node-keyed quadratic blowup.
    Every triangle is counted exactly once, at its minimum-order
    vertex.

    Output: (node, deg, n_triangles, clustering_coeff) for every node
    of the graph; clustering_coeff = 2T / deg(deg-1) rounded to 6dp
    (the one float step, rounded far above ulp divergence).
    """
    edges = (pairs.select(F.least(id_a, id_b).alias("u"),
                          F.greatest(id_a, id_b).alias("v"))
             .filter(F.col("u") != F.col("v")).distinct())
    deg = (edges.select(F.col("u").alias("node"))
           .unionByName(edges.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    e = edges.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | \
        ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"))
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    # wedge far-pair emitted in NODE-ID order so it joins the canonical
    # (u < v) edge set directly, whatever the closing edge's own
    # degree orientation is
    wedges = (o1.join(o2, (F.col("o1.src") == F.col("o2.src"))
                      & (F.col("o1.dst") < F.col("o2.dst")))
              .select(F.col("o1.src").alias("x"),
                      F.col("o1.dst").alias("a"),
                      F.col("o2.dst").alias("b")))
    closure = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    tris = wedges.join(closure, ["a", "b"])
    per_node = (tris.select(F.explode(F.array("x", "a", "b")).alias("node"))
                .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles")))
    t = F.coalesce("n_triangles", F.lit(0)).cast("bigint")
    return (deg.join(per_node, "node", "left")
            .select("node", "deg", t.alias("n_triangles"),
                    F.when(F.col("deg") >= 2,
                           F.round(F.lit(2.0) * t
                                   / (F.col("deg")
                                      * (F.col("deg") - F.lit(1.0))), 6))
                    .otherwise(F.lit(0.0)).alias("clustering_coeff")))
