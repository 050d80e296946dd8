"""Query catalog: the single source of truth binding every implemented
operator (SURVEY.md §2 + the training-data pipeline layer) to

  (a) a Spark builder  ``(spark, sf_dir) -> DataFrame``  and
  (b) a DuckDB oracle SQL string over the same parquet tables
      (None for genuinely non-SQL-expressible operators — those get the
      driver's weaker rows-only check).

Cross-engine determinism rules applied throughout (both sides):
- aggregated/computed doubles are rounded in-query (floating-point
  addition is non-associative; a distributed partial aggregate cannot
  match a serial oracle to the last ulp),
- timestamps are never emitted raw — always formatted to strings or
  split into int parts (Spark session TZ pinned to UTC),
- DuckDB integer SUMs are cast to BIGINT (DuckDB widens to HUGEINT,
  Spark to LONG),
- every computed column is aliased identically in both engines.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import (
    asof,
    components,
    curation,
    dedup,
    entity_resolution,
    graph,
    monitoring,
    relational,
    provider_merge,
    search,
    similarity_search,
    text_analysis,
)
from ..pipelines import corpus as corpus_pipeline
from ..session import new_query
from ..sources.readers import read_table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey_ids: str
    description: str


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [read_table(spark, sf_dir, n) for n in names]


# DuckDB-side normalize_company_name (mirrors functions.cleaning)
_NORM = ("trim(regexp_replace(regexp_replace(lower({c}), "
         "'[^a-z0-9\\s''\\-]', ' ', 'g'), '\\s+', ' ', 'g'))")
# DuckDB-side distinct non-empty token list
_TOKS = "list_filter(list_distinct(string_split_regex({c}, '\\s+')), t -> t <> '')"
# DuckDB-side non-distinct token list
_TOKS_ALL = "list_filter(string_split_regex({c}, '\\s+'), t -> t <> '')"

# DuckDB twin of functions.text.md5_long (first 60 bits of md5 as a
# non-negative BIGINT) — what makes every hash-based operator fully
# oracle-checkable instead of rows-only
_MD5_60 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


def _jaccard(a: str, b: str) -> str:
    union = f"len(list_distinct(list_concat({a}, {b})))"
    inter = f"len(list_filter({a}, t -> list_contains({b}, t)))"
    return (f"(CASE WHEN {union} = 0 THEN 0.0 "
            f"ELSE CAST({inter} AS DOUBLE) / {union} END)")


_SPECS: list[QuerySpec] = []


def _add(name: str, builder, oracle: str | None, survey_ids: str, desc: str):
    """Register a query; its builder starts a new query, so what the
    previous query persisted is released before this one builds."""
    def start_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        new_query()
        return builder(spark, sf_dir)

    _SPECS.append(QuerySpec(name, start_query, oracle, survey_ids, desc))


# ===================================================================== A6 / Q1
_add(
    "pricing_summary",
    lambda spark, sf: relational.pricing_summary(*_t(spark, sf, "lineitem")),
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    "A6",
    "TPC-H Q1-shaped multi-aggregate roll-up",
)

# ========================================================================= J2
_add(
    "market_segment_revenue",
    lambda spark, sf: relational.market_segment_revenue(
        *_t(spark, sf, "orders", "customer")),
    """
    SELECT o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority
    """,
    "J2,F9",
    "filtered inner join + agg, broadcast dimension",
)

# ========================================================================= J1
_add(
    "customer_order_stats",
    lambda spark, sf: relational.customer_order_stats(
        *_t(spark, sf, "customer", "orders")),
    """
    SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
    "J1,A1",
    "left outer join + per-key roll-up (pre-aggregated before join)",
)

# ========================================================================= J6
_add(
    "customers_without_orders",
    lambda spark, sf: relational.customers_without_orders(
        *_t(spark, sf, "customer", "orders")),
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND year(o_orderdate) = 1995)
    """,
    "J6",
    "anti-join (incremental-dedup filter)",
)

# ========================================================================= F1
_add(
    "part_search_ilike",
    lambda spark, sf: relational.multi_column_search(*_t(spark, sf, "part")),
    """
    SELECT p_partkey, p_name, p_brand, p_type FROM part
    WHERE lower(p_name) LIKE '%widget%'
       OR lower(p_type) LIKE '%widget%'
       OR lower(p_brand) LIKE '%widget%'
    """,
    "F1,F2",
    "multi-column ILIKE OR filter",
)

# ========================================================================= F3
_add(
    "open_orders",
    lambda spark, sf: relational.open_orders(*_t(spark, sf, "orders")),
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 1000.0
    """,
    "F3,P1",
    "status + numeric predicates pushed to scan",
)

# ==================================================================== F7 / C16
_add(
    "shipments_by_month",
    lambda spark, sf: relational.shipments_by_month(*_t(spark, sf, "lineitem")),
    """
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
    "F7,C16",
    "date-range predicate + month bucketing",
)

# ==================================================================== A4 / A5
_add(
    "event_type_counts",
    lambda spark, sf: relational.event_type_counts(*_t(spark, sf, "events")),
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    "A4,A5",
    "group-by count ordered desc",
)

# ============================================================ A1/A2/A3/A9
_add(
    "order_stats_summary",
    lambda spark, sf: relational.order_stats_summary(*_t(spark, sf, "orders")),
    """
    SELECT count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_customers_with_orders,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           round(100.0 * sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                 / count(*), 4) AS open_rate_pct
    FROM orders
    """,
    "A1,A2,A3,A9",
    "single-pass stats roll-up with distinct count + derived rate",
)

# ======================================================================== A11
_add(
    "event_funnel",
    lambda spark, sf: relational.event_funnel(*_t(spark, sf, "events")),
    """
    WITH counts AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type)
    SELECT event_type, n,
           round(100.0 * n / lag(n) OVER (ORDER BY n DESC, event_type), 2) AS pct_of_prev
    FROM counts
    """,
    "A11",
    "funnel conversion via lag window over stage counts",
)

# ========================================================================= W1
_add(
    "top_orders",
    lambda spark, sf: relational.top_orders(*_t(spark, sf, "orders")),
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    "W1,W6",
    "ORDER BY DESC LIMIT n (TakeOrderedAndProject)",
)

# ========================================================================= W2
_add(
    "top_orders_per_customer",
    lambda spark, sf: relational.top_orders_per_customer(*_t(spark, sf, "orders")),
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
    "W2,W4",
    "top-N per group via row_number window",
)

# ========================================================================= W3
_add(
    "priority_order_pick",
    lambda spark, sf: relational.priority_order_pick(*_t(spark, sf, "orders")),
    """
    SELECT o_custkey, o_orderkey, o_orderstatus,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date FROM (
      SELECT *, row_number() OVER (
          PARTITION BY o_custkey
          ORDER BY CASE WHEN o_orderstatus = 'O' THEN 0 ELSE 1 END,
                   o_orderdate DESC, o_orderkey) AS rn
      FROM orders) WHERE rn = 1
    """,
    "W3",
    "priority-pick / argmax-by-predicate per group",
)

# ========================================================================= D1
_add(
    "orders_union_dedup",
    lambda spark, sf: relational.orders_union_dedup(*_t(spark, sf, "orders")),
    """
    SELECT DISTINCT o_orderkey FROM (
      SELECT o_orderkey FROM orders WHERE year(o_orderdate) = 1995
      UNION ALL
      SELECT o_orderkey FROM orders WHERE o_totalprice > 150000.0)
    """,
    "D1",
    "union of overlapping scans + dedup by id",
)

# ========================================================================= D2
_add(
    "distinct_customer_priorities",
    lambda spark, sf: relational.distinct_customer_priorities(
        *_t(spark, sf, "orders")),
    "SELECT DISTINCT o_custkey, o_orderpriority FROM orders",
    "D2",
    "dedup on composite business key",
)

# ========================================================================= D3
_add(
    "active_customer_keys",
    lambda spark, sf: relational.active_customer_keys(
        *_t(spark, sf, "orders", "customer")),
    """
    SELECT DISTINCT custkey FROM (
      SELECT o_custkey AS custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1999-01-01'
      UNION ALL
      SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000.0)
    """,
    "D3",
    "two-source union + distinct",
)

# =================================================================== J10 / S15
_add(
    "nation_customer_rollup",
    lambda spark, sf: relational.nation_customer_rollup(
        *_t(spark, sf, "nation", "customer")),
    """
    SELECT n_name, count(c_custkey) AS n_customers,
           coalesce(string_agg(c_name, ',' ORDER BY c_name), '') AS customer_names
    FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
    "J10,S15",
    "LEFT JOIN + sorted GROUP_CONCAT",
)

# =================================================================== C23 / C24
_add(
    "customer_tiering",
    lambda spark, sf: relational.customer_tiering(*_t(spark, sf, "customer")),
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal > 7500 THEN 'platinum'
                WHEN c_acctbal > 5000 THEN 'gold'
                WHEN c_acctbal > 2500 THEN 'silver'
                ELSE 'bronze' END AS tier,
           CAST((CASE WHEN c_name IS NOT NULL THEN 25 ELSE 0 END)
              + (CASE WHEN c_acctbal > 0 THEN 25 ELSE 0 END)
              + (CASE WHEN c_mktsegment IN ('BUILDING','AUTOMOBILE','MACHINERY')
                      THEN 25 ELSE 0 END)
              + (CASE WHEN c_nationkey IS NOT NULL THEN 25 ELSE 0 END)
             AS INTEGER) AS quality_score
    FROM customer
    """,
    "C23,C24,F3",
    "tier classification + additive quality score",
)

# ============================================================== C2/C3/C5/C6
_add(
    "scalar_cleaning",
    lambda spark, sf: relational.scalar_cleaning_demo(*_t(spark, sf, "customer")),
    f"""
    SELECT c_custkey,
           {_NORM.format(c='c_name')} AS norm_name,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
           regexp_matches(lpad(CAST(c_custkey AS VARCHAR), 8, '0'), '^\\d{{8}}$')
               AS is_valid_number
    FROM customer
    """,
    "C2,C3,C5,C6",
    "name normalization + key padding + shape validation",
)

# ==================================================================== C15-C18
_add(
    "order_date_dimensions",
    lambda spark, sf: relational.order_date_dimensions(*_t(spark, sf, "orders")),
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER)  AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start,
           strftime(o_orderdate, '%Y-%m-%d') AS order_day
    FROM orders
    """,
    "C15,C16,C17,C18",
    "date-part extraction + week-boundary math",
)

# ======================================================================== C27
_add(
    "event_props_extract",
    lambda spark, sf: relational.event_props_extract(*_t(spark, sf, "events")),
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
           count(*) AS n, round(avg(value), 4) AS avg_value
    FROM events GROUP BY 1
    """,
    "C27",
    "JSON payload extraction + bucketed agg",
)

# ================================================================ sessionization
_add(
    "user_sessions",
    lambda spark, sf: relational.user_sessions(*_t(spark, sf, "events")),
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events)
    SELECT user_id,
           CAST(sum(CASE WHEN prev IS NULL
                          OR date_diff('second', prev, ts) > 1800
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM g GROUP BY user_id
    """,
    "T5,W2",
    "gap-based sessionization (lag + conditional sum)",
)

# ================================================================ monitoring
_add(
    "automation_run_health",
    lambda spark, sf: monitoring.user_run_health(*_t(spark, sf, "events")),
    """
    WITH runs AS (
      SELECT user_id || ':' || strftime(ts, '%Y-%m-%d') AS run_id,
             date_diff('second', min(ts), max(ts)) / 60.0 AS dm,
             count(*) AS n,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS e
      FROM events GROUP BY 1),
    m AS (
      SELECT run_id, round(dm, 2) AS duration_minutes,
             CAST(n AS BIGINT) AS n_processed, CAST(e AS BIGINT) AS n_errors,
             round(CASE WHEN n > 0
                        THEN (n - e) * 100.0 / n ELSE 0.0 END, 2)
               AS success_rate_pct,
             round(CASE WHEN n > 0 THEN e * 100.0 / n ELSE 0.0 END, 2)
               AS error_rate_pct
      FROM runs)
    SELECT run_id, duration_minutes, n_processed, n_errors,
           success_rate_pct, error_rate_pct,
           (duration_minutes <= 120.0 AND success_rate_pct >= 80.0
            AND error_rate_pct <= 20.0 AND n_processed >= 1) AS healthy,
           concat_ws(',',
             CASE WHEN duration_minutes > 120.0 THEN 'duration_exceeded' END,
             CASE WHEN success_rate_pct < 80.0 THEN 'low_success_rate' END,
             CASE WHEN error_rate_pct > 20.0 THEN 'high_error_rate' END,
             CASE WHEN n_processed < 1 THEN 'nothing_processed' END)
             AS alert_reasons
    FROM m
    """,
    "A12,T5",
    "automation run-health verdicts: the reference's monitoring "
    "thresholds (duration/success/error/processed) as one grouped "
    "aggregate + expression ladder, alerts in fixed check order",
)

# ========================================================================= T7
_add(
    "hourly_event_rollup",
    lambda spark, sf: relational.hourly_event_rollup(*_t(spark, sf, "events")),
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    "T7",
    "tumbling 1-hour window aggregate (batch twin of streaming agg)",
)

# ==================================================================== J3 / A8
_add(
    "shared_supplier_pairs",
    lambda spark, sf: graph.shared_supplier_pairs(*_t(spark, sf, "lineitem")),
    """
    WITH edges AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
           count(DISTINCT a.l_partkey) AS shared_parts
    FROM edges a JOIN edges b
      ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2
    HAVING count(DISTINCT a.l_partkey) >= 3
    """,
    "J3,A8",
    "shared-officer-style graph edges: self-join + countDistinct + HAVING",
)

# ============================================ PageRank over the edges
_PR_STEPS = "".join(f""",
    r{k} AS (
      SELECT x.node, round((1 - 0.85) / (SELECT n FROM nn)
             + 0.85 * COALESCE(c.s, 0.0), 6) AS r
      FROM nodes x LEFT JOIN (
        SELECT e.dst AS node, sum(p.r / d.deg) AS s
        FROM edges e JOIN deg d ON e.src = d.src
                     JOIN r{k - 1} p ON p.node = e.src
        GROUP BY e.dst) c ON c.node = x.node)""" for k in range(1, 6))

_add(
    "supplier_pagerank",
    lambda spark, sf: graph.pagerank(
        graph.shared_supplier_pairs(*_t(spark, sf, "lineitem"))),
    f"""
    WITH ed0 AS MATERIALIZED (SELECT DISTINCT l_partkey, l_suppkey
                              FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b
      FROM ed0 a JOIN ed0 b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
      HAVING count(DISTINCT a.l_partkey) >= 3),
    -- MATERIALIZED: each unrolled iteration references edges/deg, and
    -- DuckDB would otherwise INLINE (re-execute) the expensive pair
    -- self-join once per reference — 253 s at sf0.1 inlined vs ~5 s
    -- materialized; the Spark side persists the same frames
    edges AS MATERIALIZED (SELECT supp_a AS src, supp_b AS dst FROM pairs
                           UNION SELECT supp_b, supp_a FROM pairs),
    deg AS MATERIALIZED (SELECT src, count(*) AS deg
                         FROM edges GROUP BY src),
    nodes AS MATERIALIZED (SELECT src AS node FROM deg),
    nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)
    {_PR_STEPS}
    SELECT node, r AS pagerank FROM r5
    """,
    "graph",
    "PageRank centrality over the shared-supplier graph (5 power "
    "iterations, damping 0.85, 6dp-rounded per iteration so the "
    "fixpoint is engine-portable): one equi-join + one map-side-"
    "combining groupBy per iteration — the distributed PageRank "
    "shape, O(edges) per round",
)

# ============================= triangles / clustering coefficient
_add(
    "supplier_triangles",
    lambda spark, sf: graph.triangle_counts(
        graph.shared_supplier_pairs(*_t(spark, sf, "lineitem"))),
    """
    WITH ed0 AS MATERIALIZED (SELECT DISTINCT l_partkey, l_suppkey
                              FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v
      FROM ed0 a JOIN ed0 b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
      HAVING count(DISTINCT a.l_partkey) >= 3),
    deg AS MATERIALIZED (
      SELECT node, count(*) AS deg FROM (
        SELECT u AS node FROM pairs
        UNION ALL SELECT v FROM pairs) GROUP BY node),
    -- node-id orientation enumerates each triangle x<a<b exactly once
    -- (the Spark side uses degree orientation — same triangle set)
    tri AS MATERIALIZED (
      SELECT e1.u AS x, e1.v AS a, e2.v AS b
      FROM pairs e1 JOIN pairs e2 ON e2.u = e1.u AND e1.v < e2.v
      JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v),
    pn AS (
      SELECT node, count(*) AS n_triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT a FROM tri
        UNION ALL SELECT b FROM tri) GROUP BY node)
    SELECT d.node, d.deg,
           CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.deg >= 2
                THEN round(2.0 * COALESCE(pn.n_triangles, 0)
                           / (d.deg * (d.deg - 1.0)), 6)
                ELSE 0.0 END AS clustering_coeff
    FROM deg d LEFT JOIN pn USING (node)
    """,
    "graph",
    "per-node triangle counts + local clustering coefficient over the "
    "shared-supplier graph via DEGREE-ORDERED orientation (Suri & "
    "Vassilvitskii 2011): wedges generated only at each edge's "
    "low-degree end bound fan-out by the oriented out-degree "
    "(O(sqrt(m))), so celebrity nodes cannot explode the wedge join — "
    "O(m^1.5) worst case as two equi-joins",
)

# ========================================================================= J4
_add(
    "supplier_neighborhood",
    lambda spark, sf: graph.supplier_neighborhood(
        *_t(spark, sf, "lineitem", "supplier"), suppkey=1, min_shared=2),
    """
    WITH edges AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    pairs AS (
      SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
             count(DISTINCT a.l_partkey) AS shared_parts
      FROM edges a JOIN edges b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
      HAVING count(DISTINCT a.l_partkey) >= 2),
    mine AS (
      SELECT CASE WHEN supp_a = 1 THEN supp_b ELSE supp_a END AS neighbor_suppkey,
             shared_parts
      FROM pairs WHERE supp_a = 1 OR supp_b = 1)
    SELECT neighbor_suppkey, s_name AS neighbor_name, shared_parts
    FROM mine JOIN supplier ON s_suppkey = neighbor_suppkey
    """,
    "J4",
    "edge-table neighborhood lookup as one join (reference does N+1)",
)

# ================================================================ J3 (incr)
def _refresh_edges_demo(spark: SparkSession, sf: str) -> DataFrame:
    """Exercise the neighborhood-bounded incremental refresh end-to-end:
    last week's edges = full compute minus the 20 lowest parts'
    lineitems; this week those parts arrive and the incremental path
    must reproduce the full recompute exactly (which is the oracle)."""
    lineitem, = _t(spark, sf, "lineitem")
    edges_src = lineitem.select("l_partkey", "l_suppkey")
    changed = (edges_src.select("l_partkey").distinct()
               .orderBy("l_partkey").limit(20))
    old_edges = graph.shared_supplier_pairs(
        edges_src.join(changed, "l_partkey", "left_anti"), min_shared=3)
    return graph.refresh_edges_incremental(
        old_edges, edges_src, changed, min_shared=3)


_add(
    "refresh_edges_incremental",
    _refresh_edges_demo,
    """
    WITH edges AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
           count(DISTINCT a.l_partkey) AS shared_parts
    FROM edges a JOIN edges b
      ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2
    HAVING count(DISTINCT a.l_partkey) >= 3
    """,
    "J3,T2",
    "incremental edge refresh (build side semi-joined to the touched "
    "neighborhood) equals the full recompute",
)

# ========================================================================= J5
_FUZZY_ORACLE = f"""
    WITH c AS (SELECT c_custkey, {_NORM.format(c='c_name')} AS n FROM customer),
    s AS (SELECT s_suppkey, {_NORM.format(c='s_name')} AS n FROM supplier),
    pairs AS (
      SELECT c.c_custkey, s.s_suppkey, c.n AS cn, s.n AS sn,
             {_TOKS.format(c='c.n')} AS ct, {_TOKS.format(c='s.n')} AS st
      FROM c CROSS JOIN s),
    scored AS (
      SELECT c_custkey, s_suppkey, cn, sn,
             {_jaccard('ct', 'st')} AS jac_raw,
             ((len(list_filter(ct, t -> NOT list_contains(st, t))) = 0
               OR len(list_filter(st, t -> NOT list_contains(ct, t))) = 0)
              AND len(ct) > 0 AND len(st) > 0) AS subset,
             CASE WHEN greatest(length(cn), length(sn)) = 0 THEN 1.0
                  ELSE 1.0 - CAST(levenshtein(cn, sn) AS DOUBLE)
                             / greatest(length(cn), length(sn)) END AS lev
      FROM pairs),
    conf AS (
      SELECT c_custkey, s_suppkey,
             round(CASE WHEN cn = sn THEN 1.0
                   ELSE greatest(least(jac_raw + CASE WHEN subset THEN 0.2 ELSE 0.0 END, 1.0),
                                 lev) END, 4) AS confidence,
             CASE WHEN cn = sn THEN 'exact_name'
                  WHEN least(jac_raw + CASE WHEN subset THEN 0.2 ELSE 0.0 END, 1.0) >= lev
                       THEN 'token_match'
                  ELSE 'fuzzy_name' END AS match_method
      FROM scored),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY c_custkey
                                   ORDER BY confidence DESC, s_suppkey) AS rn
      FROM conf WHERE confidence >= 0.5)
    SELECT c_custkey, s_suppkey, match_method, confidence,
           CAST(rn AS INTEGER) AS match_rank
    FROM ranked WHERE rn <= 1
"""
_add(
    "fuzzy_match_customers",
    lambda spark, sf: entity_resolution.match_customers_to_suppliers(
        *_t(spark, sf, "customer", "supplier")),
    _FUZZY_ORACLE,
    "J5,C20,C22,C23,W4",
    "fuzzy similarity join (entity resolution) with ladder scoring + top-k",
)


# ========================================================================= J8
def _officer_email_demo(spark: SparkSession, sf: str) -> DataFrame:
    """J8 on driver tables: officer and email-candidate frames are
    synthesized deterministically (mod-arithmetic names, shared domain
    space) so the containment ladder exercises full, partial, and
    initial-only matches; domain is the blocking key."""
    customer, supplier = _t(spark, sf, "customer", "supplier")
    officers = customer.select(
        F.col("c_custkey").alias("officer_id"),
        F.concat(F.lit("fn"), F.col("c_custkey") % 20, F.lit(" ln"),
                 F.col("c_custkey") % 50).alias("officer_name"),
        F.concat(F.lit("d"), F.col("c_custkey") % 40,
                 F.lit(".com")).alias("company_domain"))
    emails = supplier.select(
        F.concat(F.lit("fn"), F.col("s_suppkey") % 25).alias("first_name"),
        F.concat(F.lit("ln"), F.col("s_suppkey") % 60).alias("last_name"),
        F.concat(F.lit("fn"), F.col("s_suppkey") % 25, F.lit("."),
                 F.lit("ln"), F.col("s_suppkey") % 60, F.lit("@d"),
                 F.col("s_suppkey") % 40, F.lit(".com")).alias("email"),
        F.concat(F.lit("d"), F.col("s_suppkey") % 40,
                 F.lit(".com")).alias("company_domain"))
    return entity_resolution.name_match_email_join(officers, emails)


_add(
    "officer_email_matches",
    _officer_email_demo,
    """
    WITH officers AS (
      SELECT c_custkey AS officer_id,
             'fn' || (c_custkey % 20) || ' ln' || (c_custkey % 50) AS officer_name,
             'd' || (c_custkey % 40) || '.com' AS company_domain
      FROM customer),
    emails AS (
      SELECT 'fn' || (s_suppkey % 25) AS ef,
             'ln' || (s_suppkey % 60) AS el,
             'fn' || (s_suppkey % 25) || '.' || 'ln' || (s_suppkey % 60)
               || '@d' || (s_suppkey % 40) || '.com' AS email,
             'd' || (s_suppkey % 40) || '.com' AS company_domain
      FROM supplier),
    parsed AS (
      SELECT o.*, string_split_regex(lower(trim(officer_name)), '\\s+') AS parts
      FROM officers o),
    named AS (
      SELECT officer_id, officer_name, company_domain,
             parts[1] AS f, parts[-1] AS l
      FROM parsed WHERE len(parts) >= 2)
    SELECT n.company_domain, officer_id, officer_name, email,
           CAST(CASE WHEN e.ef <> '' AND e.el <> ''
                 AND (contains(e.ef, n.f) OR contains(n.f, e.ef))
                 AND (contains(e.el, n.l) OR contains(n.l, e.el)) THEN 0.9
                WHEN substr(n.f, 1, 1) = substr(e.ef, 1, 1) AND e.ef <> ''
                 AND contains(e.el, n.l) THEN 0.7
           END AS DOUBLE) AS name_match_confidence
    FROM named n JOIN emails e ON n.company_domain = e.company_domain
    WHERE name_match_confidence IS NOT NULL
    """,
    "J8",
    "officer->email name-match lookup join: domain-blocked containment "
    "ladder with first-initial fallback (0.9/0.7)",
)


# ================================================================== C12 / C30
def _url_cleaning_demo(spark: SparkSession, sf: str) -> DataFrame:
    """C12+C30 over synthesized planning-portal URLs: absolutize,
    HTML-entity fix, keyVal extraction, activeTab=summary rewrite."""
    from ..functions import cleaning

    orders, = _t(spark, sf, "orders")
    k = F.col("o_orderkey")
    base = F.concat(F.lit("https://portal"), k % 5, F.lit(".gov.uk/planning/"))
    href = (F.when(k % 3 == 0,
                   F.concat(F.lit("http://ext.example.com/app?keyVal=K"), k))
            .when(k % 3 == 1,
                  F.concat(F.lit("applicationDetails.do?keyVal=AB"), k,
                           F.lit("&amp;x=1")))
            .otherwise(F.concat(F.lit("/search.do?activeTab=details&keyVal=CD"),
                                k)))
    url = cleaning.fix_html_entities(cleaning.absolutize_url(base, href))
    return orders.select(
        k.alias("o_orderkey"),
        cleaning.ensure_summary_url(url).alias("summary_url"),
        cleaning.extract_keyval(url).alias("key_val"))


_add(
    "url_keyval_cleaning",
    _url_cleaning_demo,
    """
    WITH raw AS (
      SELECT o_orderkey,
             'https://portal' || (o_orderkey % 5) || '.gov.uk/planning/' AS base,
             CASE WHEN o_orderkey % 3 = 0
                    THEN 'http://ext.example.com/app?keyVal=K' || o_orderkey
                  WHEN o_orderkey % 3 = 1
                    THEN 'applicationDetails.do?keyVal=AB' || o_orderkey || '&amp;x=1'
                  ELSE '/search.do?activeTab=details&keyVal=CD' || o_orderkey
             END AS href
      FROM orders),
    abs_url AS (
      SELECT o_orderkey,
             replace(CASE WHEN href LIKE 'http%' THEN href
                  ELSE regexp_replace(base, '/+$', '')
                       || (CASE WHEN href LIKE '/%' THEN href
                                ELSE '/' || href END)
             END, '&amp;', '&') AS url
      FROM raw)
    SELECT o_orderkey,
           CASE WHEN contains(url, 'activeTab=')
                  THEN regexp_replace(url, 'activeTab=[^&]+', 'activeTab=summary')
                WHEN contains(url, '?') THEN url || '&activeTab=summary'
                ELSE url || '?activeTab=summary'
           END AS summary_url,
           regexp_extract(url, '[?&]keyVal=([A-Za-z0-9]+)', 1) AS key_val
    FROM abs_url
    """,
    "C12,C30",
    "URL absolutize + HTML-entity fix + keyVal extraction + activeTab "
    "rewrite (planning-portal link hygiene)",
)


# ======================================================================== C32
def _linkedin_pick_demo(spark: SparkSession, sf: str) -> DataFrame:
    """C32 on driver tables: three synthetic profile candidates per
    customer (mixed countries, UK city/alias variants, some invalid
    URLs) -> GB filter + city-priority pick."""
    customer, = _t(spark, sf, "customer")
    prof = customer.select(
        "c_custkey",
        F.explode(F.sequence(F.lit(1), F.lit(3))).alias("seq"))
    v = F.col("c_custkey") * 3 + F.col("seq")
    cities = F.array(F.lit("London"), F.lit("Greater London"),
                     F.lit("West Yorkshire"), F.lit("Bristol"),
                     F.lit("Lothian"))
    companies = F.array(F.lit("london"), F.lit("leeds"), F.lit("bristol"),
                        F.lit("edinburgh"))
    prof = prof.select(
        "c_custkey", "seq",
        F.when(v % 3 == 0, F.lit("US")).otherwise(F.lit("GB"))
         .alias("country_code"),
        F.element_at(cities, (v % 5 + 1).cast("int")).alias("city"),
        F.when(v % 7 == 0, F.lit("N/A"))
         .otherwise(F.concat(F.lit("https://uk.linkedin.com/in/p"),
                             F.col("c_custkey"), F.lit("-"), F.col("seq")))
         .alias("url"),
        F.when(F.col("c_custkey") % 11 != 0,
               F.element_at(companies, (F.col("c_custkey") % 4 + 1).cast("int")))
         .alias("company_city"))
    out = entity_resolution.select_gb_linkedin(prof, "c_custkey")
    return out.filter(F.col("linkedin_url").isNotNull())


_add(
    "linkedin_profile_pick",
    _linkedin_pick_demo,
    """
    WITH prof AS (
      SELECT c_custkey, i + 1 AS seq,
             CASE WHEN (c_custkey * 3 + i + 1) % 3 = 0 THEN 'US' ELSE 'GB' END AS country_code,
             (['London', 'Greater London', 'West Yorkshire', 'Bristol',
               'Lothian'])[(c_custkey * 3 + i + 1) % 5 + 1] AS city,
             CASE WHEN (c_custkey * 3 + i + 1) % 7 = 0 THEN 'N/A'
                  ELSE 'https://uk.linkedin.com/in/p' || c_custkey || '-' || (i + 1)
             END AS url,
             CASE WHEN c_custkey % 11 <> 0
                  THEN (['london', 'leeds', 'bristol', 'edinburgh'])[c_custkey % 4 + 1]
             END AS company_city
      FROM customer, range(3) t(i)),
    gb AS (
      SELECT *,
             (company_city IS NOT NULL AND city IS NOT NULL
              AND contains(lower(city), lower(trim(company_city)))) AS direct,
             (company_city IS NOT NULL AND city IS NOT NULL AND (
                (lower(trim(company_city)) IN ('london', 'greater london')
                 AND (contains(lower(city), 'london')
                      OR contains(lower(city), 'greater london')))
             OR (lower(trim(company_city)) IN ('manchester', 'greater manchester')
                 AND (contains(lower(city), 'manchester')
                      OR contains(lower(city), 'greater manchester')))
             OR (lower(trim(company_city)) IN ('birmingham', 'west midlands')
                 AND (contains(lower(city), 'birmingham')
                      OR contains(lower(city), 'west midlands')))
             OR (lower(trim(company_city)) IN ('leeds', 'west yorkshire')
                 AND (contains(lower(city), 'leeds')
                      OR contains(lower(city), 'west yorkshire')))
             OR (lower(trim(company_city)) IN ('glasgow', 'greater glasgow')
                 AND (contains(lower(city), 'glasgow')
                      OR contains(lower(city), 'greater glasgow')))
             OR (lower(trim(company_city)) IN ('edinburgh', 'lothian')
                 AND (contains(lower(city), 'edinburgh')
                      OR contains(lower(city), 'lothian'))))) AS alias_match
      FROM prof WHERE country_code = 'GB'),
    agg AS (
      SELECT c_custkey,
             first(url ORDER BY seq) FILTER (WHERE direct) AS direct_url,
             first(url ORDER BY seq) FILTER (WHERE alias_match) AS alias_url,
             first(url ORDER BY seq) AS first_url
      FROM gb GROUP BY c_custkey),
    picked AS (
      SELECT c_custkey,
             CASE WHEN coalesce(direct_url, alias_url) IS NOT NULL
                   AND contains(coalesce(direct_url, alias_url), 'linkedin.com')
                    THEN coalesce(direct_url, alias_url)
                  WHEN first_url IS NOT NULL
                   AND contains(first_url, 'linkedin.com') THEN first_url
             END AS linkedin_url
      FROM agg)
    SELECT c_custkey, linkedin_url FROM picked
    WHERE linkedin_url IS NOT NULL
    """,
    "C32",
    "GB-profile filter + city-priority LinkedIn pick (direct containment, "
    "UK alias table, first-GB fallback with URL validation)",
)


# ========================================================================= D6
def _provider_merge_demo(spark: SparkSession, sf: str) -> DataFrame:
    """D6 on driver tables: three deterministic provider views of the
    part dimension (fields nulled on different key residues, list
    fields sliced differently per provider) merged first-wins by
    priority + set-union."""
    part, = _t(spark, sf, "part")
    k = F.col("p_partkey")
    toks = F.split(F.col("p_type"), " ")
    p1 = part.select(
        k.alias("p_partkey"),
        F.lit("clearbit").alias("provider"), F.lit(1).alias("priority"),
        F.when(k % 3 != 0, F.col("p_name")).alias("name"),
        F.when(k % 4 != 0, F.col("p_brand")).alias("brand"),
        F.when(k % 2 == 0, F.col("p_type")).alias("industry"),
        F.slice(toks, 1, 2).alias("technologies"))
    p2 = part.select(
        k.alias("p_partkey"),
        F.lit("hunter").alias("provider"), F.lit(2).alias("priority"),
        F.when(k % 5 != 0, F.concat(F.col("p_name"), F.lit(" inc")))
         .alias("name"),
        F.when(k % 2 == 0, F.col("p_brand")).alias("brand"),
        F.col("p_type").alias("industry"),
        F.slice(toks, 2, 2).alias("technologies"))
    p3 = part.select(
        k.alias("p_partkey"),
        F.lit("apollo").alias("provider"), F.lit(3).alias("priority"),
        F.upper(F.col("p_name")).alias("name"),
        F.lit(None).cast("string").alias("brand"),
        F.when(k % 7 == 0, F.lit("unknown")).alias("industry"),
        F.lit(None).cast("array<string>").alias("technologies"))
    records = p1.unionByName(p2).unionByName(p3)
    merged = provider_merge.merge_provider_records(
        records, "p_partkey", ["name", "brand", "industry"], ["technologies"])
    # The driver's order-insensitive canonicalizer sorts/hashes a pandas
    # frame and cannot hash list cells — serialize the set-union column as
    # a comma-joined scalar for the checked output.  API callers use
    # merge_provider_records directly and keep the array form.
    return merged.withColumn(
        "technologies", F.array_join(F.col("technologies"), ","))


_add(
    "provider_enrichment_merge",
    _provider_merge_demo,
    """
    WITH recs AS (
      SELECT p_partkey, 'clearbit' AS provider, 1 AS priority,
             CASE WHEN p_partkey % 3 <> 0 THEN p_name END AS name,
             CASE WHEN p_partkey % 4 <> 0 THEN p_brand END AS brand,
             CASE WHEN p_partkey % 2 = 0 THEN p_type END AS industry,
             (string_split(p_type, ' '))[1:2] AS technologies
      FROM part
      UNION ALL
      SELECT p_partkey, 'hunter', 2,
             CASE WHEN p_partkey % 5 <> 0 THEN p_name || ' inc' END,
             CASE WHEN p_partkey % 2 = 0 THEN p_brand END,
             p_type,
             (string_split(p_type, ' '))[2:3]
      FROM part
      UNION ALL
      SELECT p_partkey, 'apollo', 3,
             upper(p_name), NULL, CASE WHEN p_partkey % 7 = 0 THEN 'unknown' END,
             NULL
      FROM part)
    SELECT p_partkey,
           first(name ORDER BY priority) FILTER (WHERE name IS NOT NULL) AS name,
           first(provider ORDER BY priority) FILTER (WHERE name IS NOT NULL) AS name_source,
           first(brand ORDER BY priority) FILTER (WHERE brand IS NOT NULL) AS brand,
           first(provider ORDER BY priority) FILTER (WHERE brand IS NOT NULL) AS brand_source,
           first(industry ORDER BY priority) FILTER (WHERE industry IS NOT NULL) AS industry,
           first(provider ORDER BY priority) FILTER (WHERE industry IS NOT NULL) AS industry_source,
           array_to_string(list_sort(list_distinct(flatten(list(coalesce(technologies, []))))), ',') AS technologies,
           count(*) AS n_providers,
           round(100.0 * ((first(name ORDER BY priority) FILTER (WHERE name IS NOT NULL) IS NOT NULL)::INT
                        + (first(brand ORDER BY priority) FILTER (WHERE brand IS NOT NULL) IS NOT NULL)::INT
                        + (first(industry ORDER BY priority) FILTER (WHERE industry IS NOT NULL) IS NOT NULL)::INT)
                 / 3.0, 2) AS quality_score
    FROM recs GROUP BY p_partkey
    """,
    "D6",
    "multi-provider enrichment merge: first-wins by provider priority "
    "with per-field source attribution + list set-union",
)

# ================================================================ exact dedup
_add(
    "dedup_exact",
    lambda spark, sf: dedup.exact_dedup(*_t(spark, sf, "documents")),
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           min(doc_id) AS doc_id, count(*) AS dup_count
    FROM documents GROUP BY 1
    """,
    "D5,dedup",
    "exact dedup by content fingerprint (hash groupBy)",
)

# ======================================================= n-gram Jaccard dedup
_NGRAM_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, lang, CAST(n_chars // 100 AS INTEGER) AS band,
             {_TOKS.format(c='lower(text)')} AS toks
      FROM documents)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round({_jaccard('a.toks', 'b.toks')}, 4) AS jaccard
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id)
    WHERE jaccard >= 0.5
"""
_add(
    "dedup_ngram_jaccard",
    lambda spark, sf: dedup.ngram_jaccard_pairs(*_t(spark, sf, "documents")),
    _NGRAM_ORACLE,
    "dedup,C22",
    "near-dup pairs by word-set Jaccard within (lang, length-band) blocks",
)

_add(
    "dedup_ngram_adjacent",
    lambda spark, sf: dedup.ngram_jaccard_pairs(
        *_t(spark, sf, "documents"), adjacent_bands=True),
    f"""
    WITH d AS (
      SELECT doc_id, lang, CAST(n_chars // 100 AS INTEGER) AS band,
             {_TOKS.format(c='lower(text)')} AS toks
      FROM documents)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round({_jaccard('a.toks', 'b.toks')}, 4) AS jaccard
      FROM d a JOIN d b
        ON a.lang = b.lang AND abs(a.band - b.band) <= 1
       AND a.doc_id < b.doc_id)
    WHERE jaccard >= 0.5
    """,
    "dedup,C22",
    "near-dup pairs with adjacent-band recall (band-boundary pairs kept) "
    "— still an equi-join via dual block keys",
)

# ======================================== incremental ingest near-dedup
def _incremental_pairs_demo(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup on driver tables: docs with doc_id %% 5 == 0
    are the incoming batch, the rest are the existing corpus."""
    docs, = _t(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0))


_add(
    "dedup_incremental_pairs",
    _incremental_pairs_demo,
    f"""
    WITH d AS (
      SELECT doc_id, lang, CAST(n_chars // 100 AS INTEGER) AS band,
             {_TOKS.format(c='lower(text)')} AS toks
      FROM documents),
    n AS (SELECT * FROM d WHERE doc_id % 5 = 0),
    b AS (SELECT *, TRUE AS isnew FROM n
          UNION ALL
          SELECT *, FALSE FROM d WHERE doc_id % 5 <> 0)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT least(a.doc_id, b.doc_id) AS doc_a,
             greatest(a.doc_id, b.doc_id) AS doc_b,
             round({_jaccard('a.toks', 'b.toks')}, 4) AS jaccard
      FROM n a JOIN b
        ON a.lang = b.lang AND a.band = b.band
       AND (NOT b.isnew OR a.doc_id < b.doc_id))
    WHERE jaccard >= 0.5
    """,
    "dedup,T2,J6",
    "incremental ingest near-dedup: new-batch pairs against new+corpus "
    "only — corpus x corpus never re-paired (the weekly anti-join "
    "discipline generalized to similarity)",
)

_add(
    "cross_corpus_overlap",
    lambda spark, sf: dedup.cross_corpus_overlap(
        _t(spark, sf, "documents")[0].filter(
            F.col("source").isin("src0", "src1", "src2", "src3", "src4")),
        _t(spark, sf, "documents")[0].filter(
            ~F.col("source").isin("src0", "src1", "src2", "src3", "src4"))),
    f"""
    WITH d AS (
      SELECT doc_id, source, lang, CAST(n_chars // 100 AS INTEGER) AS band,
             {_TOKS.format(c='lower(text)')} AS toks
      FROM documents),
    sel AS (SELECT *, source IN ('src0','src1','src2','src3','src4') AS in_a
            FROM d)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round({_jaccard('a.toks', 'b.toks')}, 4) AS jaccard
      FROM sel a JOIN sel b
        ON a.lang = b.lang AND a.band = b.band
      WHERE a.in_a AND NOT b.in_a)
    WHERE jaccard >= 0.5
    """,
    "dedup",
    "between-corpora near-dup report (sources src0-4 vs the rest): "
    "every pair crosses the corpus boundary — the pre-mixing "
    "duplication question for combining two sources",
)

# ======================================================= corpus curation ops
_SHINGLE5_SQL = """CASE WHEN len(tk) < 5 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 3),
                                      i -> array_to_string(tk[i:i+4], ' '))
             END"""


def _contamination_demo(spark: SparkSession, sf: str) -> DataFrame:
    """Decontamination on driver tables: every 97th doc plays the
    held-out benchmark; the rest are the training corpus."""
    docs, = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bench = (docs.filter(F.col("doc_id") % 97 == 0)
             .select(F.col("doc_id").alias("bench_id"), "text"))
    return curation.benchmark_contamination(corpus, bench, shingle_n=5)


_add(
    "benchmark_contamination_hits",
    _contamination_demo,
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS tk
      FROM documents),
    hs AS (
      SELECT doc_id,
             list_distinct(list_transform({_SHINGLE5_SQL},
                           s -> {_MD5_60.format(x='s')})) AS hl
      FROM toks),
    d AS (SELECT doc_id, unnest(hl) AS h FROM hs WHERE doc_id % 97 <> 0),
    b AS (SELECT doc_id AS bench_id, unnest(hl) AS h FROM hs
          WHERE doc_id % 97 = 0)
    SELECT d.doc_id, b.bench_id,
           CAST(count(DISTINCT d.h) AS BIGINT) AS n_shared_shingles
    FROM d JOIN b ON d.h = b.h
    GROUP BY d.doc_id, b.bench_id
    HAVING count(DISTINCT d.h) >= 1
    """,
    "dedup,text-analysis",
    "benchmark decontamination: corpus docs sharing 5-gram shingles "
    "with a held-out eval set (hash equi-join on md5-60, no doc x "
    "bench materialization)",
)


def _contamination_frac_demo(spark: SparkSession, sf: str) -> DataFrame:
    docs, = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bench = (docs.filter(F.col("doc_id") % 97 == 0)
             .select(F.col("doc_id").alias("bench_id"), "text"))
    return curation.contamination_fraction(corpus, bench, shingle_n=5)


_add(
    "benchmark_contamination_fraction",
    _contamination_frac_demo,
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS tk
      FROM documents),
    hs AS (
      SELECT doc_id,
             list_distinct(list_transform({_SHINGLE5_SQL},
                           s -> {_MD5_60.format(x='s')})) AS hl
      FROM toks),
    d AS (SELECT doc_id, unnest(hl) AS h FROM hs WHERE doc_id % 97 <> 0),
    bset AS (SELECT DISTINCT unnest(hl) AS h FROM hs
             WHERE doc_id % 97 = 0),
    per AS (
      SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_contaminated
      FROM d LEFT JOIN bset b ON b.h = d.h
      GROUP BY d.doc_id)
    SELECT c.doc_id,
           CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(p.n_contaminated, 0) AS BIGINT)
             AS n_contaminated,
           CASE WHEN p.n_shingles > 0
                THEN round(CAST(p.n_contaminated AS DOUBLE)
                           / p.n_shingles, 4)
           END AS contamination_frac
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) c
    LEFT JOIN per p ON p.doc_id = c.doc_id
    """,
    "dedup,text-analysis",
    "GPT-3 appendix-C dirtiness measure: per corpus doc, the fraction "
    "of its distinct shingles found anywhere in the benchmark (doc "
    "stream LEFT-joins the distinct benchmark shingle set on md5-60, "
    "one groupBy — no doc x bench pairs)",
)

_add(
    "corpus_source_cap",
    lambda spark, sf: curation.source_cap(
        _t(spark, sf, "documents")[0], cap=10).select("doc_id", "source"),
    f"""
    WITH counts AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source),
    gates AS (
      SELECT source,
             GREATEST(CAST(1 AS BIGINT),
                      CAST(round(round(LEAST(1.0, 80.0 / n), 6)
                                 * 1000000, 0) AS BIGINT)) AS gate
      FROM counts),
    surv AS (
      SELECT d.doc_id, d.source,
             {_MD5_60.format(
                 x="'srccap' || CAST(d.doc_id AS VARCHAR)")} AS h
      FROM documents d JOIN gates g ON g.source = d.source
      WHERE ({_MD5_60.format(
                 x="'srccap' || CAST(d.doc_id AS VARCHAR)")}
             % 1000000) < g.gate)
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY h, doc_id) AS rn
      FROM surv) WHERE rn <= 10
    """,
    "pipeline,text-analysis",
    "per-source frequency cap (RefinedWeb/C4 domain-dominance "
    "discipline): deterministic md5-ranked keep of at most cap docs "
    "per source; a rate-gate prefilter bounds every window partition "
    "at ~cap*oversample rows so mega-sources never hit one reducer",
)


def _boilerplate_demo(spark: SparkSession, sf: str) -> DataFrame:
    """Boilerplate removal on driver tables: deterministic banner lines
    are injected (every doc gets a cookie banner; every 3rd doc a
    subscribe footer), then stripped by cross-document line frequency —
    original single-line text must survive untouched."""
    docs, = _t(spark, sf, "documents")
    multi = docs.select(
        "doc_id",
        F.concat_ws("\n", F.lit("ACCEPT COOKIES TO CONTINUE"),
                    F.col("text"),
                    F.when(F.col("doc_id") % 3 == 0,
                           F.lit("SUBSCRIBE TO OUR NEWSLETTER"))
                    ).alias("text"))
    return curation.remove_boilerplate_lines(multi, min_docs=5)


_add(
    "doc_boilerplate_removed",
    _boilerplate_demo,
    """
    WITH multi AS (
      SELECT doc_id,
             concat_ws(chr(10), 'ACCEPT COOKIES TO CONTINUE', text,
                       CASE WHEN doc_id % 3 = 0
                            THEN 'SUBSCRIBE TO OUR NEWSLETTER' END) AS text
      FROM documents),
    split AS (
      SELECT doc_id, string_split(text, chr(10)) AS ls FROM multi),
    exploded AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ls) + 1),
                                   i -> {'pos': i, 'line': ls[i]}),
                    recursive := true)
      FROM split),
    lines AS (
      SELECT doc_id, line, pos, trim(line) AS k FROM exploded),
    boiler AS (
      SELECT k FROM lines WHERE k <> ''
      GROUP BY k HAVING count(DISTINCT doc_id) >= 5)
    SELECT doc_id,
           array_to_string(list(line ORDER BY pos), chr(10)) AS text
    FROM lines WHERE k NOT IN (SELECT k FROM boiler)
    GROUP BY doc_id
    """,
    "text-analysis,dedup",
    "C4-style cross-document boilerplate line removal (line df >= 5), "
    "original line order preserved on reassembly",
)


def _pii_demo(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction on driver tables: deterministic contact strings
    are appended (the tables carry none), then scrubbed."""
    docs, = _t(spark, sf, "documents")
    dirty = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" contact user"),
                 F.col("doc_id").cast("string"),
                 F.lit("@example.co.uk or call +44 20 7946 0"),
                 (F.col("doc_id") % 900 + 100).cast("string")).alias("text"))
    return curation.redact_documents(dirty).select("doc_id", "text")


_add(
    "doc_pii_redacted",
    _pii_demo,
    f"""
    WITH dirty AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.co.uk or call +44 20 7946 0'
                  || CAST(doc_id % 900 + 100 AS VARCHAR) AS text
      FROM documents)
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '{curation.EMAIL_RE}', '<EMAIL>', 'g'),
             '{curation.PHONE_RE}', '<PHONE>', 'g') AS text
    FROM dirty
    """,
    "C9,text-analysis",
    "PII redaction: email/phone scrubbing as regexp_replace column "
    "expressions (contact extraction inverted)",
)

_add(
    "doc_chunks",
    # 16-token chunks so the ~23-token driver docs genuinely multi-chunk
    lambda spark, sf: curation.chunk_documents(
        _t(spark, sf, "documents")[0], chunk_tokens=16, overlap=4)
    .select("doc_id", F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("n_tokens").cast("long").alias("n_tokens"), "chunk_text"),
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_ALL.format(c='text')} AS tk FROM documents),
    s AS (
      SELECT doc_id, tk,
             list_filter(range(1, greatest(len(tk), 1) + 1, 12),
                         s -> s = 1 OR s + 4 <= len(tk)) AS starts
      FROM t),
    e AS (
      SELECT doc_id, tk,
             unnest(list_transform(range(1, len(starts) + 1),
                    i -> {{'chunk_id': i - 1, 'start': starts[i]}}),
                    recursive := true)
      FROM s)
    SELECT doc_id, chunk_id,
           CAST(len(tk[start : start + 15]) AS BIGINT) AS n_tokens,
           array_to_string(tk[start : start + 15], ' ') AS chunk_text
    FROM e
    """,
    "text-analysis,pipeline",
    "document chunking into fixed-token segments with overlap "
    "(sequence-packing precursor; pure projection + explode, no shuffle)",
)


def _split_demo(spark: SparkSession, sf: str) -> DataFrame:
    docs, = _t(spark, sf, "documents")
    return curation.leakage_safe_split(
        docs, dedup.ngram_jaccard_pairs(docs), val_frac=0.1)


_add(
    "corpus_train_val_split",
    _split_demo,
    f"""
    WITH RECURSIVE
    d AS (
      SELECT doc_id, lang, CAST(n_chars // 100 AS INTEGER) AS band,
             {_TOKS.format(c='lower(text)')} AS toks
      FROM documents),
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round({_jaccard('a.toks', 'b.toks')}, 4) AS jaccard
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id)
      WHERE jaccard >= 0.5),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT a AS node, a AS r FROM edges
      UNION
      SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a),
    comp AS (SELECT node AS doc_id, min(r) AS cluster_id
             FROM reach GROUP BY node)
    SELECT dd.doc_id,
           CASE WHEN {_MD5_60.format(
               x="'split' || CAST(coalesce(comp.cluster_id, dd.doc_id) AS VARCHAR)")}
                     % 1000000 < 100000
                THEN 'val' ELSE 'train' END AS split
    FROM documents dd LEFT JOIN comp ON dd.doc_id = comp.doc_id
    """,
    "dedup,F10,pipeline",
    "leakage-safe train/val split: the md5 gate decides per DUP CLUSTER "
    "(components over near-dup pairs), so no near-duplicate content "
    "straddles the split boundary",
)

_STRATA_FRACTIONS = {"en": 0.5, "de": 0.25, "fr": 0.1, "zh": 0.75}

_add(
    "corpus_stratified_sample",
    lambda spark, sf: curation.stratified_sample(
        _t(spark, sf, "documents")[0], _STRATA_FRACTIONS,
        default_fraction=0.05).select("doc_id", "lang", "n_chars"),
    f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE ('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 1000000
        < CAST((CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                          WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.75
                          ELSE 0.05 END) * 1000000 AS BIGINT)
    """,
    "text-analysis,F10",
    "deterministic stratified corpus sampling: per-language keep rates "
    "via an md5 hash gate — reproducible across engines/runs/partitions",
)

# ============================================== dedup clusters (components)
_add(
    "dedup_clusters_ngram",
    lambda spark, sf: components.dedup_clusters(
        dedup.ngram_jaccard_pairs(*_t(spark, sf, "documents")),
        "doc_a", "doc_b"),
    f"""
    WITH RECURSIVE
    d AS (
      SELECT doc_id, lang, CAST(n_chars // 100 AS INTEGER) AS band,
             {_TOKS.format(c='lower(text)')} AS toks
      FROM documents),
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round({_jaccard('a.toks', 'b.toks')}, 4) AS jaccard
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id)
      WHERE jaccard >= 0.5),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT a AS node, a AS r FROM edges
      UNION
      SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a)
    SELECT node AS doc_id, min(r) AS cluster_id,
           (min(r) = node) AS is_canonical
    FROM reach GROUP BY node
    """,
    "dedup,graph",
    "near-dup pairs -> duplicate clusters via distributed connected components",
)

# =================================================== end-to-end dedup contract
_add(
    "corpus_deduped",
    # on_budget_exceeded="route": the catalog entry is a PRODUCT
    # ("corpus minus non-canonical members"), so past the pair-mass
    # budget it must still PRODUCE — auto-route to MinHash-LSH pairs
    # with a warning, the same default its pipeline callers use (the
    # r7 verdict's raise-vs-route resolution). The oracle is
    # pair-source-agnostic through CC and unaffected at driver scales
    # (the exact plan runs there); the raw ngram_jaccard_pairs
    # operator keeps its explicit-choice raise default.
    lambda spark, sf: components.drop_near_duplicates(
        _t(spark, sf, "documents")[0].select("doc_id", "lang", "n_chars"),
        dedup.ngram_jaccard_pairs(*_t(spark, sf, "documents"),
                                  on_budget_exceeded="route")),
    f"""
    WITH RECURSIVE
    d AS (
      SELECT doc_id, lang, CAST(n_chars // 100 AS INTEGER) AS band,
             {_TOKS.format(c='lower(text)')} AS toks
      FROM documents),
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round({_jaccard('a.toks', 'b.toks')}, 4) AS jaccard
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id)
      WHERE jaccard >= 0.5),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT a AS node, a AS r FROM edges
      UNION
      SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a),
    losers AS (
      SELECT node AS doc_id FROM reach GROUP BY node
      HAVING min(r) <> node)
    SELECT doc_id, lang, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """,
    "dedup",
    "the consumable dedup product: corpus minus every non-canonical "
    "near-dup cluster member (pairs -> components -> anti-join); "
    "past the pair-mass budget the pair stage auto-routes to "
    "MinHash-LSH with a warning (a product query must produce its "
    "product), matching its pipeline callers",
)

# ================================================================ MinHash LSH
# The sketch operators hash through md5_long (= DuckDB
# ('0x'||substr(md5(x),1,15))::BIGINT), so the ENTIRE pipeline —
# shingles -> base hash -> affine signature family -> band keys ->
# candidate join -> exact-Jaccard verify — is reproduced in SQL below
# and the driver check is a full value-hash oracle, not rows-only.
from ..functions.text import HASH_PRIME as _HP
from ..functions.text import MINHASH_A as _MA
from ..functions.text import MINHASH_B as _MB

_SIG_ENTRIES = ",\n             ".join(
    f"list_min(list_transform(bh, x -> ({_MA[i]} * x + {_MB[i]}) % {_HP}))"
    for i in range(32))
_MINHASH_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS tk
      FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                                      i -> array_to_string(tk[i:i+2], ' '))
             END AS sh
      FROM toks),
    bases AS (
      SELECT doc_id, sh,
             list_transform(sh, s -> {_MD5_60.format(x='s')} % {_HP}) AS bh
      FROM sh),
    sigs AS (
      SELECT doc_id, sh,
             [{_SIG_ENTRIES}] AS sig
      FROM bases),
    banded AS (
      SELECT doc_id, band_id,
             array_to_string(sig[band_id*4+1 : band_id*4+4], ',') AS band_key
      FROM sigs, range(8) t(band_id)),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id),
    verify AS (
      SELECT doc_a, doc_b,
             list_distinct(x.sh) AS sa, list_distinct(y.sh) AS sb
      FROM cands JOIN sh x ON x.doc_id = doc_a
                 JOIN sh y ON y.doc_id = doc_b)
    SELECT doc_a, doc_b, round({_jaccard('sa', 'sb')}, 4) AS jaccard
    FROM verify WHERE {_jaccard('sa', 'sb')} >= 0.5
"""
_add(
    "dedup_minhash_lsh",
    lambda spark, sf: dedup.minhash_lsh_pairs(*_t(spark, sf, "documents")),
    _MINHASH_ORACLE,
    "dedup",
    "MinHash+LSH near-dup candidates verified by exact shingle Jaccard",
)


def _incremental_lsh_demo(spark: SparkSession, sf: str) -> DataFrame:
    """The ingest route's pair stage on driver tables: docs with
    doc_id %% 5 == 0 are the incoming batch, the rest the corpus —
    the same split as dedup_incremental_pairs, LSH semantics."""
    docs, = _t(spark, sf, "documents")
    return dedup.minhash_lsh_pairs_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0))


_add(
    "dedup_incremental_pairs_lsh",
    _incremental_lsh_demo,
    # the decomposition identity (tested): under shared banding the
    # incremental candidates are EXACTLY the full operator's candidates
    # with >= 1 new endpoint — so the oracle is the full MinHash oracle
    # restricted to pairs touching the batch
    f"""
    SELECT doc_a, doc_b, jaccard FROM ({_MINHASH_ORACLE})
    WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
    """,
    "dedup,T2,J6",
    "incremental ingest near-dedup, MinHash-LSH route (round 9): "
    "new-batch LSH pairs against new+corpus only, candidates bounded "
    "by signature agreement instead of block population — the scale "
    "path the ingest gate routes to (exact path measured 84x on 10x "
    "data at the sf10 streaming probe; routed 2.7x)",
)

# ==================================================================== SimHash
_VOTES = ",\n             ".join(
    f"sum(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS v{k}"
    for k in range(60))
_HASH_FOLD = " + ".join(
    f"CASE WHEN v{k} > 0 THEN {1 << k} ELSE 0 END" for k in range(60))
_SIMHASH_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_filter(
               string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tk
      FROM documents),
    hv AS (
      SELECT doc_id, {_MD5_60.format(x='t.t')} AS h
      FROM toks, unnest(tk) t(t)),
    votes AS (
      SELECT doc_id,
             {_VOTES}
      FROM hv GROUP BY doc_id),
    folded AS (
      SELECT doc_id, CAST({_HASH_FOLD} AS BIGINT) AS sh FROM votes),
    allsh AS (
      SELECT t.doc_id, coalesce(f.sh, 0) AS sh
      FROM toks t LEFT JOIN folded f USING (doc_id)),
    chunked AS (
      SELECT doc_id, sh, c AS chunk_id, (sh >> (c * 15)) & 32767 AS chunk_val
      FROM allsh, range(4) t(c)),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM chunked a JOIN chunked b
        ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
       AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hamming
    FROM cands JOIN allsh x ON x.doc_id = doc_a
               JOIN allsh y ON y.doc_id = doc_b
    WHERE bit_count(xor(x.sh, y.sh)) <= 3
    """
_add(
    "dedup_simhash",
    lambda spark, sf: dedup.simhash_pairs(*_t(spark, sf, "documents")),
    _SIMHASH_ORACLE,
    "dedup",
    "SimHash near-dup pairs via 15-bit chunk banding (pigeonhole)",
)

# ===================================================== embedding near-dup
_COS = ("(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))))")
_add(
    "dedup_embedding_cosine",
    lambda spark, sf: dedup.embedding_neardup_pairs(*_t(spark, sf, "embeddings"),
                                                    threshold=0.35),
    f"""
    SELECT vec_a, vec_b, cosine FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round({_COS.format(a='a.embedding', b='b.embedding')}, 4) AS cosine
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id)
    WHERE cosine >= 0.35
    """,
    "dedup",
    "embedding-cosine near-dup within IVF (label) buckets",
)

# ======================================== embedding near-dup via SRP-LSH
def _srp_demo(spark: SparkSession, sf: str) -> DataFrame:
    """Unlabeled-corpus embedding near-dup: the fixture's organic dup
    slice sits at cosine ~0.35-0.5 (below any sane LSH regime), so
    the demo plants deterministic near-twins — vec_id < 100 copied
    with dimension 1 zeroed (cosine ~ sqrt(1 - v1^2/|v|^2) ~ 0.99) —
    and SRP must recover them WITHOUT touching the label column."""
    e, = _t(spark, sf, "embeddings")
    twin = F.concat(F.array(F.lit(0.0).cast("float")),
                    F.slice(F.col("embedding"), 2, 63))
    twins = (e.filter(F.col("vec_id") < 100)
             .select((F.col("vec_id") + 100000).alias("vec_id"),
                     twin.alias("embedding")))
    base = e.select("vec_id", "embedding").unionByName(twins)
    return dedup.embedding_srp_pairs(base)


_SRP_SIGNS_SQL = """
    signs AS (
      SELECT i, list_transform(range(1, 65), d ->
        CASE WHEN ('0x' || substr(md5('srp:' || CAST(i AS VARCHAR)
                   || ':' || CAST(d - 1 AS VARCHAR)), 1, 15))::BIGINT
                  % 2 = 1
             THEN 1.0 ELSE -1.0 END) AS sv
      FROM range(128) t(i))
"""
_add(
    "dedup_embedding_srp",
    _srp_demo,
    f"""
    WITH base AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000,
             list_prepend(CAST(0.0 AS FLOAT), embedding[2:64])
      FROM embeddings WHERE vec_id < 100),
    {_SRP_SIGNS_SQL},
    bits AS (
      SELECT e.vec_id, s.i,
             CASE WHEN round(list_sum(list_transform(range(1, 65),
                    d -> CAST(e.embedding[CAST(d AS INTEGER)] AS DOUBLE)
                         * s.sv[CAST(d AS INTEGER)])), 6) >= 0
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
      FROM base e CROSS JOIN signs s),
    banded AS (
      SELECT vec_id, i // 16 AS band_id,
             CAST(sum(bit * (CAST(1 AS BIGINT) << (i % 16))) AS BIGINT)
               AS band_val
      FROM bits GROUP BY vec_id, i // 16),
    cands AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, cosine FROM (
      SELECT vec_a, vec_b,
             round({_COS.format(a='x.embedding', b='y.embedding')}, 4)
               AS cosine
      FROM cands JOIN base x ON x.vec_id = vec_a
                 JOIN base y ON y.vec_id = vec_b)
    WHERE cosine >= 0.95
    """,
    "dedup,similarity-search",
    "embedding near-dup WITHOUT a coarse quantizer: sign-random-"
    "projection LSH (Charikar 2002) — 128-bit Rademacher-hyperplane "
    "signatures, 8x16-bit band equi-join (long bands hold random-"
    "pair collisions to ~2^-16), exact-cosine verify; candidates "
    "bounded by similarity structure, no label column",
)

# ====================================================== ANN: brute force top-k
def _ann_brute(spark, sf):
    emb, = _t(spark, sf, "embeddings")
    queries = emb.filter(emb.vec_id < 5)
    return similarity_search.brute_force_topk(queries, emb, k=5)


_ANN_BRUTE_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < 5),
    pairs AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_COS.format(a='q.q_emb', b='e.embedding')} AS sim
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank,
           round(sim, 4) AS cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM pairs) WHERE rn <= 5
    """
_add(
    "ann_brute_topk",
    _ann_brute,
    _ANN_BRUTE_ORACLE,
    "similarity-search",
    "exact cosine top-k (brute force baseline)",
)


def _ann_brute_numpy(spark, sf):
    emb, = _t(spark, sf, "embeddings")
    queries = emb.filter(emb.vec_id < 5)
    return similarity_search.brute_force_topk_numpy(queries, emb, k=5)


_add(
    "ann_brute_topk_numpy",
    _ann_brute_numpy,
    _ANN_BRUTE_ORACLE,  # same semantics, Arrow/numpy GEMM execution
    "similarity-search",
    "exact cosine top-k via Arrow-batched numpy GEMM (wide-vector path)",
)


# ====================================== ANN: 8-bit scalar quantization
def _ann_sq8(spark, sf):
    emb, = _t(spark, sf, "embeddings")
    queries = emb.filter(emb.vec_id < 5)
    return similarity_search.sq8_topk(queries, emb, k=5)


_add(
    "ann_sq8_topk",
    _ann_sq8,
    f"""
    WITH dims AS (
      SELECT i AS pos,
             min(CAST(embedding[i + 1] AS DOUBLE)) AS mn,
             max(CAST(embedding[i + 1] AS DOUBLE)) AS mx
      FROM embeddings, range(64) t(i)  -- dim=64 (DuckDB 1.0 range()
                                       -- cannot lateral-correlate)
      GROUP BY i),
    stats AS (SELECT list(mn ORDER BY pos) AS mins,
                     list(mx ORDER BY pos) AS maxs FROM dims),
    deq AS (
      SELECT e.vec_id,
             list_transform(range(1, 65), d ->
               s.mins[d]
               + (CAST(CASE WHEN s.maxs[d] = s.mins[d] THEN 0
                       ELSE CAST(round(
                              (CAST(e.embedding[d] AS DOUBLE) - s.mins[d])
                              / (s.maxs[d] - s.mins[d]) * 255) AS INTEGER)
                       END AS DOUBLE)
                  * (s.maxs[d] - s.mins[d])) / 255.0) AS sq_emb
      FROM embeddings e CROSS JOIN stats s),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
          FROM embeddings WHERE vec_id < 5),
    pairs AS (
      SELECT q.query_id, d.vec_id AS neighbor_id,
             {_COS.format(a='q.q_emb', b='d.sq_emb')} AS sim
      FROM deq d CROSS JOIN q WHERE d.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank,
           round(sim, 4) AS cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM pairs) WHERE rn <= 5
    """,
    "similarity-search",
    "8-bit scalar-quantized cosine top-k: per-dim min/max codebook "
    "(one exploded scan), asymmetric search — full-precision queries "
    "against the affine-dequantized int8 corpus (4x index footprint "
    "cut; quantization error enters once, not twice)",
)


# ======================== containment join (truncated-mirror dedup)
_add(
    "dedup_containment_pairs",
    # doc_id < 1000: the synthetic corpus's FLAT vocabulary makes
    # almost every small doc >= 0.9-contained in some larger one
    # (1.8M qualifying pairs at full sf0.1 — correct but a
    # driver-compare-hostile output size), so the entry demonstrates
    # the operator on a bounded slice, the ann_* vec_id<N precedent.
    # max_candidate_pairs=None keeps the entry a PRODUCER at any
    # driver scale (the corpus_deduped precedent); the operator
    # default budget raises with named remedies — there is no 'route'
    # because no approximate family estimates containment.
    lambda spark, sf: dedup.containment_pairs(
        _t(spark, sf, "documents")[0].filter("doc_id < 1000"),
        threshold=0.9, max_candidate_pairs=None),
    f"""
    WITH d AS (
      SELECT doc_id, lang,
             {_TOKS.format(c='lower(text)')} AS toks
      FROM documents WHERE doc_id < 1000),
    d2 AS (SELECT doc_id, lang, toks, len(toks) AS n FROM d),
    tok AS (SELECT doc_id, lang, n, unnest(toks) AS tok FROM d2),
    dfq AS (SELECT lang, tok, count(*) AS df
            FROM tok GROUP BY lang, tok),
    ranked AS (
      SELECT t.doc_id, t.lang, t.n, t.tok, f.df,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY f.df, t.tok) AS rn
      FROM tok t JOIN dfq f ON t.lang = f.lang AND t.tok = f.tok),
    prefix AS (
      SELECT * FROM ranked
      WHERE rn <= n - CAST(ceil(0.9 * n) AS INTEGER) + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_small, b.doc_id AS doc_big
      FROM prefix a JOIN tok b
        ON a.lang = b.lang AND a.tok = b.tok
       AND (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id)))
    SELECT doc_small, doc_big, containment FROM (
      SELECT c.doc_small, c.doc_big,
             round(CAST(len(list_filter(s.toks,
                       t -> list_contains(g.toks, t))) AS DOUBLE)
                   / s.n, 4) AS containment
      FROM cand c
      JOIN d2 s ON s.doc_id = c.doc_small
      JOIN d2 g ON g.doc_id = c.doc_big)
    WHERE containment >= 0.9
    """,
    "dedup",
    "token-set containment pairs (smaller-in-bigger >= 0.9) via EXACT "
    "prefix filtering (Chaudhuri 2006 SSJoin): rarest-token prefixes "
    "joined against full token lists — the truncated-mirror / "
    "quote-wrapper detector length-band Jaccard blocking structurally "
    "misses; candidate mass gated on the exact sum(df-1) over prefix "
    "tokens",
)


_add(
    "corpus_drop_contained",
    # same bounded slice + ungated reasoning as dedup_containment_pairs
    lambda spark, sf: dedup.drop_contained_docs(
        _t(spark, sf, "documents")[0].filter("doc_id < 1000"),
        threshold=0.9, max_candidate_pairs=None)
    .select("doc_id", "lang", "n_chars"),
    f"""
    WITH d AS (
      SELECT doc_id, lang,
             {_TOKS.format(c='lower(text)')} AS toks
      FROM documents WHERE doc_id < 1000),
    d2 AS (SELECT doc_id, lang, toks, len(toks) AS n FROM d),
    tok AS (SELECT doc_id, lang, n, unnest(toks) AS tok FROM d2),
    dfq AS (SELECT lang, tok, count(*) AS df
            FROM tok GROUP BY lang, tok),
    ranked AS (
      SELECT t.doc_id, t.lang, t.n, t.tok, f.df,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY f.df, t.tok) AS rn
      FROM tok t JOIN dfq f ON t.lang = f.lang AND t.tok = f.tok),
    prefix AS (
      SELECT * FROM ranked
      WHERE rn <= n - CAST(ceil(0.9 * n) AS INTEGER) + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_small, b.doc_id AS doc_big
      FROM prefix a JOIN tok b
        ON a.lang = b.lang AND a.tok = b.tok
       AND (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))),
    losers AS (
      SELECT DISTINCT doc_small AS doc_id FROM (
        SELECT c.doc_small,
               round(CAST(len(list_filter(s.toks,
                         t -> list_contains(g.toks, t))) AS DOUBLE)
                     / s.n, 4) AS containment
        FROM cand c
        JOIN d2 s ON s.doc_id = c.doc_small
        JOIN d2 g ON g.doc_id = c.doc_big)
      WHERE containment >= 0.9)
    SELECT doc_id, lang, n_chars FROM documents
    WHERE doc_id < 1000
      AND doc_id NOT IN (SELECT doc_id FROM losers)
    """,
    "dedup",
    "containment family's consumable product: corpus minus every doc "
    ">= 0.9 token-contained in a larger doc (truncated mirrors / "
    "quote-wrapped subsets add nothing the superset doesn't carry) — "
    "prefix-filter pairs -> distinct contained side -> anti-join",
)


_add(
    "benchmark_containment_pairs",
    # the benchmark_contamination_fraction convention: doc_id % 97 == 0
    # is the benchmark slice, the rest is the training corpus
    lambda spark, sf: (lambda docs: dedup.cross_corpus_containment(
        docs.filter("doc_id % 97 = 0"),
        docs.filter("doc_id % 97 <> 0"),
        threshold=0.9))(_t(spark, sf, "documents")[0]),
    f"""
    WITH nd AS (
      SELECT doc_id, lang,
             {_TOKS.format(c='lower(text)')} AS toks
      FROM documents WHERE doc_id % 97 = 0),
    nd2 AS (SELECT doc_id, lang, toks, len(toks) AS n FROM nd),
    hs AS (
      SELECT doc_id, lang,
             {_TOKS.format(c='lower(text)')} AS toks
      FROM documents WHERE doc_id % 97 <> 0),
    h_tok AS (SELECT doc_id, lang, unnest(toks) AS tok FROM hs),
    dfq AS (SELECT lang, tok, count(*) AS df
            FROM h_tok GROUP BY lang, tok),
    n_tok AS (SELECT doc_id, lang, n, unnest(toks) AS tok FROM nd2),
    ranked AS (
      SELECT t.doc_id, t.lang, t.n, t.tok, COALESCE(f.df, 0) AS df,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY COALESCE(f.df, 0), t.tok) AS rn
      FROM n_tok t LEFT JOIN dfq f
        ON t.lang = f.lang AND t.tok = f.tok),
    prefix AS (
      SELECT * FROM ranked
      WHERE rn <= n - CAST(ceil(0.9 * n) AS INTEGER) + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS needle_id, b.doc_id AS doc_id
      FROM prefix a JOIN h_tok b
        ON a.lang = b.lang AND a.tok = b.tok)
    SELECT needle_id, doc_id, containment FROM (
      SELECT c.needle_id, c.doc_id,
             round(CAST(len(list_filter(s.toks,
                       t -> list_contains(g.toks, t))) AS DOUBLE)
                   / s.n, 4) AS containment
      FROM cand c
      JOIN nd2 s ON s.doc_id = c.needle_id
      JOIN hs g ON g.doc_id = c.doc_id)
    WHERE containment >= 0.9
    """,
    "dedup,curation",
    "cross-corpus directional containment (benchmark-item-in-"
    "training-doc, the exact token-set form of the decontamination "
    "question): needle prefixes ordered by HAYSTACK df (absent "
    "tokens df=0 sort first — maximally selective), exact prefix "
    "filter, gate on the exact sum-of-df mass",
)


# ======================================== engine-portable sketches
from ..operators import sketches as _sketches

_add(
    "events_hll_users",
    lambda spark, sf: _sketches.hll_distinct(
        _t(spark, sf, "events")[0], "user_id", m=256),
    f"""
    WITH h AS (
      SELECT {_MD5_60.format(x='CAST(user_id AS VARCHAR)')} AS h
      FROM events WHERE user_id IS NOT NULL),
    r AS (
      SELECT CAST(h % 256 AS INTEGER) AS register,
             CAST(CASE WHEN (h >> 8) > 0
                  THEN 52 - length(bin(h >> 8)) + 1
                  ELSE 53 END AS INTEGER) AS rho
      FROM h),
    regs AS (SELECT register, max(rho) AS max_rho
             FROM r GROUP BY register),
    allm AS (SELECT CAST(i AS INTEGER) AS register FROM range(256) t(i)),
    filled AS (SELECT COALESCE(regs.max_rho, 0) AS max_rho
               FROM allm LEFT JOIN regs USING (register)),
    agg AS (SELECT sum(power(2.0, -max_rho)) AS z,
                   sum(CASE WHEN max_rho = 0 THEN 1 ELSE 0 END) AS v
            FROM filled)
    SELECT 256 AS n_registers, CAST(v AS INTEGER) AS n_zero_registers,
           round(CASE WHEN ((0.7213 / (1 + 1.079 / 256)) * 256 * 256 / z)
                           <= 2.5 * 256 AND v > 0
                 THEN CAST(256 AS DOUBLE)
                      * ln(CAST(256 AS DOUBLE) / v)
                 ELSE (0.7213 / (1 + 1.079 / 256)) * 256 * 256 / z
                 END, 2) AS hll_estimate
    FROM agg
    """,
    "sketches,A1-A3",
    "HyperLogLog distinct users (Flajolet 2007) with ENGINE-PORTABLE "
    "determinism: md5-derived registers, rho via binary-string length "
    "(no float log2), dyadic 2^-M register sums (exact in any order) "
    "— a sketch under the full value-hash gate, not a range check; "
    "the A1-A3 distinct-count monitoring shape at 100 TB",
)

_add(
    "doc_bloom_decontamination",
    # %97 benchmark-slice convention (benchmark_contamination_fraction)
    lambda spark, sf: (lambda docs: _sketches.bloom_contamination(
        docs.filter("doc_id % 97 <> 0"),
        docs.filter("doc_id % 97 = 0")))(_t(spark, sf, "documents")[0]),
    f"""
    WITH bdocs AS (
      SELECT doc_id, {_TOKS_ALL.format(c='lower(text)')} AS tk
      FROM documents WHERE doc_id % 97 = 0),
    bsh AS (SELECT DISTINCT unnest(list_distinct({_SHINGLE5_SQL})) AS e
            FROM bdocs),
    bits AS (
      SELECT DISTINCT CAST({_MD5_60.format(x="e || '#b0'")} % 65536
                           AS INTEGER) AS pos FROM bsh
      UNION
      SELECT CAST({_MD5_60.format(x="e || '#b1'")} % 65536
                  AS INTEGER) FROM bsh
      UNION
      SELECT CAST({_MD5_60.format(x="e || '#b2'")} % 65536
                  AS INTEGER) FROM bsh),
    cdocs AS (
      SELECT doc_id, {_TOKS_ALL.format(c='lower(text)')} AS tk
      FROM documents WHERE doc_id % 97 <> 0),
    csh AS (SELECT DISTINCT doc_id,
                   unnest(list_distinct({_SHINGLE5_SQL})) AS sh
            FROM cdocs),
    hits AS (
      SELECT doc_id, sh FROM csh
      WHERE CAST({_MD5_60.format(x="sh || '#b0'")} % 65536 AS INTEGER)
              IN (SELECT pos FROM bits)
        AND CAST({_MD5_60.format(x="sh || '#b1'")} % 65536 AS INTEGER)
              IN (SELECT pos FROM bits)
        AND CAST({_MD5_60.format(x="sh || '#b2'")} % 65536 AS INTEGER)
              IN (SELECT pos FROM bits))
    SELECT doc_id, count(*) AS n_hit_shingles
    FROM hits GROUP BY doc_id
    """,
    "sketches,curation",
    "Bloom-filter decontamination: benchmark 5-shingles set 3 "
    "md5-salted bits of a 65536-bit filter that broadcasts as a "
    "position dimension (<= m rows regardless of benchmark size); a "
    "doc is flagged when a shingle finds ALL its bits set — no false "
    "negatives, documented FPR, and probing 100 TB is a broadcast "
    "semi-join instead of a benchmark-corpus join",
)

_add(
    "events_kmv_overlap",
    lambda spark, sf: (lambda ev: _sketches.kmv_overlap(
        ev.filter("event_type = 'click'"),
        ev.filter("event_type = 'purchase'"),
        "user_id", k=64))(_t(spark, sf, "events")[0]),
    f"""
    WITH sa AS (
      SELECT DISTINCT {_MD5_60.format(x='CAST(user_id AS VARCHAR)')} AS h
      FROM events WHERE event_type = 'click' AND user_id IS NOT NULL
      ORDER BY h LIMIT 64),
    sb AS (
      SELECT DISTINCT {_MD5_60.format(x='CAST(user_id AS VARCHAR)')} AS h
      FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
      ORDER BY h LIMIT 64),
    un AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
           ORDER BY h LIMIT 64),
    sta AS (SELECT count(*) AS na, max(h) AS ha FROM sa),
    stb AS (SELECT count(*) AS nb, max(h) AS hb FROM sb),
    stu AS (
      SELECT count(*) AS nu, max(un.h) AS hu,
             sum(CASE WHEN un.h IN (SELECT h FROM sa)
                       AND un.h IN (SELECT h FROM sb)
                  THEN 1 ELSE 0 END) AS n_both
      FROM un)
    SELECT 64 AS k,
           round(CASE WHEN na < 64 THEN CAST(na AS DOUBLE)
                 ELSE 63.0 * 1152921504606846976.0 / ha END, 2) AS est_a,
           round(CASE WHEN nb < 64 THEN CAST(nb AS DOUBLE)
                 ELSE 63.0 * 1152921504606846976.0 / hb END, 2) AS est_b,
           round(CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
                 ELSE 63.0 * 1152921504606846976.0 / hu END, 2)
             AS est_union,
           round(CAST(n_both AS DOUBLE) / nu, 6) AS jaccard_est,
           round((CAST(n_both AS DOUBLE) / nu)
                 * CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
                   ELSE 63.0 * 1152921504606846976.0 / hu END, 2)
             AS est_intersection
    FROM stu, sta, stb
    """,
    "sketches,A1-A3",
    "KMV (k-minimum-values) set-overlap sketch (Bar-Yossef 2002): "
    "distinct / union / Jaccard / INTERSECTION estimates between "
    "click and purchase user sets from two 64-hash sketches — the "
    "intersect-capable sketch HLL is not; corpus-sized work is two "
    "hash distincts + TakeOrdered top-k, every downstream join is "
    "over <=k rows",
)


# ================================ JL random projection (dim reduction)
_add(
    "embedding_rp_project",
    lambda spark, sf: similarity_search.rp_project(
        _t(spark, sf, "embeddings")[0].filter("vec_id < 200"),
        out_dim=16),
    """
    WITH planes AS (
      SELECT j, list_transform(range(1, 65), d ->
        CASE WHEN ('0x' || substr(md5('rp:' || CAST(j AS VARCHAR)
                   || ':' || CAST(d - 1 AS VARCHAR)), 1, 15))::BIGINT
                  % 2 = 1
             THEN 1.0 ELSE -1.0 END) AS sv
      FROM range(16) t(j)),
    base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
             FROM embeddings WHERE vec_id < 200)
    SELECT b.vec_id, CAST(p.j AS INTEGER) AS pos,
           round(list_dot_product(b.emb, p.sv) / sqrt(16.0), 6) AS value
    FROM base b CROSS JOIN planes p
    """,
    "similarity-search",
    "Johnson-Lindenstrauss Rademacher projection 64->16 dims "
    "(Achlioptas 2003): md5-seeded +-1 hyperplanes as plan literals, "
    "one HOF dot per output dim, no shuffle — the standard pre-ANN / "
    "pre-clustering scan-width cut, emitted exploded (vec_id, pos, "
    "value)",
)


# ============================================================= ANN: IVF top-k
def _ann_ivf(spark, sf):
    emb, = _t(spark, sf, "embeddings")
    queries = emb.filter(emb.vec_id < 5)
    return similarity_search.ivf_topk(queries, emb, k=5)


_add(
    "ann_ivf_topk",
    _ann_ivf,
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
               FROM embeddings WHERE vec_id < 5),
    pairs AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_COS.format(a='q.q_emb', b='e.embedding')} AS sim
      FROM embeddings e JOIN q
        ON e.label = q.q_label AND e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank,
           round(sim, 4) AS cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM pairs) WHERE rn <= 5
    """,
    "similarity-search",
    "IVF-bucketed cosine top-k (scale path: probe one bucket)",
)


# ================================================= ANN: multi-probe IVF top-k
def _ann_ivf_multiprobe(spark, sf):
    emb, = _t(spark, sf, "embeddings")
    queries = emb.filter(emb.vec_id < 5)
    return similarity_search.ivf_topk_multiprobe(queries, emb, k=5, nprobe=2)


_add(
    "ann_ivf_multiprobe",
    _ann_ivf_multiprobe,
    f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
               FROM embeddings WHERE vec_id < 5),
    dims AS (
      SELECT label, i AS pos, avg(embedding[i + 1]::DOUBLE) AS cx
      FROM embeddings, range(64) t(i)  -- dim=64 (DuckDB 1.0 range()
                                       -- cannot lateral-correlate)
      GROUP BY label, i),
    cents AS (
      SELECT label, list(cx ORDER BY pos) AS centroid
      FROM dims GROUP BY label),
    probes AS (
      SELECT query_id, q_emb, label FROM (
        SELECT q.query_id, q.q_emb, c.label,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_COS.format(a='q.q_emb', b='c.centroid')}, 4)
                          DESC, c.label) AS pr
        FROM q CROSS JOIN cents c) WHERE pr <= 2),
    pairs AS (
      SELECT p.query_id, e.vec_id AS neighbor_id,
             {_COS.format(a='p.q_emb', b='e.embedding')} AS sim
      FROM probes p JOIN embeddings e
        ON e.label = p.label AND e.vec_id <> p.query_id)
    SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank,
           round(sim, 4) AS cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM pairs) WHERE rn <= 5
    """,
    "similarity-search",
    "multi-probe IVF cosine top-k: codebook recovered by per-label mean, "
    "top-nprobe buckets searched per query (recall lever)",
)

# =============================================================== text quality
_STOPWORDS_SQL = "['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as']"
_add(
    "doc_quality",
    lambda spark, sf: text_analysis.doc_quality(*_t(spark, sf, "documents")),
    f"""
    WITH t AS (
      SELECT doc_id, text,
             {_TOKS_ALL.format(c='text')} AS toks,
             {_TOKS_ALL.format(c='lower(text)')} AS ltoks
      FROM documents),
    m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                       / len(toks) END AS mtl,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                       / length(text) END AS pr,
             CASE WHEN len(ltoks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(ltoks,
                            x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE)
                       / len(ltoks) END AS sr
      FROM t)
    SELECT doc_id,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           round(mtl, 4) AS mean_token_len,
           round(pr, 4) AS punct_ratio,
           round(sr, 4) AS stopword_ratio,
           CAST((CASE WHEN n_tokens >= 20 THEN 25 ELSE 0 END)
              + (CASE WHEN mtl BETWEEN 3.0 AND 12.0 THEN 25 ELSE 0 END)
              + (CASE WHEN pr < 0.2 THEN 25 ELSE 0 END)
              + (CASE WHEN sr > 0.01 THEN 25 ELSE 0 END) AS INTEGER) AS quality_score
    FROM m
    """,
    "text-analysis,C24",
    "per-document quality signals + composite score",
)


# ================================== dedup: quality-aware representative
def _corpus_deduped_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """corpus_deduped's keep-best-quality twin: near-dup clusters keep
    the HIGHEST quality_score member (ties → min doc_id) instead of the
    min-doc_id member — the selection policy a training-data pipeline
    actually wants, since a cluster routinely mixes a clean original
    with truncated or boilerplate-wrapped mirrors. Same pair source,
    same CC, same anti-join shape; only the winner rule differs
    (components.drop_near_duplicates(score_col=...))."""
    from ..functions.text import quality_score

    docs, = _t(spark, sf, "documents")
    scored = docs.select(
        "doc_id", "lang", "n_chars",
        quality_score(F.col("text")).alias("quality_score"))
    pairs = dedup.ngram_jaccard_pairs(docs, on_budget_exceeded="route")
    return components.drop_near_duplicates(
        scored, pairs, score_col="quality_score")


_add(
    "corpus_deduped_keep_best",
    _corpus_deduped_keep_best,
    f"""
    WITH RECURSIVE
    d AS (
      SELECT doc_id, lang, CAST(n_chars // 100 AS INTEGER) AS band,
             {_TOKS.format(c='lower(text)')} AS toks
      FROM documents),
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round({_jaccard('a.toks', 'b.toks')}, 4) AS jaccard
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id)
      WHERE jaccard >= 0.5),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT a AS node, a AS r FROM edges
      UNION
      SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a),
    members AS (
      SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
    qt AS (
      SELECT doc_id, text,
             {_TOKS_ALL.format(c='text')} AS toks,
             {_TOKS_ALL.format(c='lower(text)')} AS ltoks
      FROM documents),
    qm AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, x -> length(x)))
                            AS DOUBLE) / len(toks) END AS mtl,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(len(regexp_extract_all(text, '[^\\w\\s]'))
                            AS DOUBLE) / length(text) END AS pr,
             CASE WHEN len(ltoks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(ltoks,
                            x -> list_contains({_STOPWORDS_SQL}, x)))
                            AS DOUBLE) / len(ltoks) END AS sr
      FROM qt),
    q AS (
      SELECT doc_id,
             CAST((CASE WHEN n_tokens >= 20 THEN 25 ELSE 0 END)
                + (CASE WHEN mtl BETWEEN 3.0 AND 12.0 THEN 25 ELSE 0 END)
                + (CASE WHEN pr < 0.2 THEN 25 ELSE 0 END)
                + (CASE WHEN sr > 0.01 THEN 25 ELSE 0 END) AS INTEGER)
               AS quality_score
      FROM qm),
    losers AS (
      SELECT doc_id FROM (
        SELECT m.doc_id,
               row_number() OVER (
                 PARTITION BY m.cluster_id
                 ORDER BY q.quality_score DESC NULLS LAST,
                          m.doc_id ASC) AS rn
        FROM members m JOIN q USING (doc_id)) WHERE rn > 1)
    SELECT d2.doc_id, d2.lang, d2.n_chars, q.quality_score
    FROM documents d2 JOIN q USING (doc_id)
    WHERE d2.doc_id NOT IN (SELECT doc_id FROM losers)
    """,
    "dedup",
    "quality-aware dedup product: near-dup clusters keep their "
    "highest-quality_score member (ties -> min doc_id) instead of the "
    "min-id member — keep-the-best-copy selection over the same "
    "pairs -> components -> anti-join chain",
)


# =========================================== quality-threshold selection
def _quality_selection_demo(spark: SparkSession, sf: str) -> DataFrame:
    """Keep the top quartile of the corpus by a continuous quality
    blend (stopword share up, punctuation down, length capped) — the
    quality-classifier-threshold selection stage of a curation
    pipeline, with an exact-percentile threshold."""
    from ..functions.text import punct_ratio, stopword_ratio, token_count

    docs, = _t(spark, sf, "documents")
    t = F.col("text")
    score = F.round(stopword_ratio(t) * 100 - punct_ratio(t) * 50
                    + F.least(token_count(t), F.lit(40)), 4)
    return (curation.select_top_quality(docs, score, keep_frac=0.25)
            .select("doc_id", "lang", "quality_sel_score"))


_add(
    "corpus_quality_selection",
    _quality_selection_demo,
    f"""
    WITH t AS (
      SELECT doc_id, lang, text,
             {_TOKS_ALL.format(c='text')} AS toks,
             {_TOKS_ALL.format(c='lower(text)')} AS ltoks
      FROM documents),
    m AS (
      SELECT doc_id, lang,
             round((CASE WHEN len(ltoks) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(ltoks,
                         x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE)
                         / len(ltoks) END) * 100
                 - (CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                         / length(text) END) * 50
                 + least(len(toks), 40), 4) AS quality_sel_score
      FROM t),
    th AS (SELECT quantile_cont(quality_sel_score, 0.75) AS t FROM m)
    SELECT doc_id, lang, quality_sel_score
    FROM m, th WHERE quality_sel_score >= th.t
    """,
    "text-analysis,C24,pipeline",
    "quality-threshold corpus selection: keep docs at or above the "
    "75th-percentile score (exact interpolated percentile; ties kept; "
    "approx_percentile is the documented cluster-scale swap)",
)


# ======================================================== Gopher-style filter
def _gopher_demo(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import gopher_passes, gopher_signals

    docs, = _t(spark, sf, "documents")
    s = gopher_signals(F.col("text"))
    return docs.select(
        "doc_id",
        *[c.alias(name) for name, c in s.items()],
        gopher_passes(F.col("text")).alias("passes"))


# the t/m CTE chain is shared with corpus_curation_stats below
_GOPHER_CTES = f"""t AS (
      SELECT doc_id,
             {_TOKS_ALL.format(c='text')} AS toks,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> trim(x)), x -> x <> '') AS lines,
             CAST(len(regexp_extract_all(text, '#')) AS DOUBLE)
               + len(regexp_extract_all(text, '\\.\\.\\.')) AS symbols
      FROM documents),
    m AS (
      SELECT doc_id, len(toks) AS n_words, len(lines) AS n_lines, symbols,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, x -> length(x)))
                            AS DOUBLE) / len(toks) END AS mwl,
             CASE WHEN len(lines) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
                             / len(lines) END AS dlf,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                             / len(toks) END AS dwf,
             CASE WHEN len(lines) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(lines,
                         x -> right(x, 3) = '...' OR right(x, 1) = '…'))
                       AS DOUBLE) / len(lines) END AS elf,
             CASE WHEN len(lines) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(lines,
                         x -> left(x, 1) = '-' OR left(x, 1) = '*'
                              OR left(x, 1) = '•'))
                       AS DOUBLE) / len(lines) END AS blf,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(toks,
                         x -> regexp_matches(x, '[A-Za-z]')))
                       AS DOUBLE) / len(toks) END AS awf,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE symbols / len(toks) END AS swr
      FROM t)"""

_GOPHER_PASS = """(n_words BETWEEN 50 AND 100000
            AND round(mwl, 4) BETWEEN 3.0 AND 10.0
            AND round(swr, 4) < 0.1
            AND round(blf, 4) < 0.9
            AND round(elf, 4) < 0.3
            AND round(awf, 4) >= 0.8
            AND round(dlf, 4) <= 0.3)"""

_add(
    "doc_gopher_signals",
    _gopher_demo,
    f"""
    WITH {_GOPHER_CTES}
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(mwl, 4) AS mean_word_len,
           round(dlf, 4) AS dup_line_frac,
           round(dwf, 4) AS dup_word_frac,
           round(elf, 4) AS ellipsis_line_frac,
           round(blf, 4) AS bullet_line_frac,
           round(awf, 4) AS alpha_word_frac,
           round(swr, 4) AS symbol_word_ratio,
           {_GOPHER_PASS} AS passes
    FROM m
    """,
    "text-analysis,dedup",
    "Gopher-style quality filter signals (duplicate-line/word fractions, "
    "bullet/ellipsis lines, alpha-word and symbol ratios) + keep/drop verdict",
)

# ============================================= end-to-end corpus curation
_add(
    "corpus_curation_stats",
    lambda spark, sf: corpus_pipeline.curation_stats(
        *_t(spark, sf, "documents")),
    f"""
    WITH RECURSIVE
    {_GOPHER_CTES},
    passing AS (SELECT doc_id FROM m WHERE {_GOPHER_PASS}),
    kept AS (
      SELECT doc_id, lang, n_chars, text FROM documents
      WHERE doc_id IN (SELECT doc_id FROM passing)),
    d AS (
      SELECT doc_id, lang, CAST(n_chars // 100 AS INTEGER) AS band,
             {_TOKS.format(c='lower(text)')} AS toks
      FROM kept),
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round({_jaccard('a.toks', 'b.toks')}, 4) AS jaccard
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id)
      WHERE jaccard >= 0.5),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT a AS node, a AS r FROM edges
      UNION
      SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a),
    losers AS (
      SELECT node AS doc_id FROM reach GROUP BY node
      HAVING min(r) <> node),
    curated AS (
      SELECT lang, len({_TOKS_ALL.format(c='text')}) AS n FROM kept
      WHERE doc_id NOT IN (SELECT doc_id FROM losers))
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           round(avg(n), 4) AS avg_tokens
    FROM curated GROUP BY lang
    """,
    "dedup,text-analysis,pipeline",
    "end-to-end corpus curation: Gopher quality filter -> blocked "
    "near-dup removal (pairs -> components -> anti-join) -> per-language "
    "kept-doc/token report",
)

# ====================================================== repetition signals
def _shingle_sql(n: int) -> str:
    """DuckDB word-n-gram twin of functions.text.shingles (whole text
    as one gram when shorter than n)."""
    return (f"CASE WHEN len(tk) < {n} THEN [array_to_string(tk, ' ')] "
            f"ELSE list_transform(range(1, len(tk) - {n - 2}), "
            f"i -> array_to_string(tk[i:i+{n - 1}], ' ')) END")


_REP_CTES = ",\n    ".join(
    f"""c{n} AS (
      SELECT doc_id, g, count(*) AS c FROM (
        SELECT doc_id, unnest({_shingle_sql(n)}) AS g FROM rtoks)
      GROUP BY doc_id, g)"""
    for n in (2, 3, 5))

_add(
    "doc_repetition_signals",
    lambda spark, sf: text_analysis.repetition_signals(
        *_t(spark, sf, "documents")),
    f"""
    WITH rtoks AS (
      SELECT doc_id, CAST(length(text) AS DOUBLE) AS L,
             {_TOKS_ALL.format(c='lower(text)')} AS tk
      FROM documents),
    {_REP_CTES},
    top2 AS (SELECT doc_id, max(c * length(g)) AS v FROM c2 GROUP BY doc_id),
    top3 AS (SELECT doc_id, max(c * length(g)) AS v FROM c3 GROUP BY doc_id),
    dup5 AS (SELECT doc_id,
                    sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS v
             FROM c5 GROUP BY doc_id)
    SELECT t.doc_id,
           round(CASE WHEN t.L > 0 THEN coalesce(top2.v, 0) / t.L
                      ELSE 0.0 END, 4) AS top2_char_frac,
           round(CASE WHEN t.L > 0 THEN coalesce(top3.v, 0) / t.L
                      ELSE 0.0 END, 4) AS top3_char_frac,
           round(CASE WHEN t.L > 0 THEN coalesce(dup5.v, 0) / t.L
                      ELSE 0.0 END, 4) AS dup5_char_frac
    FROM rtoks t
    LEFT JOIN top2 USING (doc_id)
    LEFT JOIN top3 USING (doc_id)
    LEFT JOIN dup5 USING (doc_id)
    """,
    "text-analysis,dedup",
    "Gopher repetition filters: top-2/3-gram and duplicate-5-gram "
    "character fractions (explode -> two-key count -> per-doc "
    "aggregate, all partial-aggregable)",
)

# ==================================================================== lang id
_LANG_MARKERS_SQL = {
    "en": "['the','and','of','to','is']",
    "es": "['el','la','de','que','es']",
    "de": "['der','die','und','das','ist']",
    "fr": "['le','la','et','les','est']",
    "zh": "['的','是','了','在','我']",
}
_hits = {lang: (f"len(list_filter(dtoks, x -> list_contains({arr}, x)))")
         for lang, arr in _LANG_MARKERS_SQL.items()}
_best = f"greatest({_hits['de']}, {_hits['en']}, {_hits['es']}, {_hits['fr']}, {_hits['zh']})"
_add(
    "lang_detect",
    lambda spark, sf: text_analysis.lang_detect(*_t(spark, sf, "documents")),
    f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOKS.format(c='lower(text)')} AS dtoks
      FROM documents),
    g AS (
      SELECT doc_id, lang,
             CASE WHEN {_best} = 0 THEN 'und'
                  WHEN {_hits['de']} = {_best} THEN 'de'
                  WHEN {_hits['en']} = {_best} THEN 'en'
                  WHEN {_hits['es']} = {_best} THEN 'es'
                  WHEN {_hits['fr']} = {_best} THEN 'fr'
                  ELSE 'zh' END AS detected_lang
      FROM t)
    SELECT doc_id, lang AS labeled_lang, detected_lang,
           detected_lang = lang AS agrees
    FROM g
    """,
    "text-analysis",
    "marker-word language ID vs labeled lang",
)

# ================================================================ token stats
_add(
    "token_stats_by_lang",
    lambda spark, sf: text_analysis.token_stats_by_lang(*_t(spark, sf, "documents")),
    f"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           round(avg(n), 4) AS avg_tokens
    FROM (SELECT lang, len({_TOKS_ALL.format(c='text')}) AS n FROM documents)
    GROUP BY lang
    """,
    "text-analysis,A4",
    "corpus token statistics per language",
)

def _corpus_diff_demo(spark: SparkSession, sf: str) -> DataFrame:
    """Diff two deterministic snapshots of the documents table: the
    'old' version lacks every doc_id % 7 == 3 row (added later) and
    carries a ' v1' suffix on doc_id % 11 == 0 texts (modified since);
    the 'new' version lacks doc_id % 13 == 5 rows (removed)."""
    docs, = _t(spark, sf, "documents")
    old = (docs.filter(F.col("doc_id") % 7 != 3)
           .withColumn("text", F.when(F.col("doc_id") % 11 == 0,
                                      F.concat(F.col("text"),
                                               F.lit(" v1")))
                       .otherwise(F.col("text"))))
    new = docs.filter(F.col("doc_id") % 13 != 5)
    return curation.corpus_diff(old, new)


_add(
    "corpus_snapshot_diff",
    _corpus_diff_demo,
    """
    WITH o AS (
      SELECT doc_id,
             coalesce(md5(trim(regexp_replace(lower(
               CASE WHEN doc_id % 11 = 0 THEN text || ' v1'
                    ELSE text END), '\\s+', ' ', 'g'))),
               'fp:null-text') AS old_fp,
             TRUE AS in_old
      FROM documents WHERE doc_id % 7 <> 3),
    n AS (
      SELECT doc_id,
             coalesce(md5(trim(regexp_replace(lower(text),
               '\\s+', ' ', 'g'))), 'fp:null-text') AS new_fp,
             TRUE AS in_new
      FROM documents WHERE doc_id % 13 <> 5),
    j AS (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.in_old IS NULL THEN 'added'
                  WHEN n.in_new IS NULL THEN 'removed'
                  WHEN o.old_fp IS DISTINCT FROM n.new_fp
                    THEN 'modified'
             END AS change,
             o.old_fp, n.new_fp
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
    SELECT doc_id, change, old_fp, new_fp
    FROM j WHERE change IS NOT NULL
    """,
    "J9,pipeline",
    "corpus snapshot diff (migration verification): added / removed "
    "/ modified by content fingerprint — ONE full-outer equi-join of "
    "two narrow (id, fp) frames, unchanged bulk omitted",
)


_add(
    "corpus_vocab_stats",
    lambda spark, sf: text_analysis.vocab_stats_by_lang(
        *_t(spark, sf, "documents")),
    f"""
    WITH tf AS (
      SELECT lang, tok, count(*) AS c
      FROM (SELECT lang,
                   unnest({_TOKS_ALL.format(c='lower(text)')}) AS tok
            FROM documents)
      GROUP BY lang, tok)
    SELECT lang,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           round(count(*) / CAST(sum(c) AS DOUBLE), 4)
             AS type_token_ratio,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS hapax_frac,
           round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_share
    FROM tf GROUP BY lang
    """,
    "text-analysis,A4",
    "per-language vocabulary QA report (type-token ratio, hapax "
    "fraction, top-token share): one word-count-shaped explode, one "
    "per-language aggregate over the vocabulary-sized frame",
)

# ============================================================== fingerprints
_add(
    "doc_fingerprints",
    lambda spark, sf: text_analysis.fingerprint_docs(*_t(spark, sf, "documents")),
    """
    WITH f AS (SELECT doc_id,
                      md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
               FROM documents)
    SELECT doc_id, fp,
           count(*) OVER (PARTITION BY fp) AS n_same_content,
           (count(*) OVER (PARTITION BY fp)) > 1 AS is_duplicate
    FROM f
    """,
    "text-analysis,dedup",
    "content fingerprint + duplicate flag",
)

# ============================================================== as-of join
_add(
    "asof_purchase_last_click",
    lambda spark, sf: asof.purchases_with_last_click(*_t(spark, sf, "events")),
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    clicks AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.event_id AS purchase_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           c.click_id AS last_click_id
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "asof-join",
    "as-of join: most recent prior click per purchase (union+window impl)",
)

# ====================================================== TPC-H Q5-shaped join
_add(
    "regional_revenue",
    lambda spark, sf: relational.regional_revenue(
        *_t(spark, sf, "customer", "orders", "lineitem", "nation", "region")),
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(DISTINCT o_orderkey) AS n_orders
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    "J1,J2,A6",
    "5-table star join: revenue per nation (broadcast dims + fact shuffle)",
)

# ==================================================================== rollup
_add(
    "orders_rollup",
    lambda spark, sf: relational.orders_rollup(*_t(spark, sf, "orders")),
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, o_orderpriority,
           count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY ROLLUP (order_year, o_orderpriority)
    """,
    "A6,rollup",
    "ROLLUP (year, priority): subtotal + grand-total hierarchy in one pass",
)

# ===================================================================== pivot
_PIVOT_CASES = ",\n           ".join(
    f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS \"{t}\""
    for t in relational.EVENT_TYPES)
_add(
    "event_pivot_by_month",
    lambda spark, sf: relational.event_pivot_by_month(*_t(spark, sf, "events")),
    f"""
    SELECT strftime(ts, '%Y-%m') AS month,
           {_PIVOT_CASES}
    FROM events GROUP BY 1
    """,
    "pivot,A4",
    "month x event-type pivot with a static value list",
)

# ================================================================ percentiles
_add(
    "event_value_percentiles",
    lambda spark, sf: relational.event_value_percentiles(*_t(spark, sf, "events")),
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(avg(value), 4) AS mean
    FROM events GROUP BY event_type
    """,
    "A6,percentile",
    "exact interpolated percentiles per group",
)

# ================================================================= histogram
_add(
    "event_value_histogram",
    lambda spark, sf: relational.event_value_histogram(*_t(spark, sf, "events")),
    """
    SELECT CAST(floor(value / 50) AS INTEGER) AS bucket, count(*) AS n
    FROM events GROUP BY 1
    """,
    "A14",
    "bucketed value histogram (floor bucketing + count)",
)

# ================================================================== S7 / A10
_add(
    "top_event_types",
    lambda spark, sf: relational.top_event_types(*_t(spark, sf, "events")),
    """
    SELECT event_type, count(*) AS n FROM events
    GROUP BY event_type ORDER BY n DESC, event_type LIMIT 3
    """,
    "S7,A10",
    "terms aggregation: top-k categories by count",
)

# ======================================================================== W5
_add(
    "orders_page",
    lambda spark, sf: relational.orders_page(*_t(spark, sf, "orders")),
    """
    SELECT o_orderkey, o_custkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
      SELECT o_orderkey, o_custkey, o_totalprice,
             row_number() OVER (ORDER BY o_orderkey) AS rn
      FROM orders) WHERE rn > 40 AND rn <= 60
    """,
    "W5",
    "row_number pagination (page 3, size 20)",
)

_add(
    "orders_page_keyset",
    lambda spark, sf: relational.orders_page_keyset(
        *_t(spark, sf, "orders"), after_key=200, page_size=20),
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey > 200
    ORDER BY o_orderkey LIMIT 20
    """,
    "W5",
    "keyset (seek) pagination — the scale twin of orders_page: "
    "pushed-down range filter on the sort key + "
    "TakeOrderedAndProject, per-page cost tracks the page (not the "
    "offset) and never funnels through one partition",
)

# ======================================================================= A13
_add(
    "daily_spend",
    lambda spark, sf: relational.daily_spend(*_t(spark, sf, "events")),
    """
    SELECT round(coalesce(sum(value), 0), 2) AS total_spend,
           count(*) AS n_purchases
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-15' AND event_type = 'purchase'
    """,
    "A13,F8",
    "single-day budget roll-up with COALESCE(SUM,0)",
)

# ======================================================================== C8
_add(
    "email_pattern_candidates",
    lambda spark, sf: relational.email_pattern_candidates(
        *_t(spark, sf, "customer")),
    """
    WITH base AS (
      SELECT c_custkey,
             lower(regexp_extract(c_name, '^([A-Za-z]+)', 1)) AS first,
             CAST(CAST(regexp_extract(c_name, '(\\d+)', 1) AS BIGINT) AS VARCHAR) AS num
      FROM customer),
    pats AS (
      SELECT c_custkey,
             [first || '.' || num || '@' || first || '.example.com',
              first || num || '@' || first || '.example.com',
              num || '@' || first || '.example.com'] AS patterns
      FROM base)
    SELECT c_custkey, CAST(t.i AS INTEGER) AS pattern_id,
           patterns[CAST(t.i AS INTEGER) + 1] AS email
    FROM pats, range(3) t(i)
    """,
    "C8",
    "UDTF-style email-pattern fan-out (posexplode over generated array)",
)

# ======================================================================= F10
_add(
    "event_validation_split",
    lambda spark, sf: relational.event_validation_split(*_t(spark, sf, "events")),
    """
    SELECT CASE WHEN user_id IS NOT NULL
                 AND CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
                 AND value >= 0 AND value <= 180
                THEN 'valid' ELSE 'invalid' END AS disposition,
           count(*) AS n, round(avg(value), 4) AS avg_value
    FROM events GROUP BY 1
    """,
    "F10",
    "validation predicate split with error side-output counts",
)

# ================================================================ range join
_add(
    "clicks_before_purchase",
    lambda spark, sf: asof.clicks_before_purchase(*_t(spark, sf, "events")),
    """
    WITH purchases AS (
      SELECT event_id AS purchase_id, user_id, ts
      FROM events WHERE event_type = 'purchase'),
    clicks AS (
      SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click')
    SELECT p.purchase_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           count(c.click_ts) AS n_clicks_1h
    FROM purchases p LEFT JOIN clicks c
      ON p.user_id = c.user_id
     AND date_diff('second', c.click_ts, p.ts) >= 0
     AND date_diff('second', c.click_ts, p.ts) < 3600
    GROUP BY 1, 2, 3
    """,
    "range-join",
    "interval join via time-bucketized equi-join (bounded 2x fan-out)",
)

# ======================================================== top terms per lang
_add(
    "top_terms_per_lang",
    lambda spark, sf: text_analysis.top_terms_per_lang(
        *_t(spark, sf, "documents")),
    f"""
    WITH terms AS (
      SELECT lang, t.term
      FROM documents, unnest({_TOKS_ALL.format(c='lower(text)')}) AS t(term)),
    counts AS (SELECT lang, term, count(*) AS n FROM terms GROUP BY 1, 2)
    SELECT lang, term, n, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY n DESC, term) AS rank
      FROM counts) WHERE rank <= 5
    """,
    "text-analysis,W2",
    "term-frequency top-k per language (explode -> agg -> window)",
)

# ========================================================== running windows
_add(
    "customer_running_totals",
    lambda spark, sf: relational.customer_running_totals(*_t(spark, sf, "orders")),
    """
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_day,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING), 2) AS running_revenue,
           CAST(date_diff('day',
                lag(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS INTEGER) AS days_since_prev
    FROM orders
    """,
    "W1,W2,A11",
    "running revenue + gap-to-previous-order per customer (frame windows)",
)

# ================================================================== intersect
_add(
    "repeat_customers",
    lambda spark, sf: relational.repeat_customers(*_t(spark, sf, "orders")),
    """
    SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
    "D3,set-ops",
    "INTERSECT: customers active in both years",
)


# ============================================================ salted agg
def _salted_counts(spark, sf):
    from ..operators.skew import salted_aggregate
    orders, = _t(spark, sf, "orders")
    return salted_aggregate(orders, "o_custkey", num_salts=8,
                            sum_cols=["o_totalprice"]).select(
        "o_custkey", "n", F.round("sum_o_totalprice", 2).alias("total"))


_add(
    "salted_customer_counts",
    _salted_counts,
    """
    SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_custkey
    """,
    "A4,skew",
    "two-phase salted aggregate == plain GROUP BY (skew lever, verified)",
)

# ================================================================= profiling
_PROF_COLS = "\n           ".join(
    f"""count(*) AS {c}_count,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS {c}_nulls,
           round(min({c}), 4) AS {c}_min,
           round(max({c}), 4) AS {c}_max,
           round(avg({c}), 4) AS {c}_avg,"""
    for c in ["l_quantity", "l_extendedprice", "l_discount"]).rstrip(",")
_add(
    "lineitem_profile",
    lambda spark, sf: relational.lineitem_profile(*_t(spark, sf, "lineitem")),
    f"SELECT {_PROF_COLS} FROM lineitem",
    "A1,A6,profiling",
    "single-pass exact column profiling (count/nulls/min/max/avg)",
)

# ======================================================= enrichment map (S3)
def _enrich_suppliers(spark, sf):
    from ..sources.enrichment import MockCompanyResolver, enrich
    supplier, = _t(spark, sf, "supplier")
    return enrich(
        supplier.select(F.col("s_suppkey").cast("string").alias("key")),
        "key", MockCompanyResolver,
        {"status": "string", "n_officers": "int", "has_charges": "boolean"},
        num_partitions=8)


# the resolver's pseudo-data is md5-derived, so DuckDB can replay it
# exactly: h = first 4 md5 bytes big-endian & 0x7FFFFFFF (hex-digit
# positional parse; >>k == //2^k and &0x7FFFFFFF == %2^31 for
# non-negative h)
_MD5_H32 = (
    "(SELECT sum((strpos('0123456789abcdef', substr(md5({key}), n, 1)) "
    "- 1) * CAST(power(16, 8 - n) AS BIGINT)) FROM range(1, 9) t(n))")

_add(
    "enrich_suppliers_mock",
    _enrich_suppliers,
    f"""
    WITH h AS (
      SELECT CAST(s_suppkey AS VARCHAR) AS key,
             ({_MD5_H32.format(key="CAST(s_suppkey AS VARCHAR)")}
              % 2147483648) AS h
      FROM supplier)
    SELECT key,
           CASE WHEN h % 4 <> 0 THEN 'active' ELSE 'dissolved' END
             AS status,
           CAST((h // 16) % 7 AS INT) AS n_officers,
           ((h // 256) % 3 = 0) AS has_charges
    FROM h
    """,
    "S3,S4,S10",
    "rate-limited mapInPandas enrichment stage (deterministic mock "
    "resolver, md5-replayed by the oracle — value-oracled since r9)",
)


# =========================================== Python data source (S1/S2)
def _rest_source_scan(spark, sf):
    from ..sources import restsource
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    restsource.register(spark)
    return (spark.read.format("companies_api")
            .option("total", "2000").load()
            .filter(F.col("company_status") == "active")   # pushed to source
            .groupBy("sic_code")
            .agg(F.count(F.lit(1)).alias("n_active")))


_add(
    "rest_source_scan",
    _rest_source_scan,
    f"""
    WITH h AS (
      SELECT ({_MD5_H32.format(key="CAST(i AS VARCHAR)")}) AS h
      FROM (SELECT CAST(range AS BIGINT) AS i FROM range(0, 2000))),
    api AS (
      SELECT ['active', 'active', 'active', 'dissolved',
              'liquidation'][CAST(h % 5 AS BIGINT) + 1]
               AS company_status,
             ['41100', '41200', '68100', '62012']
               [CAST((h // 256) % 4 AS BIGINT) + 1] AS sic_code
      FROM h)
    SELECT sic_code, CAST(count(*) AS BIGINT) AS n_active
    FROM api WHERE company_status = 'active'
    GROUP BY sic_code
    """,
    "S1,S2",
    "paginated REST-style Python data source with server-side filter "
    "pushdown (mock API rows are md5-derived, replayed by the oracle "
    "over range(2000) — value-oracled since r9)",
)

# ===================================================== multimodal plumbing
def _multimodal_features(spark, sf):
    from ..operators.multimodal import extract_features
    docs, = _t(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"))
    feats = extract_features(media)
    # the 8-dim feature array projected to scalars for the driver's
    # canonicalizer (arrays are unhashable in its pandas sort)
    return feats.select(
        "media_id", "kind", "n_bytes", "checksum",
        *[F.round(F.col("feature").getItem(i), 4).alias(f"f{i}")
          for i in range(8)])


# the fake backend's features are pure byte statistics of the UTF-8
# payload, so DuckDB replays them from the text column: per-byte
# explode over the hex encoding (two hex digits -> one byte value)
_BYTE_AT = (
    "(strpos('0123456789abcdef', substr(hx, 2 * {p} - 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(hx, 2 * {p}, 1)) - 1)")

_add(
    "multimodal_features_mock",
    _multimodal_features,
    f"""
    WITH b AS (
      SELECT doc_id AS media_id, text, lower(hex(encode(text))) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents),
    bytes AS (
      SELECT media_id, {_BYTE_AT.format(p="p")} AS code
      FROM b, LATERAL (SELECT unnest(range(1, nb + 1)) AS p) t(p)),
    stats AS (
      SELECT media_id, sum(code) % 997 AS f3, max(code) AS f4,
             min(code) AS f5, count(DISTINCT code) AS f6
      FROM bytes GROUP BY media_id)
    SELECT b.media_id, 'text' AS kind, CAST(nb AS BIGINT) AS n_bytes,
           md5(text) AS checksum,
           round(CAST(nb AS DOUBLE), 4) AS f0,
           round(CAST(CASE WHEN nb > 0
                 THEN {_BYTE_AT.format(p="1")} ELSE 0 END AS DOUBLE), 4)
             AS f1,
           round(CAST(CASE WHEN nb > 0
                 THEN {_BYTE_AT.format(p="nb")} ELSE 0 END AS DOUBLE), 4)
             AS f2,
           round(CAST(coalesce(s.f3, 0) AS DOUBLE), 4) AS f3,
           round(CAST(coalesce(s.f4, 0) AS DOUBLE), 4) AS f4,
           round(CAST(coalesce(s.f5, 0) AS DOUBLE), 4) AS f5,
           round(CAST(coalesce(s.f6, 0) AS DOUBLE), 4) AS f6,
           0.0 AS f7
    FROM b LEFT JOIN stats s USING (media_id)
    """,
    "multimodal",
    "binary-column decode/feature-extract via mapInPandas (fake "
    "backend = byte statistics, replayed per-byte by the oracle — "
    "value-oracled since r9)",
)


def _multimodal_features_real(spark, sf):
    """Genuinely decoded bytes end-to-end: synthesize real WAV/PPM/PNG
    payloads executor-side from the documents ids (deterministic), then
    decode with the stdlib backend — no fake anywhere in the path. The
    array feature column is projected to scalars for the driver's
    canonicalizer."""
    from ..operators.multimodal import (
        StdlibDecodeBackend,
        extract_features,
        synthesize_real_media,
    )

    docs, = _t(spark, sf, "documents")
    media = synthesize_real_media(
        docs.select(F.col("doc_id").alias("media_id")))
    feats = extract_features(media, backend=StdlibDecodeBackend())
    return feats.select(
        "media_id", "kind", "n_bytes", "checksum",
        F.round(F.col("feature").getItem(0), 4).alias("f0"),
        F.round(F.col("feature").getItem(5), 4).alias("f5"))


_add(
    "multimodal_features_real",
    _multimodal_features_real,
    # the one query whose values pass through REAL codec bytes — not
    # SQL-replayable, so the oracle is a LANDED expected frame
    # produced by a Spark-free pure-Python path
    # (tools/make_multimodal_fixture.py: same synthesis kernel +
    # stdlib decode, no DataFrame anywhere), joined to the live
    # documents view so it stays scale-free across driver scales
    # (ids 0..4999 cover sf0.1; smaller scales are prefix subsets)
    """
    SELECT f.media_id, f.kind, f.n_bytes, f.checksum, f.f0, f.f5
    FROM read_parquet(
      '/root/repo/tests/fixtures/multimodal_real_expected.parquet') f
    JOIN documents d ON f.media_id = d.doc_id
    """,
    "multimodal",
    "REAL decode end-to-end: executor-synthesized WAV/PPM/PNG/JPEG "
    "bytes decoded by the stdlib backend (wave/zlib/numpy) via "
    "mapInPandas; oracle = landed expected frame from the Spark-free "
    "pure-Python replay (value-oracled since r9)",
)

# ===================================== round-4 corpus-hygiene additions
def _line_dedup_demo(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-first line dedup on driver tables: shared lines are
    injected (a promo line on even docs, a footer on every 5th), so
    exactly one occurrence — the smallest (doc_id, pos) — survives;
    naturally-duplicated full-text lines dedup the same way."""
    docs, = _t(spark, sf, "documents")
    multi = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.when(F.col("doc_id") % 2 == 0, F.lit("SHARED PROMO LINE")),
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("COMMON FOOTER")))
        .alias("text"))
    return curation.dedup_lines_keep_first(multi)


_add(
    "doc_line_dedup",
    _line_dedup_demo,
    """
    WITH multi AS (
      SELECT doc_id,
             concat_ws(chr(10),
               CASE WHEN doc_id % 2 = 0 THEN 'SHARED PROMO LINE' END,
               text,
               CASE WHEN doc_id % 5 = 0 THEN 'COMMON FOOTER' END) AS text
      FROM documents),
    split AS (
      SELECT doc_id, string_split(text, chr(10)) AS ls FROM multi),
    exploded AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ls) + 1),
                                   i -> {'pos': i, 'line': ls[i]}),
                    recursive := true)
      FROM split),
    lines AS (
      SELECT doc_id, line, pos,
             regexp_replace(line, '^\\s+|\\s+$', '', 'g') AS k
      FROM exploded),
    ranked AS (
      SELECT doc_id, line, pos,
             row_number() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn
      FROM lines WHERE k <> ''),
    kept AS (
      SELECT doc_id, pos, line FROM ranked WHERE rn = 1
      UNION ALL
      SELECT doc_id, pos, line FROM lines WHERE k = ''),
    docs AS (
      SELECT doc_id,
             array_to_string(list(line ORDER BY pos), chr(10)) AS text
      FROM kept GROUP BY doc_id)
    SELECT doc_id, text FROM docs
    WHERE NOT regexp_matches(text, '^\\s*$')
    """,
    "dedup,text-analysis",
    "cross-document exact line dedup keeping the first occurrence "
    "(RefinedWeb-style; min-struct aggregate, no frequent-line window "
    "skew)",
)

_add(
    "doc_lm_logprob",
    lambda spark, sf: text_analysis.doc_lm_logprob(
        _t(spark, sf, "documents")[0]),
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest({_TOKS_ALL.format(c='lower(text)')}) AS tok
      FROM documents),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM freq),
    scored AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(avg(ln(f.c / tot.tot)), 4) AS avg_logprob
      FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN tot
      GROUP BY t.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           s.avg_logprob
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
    "text-analysis",
    "per-doc mean log-prob under the corpus unigram LM (cheap quality "
    "ranking signal; both passes shuffle on the token key, "
    "partial-aggregable)",
)

_add(
    "doc_bigram_logprob",
    lambda spark, sf: text_analysis.doc_bigram_logprob(
        _t(spark, sf, "documents")[0]),
    f"""
    WITH lists AS (
      SELECT doc_id, {_TOKS_ALL.format(c='lower(text)')} AS toks
      FROM documents),
    big AS (
      SELECT doc_id,
             unnest(toks[1:len(toks) - 1]) AS w1,
             unnest(toks[2:len(toks)]) AS w2
      FROM lists WHERE len(toks) >= 2),
    uni AS (
      SELECT w, count(*) AS cu FROM (
        SELECT unnest(toks) AS w FROM lists) GROUP BY w),
    tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS tot FROM uni),
    bfreq AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
    scored AS (
      SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(avg(ln(0.75 * f.cb / u1.cu
                          + 0.25 * u2.cu / tot.tot)), 4)
               AS avg_bigram_logprob
      FROM big b
      JOIN bfreq f ON f.w1 = b.w1 AND f.w2 = b.w2
      JOIN uni u1 ON u1.w = b.w1
      JOIN uni u2 ON u2.w = b.w2
      CROSS JOIN tot
      GROUP BY b.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           s.avg_bigram_logprob
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
    "text-analysis",
    "per-doc mean log-prob under a Jelinek-Mercer interpolated BIGRAM "
    "LM (word-order-sensitive quality signal one step up from the "
    "unigram LM): bigram arrays bound below the explode, one persisted "
    "bigram frame feeds count + scoring passes, word-count-shaped "
    "aggregates throughout",
)

_add(
    "corpus_temperature_sample",
    lambda spark, sf: curation.temperature_sample(
        _t(spark, sf, "documents")[0], alpha=0.5)
    .select("doc_id", "lang"),
    f"""
    WITH counts AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    gates AS (
      SELECT lang,
             CAST(round(round(
               pow(CAST((SELECT min(n) FROM counts) AS DOUBLE) / n,
                   0.5), 6) * 1000000) AS BIGINT) AS gate
      FROM counts)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN gates g ON d.lang = g.lang
    WHERE ({_MD5_60.format(x="'temp' || CAST(d.doc_id AS VARCHAR)")}
           % 1000000) < g.gate
    """,
    "pipeline,text-analysis",
    "temperature-scaled language rebalancing (kept ∝ n^alpha, "
    "XLM-R-style): per-stratum keep rates from the corpus's own "
    "counts, deterministic md5 gate",
)


def _packing_demo(spark: SparkSession, sf: str) -> DataFrame:
    docs, = _t(spark, sf, "documents")
    chunks = curation.chunk_documents(docs, chunk_tokens=16, overlap=4)
    return curation.pack_chunks(chunks, docs, budget=64, n_shards=4)


_add(
    "training_shard_packing",
    _packing_demo,
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_ALL.format(c='text')} AS tk FROM documents),
    s AS (
      SELECT doc_id, tk,
             list_filter(range(1, greatest(len(tk), 1) + 1, 12),
                         s -> s = 1 OR s + 4 <= len(tk)) AS starts
      FROM t),
    e AS (
      SELECT doc_id, tk,
             unnest(list_transform(range(1, len(starts) + 1),
                    i -> {{'chunk_id': i - 1, 'start': starts[i]}}),
                    recursive := true)
      FROM s),
    c AS (
      SELECT doc_id, chunk_id,
             CAST(len(tk[start : start + 15]) AS BIGINT) AS n_tokens
      FROM e),
    j AS (
      SELECT c.doc_id, c.chunk_id, c.n_tokens, d.lang,
             ({_MD5_60.format(x="'pack' || CAST(c.doc_id AS VARCHAR)")}
              % 4) AS shard
      FROM c JOIN documents d ON c.doc_id = d.doc_id),
    p AS (
      SELECT lang, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang, shard
                                 ORDER BY doc_id, chunk_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM j)
    SELECT lang, shard,
           CAST(floor((cum - n_tokens) / 64.0) AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           round(sum(n_tokens) / 64.0, 4) AS fill_frac
    FROM p GROUP BY lang, shard, bin_id
    """,
    "pipeline,text-analysis",
    "GPT-style sequence packing into fixed-token training bins "
    "(contiguous concat per (lang, md5-shard); running-sum window, "
    "shard-parallel, no global sort)",
)


def _kmeans_demo(spark: SparkSession, sf: str) -> DataFrame:
    emb, = _t(spark, sf, "embeddings")
    cents, _ = similarity_search.kmeans_fit(emb, k=8, n_iter=5)
    return similarity_search.kmeans_assign(emb, cents)


def _kmeans_cte_sql(k: int, n_iter: int, dim: int,
                    normalize: bool, suffix: str = "",
                    vec_sql: str = "CAST(embedding AS DOUBLE[])",
                    leading_with: bool = True,
                    pts_sql: str | None = None) -> str:
    """Lloyd's k-means UNROLLED as a DuckDB CTE chain — the fixed
    iteration count and the deterministic md5 init make the
    "iterative" operator SQL-expressible after all, so both k-means
    queries get a hard value oracle instead of rows-only status.
    Ends with ``cN{suffix}`` (c, v): the final codebook, and
    ``assign{suffix}`` (vec_id, c): the corpus assignment under it.
    Mirrors kmeans_fit / kmeans_assign exactly: expanded-form squared
    L2, lowest cluster index on ties, emptied clusters keep their
    previous centroid, spherical variant re-normalizes centroids after
    every mean update. ``suffix`` + ``vec_sql`` let the PQ oracle
    instantiate one independent chain per subspace (vec_sql = a slice
    of the embedding) inside a single WITH."""
    s = suffix
    d2 = ("list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.v)"
          " + list_dot_product(c.v, c.v)")
    if pts_sql is not None:
        # MATERIALIZED: a pts CTE fed by an upstream chain (the IVFADC
        # residuals) would otherwise re-inline that chain into every
        # Lloyd iteration's reference — measured 120 s -> seconds
        pts = f"""
    pts{s} AS MATERIALIZED ({pts_sql})"""
    elif normalize:
        pts = f"""
    pts{s} AS (
      SELECT vec_id,
             CASE WHEN nrm = 0 THEN dv
                  ELSE list_transform(dv, x -> x / nrm) END AS v
      FROM (SELECT vec_id, {vec_sql} AS dv,
                   sqrt(list_dot_product({vec_sql},
                                         {vec_sql}))
                     AS nrm
            FROM embeddings))"""
    else:
        pts = f"""
    pts{s} AS (
      SELECT vec_id, {vec_sql} AS v FROM embeddings)"""
    lead = "WITH" if leading_with else ""
    parts = [f"""{lead}{pts},
    hh{s} AS (
      SELECT vec_id, v,
             {_MD5_60.format(x='CAST(vec_id AS VARCHAR)')} AS h
      FROM pts{s}),
    c0{s} AS (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER)
               AS c, v
      FROM hh{s} QUALIFY row_number() OVER (ORDER BY h, vec_id) <= {k})"""]
    for i in range(1, n_iter + 1):
        upd = "coalesce(m.v, p.v)"
        if normalize:
            upd = f"""CASE WHEN sqrt(list_dot_product({upd}, {upd})) = 0
                       THEN {upd}
                       ELSE list_transform({upd}, x ->
                              x / sqrt(list_dot_product({upd}, {upd})))
                  END"""
        parts.append(f"""
    a{i}{s} AS (
      SELECT vec_id, v, c FROM (
        SELECT p.vec_id, p.v, c.c,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {d2}, c.c) AS rn
        FROM pts{s} p CROSS JOIN c{i - 1}{s} c) WHERE rn = 1),
    m{i}{s} AS (
      SELECT c, j, avg(x) AS cx
      FROM (SELECT c, unnest(v) AS x,
                   unnest(range(1, {dim + 1})) AS j FROM a{i}{s})
      GROUP BY c, j),
    mm{i}{s} AS (SELECT c, list(cx ORDER BY j) AS v FROM m{i}{s} GROUP BY c),
    c{i}{s} AS (
      SELECT p.c, {upd} AS v
      FROM c{i - 1}{s} p LEFT JOIN mm{i}{s} m ON p.c = m.c)""")
    parts.append(f"""
    assign{s} AS (
      SELECT vec_id, c FROM (
        SELECT p.vec_id, c.c,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {d2}, c.c) AS rn
        FROM pts{s} p CROSS JOIN c{n_iter}{s} c) WHERE rn = 1)""")
    return ",".join(parts)


_add(
    "embedding_kmeans_clusters",
    _kmeans_demo,
    _kmeans_cte_sql(k=8, n_iter=5, dim=64, normalize=False) + """
    SELECT vec_id, CAST(c AS INTEGER) AS cluster_id FROM assign
    """,
    "similarity-search,dedup",
    "distributed Lloyd's k-means: trains the IVF coarse quantizer "
    "(assignment is a shuffle-free argmin projection; re-centering a "
    "partial-aggregable (cluster, dim) avg; only the k x dim codebook "
    "touches the driver); oracle = the 5 Lloyd rounds unrolled in SQL",
)


def _ann_ivf_kmeans_demo(spark: SparkSession, sf: str) -> DataFrame:
    emb, = _t(spark, sf, "embeddings")
    queries = emb.filter(emb.vec_id < 5)
    return similarity_search.ivf_topk_kmeans(
        queries, emb, k=5, n_clusters=8, n_iter=5, nprobe=2)


_add(
    "ann_ivf_kmeans",
    _ann_ivf_kmeans_demo,
    _kmeans_cte_sql(k=8, n_iter=5, dim=64, normalize=True) + f""",
    cents AS (SELECT c AS label, v AS centroid FROM c5),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
          FROM embeddings WHERE vec_id < 5),
    labeled AS (
      SELECT e.vec_id AS neighbor_id,
             CAST(e.embedding AS DOUBLE[]) AS c_emb, a.c AS label
      FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id),
    probes AS (
      SELECT query_id, q_emb, label FROM (
        SELECT q.query_id, q.q_emb, c.label,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_COS.format(a='q.q_emb',
                                             b='c.centroid')}, 4)
                          DESC, c.label) AS pr
        FROM q CROSS JOIN cents c) WHERE pr <= 2),
    pairs AS (
      SELECT p.query_id, e.neighbor_id,
             {_COS.format(a='p.q_emb', b='e.c_emb')} AS sim
      FROM probes p JOIN labeled e
        ON e.label = p.label AND e.neighbor_id <> p.query_id)
    SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank,
           round(sim, 4) AS cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM pairs) WHERE rn <= 5
    """,
    "similarity-search",
    "IVF ANN over the LEARNED k-means codebook (multi-probe): the "
    "production path when no precomputed label exists; oracle = "
    "unrolled spherical k-means + the multiprobe probe/search tail",
)


def _ann_pq_demo(spark: SparkSession, sf: str) -> DataFrame:
    emb, = _t(spark, sf, "embeddings")
    queries = emb.filter(emb.vec_id < 5)
    return similarity_search.ann_pq_topk(queries, emb, k=5,
                                         m=4, ks=8, n_iter=3)


def _pq_oracle(m: int, ks: int, n_iter: int, dim: int, k: int,
               shortlist: int | None = None) -> str:
    """DuckDB twin of ann_pq_topk / ann_pq_rerank: per subspace an
    independent unrolled Lloyd's chain over the sliced subvectors,
    codebook rounded to 9dp (the pq_fit cross-engine contract), codes
    by expanded-form argmin under the ROUNDED codebook, per-query
    m x ks distance tables rounded to 6dp, adist summed in fixed
    subspace order, top-k by (adist, neighbor_id). With ``shortlist``
    set, the ADC top-``shortlist`` per query re-ranks by exact cosine
    (the refine stage) to the final top-k."""
    sub = dim // m
    d2 = ("list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.v)"
          " + list_dot_product(c.v, c.v)")
    parts = []
    for j in range(m):
        vec = f"CAST(embedding AS DOUBLE[])[{j * sub + 1}:{(j + 1) * sub}]"
        parts.append(_kmeans_cte_sql(
            ks, n_iter, sub, normalize=False, suffix=f"_s{j}",
            vec_sql=vec, leading_with=(j == 0)))
        parts.append(f"""
    cb_s{j} AS (
      SELECT c, list_transform(v, x -> round(x, 9)) AS v
      FROM c{n_iter}_s{j}),
    code_s{j} AS (
      SELECT vec_id, c AS code FROM (
        SELECT p.vec_id, c.c,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {d2}, c.c) AS rn
        FROM pts_s{j} p CROSS JOIN cb_s{j} c) WHERE rn = 1)""")
    qsub = {j: f"q.q_emb[{j * sub + 1}:{(j + 1) * sub}]" for j in range(m)}
    for j in range(m):
        parts.append(f"""
    t_s{j} AS (
      SELECT q.query_id, c.c,
             round(list_dot_product({qsub[j]}, {qsub[j]})
                   - 2 * list_dot_product({qsub[j]}, c.v)
                   + list_dot_product(c.v, c.v), 6) AS tv
      FROM q CROSS JOIN cb_s{j} c)""")
    code_joins = "\n      ".join(
        f"JOIN code_s{j} c{j} ON c{j}.vec_id = c0.vec_id" for j in range(1, m))
    table_joins = "\n      ".join(
        f"JOIN t_s{j} t{j} ON t{j}.query_id = q.query_id"
        f" AND t{j}.c = c{j}.code" for j in range(m))
    adist = " + ".join(f"t{j}.tv" for j in range(m))
    q_cte = """
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
          FROM embeddings WHERE vec_id < 5)"""
    parts.insert(1, q_cte)
    body = ",".join(parts) + f""",
    pairs AS (
      SELECT q.query_id, c0.vec_id AS neighbor_id, {adist} AS adist
      FROM q JOIN code_s0 c0 ON c0.vec_id <> q.query_id
      {code_joins}
      {table_joins})"""
    if shortlist is None:
        return body + f"""
    SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank,
           round(adist, 4) AS adist FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist, neighbor_id) AS rn
      FROM pairs) WHERE rn <= {k}
    """
    return body + f""",
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS sr
        FROM pairs) WHERE sr <= {shortlist}),
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             {_COS.format(a='q.q_emb', b='CAST(e.embedding AS DOUBLE[])')}
               AS sim
      FROM short s
      JOIN embeddings e ON e.vec_id = s.neighbor_id
      JOIN q ON q.query_id = s.query_id)
    SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank,
           round(sim, 4) AS cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM rer) WHERE rn <= {k}
    """


_add(
    "ann_pq_topk",
    _ann_pq_demo,
    _pq_oracle(m=4, ks=8, n_iter=3, dim=64, k=5),
    "similarity-search",
    "product-quantization ANN (Jegou et al. 2011 ADC): per-subspace "
    "Lloyd codebooks, corpus compressed to m codes (the 100 TB memory "
    "lever — m*log2(ks) bits vs dim floats), per-query distance "
    "tables as broadcast expressions, fixed-order table-lookup fold, "
    "window top-k; oracle = m unrolled Lloyd chains + the ADC tail",
)


_add(
    "ann_hard_negatives",
    lambda spark, sf: similarity_search.hard_negatives(
        read_table(spark, sf, "embeddings").filter("vec_id < 5"),
        read_table(spark, sf, "embeddings"), k=5, lo=0.3, hi=0.8),
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < 5),
    pairs AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({_COS.format(a='q.q_emb', b='e.embedding')}, 4) AS sim
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank,
           sim AS cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM pairs WHERE sim >= 0.3 AND sim < 0.8) WHERE rn <= 5
    """,
    "similarity-search",
    "hard-negative mining for contrastive training: top-k most "
    "similar vectors per anchor within a cosine band [lo, hi) — "
    "informative negatives below the near-dup zone; band filter on "
    "the rounded similarity, broadcast anchors, window top-k",
)


def _ann_pq_rerank_demo(spark: SparkSession, sf: str) -> DataFrame:
    emb, = _t(spark, sf, "embeddings")
    queries = emb.filter(emb.vec_id < 5)
    return similarity_search.ann_pq_rerank(queries, emb, k=5,
                                           m=4, ks=8, n_iter=3,
                                           shortlist=25)


_add(
    "ann_pq_rerank",
    _ann_pq_rerank_demo,
    _pq_oracle(m=4, ks=8, n_iter=3, dim=64, k=5, shortlist=25),
    "similarity-search",
    "two-stage PQ ANN (faiss ADC + refine): the compressed scan "
    "shortlists candidates by approximate distance, then ONLY those "
    "rows fetch raw floats (narrow neighbor_id equi-join) for the "
    "exact-cosine re-rank — the production recall/memory trade",
)


def _ann_ivfpq_demo(spark: SparkSession, sf: str) -> DataFrame:
    emb, = _t(spark, sf, "embeddings")
    queries = emb.filter(emb.vec_id < 5)
    return similarity_search.ann_ivfpq_topk(queries, emb, k=5, n_cells=8,
                                            m=4, ks=8, n_iter=3, nprobe=2)


def _ivfpq_pairs_sql(n_cells: int, m: int, ks: int, n_iter: int,
                     dim: int, nprobe: int, q_sql: str | None = None,
                     leading_with: bool = True) -> str:
    """The IVFADC CTE chain shared by the ann_ivfpq and indexed-hybrid
    oracles: unrolled coarse Lloyd's chain (suffix _c), coarse
    codebook rounded to 9dp, cell assignment under the ROUNDED
    codebook, 9dp-rounded residuals, one unrolled residual sub-chain
    per subspace, residual codes under the rounded sub-codebooks,
    probe ranking by 6dp-rounded L2, per-(query, cell) ADC tables
    rounded to 6dp, fixed-order adist fold over probed cells only —
    ending at the ``pairs`` CTE (query_id, neighbor_id, adist).
    ``q_sql`` overrides the query-source CTE body (default: the ANN
    demo's vec_id < 5 self-query); ``leading_with=False`` splices the
    chain into a caller's existing WITH."""
    sub = dim // m
    d2 = ("list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.v)"
          " + list_dot_product(c.v, c.v)")
    parts = [_kmeans_cte_sql(n_cells, n_iter, dim, normalize=False,
                             suffix="_c", leading_with=leading_with)]
    parts.append(f"""
    cbc AS MATERIALIZED (
      SELECT c, list_transform(v, x -> round(x, 9)) AS v
      FROM c{n_iter}_c),
    assignc AS MATERIALIZED (
      SELECT vec_id, c AS cell FROM (
        SELECT p.vec_id, c.c,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {d2}, c.c) AS rn
        FROM pts_c p CROSS JOIN cbc c) WHERE rn = 1),
    resid AS MATERIALIZED (
      SELECT p.vec_id, a.cell,
             list_transform(range(1, {dim + 1}), i ->
               round(p.v[CAST(i AS INTEGER)]
                     - cb.v[CAST(i AS INTEGER)], 9)) AS v
      FROM pts_c p
      JOIN assignc a ON a.vec_id = p.vec_id
      JOIN cbc cb ON cb.c = a.cell)""")
    for j in range(m):
        parts.append(_kmeans_cte_sql(
            ks, n_iter, sub, normalize=False, suffix=f"_s{j}",
            leading_with=False,
            pts_sql=(f"SELECT vec_id, v[{j * sub + 1}:{(j + 1) * sub}] AS v"
                     f" FROM resid")))
        parts.append(f"""
    cb_s{j} AS (
      SELECT c, list_transform(v, x -> round(x, 9)) AS v
      FROM c{n_iter}_s{j}),
    code_s{j} AS (
      SELECT vec_id, c AS code FROM (
        SELECT p.vec_id, c.c,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {d2}, c.c) AS rn
        FROM pts_s{j} p CROSS JOIN cb_s{j} c) WHERE rn = 1)""")
    if q_sql is None:
        q_sql = ("SELECT vec_id AS query_id, CAST(embedding AS "
                 "DOUBLE[]) AS q_emb\n          FROM embeddings "
                 "WHERE vec_id < 5")
    parts.append(f"""
    q AS ({q_sql})""")
    l2q = ("list_sum(list_transform(range(1, %d), i -> "
           "pow(q.q_emb[CAST(i AS INTEGER)]"
           " - cb.v[CAST(i AS INTEGER)], 2)))" % (dim + 1))
    parts.append(f"""
    probes AS (
      SELECT query_id, q_emb, cell, qr FROM (
        SELECT q.query_id, q.q_emb, cb.c AS cell,
               list_transform(range(1, {dim + 1}), i ->
                 q.q_emb[CAST(i AS INTEGER)]
                 - cb.v[CAST(i AS INTEGER)]) AS qr,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY round({l2q}, 6), cb.c) AS pr
        FROM q CROSS JOIN cbc cb) WHERE pr <= {nprobe})""")
    for j in range(m):
        qs = f"p.qr[{j * sub + 1}:{(j + 1) * sub}]"
        parts.append(f"""
    t_s{j} AS (
      SELECT p.query_id, p.cell, c.c,
             round(list_dot_product({qs}, {qs})
                   - 2 * list_dot_product({qs}, c.v)
                   + list_dot_product(c.v, c.v), 6) AS tv
      FROM probes p CROSS JOIN cb_s{j} c)""")
    code_joins = "\n      ".join(
        f"JOIN code_s{j} c{j} ON c{j}.vec_id = a.vec_id"
        for j in range(m))
    table_joins = "\n      ".join(
        f"JOIN t_s{j} t{j} ON t{j}.query_id = p.query_id"
        f" AND t{j}.cell = p.cell AND t{j}.c = c{j}.code"
        for j in range(m))
    adist = " + ".join(f"t{j}.tv" for j in range(m))
    return ",".join(parts) + f""",
    pairs AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, {adist} AS adist
      FROM probes p
      JOIN assignc a ON a.cell = p.cell AND a.vec_id <> p.query_id
      {code_joins}
      {table_joins})"""


def _ivfpq_oracle(n_cells: int, m: int, ks: int, n_iter: int, dim: int,
                  k: int, nprobe: int) -> str:
    """DuckDB twin of ann_ivfpq_topk: the shared IVFADC chain
    (``_ivfpq_pairs_sql``) plus the per-query top-k tail."""
    return _ivfpq_pairs_sql(n_cells, m, ks, n_iter, dim, nprobe) + f"""
    SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank,
           round(adist, 4) AS adist FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adist, neighbor_id) AS rn
      FROM pairs) WHERE rn <= {k}
    """


_add(
    "ann_ivfpq_topk",
    _ann_ivfpq_demo,
    _ivfpq_oracle(n_cells=8, m=4, ks=8, n_iter=3, dim=64, k=5, nprobe=2),
    "similarity-search",
    "full IVFADC (Jegou et al. 2011 SIV; faiss IVF8,PQ4): coarse "
    "quantizer prunes to nprobe inverted lists (cell equi-join = "
    "file pruning at scale), residual product quantizer compresses "
    "what remains, per-(query, probed cell) ADC tables as broadcast "
    "expressions; oracle = coarse + m residual Lloyd chains + the "
    "probed ADC tail",
)


_add(
    "doc_cross_dup_spans",
    lambda spark, sf: text_analysis.cross_doc_span_signals(
        _t(spark, sf, "documents")[0], window=8),
    f"""
    WITH toks AS (
      SELECT doc_id,
             {_TOKS_ALL.format(c='lower(text)')} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(tk) < 8
                         THEN [array_to_string(tk, ' ')]
                         ELSE list_transform(range(1, len(tk) - 6),
                                i -> array_to_string(tk[i:i+7], ' '))
                    END) AS w
      FROM toks),
    h AS (SELECT doc_id, {_MD5_60.format(x='w')} AS hh FROM sh),
    docfreq AS (
      SELECT hh, count(DISTINCT doc_id) AS df FROM h GROUP BY hh)
    SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
           round(avg(CASE WHEN d.df >= 2 THEN 1.0 ELSE 0.0 END), 4)
             AS cross_dup_frac
    FROM h JOIN docfreq d ON h.hh = d.hh
    GROUP BY h.doc_id
    """,
    "dedup,text-analysis",
    "cross-document duplicated-span coverage per doc (window-level "
    "stand-in for exact substring dedup; hash-keyed shuffles only)",
)


_add(
    "top_terms_two_pass",
    lambda spark, sf: text_analysis.top_terms_heavy_hitters(
        _t(spark, sf, "documents")[0], k=5),
    # identical oracle to top_terms_per_lang: the two-pass operator is
    # EXACT (certificate + fallback), only its shuffle shape differs
    f"""
    WITH terms AS (
      SELECT lang, unnest({_TOKS_ALL.format(c='lower(text)')}) AS term
      FROM documents),
    counts AS (
      SELECT lang, term, CAST(count(*) AS BIGINT) AS n
      FROM terms GROUP BY lang, term),
    ranked AS (
      SELECT lang, term, n,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY n DESC, term) AS INTEGER)
               AS rank
      FROM counts)
    SELECT lang, term, n, rank FROM ranked WHERE rank <= 5
    """,
    "A10,S7,text-analysis",
    "per-language top-k terms via distributed Misra-Gries candidates + "
    "exact recount + exactness certificate (no full-vocabulary "
    "shuffle; certificate failure falls back to the exact aggregate)",
)


def _text_normalize_demo(spark: SparkSession, sf: str) -> DataFrame:
    """Normalization on driver tables: deterministic mess is injected —
    a decomposed accent (e + U+0301), a BEL control char, a tab and a
    double space — then normalized away. n_chars proves composition
    actually happened (é is ONE char after NFC)."""
    from ..functions.text import normalize_text_for_training

    docs, = _t(spark, sf, "documents")
    dirty = docs.select(
        "doc_id",
        F.concat(F.lit("  cafe\u0301 \u0007menu\t"), F.col("text"),
                 F.lit("  tail  ")).alias("text"))
    return dirty.select(
        "doc_id",
        normalize_text_for_training(F.col("text")).alias("text")
    ).withColumn("n_chars", F.length("text").cast("long"))


_add(
    "doc_text_normalized",
    _text_normalize_demo,
    """
    WITH dirty AS (
      SELECT doc_id,
             '  cafe' || chr(769) || ' ' || chr(7) || 'menu' || chr(9)
               || text || '  tail  ' AS text
      FROM documents)
    SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
    FROM (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(nfc_normalize(text),
                     '[\\x00-\\x09\\x0B-\\x1F\\x7F\\x{0080}-\\x{009F}]', ' ',
                     'g'),
                   ' {2,}', ' ', 'g'),
                 ' ?\\n ?', chr(10), 'g'),
               '^\\s+|\\s+$', '', 'g') AS text
      FROM dirty)
    """,
    "C2,C3,text-analysis,pipeline",
    "pre-training text normalization: NFC compose (Arrow pandas UDF — "
    "the one legitimately-Python stage) + control-char strip + "
    "whitespace collapse, all remaining stages JVM regexp_replace",
)


# ==================================== round-5 exact-substring-dedup pair
_DUP_SPANS_SQL = f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_ALL.format(c='lower(text)')} AS tk
      FROM documents),
    sh AS (
      SELECT doc_id, len(tk) AS n,
             unnest(CASE WHEN len(tk) < 8
                         THEN [{{'ws': 1, 'w': array_to_string(tk, ' ')}}]
                         ELSE list_transform(range(1, len(tk) - 6),
                                i -> {{'ws': i,
                                       'w': array_to_string(tk[i:i+7], ' ')}})
                    END, recursive := true)
      FROM toks WHERE len(tk) > 0),
    h AS (SELECT doc_id, n, ws, {_MD5_60.format(x='w')} AS hh FROM sh),
    occ AS (
      SELECT hh, min(struct_pack(d := doc_id, p := ws)) AS f
      FROM h GROUP BY hh HAVING count(DISTINCT doc_id) >= 2),
    fl AS (
      SELECT h.doc_id, h.ws, least(h.ws + 7, h.n) AS we
      FROM h JOIN occ ON h.hh = occ.hh
      WHERE NOT (h.doc_id = occ.f.d AND h.ws = occ.f.p)),
    isl AS (
      SELECT doc_id, ws, we,
             CASE WHEN lag(we) OVER (PARTITION BY doc_id ORDER BY ws)
                    IS NULL
                  OR ws > lag(we) OVER (PARTITION BY doc_id
                                        ORDER BY ws) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM fl),
    spans AS (
      SELECT doc_id,
             CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY ws
                                 ROWS UNBOUNDED PRECEDING) AS INTEGER)
               AS span_id,
             ws, we
      FROM isl),
    merged AS (
      SELECT doc_id, span_id,
             CAST(min(ws) AS BIGINT) AS start_tok,
             CAST(max(we) AS BIGINT) AS end_tok,
             CAST(count(*) AS BIGINT) AS n_windows,
             CAST(max(we) - min(ws) + 1 AS BIGINT) AS n_tokens
      FROM spans GROUP BY doc_id, span_id)
"""

_add(
    "doc_dup_spans",
    lambda spark, sf: text_analysis.duplicated_spans(
        _t(spark, sf, "documents")[0], window=8),
    _DUP_SPANS_SQL + "SELECT * FROM merged",
    "dedup,text-analysis",
    "maximal cross-document duplicated token spans (Lee et al.-style "
    "exact substring dedup, emission half): keep-first per window "
    "hash, gaps-and-islands merge per doc",
)

_add(
    "doc_span_removal",
    lambda spark, sf: text_analysis.remove_duplicated_spans(
        _t(spark, sf, "documents")[0].select("doc_id", "text"), window=8)
    .select("doc_id", "text", "n_tokens_removed"),
    _DUP_SPANS_SQL + f"""
    , spansagg AS (
      SELECT doc_id,
             list(struct_pack(s := start_tok, e := end_tok)) AS sps
      FROM merged GROUP BY doc_id),
    otoks AS (
      SELECT doc_id, {_TOKS_ALL.format(c='text')} AS tk FROM documents),
    rem AS (
      SELECT o.doc_id,
             list_transform(
               list_filter(range(1, len(o.tk) + 1),
                           i -> len(list_filter(coalesce(a.sps, []),
                                    s -> i >= s.s AND i <= s.e)) = 0),
               i -> o.tk[i]) AS kept,
             len(o.tk) AS n
      FROM otoks o LEFT JOIN spansagg a USING (doc_id))
    SELECT doc_id, array_to_string(kept, ' ') AS text,
           CAST(n - len(kept) AS BIGINT) AS n_tokens_removed
    FROM rem WHERE len(kept) > 0
    """,
    "dedup,text-analysis,pipeline",
    "exact substring dedup, removal half: cut every non-first "
    "duplicated span; unique content survives even in docs a "
    "doc-level dedup would drop whole",
)


# =============================== round-5 one-plan training-corpus pipeline
def _training_pipeline_demo(spark: SparkSession, sf: str) -> DataFrame:
    """The facade chain users actually run, in ONE plan: Gopher filter
    -> PII redact -> keep-first line dedup -> blocked near-dup pairs ->
    connected components -> cluster dedup -> leakage-safe split (keyed
    per dup cluster, computed once) -> 32-token chunking -> 128-token
    sequence packing. Output: per (split, lang, shard, bin) chunk/token
    counts — small enough to value-check, yet forcing every stage to
    execute."""
    docs, = _t(spark, sf, "documents")
    out = corpus_pipeline.prepare_training_corpus(
        docs, threshold=0.5, redact=True, line_dedup=True,
        chunk_tokens=32, overlap=8, val_frac=0.1, pack_budget=128)
    # out["chunks"] is the fused single-pass frame with the split
    # column already on it — identical rows to
    # union(train+'train', val+'val') (train/val ARE its two split
    # filters), at ONE execution of the pipeline subtree instead of
    # one per side (r10; oracle unchanged, re-certified)
    return (out["chunks"].groupBy("split", "lang", "shard", "bin_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"),
                 F.sum("n_tokens").cast("long").alias("bin_tokens")))


_add(
    "training_corpus_pipeline",
    _training_pipeline_demo,
    f"""
    WITH RECURSIVE
    {_GOPHER_CTES},
    passing AS (SELECT doc_id FROM m WHERE {_GOPHER_PASS}),
    red AS (
      SELECT d.doc_id, d.lang, d.n_chars,
             regexp_replace(
               regexp_replace(d.text, '{curation.EMAIL_RE}',
                              '<EMAIL>', 'g'),
               '{curation.PHONE_RE}', '<PHONE>', 'g') AS text
      FROM documents d
      WHERE d.doc_id IN (SELECT doc_id FROM passing)),
    lsplit AS (
      SELECT doc_id, string_split(text, chr(10)) AS ls FROM red),
    lexp AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ls) + 1),
                                   i -> {{'pos': i, 'line': ls[i]}}),
                    recursive := true)
      FROM lsplit),
    llines AS (
      SELECT doc_id, line, pos,
             regexp_replace(line, '^\\s+|\\s+$', '', 'g') AS k
      FROM lexp),
    lranked AS (
      SELECT doc_id, line, pos,
             row_number() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn
      FROM llines WHERE k <> ''),
    lkept AS (
      SELECT doc_id, pos, line FROM lranked WHERE rn = 1
      UNION ALL
      SELECT doc_id, pos, line FROM llines WHERE k = ''),
    ldocs AS (
      SELECT doc_id,
             array_to_string(list(line ORDER BY pos), chr(10)) AS text
      FROM lkept GROUP BY doc_id),
    kept AS (
      SELECT r.doc_id, r.lang, r.n_chars, l.text
      FROM red r JOIN ldocs l ON r.doc_id = l.doc_id
      WHERE NOT regexp_matches(l.text, '^\\s*$')),
    d AS (
      SELECT doc_id, lang, CAST(n_chars // 100 AS INTEGER) AS band,
             {_TOKS.format(c='lower(text)')} AS toks
      FROM kept),
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round({_jaccard('a.toks', 'b.toks')}, 4) AS jaccard
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id)
      WHERE jaccard >= 0.5),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT a AS node, a AS r FROM edges
      UNION
      SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a),
    clus AS (
      SELECT node AS doc_id, min(r) AS cluster_id FROM reach
      GROUP BY node),
    -- survivors are canonical (cluster_id = doc_id) or unpaired, so
    -- the split key coalesce(cluster_id, doc_id) is always doc_id here
    labeled AS (
      SELECT k.doc_id, k.lang, k.text,
             CASE WHEN ({_MD5_60.format(
                 x="'split' || CAST(k.doc_id AS VARCHAR)")}
                        % 1000000) < 100000
                  THEN 'val' ELSE 'train' END AS split
      FROM kept k LEFT JOIN clus c ON k.doc_id = c.doc_id
      WHERE c.cluster_id IS NULL OR c.cluster_id = k.doc_id),
    ctoks AS (
      SELECT doc_id, lang, split, {_TOKS_ALL.format(c='text')} AS tk
      FROM labeled),
    cstarts AS (
      SELECT doc_id, lang, split, tk,
             list_filter(range(1, greatest(len(tk), 1) + 1, 24),
                         s -> s = 1 OR s + 8 <= len(tk)) AS st
      FROM ctoks),
    cexp AS (
      SELECT doc_id, lang, split, tk,
             unnest(list_transform(range(1, len(st) + 1),
                    i -> {{'chunk_id': i - 1, 'start': st[i]}}),
                    recursive := true)
      FROM cstarts),
    cn AS (
      SELECT doc_id, lang, split, chunk_id,
             CAST(len(tk[start : start + 31]) AS BIGINT) AS n_tokens,
             ({_MD5_60.format(x="'pack' || CAST(doc_id AS VARCHAR)")}
              % 4) AS shard
      FROM cexp),
    p AS (
      SELECT split, lang, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY split, lang, shard
                                 ORDER BY doc_id, chunk_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM cn)
    SELECT split, lang, shard,
           CAST(floor((cum - n_tokens) / 128.0) AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM p GROUP BY split, lang, shard, bin_id
    """,
    "pipeline,dedup,text-analysis",
    "the one-call training-corpus pipeline as ONE plan (filter -> "
    "redact -> line dedup -> near-dup CC dedup -> cluster-keyed "
    "split -> chunk -> pack), value-checked end to end",
)

# ======================================================== semantic dedup
_add(
    "dedup_semantic",
    lambda spark, sf: dedup.semantic_dedup(
        *_t(spark, sf, "embeddings"), threshold=0.35)
    .select("vec_id", "label"),
    f"""
    WITH RECURSIVE
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round({_COS.format(a='a.embedding', b='b.embedding')}, 4)
            >= 0.35),
    edges AS (SELECT va AS a, vb AS b FROM pairs
              UNION SELECT vb, va FROM pairs),
    reach AS (
      SELECT a AS node, a AS r FROM edges
      UNION
      SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a),
    comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
    cent AS (
      SELECT label, list(m ORDER BY i) AS centroid FROM (
        SELECT label, t.i AS i, avg(embedding[t.i]) AS m
        FROM embeddings,
             LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t
        GROUP BY label, t.i)
      GROUP BY label),
    ranked AS (
      SELECT c.node AS vec_id,
             row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY round({_COS.format(a='e.embedding',
                                           b='cent.centroid')}, 6) ASC,
                        c.node ASC) AS rn
      FROM comp c JOIN embeddings e ON e.vec_id = c.node
                  JOIN cent ON cent.label = e.label)
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT vec_id FROM ranked WHERE rn > 1)
    """,
    "dedup",
    "SemDeDup: cosine near-dup components within coarse clusters, "
    "keep the least-centroid-similar exemplar per component "
    "(label-blocked pairs + CC + codebook-sized centroid aggregates)",
)

# ============================================== DSIR importance weights
_add(
    "doc_dsir_weights",
    lambda spark, sf: text_analysis.dsir_importance_weights(
        _t(spark, sf, "documents")[0], F.col("lang") == "en"),
    f"""
    WITH toks AS (
      SELECT doc_id, is_t, ({_MD5_60.format(x='tok')}) % 65536 AS b
      FROM (SELECT doc_id, (lang = 'en') AS is_t,
                   unnest({_TOKS_ALL.format(c='lower(text)')}) AS tok
            FROM documents)),
    raw AS (SELECT b, count(*) AS cr FROM toks GROUP BY b),
    tgt AS (SELECT b, count(*) AS ct FROM toks WHERE is_t GROUP BY b),
    tot AS (SELECT CAST((SELECT sum(cr) FROM raw) AS DOUBLE) AS nr,
                   CAST(coalesce((SELECT sum(ct) FROM tgt), 0)
                        AS DOUBLE) AS nt),
    rates AS (
      SELECT raw.b,
             ln((coalesce(tgt.ct, 0) + 1.0) / (tot.nt + 65536.0))
           - ln((raw.cr + 1.0) / (tot.nr + 65536.0)) AS lr
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot),
    scored AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(avg(r.lr), 4) AS dsir_logratio
      FROM toks t JOIN rates r ON t.b = r.b GROUP BY t.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           s.dsir_logratio
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
    "text-analysis,pipeline",
    "DSIR-style importance weights: per-doc mean log-ratio of hashed-"
    "unigram likelihood under the target slice vs the raw corpus "
    "(B-bounded counters, broadcast rate table, one tokenize scan)",
)


# ========================================================= UniMax sampling
_add(
    "corpus_unimax_sample",
    lambda spark, sf: curation.unimax_sample(
        _t(spark, sf, "documents")[0], budget_frac=0.3)
    .select("doc_id", "lang"),
    f"""
    WITH counts AS (
      SELECT coalesce(CAST(lang AS VARCHAR), chr(1) || '<null>') AS s,
             CAST(sum(len({_TOKS_ALL.format(c='text')})) AS BIGINT) AS n
      FROM documents GROUP BY 1),
    ranked AS (
      SELECT s, n,
             row_number() OVER (ORDER BY n ASC, s ASC) AS i,
             sum(n) OVER (ORDER BY n ASC, s ASC) AS csum,
             (SELECT CAST(sum(n) AS DOUBLE) FROM counts) AS tot,
             (SELECT count(*) FROM counts) AS L
      FROM counts),
    shares AS (
      SELECT s, n,
             (tot * 0.3 - CAST(csum - n AS DOUBLE))
               / CAST(L - i + 1 AS DOUBLE) AS share, i
      FROM ranked),
    theta AS (
      SELECT coalesce(
               (SELECT arg_min(share, i) FROM shares
                WHERE CAST(n AS DOUBLE) > share),
               CAST('infinity' AS DOUBLE)) AS th),
    gates AS (
      SELECT s, CAST(round(round(
               CASE WHEN n > 0
                    THEN least(1.0, th / CAST(n AS DOUBLE))
                    ELSE 1.0 END, 6) * 1000000)
             AS BIGINT) AS gate
      FROM counts CROSS JOIN theta)
    SELECT d.doc_id, d.lang
    FROM documents d
    JOIN gates g ON coalesce(CAST(d.lang AS VARCHAR), chr(1) || '<null>') = g.s
    WHERE ({_MD5_60.format(x="'unimax' || CAST(d.doc_id AS VARCHAR)")}
           % 1000000) < g.gate
    """,
    "pipeline,text-analysis",
    "UniMax language sampling (water-fill token budget, epoch cap 1): "
    "each language keeps min(n_l, theta) tokens with theta from one "
    "window pass over the L-row count frame; md5-gated at doc "
    "granularity",
)


# ==================================================== perplexity buckets
_add(
    "doc_perplexity_buckets",
    lambda spark, sf: text_analysis.perplexity_buckets(
        _t(spark, sf, "documents")[0]),
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest({_TOKS_ALL.format(c='lower(text)')}) AS tok
      FROM documents),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM freq),
    scored AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(avg(ln(f.c / tot.tot)), 4) AS avg_logprob
      FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN tot
      GROUP BY t.doc_id),
    d AS (
      SELECT doc.doc_id, doc.lang,
             coalesce(CAST(doc.lang AS VARCHAR), chr(1) || '<null>') AS s,
             CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
             sc.avg_logprob
      FROM documents doc LEFT JOIN scored sc ON doc.doc_id = sc.doc_id),
    th AS (
      SELECT s, round(quantile_cont(avg_logprob, 1.0/3), 4) AS t1,
                round(quantile_cont(avg_logprob, 2.0/3), 4) AS t2
      FROM d WHERE avg_logprob IS NOT NULL GROUP BY s)
    SELECT d.doc_id, d.lang, d.n_tokens, d.avg_logprob,
           CASE WHEN d.avg_logprob IS NULL THEN NULL
                WHEN d.avg_logprob >= th.t2 THEN 'head'
                WHEN d.avg_logprob >= th.t1 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM d LEFT JOIN th ON d.s = th.s
    """,
    "text-analysis,pipeline",
    "CCNet-style perplexity bucketing: head/middle/tail terciles of "
    "the unigram-LM score per language via exact interpolated "
    "percentile thresholds (codebook-sized, broadcast) — no per-"
    "language sort",
)


# ==================================================== Naive-Bayes quality
_add(
    "doc_nb_quality",
    lambda spark, sf: text_analysis.naive_bayes_quality(
        _t(spark, sf, "documents")[0]),
    f"""
    WITH base AS (
      SELECT doc_id, text,
             {_TOKS_ALL.format(c='text')} AS toks,
             {_TOKS_ALL.format(c='lower(text)')} AS ltoks
      FROM documents),
    seed AS (
      SELECT doc_id, ltoks,
             ((CASE WHEN len(toks) >= 20 THEN 25 ELSE 0 END)
            + (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                          ELSE CAST(list_sum(list_transform(toks,
                                    x -> length(x))) AS DOUBLE)
                               / len(toks) END)
                    BETWEEN 3.0 AND 12.0 THEN 25 ELSE 0 END)
            + (CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0
                          ELSE CAST(len(regexp_extract_all(text,
                                    '[^\\w\\s]')) AS DOUBLE)
                               / length(text) END) < 0.2
                    THEN 25 ELSE 0 END)
            + (CASE WHEN (CASE WHEN len(ltoks) = 0 THEN 0.0
                          ELSE CAST(len(list_filter(ltoks,
                                    x -> list_contains({_STOPWORDS_SQL}, x)))
                               AS DOUBLE) / len(ltoks) END) > 0.01
                    THEN 25 ELSE 0 END)) >= 100 AS seed_hq
      FROM base),
    toks AS (SELECT doc_id, seed_hq AS hq, unnest(ltoks) AS tok FROM seed),
    counts AS (SELECT tok, count(*) AS n,
                      sum(CASE WHEN hq THEN 1 ELSE 0 END) AS np
               FROM toks GROUP BY tok),
    vocab AS (SELECT tok, n, np FROM counts WHERE n >= 2
              ORDER BY n DESC, tok LIMIT 50000),
    stats AS (SELECT CAST(sum(np) AS DOUBLE) AS tp,
                     CAST(sum(n - np) AS DOUBLE) AS tn,
                     CAST(count(*) AS DOUBLE) AS v
              FROM vocab),
    model AS (SELECT tok, ln(np + 1) - ln(tp + v)
                        - ln(n - np + 1) + ln(tn + v) AS w
              FROM vocab CROSS JOIN stats),
    prior AS (SELECT ln(sum(CASE WHEN seed_hq THEN 1 ELSE 0 END) + 1)
                   - ln(sum(CASE WHEN seed_hq THEN 0 ELSE 1 END) + 1) AS b
              FROM seed),
    scored AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS nvt,
                      sum(m.w) AS sw
               FROM toks t JOIN model m ON t.tok = m.tok
               GROUP BY t.doc_id)
    SELECT s.doc_id, s.seed_hq,
           CAST(coalesce(sc.nvt, 0) AS BIGINT) AS n_vocab_tokens,
           round(p.b + coalesce(sc.sw, 0.0), 4) AS nb_score,
           (round(p.b + coalesce(sc.sw, 0.0), 4) > 0) AS predicted_hq
    FROM seed s CROSS JOIN prior p
    LEFT JOIN scored sc ON s.doc_id = sc.doc_id
    """,
    "text-analysis,pipeline,C24",
    "trained Naive-Bayes quality classifier (CCNet/GPT-3 style): "
    "Laplace log-odds over the capped vocabulary, distant-supervision "
    "seed from the heuristic quality score, broadcast model, one "
    "corpus-sized shuffle",
)


# ========================================== UniMax allocation (epoch cap > 1)
_add(
    "corpus_unimax_allocation",
    lambda spark, sf: curation.unimax_allocation(
        _t(spark, sf, "documents")[0], budget_frac=0.8, epoch_cap=2.0),
    f"""
    WITH counts AS (
      SELECT coalesce(CAST(lang AS VARCHAR), chr(1) || '<null>') AS s,
             arbitrary(lang) AS orig,
             CAST(sum(len({_TOKS_ALL.format(c='text')})) AS BIGINT) AS n
      FROM documents GROUP BY 1),
    ranked AS (
      SELECT orig, n, CAST(n AS DOUBLE) * 2.0 AS c,
             row_number() OVER (ORDER BY CAST(n AS DOUBLE) * 2.0 ASC,
                                         s ASC) AS i,
             sum(CAST(n AS DOUBLE) * 2.0)
               OVER (ORDER BY CAST(n AS DOUBLE) * 2.0 ASC, s ASC) AS csum,
             (SELECT CAST(sum(n) AS DOUBLE) FROM counts) AS tot,
             (SELECT count(*) FROM counts) AS L
      FROM counts),
    shares AS (
      SELECT orig, n, c, i,
             (tot * 0.8 - (csum - c)) / CAST(L - i + 1 AS DOUBLE) AS share
      FROM ranked),
    theta AS (
      SELECT coalesce((SELECT arg_min(share, i) FROM shares
                       WHERE c > share),
                      CAST('infinity' AS DOUBLE)) AS th)
    SELECT orig AS lang, CAST(n AS BIGINT) AS n_tokens,
           round(least(c, th), 4) AS allocated_tokens,
           CASE WHEN n > 0
                THEN round(least(c, th) / CAST(n AS DOUBLE), 4)
           END AS epochs
    FROM shares CROSS JOIN theta
    """,
    "pipeline,text-analysis",
    "UniMax allocation with the paper's epoch cap (full Algorithm 1): "
    "water-fill over caps epoch_cap*n_l — small languages UPSAMPLE to "
    ">1 epochs, the dominant language downsamples; emitted as the "
    "allocation plan (tokens + epochs per language) for the training "
    "loader, since a pure filter cannot upsample",
)


# ================================================= explicit-mixture sampling
_add(
    "corpus_mixture_sample",
    lambda spark, sf: curation.mixture_sample(
        _t(spark, sf, "documents")[0],
        {"src8": 0.6, "src1": 0.2, "src7": 0.1, "src19": 0.1},
        budget_frac=0.5)
    .select("doc_id", "source"),
    f"""
    WITH wts(s, w) AS (
      VALUES ('src1', 0.2), ('src19', 0.1), ('src7', 0.1), ('src8', 0.6)),
    counts AS (
      SELECT coalesce(CAST(source AS VARCHAR), chr(1) || '<null>') AS s,
             CAST(sum(len({_TOKS_ALL.format(c='text')})) AS BIGINT) AS n
      FROM documents GROUP BY 1),
    pos AS (
      SELECT c.s, c.n, wts.w
      FROM counts c JOIN wts ON c.s = wts.s WHERE wts.w > 0),
    ranked AS (
      SELECT s, n, w,
             row_number() OVER (ORDER BY CAST(n AS DOUBLE)/w ASC, s ASC) AS i,
             sum(n) OVER (ORDER BY CAST(n AS DOUBLE)/w ASC, s ASC) AS csum,
             sum(w) OVER (ORDER BY CAST(n AS DOUBLE)/w ASC, s ASC) AS cw,
             (SELECT CAST(sum(n) AS DOUBLE) FROM pos) AS tot,
             (SELECT sum(w) FROM pos) AS wsum
      FROM pos),
    shares AS (
      SELECT s, n, w, i,
             (tot * 0.5 - CAST(csum - n AS DOUBLE)) / (wsum - (cw - w))
               AS cand
      FROM ranked),
    theta AS (
      SELECT coalesce((SELECT arg_min(cand, i) FROM shares
                       WHERE CAST(n AS DOUBLE) > w * cand),
                      CAST('infinity' AS DOUBLE)) AS th),
    gates AS (
      SELECT s, CAST(round(round(
               CASE WHEN n > 0 THEN least(1.0, w * th / CAST(n AS DOUBLE))
                    ELSE 1.0 END, 6) * 1000000) AS BIGINT) AS gate
      FROM pos CROSS JOIN theta)
    SELECT d.doc_id, d.source
    FROM documents d
    JOIN gates g
      ON coalesce(CAST(d.source AS VARCHAR), chr(1) || '<null>') = g.s
    WHERE ({_MD5_60.format(x="'mix' || CAST(d.doc_id AS VARCHAR)")}
           % 1000000) < g.gate
    """,
    "pipeline,text-analysis",
    "explicit-mixture sampling (DoReMi/Pile-style per-source target "
    "weights): weighted water-fill — each stratum keeps min(n_s, "
    "w_s*theta) tokens, saturated strata keep all and their unmet "
    "demand re-spreads in weight proportion; unlisted sources "
    "dropped (whitelist); the weighted generalization of UniMax",
)


# ============================================== token counting (two tokenizers)
_add(
    "doc_token_counts",
    lambda spark, sf: text_analysis.doc_token_counts(
        *_t(spark, sf, "documents")),
    r"""
    SELECT doc_id, lang,
           CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT)
               AS n_ws_tokens,
           CAST(length(regexp_extract_all(
               text, '[A-Za-z]{1,4}|\d|[^\sA-Za-z\d]')) AS BIGINT)
               AS n_bpe_ish_tokens,
           CASE WHEN length(regexp_extract_all(text, '\S+')) > 0
                THEN round(CAST(length(regexp_extract_all(
                         text, '[A-Za-z]{1,4}|\d|[^\sA-Za-z\d]')) AS DOUBLE)
                     / length(regexp_extract_all(text, '\S+')), 4)
           END AS bpe_fertility
    FROM documents
    """,
    "text-analysis,C24",
    "per-doc token counts under whitespace AND BPE-ish regex "
    "tokenizers + fertility ratio (token-budget planning signal; "
    "leftmost-first alternation semantics shared by Java regex and "
    "RE2, verified cell-for-cell)",
)


# ================================================ BPE merge-table learning
def _bpe_cte_sql(n_merges: int) -> str:
    """DuckDB twin of text_analysis.bpe_merges: the word-count table,
    then ``n_merges`` UNROLLED merge stages (the k-means-chain oracle
    technique) — pair counts from list_zip over the double-space
    symbol representation, argmax by (count desc, pair asc), REPLACE
    rewrite with the same left-to-right non-overlapping semantics as
    the JVM (the double-space delimiter makes adjacent occurrences
    disjoint in both engines)."""
    parts = [r"""
    WITH w0 AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> t <> '')) AS w
        FROM documents)
      WHERE regexp_full_match(w, '[a-z]+')
      GROUP BY w),
    v0 AS (
      SELECT cnt,
             '  ' || regexp_replace(w, '(.)', '\1  ', 'g') || '_  ' AS repr
      FROM w0)"""]
    for i in range(1, n_merges + 1):
        parts.append(f"""
    p{i} AS (
      SELECT z[1] AS a, z[2] AS b, CAST(SUM(cnt) AS BIGINT) AS total
      FROM (SELECT cnt,
                   unnest(list_zip(s[1:len(s) - 1], s[2:len(s)])) AS z
            FROM (SELECT cnt, string_split(trim(repr), '  ') AS s
                  FROM v{i - 1}))
      GROUP BY a, b),
    b{i} AS (SELECT a, b, total FROM p{i}
             ORDER BY total DESC, a ASC, b ASC LIMIT 1),
    v{i} AS (
      SELECT cnt, REPLACE(repr, ' ' || a || '  ' || b || ' ',
                          ' ' || a || b || ' ') AS repr
      FROM v{i - 1}, b{i}),
    r{i} AS (SELECT {i} AS rank, a AS left_sym, b AS right_sym,
                    a || b AS merged, total AS pair_count FROM b{i})""")
    union = " UNION ALL ".join(
        f"SELECT * FROM r{i}" for i in range(1, n_merges + 1))
    return ",".join(parts) + f"""
    SELECT CAST(rank AS INTEGER) AS rank, left_sym, right_sym, merged,
           pair_count
    FROM ({union}) ORDER BY rank
    """


def _bpe_apply_sql(n_merges: int) -> str:
    """DuckDB twin of text_analysis.bpe_token_counts: the same merge
    CTE chain, then every document's covered words run through the
    nested REPLACE chain. A merge stage the corpus exhausted (empty
    b{i}) degrades to a chr(1) sentinel whose pattern can never match
    a [a-z_] symbol — a no-op, mirroring the engine's early break."""
    chain = _bpe_cte_sql(n_merges)
    ctes = chain[:chain.rindex("SELECT CAST(rank")]
    ctes = ctes.rstrip().rstrip(",")
    expr = r"'  ' || regexp_replace(w, '(.)', '\1  ', 'g') || '_  '"
    for i in range(1, n_merges + 1):
        ai = f"coalesce((SELECT a FROM b{i}), chr(1))"
        bi = f"coalesce((SELECT b FROM b{i}), chr(1))"
        expr = (f"REPLACE({expr}, ' ' || {ai} || '  ' || {bi} || ' ', "
                f"' ' || {ai} || {bi} || ' ')")
    return ctes + f""",
    dw AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  t -> t <> '')) AS w
        FROM documents)
      WHERE regexp_full_match(w, '[a-z]+')),
    applied AS (
      SELECT doc_id,
             CAST(len(string_split(trim({expr}), '  ')) AS BIGINT) AS nt
      FROM dw),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens
      FROM applied GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(n_words, 0) AS n_words,
           coalesce(n_bpe_tokens, 0) AS n_bpe_tokens,
           CASE WHEN n_words > 0
                THEN round(n_bpe_tokens / n_words, 4)
           END AS bpe_fertility
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """


_add(
    "doc_bpe_merges",
    lambda spark, sf: text_analysis.bpe_merges(
        *_t(spark, sf, "documents"), n_merges=8),
    _bpe_cte_sql(8),
    "text-analysis,pipeline",
    "BPE tokenizer TRAINING (Sennrich 2016): learn the first 8 merge "
    "rules from corpus word frequencies — one corpus scan builds the "
    "persisted Heaps-bounded word-count table; the gated driver-side "
    "fast trainer (incremental pair deltas + lazy max-heap, the "
    "production formulation) commits the merges with zero further "
    "cluster jobs; oracle = 8 merge stages unrolled in SQL (the "
    "Lloyd-chain technique)",
)

def _bpe_byte_cte_sql(n_merges: int) -> str:
    """DuckDB twin of text_analysis.bpe_merges(byte_level=True) FOR
    THIS FIXTURE: the driver corpora are printable-ASCII with single
    spaces and no leading/trailing whitespace (asserted by
    tests/test_oracle_parity.py::test_documents_fixture_is_ascii_single_spaced),
    which makes the GPT-2 pre-tokenization RE2-expressible — the
    Java-only lookahead branch `\\s+(?!\\S)` can never match (no
    whitespace runs, no trailing whitespace), `\\p{L}/\\p{N}` collapse
    to ASCII classes, and every UTF-8 byte of a pre-token is its
    character, with space mapping to 'Ġ' (chr(288)) under the standard
    byte table. Symbols then ride the same double-space representation
    and unrolled merge stages as the char-mode oracle — no end-of-word
    marker (byte level carries the boundary as the leading-space
    byte). Ordering: DuckDB's binary UTF-8 string order equals
    Python's code-point order, so the (count desc, a asc, b asc)
    argmax ties break identically."""
    pretoken_re = ("''s|''t|''re|''ve|''m|''ll|''d"
                   "| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+| +")
    parts = [f"""
    WITH w0 AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(regexp_extract_all(text, '{pretoken_re}')) AS w
        FROM documents)
      GROUP BY w),
    v0 AS (
      SELECT cnt,
             '  ' || regexp_replace(replace(w, ' ', chr(288)),
                                    '(.)', '\\1  ', 'g') AS repr
      FROM w0)"""]
    for i in range(1, n_merges + 1):
        parts.append(f"""
    p{i} AS (
      SELECT z[1] AS a, z[2] AS b, CAST(SUM(cnt) AS BIGINT) AS total
      FROM (SELECT cnt,
                   unnest(list_zip(s[1:len(s) - 1], s[2:len(s)])) AS z
            FROM (SELECT cnt, string_split(trim(repr), '  ') AS s
                  FROM v{i - 1}))
      GROUP BY a, b),
    b{i} AS (SELECT a, b, total FROM p{i}
             ORDER BY total DESC, a ASC, b ASC LIMIT 1),
    v{i} AS (
      SELECT cnt, REPLACE(repr, ' ' || a || '  ' || b || ' ',
                          ' ' || a || b || ' ') AS repr
      FROM v{i - 1}, b{i}),
    r{i} AS (SELECT {i} AS rank, a AS left_sym, b AS right_sym,
                    a || b AS merged, total AS pair_count FROM b{i})""")
    union = " UNION ALL ".join(
        f"SELECT * FROM r{i}" for i in range(1, n_merges + 1))
    return ",".join(parts) + f"""
    SELECT CAST(rank AS INTEGER) AS rank, left_sym, right_sym, merged,
           pair_count
    FROM ({union}) ORDER BY rank
    """


def _bpe_byte_apply_sql(n_merges: int) -> str:
    """DuckDB twin of bpe_token_counts(byte_level=True): the byte-mode
    merge CTE chain, then every document's pre-tokens run through the
    nested REPLACE chain (chr(1) sentinels for exhausted stages, as in
    the char-mode apply oracle). n_words counts ALL pre-tokens — byte
    level covers every character, so there is no uncovered-word gap."""
    chain = _bpe_byte_cte_sql(n_merges)
    ctes = chain[:chain.rindex("SELECT CAST(rank")]
    ctes = ctes.rstrip().rstrip(",")
    expr = ("'  ' || regexp_replace(replace(w, ' ', chr(288)), "
            "'(.)', '\\1  ', 'g')")
    for i in range(1, n_merges + 1):
        ai = f"coalesce((SELECT a FROM b{i}), chr(1))"
        bi = f"coalesce((SELECT b FROM b{i}), chr(1))"
        expr = (f"REPLACE({expr}, ' ' || {ai} || '  ' || {bi} || ' ', "
                f"' ' || {ai} || {bi} || ' ')")
    pretoken_re = ("''s|''t|''re|''ve|''m|''ll|''d"
                   "| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+| +")
    return ctes + f""",
    dw AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '{pretoken_re}')) AS w
      FROM documents),
    applied AS (
      SELECT doc_id,
             CAST(len(string_split(trim({expr}), '  ')) AS BIGINT) AS nt
      FROM dw),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens
      FROM applied GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(n_words, 0) AS n_words,
           coalesce(n_bpe_tokens, 0) AS n_bpe_tokens,
           CASE WHEN n_words > 0
                THEN round(n_bpe_tokens / n_words, 4)
           END AS bpe_fertility
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """


_add(
    "doc_bpe_byte_token_counts",
    lambda spark, sf: text_analysis.bpe_token_counts(
        *_t(spark, sf, "documents"), n_merges=8, byte_level=True),
    _bpe_byte_apply_sql(8),
    "text-analysis,pipeline",
    "Byte-level BPE APPLY (round 10): per-doc token budget under the "
    "vocabulary doc_bpe_byte_merges trains — n_words counts EVERY "
    "GPT-2 pre-token (full character coverage), segmentation runs "
    "rank-order over byte symbols via the broadcast merge table; "
    "oracle = the byte merge chain + the equivalent nested REPLACE "
    "over RE2-safe pre-tokens",
)

_add(
    "doc_bpe_byte_merges",
    lambda spark, sf: text_analysis.bpe_merges(
        *_t(spark, sf, "documents"), n_merges=8, byte_level=True),
    _bpe_byte_cte_sql(8),
    "text-analysis,pipeline",
    "Byte-level BPE TRAINING (GPT-2 style, round 10): learn the first "
    "8 merge rules over GPT-2 pre-tokens' byte symbols (space rides "
    "as 'Ġ', every character covered — digits/punct included, unlike "
    "the char-mode ^[a-z]+$ restriction); same gated fast trainer "
    "core; oracle = RE2-safe pre-tokenization (valid on the asserted "
    "ASCII single-spaced fixture) + the unrolled merge-stage chain",
)

_add(
    "doc_bpe_token_counts",
    lambda spark, sf: text_analysis.bpe_token_counts(
        *_t(spark, sf, "documents"), n_merges=8),
    _bpe_apply_sql(8),
    "text-analysis,pipeline",
    "BPE APPLY: per-doc token budget under the vocabulary trained by "
    "doc_bpe_merges — the broadcast merge table segments each "
    "DISTINCT word once (Arrow mapInPandas over the persisted word-"
    "count table, rank-order-exact, no plan literals), then one "
    "corpus pass joins the word->subwords map and re-aggregates; "
    "oracle = the merge chain + the equivalent nested REPLACE, empty "
    "merge stages degrading to sentinel no-ops",
)


# ===================================================== BM25 full-text search
def _bm25_oracle(query: str, k1: float, b: float, top_k: int,
                 snippet_window: int | None = None,
                 suffix: str = "") -> str:
    """DuckDB twin of search.bm25_search — same term order, same
    literal k1/b values, same fixed-order score fold, 4dp rounding IN
    the ordering key. With ``snippet_window`` set, the hit page joins
    back to the corpus and extracts the highlight snippet (twin of
    bm25_search_snippets). ``suffix`` renames the core CTEs so several
    instances coexist in one WITH (the batched-search oracle)."""
    terms = search.query_terms(query)
    m = len(terms)
    tf_cols = ",\n         ".join(
        f"len(list_filter(toks, t -> t = '{t}')) AS tf{i}"
        for i, t in enumerate(terms))
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
        f" AS df{i}" for i in range(m))
    parts = "\n       + ".join(
        f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5)) * CAST(tf{i} AS DOUBLE)"
        f" * {k1 + 1.0!r} / (CAST(tf{i} AS DOUBLE)"
        f" + {k1!r} * ({1.0 - b!r} + {b!r} * CAST(dl AS DOUBLE)"
        f" / (sumdl / n)))" for i in range(m))
    matched = " + ".join(f"tf{i}" for i in range(m))
    core = f"""
    WITH base{suffix} AS (
      SELECT doc_id, len(toks) AS dl,
         {tf_cols}
      FROM (SELECT doc_id,
                   {_TOKS_ALL.format(c='lower(text)')} AS toks
            FROM documents)),
    stats{suffix} AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(dl) AS DOUBLE) AS sumdl, {df_cols}
      FROM base{suffix})"""
    hit_sel = f"""
    SELECT doc_id, CAST(dl AS BIGINT) AS n_tokens,
           round({parts}, 4) AS bm25
    FROM base{suffix} CROSS JOIN stats{suffix}
    WHERE {matched} > 0
    ORDER BY bm25 DESC, doc_id LIMIT {top_k}"""
    if snippet_window is None:
        return core + hit_sel + "\n    "
    w = snippet_window
    pos_list = ", ".join(
        f"nullif(instr(lower(d.text), '{t}'), 0)" for t in terms)
    return core + f""",
    hits AS ({hit_sel}),
    ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                     AS INTEGER) AS rank
      FROM hits),
    withpos AS (
      SELECT h.doc_id, h.rank, h.n_tokens, h.bm25,
             list_min(list_filter([{pos_list}],
                                  x -> x IS NOT NULL)) AS pos,
             d.text
      FROM ranked h JOIN documents d USING (doc_id))
    SELECT doc_id, rank, n_tokens, bm25,
           CASE WHEN pos IS NULL THEN NULL
                ELSE substr(text, GREATEST(1, pos - {w}), {2 * w})
           END AS snippet
    FROM withpos
    """


_add(
    "doc_bm25_search",
    lambda spark, sf: search.bm25_search(
        *_t(spark, sf, "documents"), query="dup join scan", top_k=25),
    _bm25_oracle("dup join scan", k1=1.2, b=0.75, top_k=25),
    "S5,S7,text-analysis",
    "BM25 ranked full-text search in-engine (the reference's ES "
    "match-query surface, Lucene's own scoring): per-row (dl, tf) in "
    "ONE struct-accumulator array traversal — no explode, no "
    "corpus-sized shuffle; one-row stats broadcast; "
    "TakeOrderedAndProject top-k",
)

_add(
    "doc_bm25_snippets",
    lambda spark, sf: search.bm25_search_snippets(
        *_t(spark, sf, "documents"), query="dup join scan", top_k=25,
        window=40),
    _bm25_oracle("dup join scan", k1=1.2, b=0.75, top_k=25,
                 snippet_window=40),
    "S5,S7,text-analysis",
    "the full ES hit page: BM25 top-k + highlight snippet per hit "
    "(context window around the first query-term occurrence); the "
    "snippet evaluates on the top_k rows only — ranked ids broadcast "
    "into a hash-join probe, the text column never shuffles",
)

def _hybrid_oracle(query: str, k1: float, b: float, candidates: int,
                   top_k: int, rrf_k: int) -> str:
    """DuckDB twin of search.hybrid_search_rrf: the bm25 oracle's own
    core CTEs produce the lexical leg, _COS the semantic leg (query
    vector = embeddings row vec_id 0, as the demo passes), fused by
    the same 1/(rrf_k + rank) arithmetic rounded 6dp."""
    bm25 = _bm25_oracle(query, k1=k1, b=b, top_k=candidates)
    # reuse the bm25 oracle text as a hits CTE: strip the leading
    # WITH, wrap the trailing SELECT
    body = bm25.strip()
    assert body.startswith("WITH ")
    core, select = body.split("SELECT doc_id, CAST(dl AS BIGINT)", 1)
    hits_sql = "SELECT doc_id, CAST(dl AS BIGINT)" + select
    return f"""
    {core.rstrip().rstrip(',')},
    hits AS ({hits_sql}),
    t AS (SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                      AS INTEGER) AS bm25_rank
          FROM hits),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    vs AS (SELECT e.vec_id AS doc_id,
                  round({_COS.format(a='e.embedding', b='q.embedding')},
                        4) AS sim
           FROM embeddings e CROSS JOIN q
           ORDER BY sim DESC, doc_id LIMIT {candidates}),
    v AS (SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
                      AS INTEGER) AS vec_rank
          FROM vs)
    SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
           round(coalesce(1.0 / ({rrf_k} + t.bm25_rank), 0)
                 + coalesce(1.0 / ({rrf_k} + v.vec_rank), 0), 6) AS rrf,
           t.bm25_rank, v.vec_rank
    FROM t FULL OUTER JOIN v ON t.doc_id = v.doc_id
    ORDER BY rrf DESC, doc_id LIMIT {top_k}
    """


def _hybrid_demo(spark: SparkSession, sf: str) -> DataFrame:
    """Fuse the BM25 leg over documents with the cosine leg over
    embeddings (vec_id joins doc_id); the query vector is embeddings
    row 0 — a bounded driver scalar, the ANN query contract."""
    from ..operators import search as search_ops

    docs, emb = _t(spark, sf, "documents", "embeddings")
    qv = [float(x) for x in
          emb.filter("vec_id = 0").head()["embedding"]]
    return search_ops.hybrid_search_rrf(docs, emb, "dup join scan",
                                        qv, top_k=25, candidates=50)


_add(
    "doc_hybrid_search",
    _hybrid_demo,
    _hybrid_oracle("dup join scan", k1=1.2, b=0.75, candidates=50,
                   top_k=25, rrf_k=60),
    "S5,S7,similarity-search,text-analysis",
    "hybrid retrieval: BM25 lexical leg + cosine semantic leg fused "
    "by Reciprocal Rank Fusion (Cormack 2009, the ES/OpenSearch "
    "hybrid rule) — rank-based fusion needs no score normalization; "
    "each leg is its family's own top-candidates plan, the fusion a "
    "full-outer join of two candidate-sized frames, never "
    "corpus-sized",
)


def _text_index_demo(spark: SparkSession, sf: str) -> DataFrame:
    """Land the BM25 inverted index to a scratch path (stable per sf,
    overwritten per run), then serve the hit page FROM the index — the
    persistent-ES usage shape. The oracle is the plain bm25 oracle:
    the landed search contract is result-identical to bm25_search."""
    import re as _re

    from ..operators import search as search_ops

    docs, = _t(spark, sf, "documents")
    slug = _re.sub(r"[^A-Za-z0-9._-]", "_", sf)
    path = f"/tmp/dcs_text_index/{slug}"
    search_ops.land_text_index(docs, path)
    return search_ops.search_text_index(spark, path, "dup join scan",
                                        top_k=25)


_add(
    "doc_text_index_search",
    _text_index_demo,
    _bm25_oracle("dup join scan", k1=1.2, b=0.75, top_k=25),
    "S5,S7,text-analysis,T2",
    "landed BM25 text index, the persistent-ES lifecycle: postings "
    "partitioned by term-hash bucket (query terms prune at the FILE "
    "level), one-row stats sidecar, result-identical to bm25_search "
    "by construction (same scoring expression); the streaming append "
    "twin (run_text_index_ingest_stream) adds documents under frozen "
    "stats",
)


def _bm25_many_oracle(queries: list[str], k1: float, b: float,
                      top_k: int) -> str:
    """DuckDB twin of search.search_text_index_many: one suffixed
    bm25 core per query under a single WITH, per-query top-k pages
    unioned with the query's position as query_id — the landed batched
    search is result-identical to bm25_search per query (same scoring,
    live df == fresh-index df)."""
    cores, selects = [], []
    for i, q in enumerate(queries):
        body = _bm25_oracle(q, k1=k1, b=b, top_k=top_k,
                            suffix=f"_q{i}").strip()
        assert body.startswith("WITH ")
        core, select = body.split("SELECT doc_id, CAST(dl AS BIGINT)", 1)
        cores.append(core[len("WITH "):].rstrip().rstrip(","))
        selects.append(
            f"SELECT CAST({i} AS INTEGER) AS query_id, doc_id, "
            f"n_tokens, bm25 FROM (SELECT doc_id, "
            f"CAST(dl AS BIGINT){select})")
    return ("WITH " + ",\n".join(cores) + "\n"
            + "\nUNION ALL\n".join(selects)
            + "\nORDER BY query_id, bm25 DESC, doc_id")


_MANY_QUERIES = ["dup join scan", "quick brown", "scan filter join"]


def _text_index_many_demo(spark: SparkSession, sf: str) -> DataFrame:
    """Land the BM25 index once, then serve a BATCH of hit pages from
    ONE pruned postings scan — the interactive-server shape that
    amortizes per-query fixed cost across the batch."""
    import re as _re

    from ..operators import search as search_ops

    docs, = _t(spark, sf, "documents")
    slug = _re.sub(r"[^A-Za-z0-9._-]", "_", sf)
    path = f"/tmp/dcs_text_index_many/{slug}"
    search_ops.land_text_index(docs, path)
    return search_ops.search_text_index_many(spark, path, _MANY_QUERIES,
                                             top_k=25)


_add(
    "doc_text_index_search_many",
    _text_index_many_demo,
    _bm25_many_oracle(_MANY_QUERIES, k1=1.2, b=0.75, top_k=25),
    "S5,S7,text-analysis,T2",
    "BATCHED landed-index search: one term-bucket-pruned postings "
    "scan serves N queries' hit pages in one job (broadcast "
    "(query_id, term) fan-out; per-(query, doc) score folds "
    "contributions in sorted term order — bit-identical to the "
    "single-query path), amortizing the per-query fixed cost the sf1 "
    "probe measured",
)


def _hybrid_indexed_many_oracle(queries: list[str], k1: float, b: float,
                                candidates: int, top_k: int, rrf_k: int,
                                n_cells: int, m: int, ks: int,
                                n_iter: int, dim: int, nprobe: int,
                                shortlist: int) -> str:
    """DuckDB twin of search.hybrid_search_rrf_indexed_many: one
    suffixed bm25 core per query (lexical legs), ONE shared IVFADC
    chain whose query CTE carries all N vectors (query_id = -(i+1)),
    per-query ADC shortlists + exact-cosine re-ranks, per-query RRF
    fusion — the batched server path is oracle-exact regardless of ADC
    recall, same as the single-query entry."""
    nq = len(queries)
    cores, t_selects = [], []
    for i, q in enumerate(queries):
        body = _bm25_oracle(q, k1=k1, b=b, top_k=candidates,
                            suffix=f"_q{i}").strip()
        assert body.startswith("WITH ")
        core, select = body.split("SELECT doc_id, CAST(dl AS BIGINT)", 1)
        cores.append(core[len("WITH "):].rstrip().rstrip(","))
        t_selects.append(
            f"SELECT CAST({i} AS INTEGER) AS query_id, doc_id, "
            f"CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) "
            f"AS INTEGER) AS bm25_rank FROM (SELECT doc_id, "
            f"CAST(dl AS BIGINT){select})")
    q_sql = (f"SELECT CAST(-(vec_id + 1) AS BIGINT) AS query_id, "
             f"CAST(embedding AS DOUBLE[]) AS q_emb "
             f"FROM embeddings WHERE vec_id < {nq}")
    ivf = _ivfpq_pairs_sql(n_cells, m, ks, n_iter, dim, nprobe,
                           q_sql=q_sql, leading_with=False)
    return f"""
    WITH {",".join(cores)},
    {ivf},
    short AS (
      SELECT CAST(-query_id - 1 AS INTEGER) AS query_id, neighbor_id
      FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adist, neighbor_id) AS srn
        FROM pairs) WHERE srn <= {shortlist}),
    qvm AS (SELECT CAST(vec_id AS INTEGER) AS query_id, embedding
            FROM embeddings WHERE vec_id < {nq}),
    vs0 AS (SELECT s.query_id, e.vec_id AS doc_id,
                   round({_COS.format(a='e.embedding',
                                      b='qq.embedding')}, 4) AS sim
            FROM embeddings e
            JOIN short s ON e.vec_id = s.neighbor_id
            JOIN qvm qq ON qq.query_id = s.query_id),
    v AS (SELECT query_id, doc_id, CAST(vrn AS INTEGER) AS vec_rank
          FROM (SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY sim DESC, doc_id) AS vrn
                FROM vs0) WHERE vrn <= {candidates}),
    t AS ({" UNION ALL ".join(t_selects)})
    SELECT query_id, doc_id, rrf, bm25_rank, vec_rank FROM (
      SELECT coalesce(t.query_id, v.query_id) AS query_id,
             coalesce(t.doc_id, v.doc_id) AS doc_id,
             round(coalesce(1.0 / ({rrf_k} + t.bm25_rank), 0)
                   + coalesce(1.0 / ({rrf_k} + v.vec_rank), 0), 6)
               AS rrf,
             t.bm25_rank, v.vec_rank
      FROM t FULL OUTER JOIN v
        ON t.query_id = v.query_id AND t.doc_id = v.doc_id)
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, doc_id) <= {top_k}
    ORDER BY query_id, rrf DESC, doc_id
    """


def _hybrid_indexed_many_demo(spark: SparkSession, sf: str) -> DataFrame:
    """Land both indexes once, then serve a BATCH of hybrid pages —
    lexical legs from one pruned postings scan, semantic legs from one
    cell-pruned codes scan, one point fetch for every shortlist."""
    import re as _re

    from ..operators import search as search_ops
    from ..operators import similarity_search as ss_ops

    from concurrent.futures import ThreadPoolExecutor

    docs, emb = _t(spark, sf, "documents", "embeddings")
    slug = _re.sub(r"[^A-Za-z0-9._-]", "_", sf)
    tpath = f"/tmp/dcs_hybrid_many_text/{slug}"
    apath = f"/tmp/dcs_hybrid_many_ivfpq/{slug}"
    # independent builds overlapped — same rationale as the single-
    # query twin above; the query-vector fetch is a third independent
    # job, so it rides the pool too (r11 — it back-fills the builds'
    # stragglers instead of running as its own barrier after them)
    with ThreadPoolExecutor(max_workers=3) as pool:
        ft = pool.submit(search_ops.land_text_index, docs, tpath)
        fa = pool.submit(ss_ops.land_ivfpq_index, emb, apath,
                         n_cells=8, m=4, ks=8, n_iter=3)
        fv = pool.submit(
            lambda: [[float(x) for x in r["embedding"]] for r in
                     emb.filter("vec_id < 3").orderBy("vec_id")
                     .collect()])
        ft.result(), fa.result()
        vecs = fv.result()
    return search_ops.hybrid_search_rrf_indexed_many(
        spark, tpath, apath, _MANY_QUERIES, vecs, emb,
        top_k=25, candidates=50, nprobe=4, shortlist=200)


_add(
    "doc_hybrid_search_indexed_many",
    _hybrid_indexed_many_demo,
    _hybrid_indexed_many_oracle(_MANY_QUERIES, k1=1.2, b=0.75,
                                candidates=50, top_k=25, rrf_k=60,
                                n_cells=8, m=4, ks=8, n_iter=3, dim=64,
                                nprobe=4, shortlist=200),
    "S5,S7,similarity-search,text-analysis,T2",
    "the BATCHED index-backed hybrid — the full interactive-server "
    "workload in a constant number of jobs: N queries' lexical legs "
    "from ONE pruned postings scan, N semantic legs from ONE "
    "cell-pruned codes probe + one point fetch, per-query RRF fusion "
    "identical to the single path (tested); oracle composes N "
    "suffixed bm25 cores with ONE shared IVFADC chain",
)


def _hybrid_indexed_oracle(query: str, k1: float, b: float,
                           candidates: int, top_k: int, rrf_k: int,
                           n_cells: int, m: int, ks: int, n_iter: int,
                           dim: int, nprobe: int,
                           shortlist: int) -> str:
    """DuckDB twin of search.hybrid_search_rrf_indexed — the whole
    index-backed semantics expressed exactly, so the entry is
    oracle-green REGARDLESS of the ADC shortlist's recall: the bm25
    oracle's core CTEs produce the lexical leg (the landed text index
    is score-identical to bm25_search by construction), the shared
    IVFADC chain (``_ivfpq_pairs_sql``, query_id = -1 so no corpus
    self-match is excluded) produces the ADC shortlist, an
    exact-cosine re-rank over ONLY the shortlist produces the semantic
    leg, and the same RRF arithmetic fuses — rank for rank what the
    Spark path computes."""
    bm25 = _bm25_oracle(query, k1=k1, b=b, top_k=candidates)
    body = bm25.strip()
    assert body.startswith("WITH ")
    core, select = body.split("SELECT doc_id, CAST(dl AS BIGINT)", 1)
    hits_sql = "SELECT doc_id, CAST(dl AS BIGINT)" + select
    q_sql = ("SELECT CAST(-1 AS BIGINT) AS query_id, "
             "CAST(embedding AS DOUBLE[]) AS q_emb "
             "FROM embeddings WHERE vec_id = 0")
    ivf = _ivfpq_pairs_sql(n_cells, m, ks, n_iter, dim, nprobe,
                           q_sql=q_sql, leading_with=False)
    return f"""
    {core.rstrip().rstrip(',')},
    {ivf},
    short AS (
      SELECT neighbor_id FROM (
        SELECT neighbor_id,
               row_number() OVER (ORDER BY adist, neighbor_id) AS srn
        FROM pairs) WHERE srn <= {shortlist}),
    qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    vs AS (SELECT e.vec_id AS doc_id,
                  round({_COS.format(a='e.embedding',
                                     b='qv.embedding')}, 4) AS sim
           FROM embeddings e
           JOIN short s ON e.vec_id = s.neighbor_id
           CROSS JOIN qv
           ORDER BY sim DESC, doc_id LIMIT {candidates}),
    v AS (SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
                      AS INTEGER) AS vec_rank
          FROM vs),
    hits AS ({hits_sql}),
    t AS (SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                      AS INTEGER) AS bm25_rank
          FROM hits)
    SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
           round(coalesce(1.0 / ({rrf_k} + t.bm25_rank), 0)
                 + coalesce(1.0 / ({rrf_k} + v.vec_rank), 0), 6) AS rrf,
           t.bm25_rank, v.vec_rank
    FROM t FULL OUTER JOIN v ON t.doc_id = v.doc_id
    ORDER BY rrf DESC, doc_id LIMIT {top_k}
    """


def _hybrid_indexed_demo(spark: SparkSession, sf: str) -> DataFrame:
    """Land BOTH indexes to scratch paths (stable per sf, overwritten
    per run), then serve the hybrid page entirely from them — the
    many-queries-over-one-landed-corpus shape. Query vector =
    embeddings row 0, as the in-memory demo passes."""
    import re as _re

    from ..operators import search as search_ops
    from ..operators import similarity_search as ss_ops

    from concurrent.futures import ThreadPoolExecutor

    docs, emb = _t(spark, sf, "documents", "embeddings")
    slug = _re.sub(r"[^A-Za-z0-9._-]", "_", sf)
    tpath = f"/tmp/dcs_hybrid_text_index/{slug}"
    apath = f"/tmp/dcs_hybrid_ivfpq_index/{slug}"
    # the two index builds touch DIFFERENT tables and paths — overlap
    # them (guide §2.6: independent jobs back-fill each other's
    # stragglers; measured ~2s off the build at sf0.1)
    with ThreadPoolExecutor(max_workers=3) as pool:
        ft = pool.submit(search_ops.land_text_index, docs, tpath)
        fa = pool.submit(ss_ops.land_ivfpq_index, emb, apath,
                         n_cells=8, m=4, ks=8, n_iter=3)
        # the query-vector fetch is a third independent job — it
        # back-fills the builds' stragglers instead of barriering
        # after them (r11, guide §2.6)
        fq = pool.submit(
            lambda: [float(x) for x in
                     emb.filter("vec_id = 0").head()["embedding"]])
        ft.result(), fa.result()
        qv = fq.result()
    return search_ops.hybrid_search_rrf_indexed(
        spark, tpath, apath, "dup join scan", qv, emb,
        top_k=25, candidates=50, nprobe=4, shortlist=200)


_add(
    "doc_hybrid_search_indexed",
    _hybrid_indexed_demo,
    _hybrid_indexed_oracle("dup join scan", k1=1.2, b=0.75,
                           candidates=50, top_k=25, rrf_k=60,
                           n_cells=8, m=4, ks=8, n_iter=3, dim=64,
                           nprobe=4, shortlist=200),
    "S5,S7,similarity-search,text-analysis,T2",
    "hybrid retrieval served from the LANDED indexes (the r7 "
    "verdict's last advice-only scale regime, closed): the lexical "
    "leg reads the term-bucket-pruned text index, the semantic leg "
    "ADC-shortlists from the cell-pruned IVFPQ index then "
    "exact-reranks ONLY the point-fetched shortlist, RRF fusion "
    "shared verbatim with the in-memory path — per-query cost tracks "
    "posting + probed-cell mass, not corpus size",
)

_add(
    "doc_tfidf_keywords",
    lambda spark, sf: search.tfidf_keywords(
        *_t(spark, sf, "documents"), k=3),
    """
    WITH tf AS (
      SELECT doc_id, tok AS term, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text),
                          '\\s+'), t -> t <> '')) AS tok
            FROM documents)
      GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
    df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
           FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    scored AS (
      SELECT t.doc_id, t.term,
             round((CAST(t.tf AS DOUBLE) / dl.dl) * ln(n.n / df.df), 4)
               AS tfidf
      FROM tf t JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n)
    SELECT doc_id, term, CAST(rn AS INTEGER) AS rank, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored) WHERE rn <= 3
    """,
    "S7,text-analysis",
    "per-document top-k TF-IDF keywords (ES significant-terms idea "
    "per doc): one explode into the inverted-index count, both "
    "marginals re-aggregated from the persisted counts frame, N "
    "broadcast, window top-k with rounded-score ordering",
)


# =============================================== winnowing fingerprints (MOSS)
# DuckDB twin of dedup.winnow_fingerprints at k=10, w=8 (shared CTE
# text for the fingerprint and pair queries)
_WINNOW_FPS_CTE = f"""
    nb AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
             AS norm
      FROM documents),
    hs AS (
      SELECT doc_id,
             list_transform(
                 range(1, greatest(length(norm) - 9, 0) + 1),
                 i -> {_MD5_60.format(x='substr(norm, CAST(i AS INTEGER), 10)')}
             ) AS h
      FROM nb),
    fps AS (
      SELECT doc_id,
             unnest(CASE WHEN len(h) >= 8 THEN
                      list_distinct(list_transform(
                          range(1, len(h) - 7 + 1),
                          j -> list_aggregate(
                              h[CAST(j AS INTEGER):CAST(j + 7 AS INTEGER)],
                              'min')))
                    WHEN len(h) >= 1 THEN [list_aggregate(h, 'min')]
                    ELSE [] END) AS fp
      FROM hs)
"""
_add(
    "doc_winnow_fingerprints",
    lambda spark, sf: dedup.winnow_fingerprints(
        *_t(spark, sf, "documents")),
    f"""
    WITH {_WINNOW_FPS_CTE}
    SELECT doc_id, fp FROM fps
    """,
    "dedup,text-analysis",
    "winnowing local fingerprints (Schleimer et al. 2003 / MOSS): "
    "min md5-60 k-gram hash per w-window, distinct per doc — any "
    "shared substring >= w+k-1 chars yields a shared fingerprint",
)
_add(
    "dedup_winnowing",
    lambda spark, sf: dedup.winnow_pairs(*_t(spark, sf, "documents")),
    f"""
    WITH {_WINNOW_FPS_CTE},
    rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
    pruned AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp),
    sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_shared,
           round(CAST(n_shared AS DOUBLE) / least(sa.sz, sb.sz), 4)
               AS overlap
    FROM shared JOIN sizes sa ON doc_a = sa.doc_id
                JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(CAST(n_shared AS DOUBLE) / least(sa.sz, sb.sz), 4) >= 0.5
    """,
    "dedup,similarity-search",
    "near-dup pairs by winnowed-fingerprint overlap coefficient "
    "(MOSS similarity): df-capped stop-fingerprint pruning before "
    "the self-join bounds pair mass; containment-flavored, so "
    "partial copy-paste overlap scores high",
)

# ============================================ cross-family agreement audit
# the three family oracles compose as parenthesized subqueries (each
# is a self-contained WITH...SELECT); the audit arithmetic mirrors
# dedup.dedup_family_agreement exactly
_WINNOW_PAIRS_ORACLE = f"""
    WITH {_WINNOW_FPS_CTE},
    rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
    pruned AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp),
    sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b
    FROM shared JOIN sizes sa ON doc_a = sa.doc_id
                JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(CAST(n_shared AS DOUBLE) / least(sa.sz, sb.sz), 4) >= 0.5
"""

_add(
    "dedup_family_agreement",
    lambda spark, sf: dedup.dedup_family_agreement(
        *_t(spark, sf, "documents")),
    f"""
    WITH mh AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})),
    sh2 AS (SELECT doc_a, doc_b FROM ({_SIMHASH_ORACLE})),
    wn AS (SELECT doc_a, doc_b FROM ({_WINNOW_PAIRS_ORACLE})),
    flags AS (
      SELECT doc_a, doc_b,
             max(fam = 'mh') AS f_mh, max(fam = 'sh') AS f_sh,
             max(fam = 'wn') AS f_wn
      FROM (SELECT doc_a, doc_b, 'mh' AS fam FROM mh
            UNION ALL SELECT doc_a, doc_b, 'sh' FROM sh2
            UNION ALL SELECT doc_a, doc_b, 'wn' FROM wn)
      GROUP BY doc_a, doc_b),
    tot AS (
      SELECT CAST(sum(CASE WHEN f_mh THEN 1 ELSE 0 END) AS BIGINT) AS n_mh,
             CAST(sum(CASE WHEN f_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_sh,
             CAST(sum(CASE WHEN f_wn THEN 1 ELSE 0 END) AS BIGINT) AS n_wn,
             CAST(sum(CASE WHEN f_mh AND f_sh THEN 1 ELSE 0 END) AS BIGINT)
               AS b_mh_sh,
             CAST(sum(CASE WHEN f_mh AND f_wn THEN 1 ELSE 0 END) AS BIGINT)
               AS b_mh_wn,
             CAST(sum(CASE WHEN f_sh AND f_wn THEN 1 ELSE 0 END) AS BIGINT)
               AS b_sh_wn
      FROM flags),
    rows3 AS (
      SELECT 'minhash' AS family_a, 'simhash' AS family_b,
             n_mh AS n_a, n_sh AS n_b, b_mh_sh AS n_both FROM tot
      UNION ALL
      SELECT 'minhash', 'winnowing', n_mh, n_wn, b_mh_wn FROM tot
      UNION ALL
      SELECT 'simhash', 'winnowing', n_sh, n_wn, b_sh_wn FROM tot)
    SELECT family_a, family_b, n_a, n_b, n_both,
           CASE WHEN least(n_a, n_b) > 0
                THEN round(CAST(n_both AS DOUBLE) / least(n_a, n_b), 4)
           END AS agreement
    FROM rows3
    """,
    "dedup,pipeline",
    "cross-family near-dup agreement audit (corpus QA for choosing a "
    "dedup family): MinHash-LSH vs SimHash vs winnowing pair-set "
    "overlap coefficients — disagreement is diagnosis (template-heavy "
    "vs copy-paste-heavy corpora); one presence-flag groupBy over the "
    "unioned pair frames, one global aggregate, no new quadratic "
    "stage",
)


# --------------------------------------------------- driver-window rotation
# The correctness driver samples the FIRST 50 catalog entries in
# order. Two standing rules (established rounds 4-5): every oracle
# query earns a hard driver-green row at least once, and any query
# whose code path CHANGED in-round gets a driver row that round.
#
# WINDOW CONVENTION (standing): the driver samples the FIRST 50
# catalog entries each round; (1) any query whose code path changed
# in-round MUST window that round; (2) new queries always window;
# (3) [RETIRED in r9 — every catalog entry now carries a DuckDB
# oracle; the rule existed because a windowed rows-only row recorded
# err="no_oracle", which read as a failure it was not];
# (4) remaining places rotate hard-green veterans on normal cadence.
#
# Round 8:
#   - NEW: doc_hybrid_search_indexed (index-backed hybrid retrieval —
#     the r7 verdict's #1 item: both legs partition-pruned, exact
#     oracle composed from the bm25 + IVFADC chains) and
#     orders_page_keyset (W5's seek-pagination scale twin);
#   - CHANGED: the shared _bm25_score gained the idf>=0 clamp
#     (engages only in the frozen-N append regime, batch values
#     untouched) -> doc_bm25_search, doc_bm25_snippets,
#     doc_text_index_search, doc_hybrid_search window; doc_tfidf_keywords
#     windows on the same-file convention; the n-gram pair-mass gate
#     cache is re-keyed on (applicationId, startTime) -> every gated
#     query windows: dedup_ngram_jaccard, dedup_ngram_adjacent,
#     dedup_incremental_pairs, corpus_train_val_split, corpus_deduped
#     (ALSO auto-routes past budget now), corpus_curation_stats,
#     training_corpus_pipeline, dedup_clusters_ngram;
#     dedup_family_agreement gained precomputed-pair params (default
#     path identical); dedup_semantic's sample gate moved to a 1e9
#     modulus (engages only past 200k rows — driver scales unaffected,
#     sf10 probe measures it); ann_ivfpq_topk windows because its
#     oracle generator was refactored into the shared chain (output
#     proven byte-identical, re-verified anyway);
#   - remaining places: the r7-pushed veterans return on rotation
#     (ann_pq_topk, ann_pq_rerank, doc_bigram_logprob,
#     benchmark_contamination_fraction, corpus_source_cap,
#     corpus_vocab_stats, doc_cross_dup_spans, top_terms_two_pass,
#     pricing_summary, market_segment_revenue, ann_ivf_topk,
#     ann_ivf_multiprobe, embedding_kmeans_clusters, ann_ivf_kmeans,
#     doc_dup_spans, doc_span_removal, doc_line_dedup, doc_lm_logprob,
#     corpus_temperature_sample, doc_dsir_weights, corpus_unimax_sample,
#     doc_perplexity_buckets, doc_chunks, corpus_unimax_allocation,
#     corpus_mixture_sample, doc_token_counts, doc_winnow_fingerprints,
#     dedup_embedding_cosine, dedup_winnowing, training_shard_packing);
#     dedup_simhash RE-ENTERS late in the round (it gained the
#     candidate-mass gate + persisted banding keys after the sf100
#     probe filled the disk — default pair set unchanged,
#     property-tested), displacing url_keyval_cleaning (hard-green
#     r5+r7, untouched); doc_text_index_search_many and
#     doc_hybrid_search_indexed_many (NEW late in the round: the
#     batched landed-index server paths) window per the convention,
#     displacing corpus_unimax_allocation and corpus_mixture_sample
#     (both hard-green, untouched).
#     Pushed out vs r7 (all
#     hard-green in CORRECTNESS_r07, code untouched this round):
#     corpus_snapshot_diff, ann_hard_negatives, doc_nb_quality,
#     dedup_embedding_srp, supplier_neighborhood, event_props_extract,
#     customer_tiering, order_date_dimensions, scalar_cleaning,
#     hourly_event_rollup, automation_run_health, user_sessions,
#     event_funnel, distinct_customer_priorities, order_stats_summary,
#     top_orders_per_customer, top_orders, customer_order_stats,
#     part_search_ilike, event_type_counts, orders_union_dedup,
#     priority_order_pick, open_orders, shipments_by_month,
#     customers_without_orders, active_customer_keys,
#     nation_customer_rollup, shared_supplier_pairs, dedup_simhash,
#     fuzzy_match_customers, officer_email_matches,
#     doc_boilerplate_removed, doc_pii_redacted,
#     refresh_edges_incremental.
#
# Round 7 (history):
#   - NEW: doc_text_index_search (landed BM25 index lifecycle);
#   - CHANGED: corpus_snapshot_diff (NULL-safe presence flags +
#     sentinel fp, oracle updated), doc_bm25_search/_snippets (shared
#     _bm25_score refactor; snippets carry rank, oracle updated),
#     doc_tfidf_keywords (same file), ann_hard_negatives (broadcast
#     guard + pair budget + shortlist route), doc_nb_quality
#     (single-scan base frame), dedup_embedding_srp (dim derived from
#     data), and every query transiting the now-cached n-gram
#     pair-mass gate: dedup_ngram_jaccard/_adjacent,
#     dedup_incremental_pairs, corpus_train_val_split, corpus_deduped,
#     corpus_curation_stats, training_corpus_pipeline,
#     dedup_clusters_ngram, dedup_minhash_lsh (route target);
#   - RETURNING (promised in the r6 comment): supplier_neighborhood,
#     event_props_extract, customer_tiering, order_date_dimensions,
#     scalar_cleaning, hourly_event_rollup, automation_run_health,
#     user_sessions, event_funnel, distinct_customer_priorities,
#     order_stats_summary, top_orders_per_customer;
#   - the r6-pushed veterans return on rotation; dedup_semantic
#     (sf10-probed this round) keeps its place; dedup_simhash windows
#     because its banding changed in-round (Manku 3-of-6 multi-block
#     keys after the sf10 probe caught the 22x regime — results
#     banding-invariant, property-tested), displacing
#     url_keyval_cleaning (hard-green r5, untouched);
#     dedup_family_agreement (NEW: cross-family audit) windows per
#     the convention, displacing provider_enrichment_merge
#     (hard-green r5+r6, untouched);
#     fuzzy_match_customers RETURNS late in the round (its blocking
#     gained the per-token pair budget + budget-adaptive gram cap
#     after the sf10 probe spilled — oracle re-verified at sf0.01 AND
#     sf0.1), displacing linkedin_profile_pick (hard-green r5,
#     untouched); doc_hybrid_search (NEW late in the round: RRF
#     hybrid retrieval) windows per the convention, displacing
#     fuzzy_match_customers (hard-green r5+r6, entity_resolution.py
#     untouched this round).
# Pushed out vs r6 (all hard-green in CORRECTNESS_r06, code
# untouched this round): ann_pq_topk, ann_pq_rerank, ann_ivfpq_topk,
# doc_bigram_logprob, benchmark_contamination_fraction,
# corpus_source_cap, corpus_vocab_stats, doc_cross_dup_spans,
# top_terms_two_pass, pricing_summary, market_segment_revenue,
# ann_ivf_topk, ann_ivf_multiprobe, embedding_kmeans_clusters,
# ann_ivf_kmeans, doc_dup_spans, doc_span_removal, doc_line_dedup,
# doc_lm_logprob, corpus_temperature_sample, doc_dsir_weights,
# corpus_unimax_sample, doc_perplexity_buckets, doc_chunks,
# corpus_unimax_allocation, corpus_mixture_sample, doc_token_counts,
# doc_winnow_fingerprints, dedup_embedding_cosine, dedup_winnowing,
# training_shard_packing, multimodal_features_real (rows-only — the
# convention above now keeps it out permanently).
# Round 9:
#   - NEWLY VALUE-ORACLED (the r8 verdict's "121 of 125" gap): the
#     four previously rows-only entries gained oracles and MUST
#     window for their first-ever hash-match rows —
#     rest_source_scan + enrich_suppliers_mock (md5-derived mock
#     data replayed in SQL), multimodal_features_mock (byte-stat
#     features replayed per-byte in SQL; query now projects the
#     feature array to f0..f7 scalars), multimodal_features_real
#     (landed expected frame from the Spark-free pure-Python replay,
#     joined to the live documents view). Convention rule (3) is
#     retired — nothing in the catalog is rows-only anymore;
#   - CHANGED: the BPE family was rebuilt (fast exact driver-side
#     trainer + mapInPandas apply; output contract unchanged,
#     golden-tested) -> doc_bpe_merges, doc_bpe_token_counts;
#     the gate-estimate cache policy was unified into
#     _session_plan_cached -> every gated query windows
#     (dedup_ngram_jaccard, dedup_ngram_adjacent,
#     dedup_incremental_pairs, corpus_train_val_split, corpus_deduped,
#     corpus_curation_stats, training_corpus_pipeline,
#     dedup_clusters_ngram, dedup_simhash, dedup_embedding_srp);
#     dedup_family_agreement validated its budget policy up front
#     (that parameter has since been removed).
_WINDOW_R9 = [
    # NEW in round 9: the ingest gate's LSH route (first oracle rows)
    "dedup_incremental_pairs_lsh",
    # changed in round 9: band-key helper factored (minhash), sidecar
    # caches + manifest in the landed indexes, driver-side probes in
    # the index-backed hybrid
    "dedup_minhash_lsh", "doc_text_index_search",
    "doc_text_index_search_many", "doc_hybrid_search_indexed",
    "doc_hybrid_search_indexed_many",
    # newly value-oracled (must window — first hash-match rows)
    "rest_source_scan", "enrich_suppliers_mock",
    "multimodal_features_mock", "multimodal_features_real",
    # changed: BPE rebuild
    "doc_bpe_merges", "doc_bpe_token_counts",
    # changed: unified gate-estimate cache (every gated query) +
    # agreement validation
    "dedup_ngram_jaccard", "dedup_ngram_adjacent",
    "dedup_incremental_pairs", "corpus_train_val_split",
    "corpus_deduped", "corpus_curation_stats",
    "training_corpus_pipeline", "dedup_clusters_ngram",
    "dedup_simhash", "dedup_embedding_srp", "dedup_family_agreement",
    # r8-pushed veterans returning on rotation
    "corpus_snapshot_diff", "ann_hard_negatives", "doc_nb_quality",
    "supplier_neighborhood", "event_props_extract", "customer_tiering",
    "order_date_dimensions", "scalar_cleaning", "hourly_event_rollup",
    "automation_run_health", "user_sessions", "event_funnel",
    "distinct_customer_priorities", "order_stats_summary",
    "top_orders_per_customer", "top_orders", "customer_order_stats",
    "part_search_ilike", "event_type_counts", "orders_union_dedup",
    "priority_order_pick", "open_orders", "shipments_by_month",
    "customers_without_orders", "active_customer_keys",
    "nation_customer_rollup", "shared_supplier_pairs",
]

# Round 8 window (history): doc_hybrid_search_indexed,
# orders_page_keyset, doc_text_index_search_many,
# doc_hybrid_search_indexed_many, doc_bpe_merges, doc_bpe_token_counts,
# doc_bm25_search, doc_bm25_snippets, doc_text_index_search,
# doc_hybrid_search, doc_tfidf_keywords, dedup_ngram_jaccard,
# dedup_ngram_adjacent, dedup_incremental_pairs, corpus_train_val_split,
# corpus_deduped, corpus_curation_stats, training_corpus_pipeline,
# dedup_clusters_ngram, dedup_family_agreement, dedup_semantic,
# ann_ivfpq_topk, dedup_minhash_lsh, dedup_simhash, ann_pq_topk,
# ann_pq_rerank, doc_bigram_logprob, benchmark_contamination_fraction,
# corpus_source_cap, corpus_vocab_stats, doc_cross_dup_spans,
# top_terms_two_pass, pricing_summary, market_segment_revenue,
# ann_ivf_topk, ann_ivf_multiprobe, embedding_kmeans_clusters,
# ann_ivf_kmeans, doc_dup_spans, doc_span_removal, doc_line_dedup,
# doc_lm_logprob, doc_dsir_weights, doc_perplexity_buckets, doc_chunks,
# doc_token_counts, doc_winnow_fingerprints, dedup_embedding_cosine,
# dedup_winnowing, training_shard_packing.

# Round 10:
#   - CHANGED: minhash_lsh_pairs gained the family's candidate-mass
#     gate (one session-cached histogram before the band self-join) ->
#     dedup_minhash_lsh windows, plus every query whose auto-route can
#     reach the now-gated call (corpus_deduped,
#     training_corpus_pipeline, dedup_family_agreement,
#     dedup_incremental_pairs_lsh — the ingest gate's estimate also
#     moved into the session cache);
#   - CHANGED: the BPE module gained the byte_level mode (char path
#     untouched, goldens unchanged — windowed to prove it) ->
#     doc_bpe_merges, doc_bpe_token_counts;
#   - CHANGED: index sidecar cache rekeyed to content digest +
#     deep-copy returns -> doc_hybrid_search_indexed(+_many),
#     doc_text_index_search(+_many) (share the landed-index read path);
#   - NEW mid-round: corpus_deduped_keep_best (quality-aware cluster
#     representative — drop_near_duplicates(score_col=...)) and
#     ann_sq8_topk (8-bit scalar-quantized asymmetric cosine top-k);
#     pricing_summary / market_segment_revenue rotate out (both
#     hard-green in r9 and many prior rounds).
_WINDOW_R10 = [
    # NEW mid-round-10 (head): engine-portable sketches (md5-register
    # HyperLogLog, broadcast-dim Bloom decontamination), quality-aware
    # dedup representative and 8-bit scalar-quantized ANN — first
    # driver-green rows wanted
    "events_hll_users", "doc_bloom_decontamination", "supplier_triangles",
    "events_kmv_overlap",
    "corpus_deduped_keep_best", "ann_sq8_topk", "embedding_rp_project",
    "dedup_containment_pairs", "corpus_drop_contained",
    "benchmark_containment_pairs", "supplier_pagerank",
    # changed in round 10
    "dedup_minhash_lsh", "corpus_deduped", "training_corpus_pipeline",
    "dedup_family_agreement", "dedup_incremental_pairs_lsh",
    "doc_bpe_byte_merges",      # NEW in round 10: first oracle rows
    "doc_bpe_byte_token_counts",  # NEW in round 10
    "doc_bpe_merges", "doc_bpe_token_counts",
    "doc_hybrid_search_indexed", "doc_hybrid_search_indexed_many",
    "doc_text_index_search", "doc_text_index_search_many",
    # r8/r9-pushed veterans returning on rotation
    "doc_bm25_search", "doc_bm25_snippets", "doc_hybrid_search",
    "doc_tfidf_keywords", "dedup_semantic", "ann_ivfpq_topk",
    "ann_pq_topk", "ann_pq_rerank", "doc_bigram_logprob",
    "benchmark_contamination_fraction",
    "corpus_vocab_stats", "doc_cross_dup_spans",
    "ann_ivf_topk",
    "ann_ivf_multiprobe", "embedding_kmeans_clusters", "ann_ivf_kmeans",
    "doc_dup_spans", "doc_span_removal", "doc_line_dedup",
    "doc_lm_logprob", "doc_dsir_weights",
    # doc_chunks / doc_token_counts rotate out (hard-green since r2,
    # unchanged code) to hold the window at 50
    "dedup_embedding_cosine", "dedup_winnowing",
    # orders_page_keyset (hard-green + plan-asserted in pytest) and
    # doc_perplexity_buckets (hard-green since r4, unchanged code)
    # rotate out to hold the window at 50
    "training_shard_packing",
    "corpus_unimax_allocation", "fuzzy_match_customers",
]

_by_name = {s.name: s for s in _SPECS}
assert len(_by_name) == len(_SPECS), "duplicate catalog names"
assert len(_WINDOW_R10) == 50 == len(set(_WINDOW_R10)), len(_WINDOW_R10)
assert set(_WINDOW_R10) <= set(_by_name), set(_WINDOW_R10) - set(_by_name)
_window = set(_WINDOW_R10)
_rest = [s.name for s in _SPECS if s.name not in _window]

CATALOG: dict[str, QuerySpec] = {
    n: _by_name[n] for n in [*_WINDOW_R10, *_rest]}
