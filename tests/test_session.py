"""The session helpers every gate, memo and persisted intermediate
goes through: ``collect_within_budget`` (the size probe that doubles
as the collect), ``session_memo`` (get-or-compute scoped to the live
SparkContext) and ``persist_for_query`` / ``new_query`` (a persisted
intermediate lives until the next query starts)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from database_convertor_spark import session
from database_convertor_spark.session import (
    collect_within_budget,
    new_query,
    persist_for_query,
    session_memo,
)


def _never(df, max_rows):
    return None


# ------------------------------------------------------ collect_within_budget


def test_collect_within_budget_under_at_and_past(spark):
    df = spark.range(5)
    under = collect_within_budget(df, 7)
    assert sorted(under["id"]) == [0, 1, 2, 3, 4]
    at = collect_within_budget(df, 5)
    assert len(at) == 5
    assert collect_within_budget(df, 4) is None


def test_collect_within_budget_failed_collect_is_none(spark, monkeypatch):
    """A collect that raises (spark.driver.maxResultSize) answers None,
    so the caller falls back instead of failing."""
    def boom(self):
        raise RuntimeError("Total size of serialized results is bigger "
                           "than spark.driver.maxResultSize")

    df = spark.range(3)
    monkeypatch.setattr(type(df), "toPandas", boom)
    assert collect_within_budget(df, 10) is None


def test_components_gate_parity(spark, monkeypatch):
    """Forcing the probe to None routes connected_components to the
    distributed star rounds; the answer is the local path's."""
    from database_convertor_spark.operators import components as comp

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20),
             (3, 4), (30, 30), (3, 2)]
    frames = [spark.createDataFrame(edges, ["src", "dst"]),
              spark.createDataFrame([(f"d{a}", f"d{b}") for a, b in edges],
                                    ["src", "dst"])]

    def run(df):
        return sorted(tuple(r) for r in comp.connected_components(df)
                      .collect())

    local = [run(df) for df in frames]
    monkeypatch.setattr(comp, "collect_within_budget", _never)
    assert [run(df) for df in frames] == local


def test_kmeans_gate_parity(spark, monkeypatch):
    """kmeans_fit past its probe (the distributed Lloyd loop) returns
    the local fit's centroids and inertia bit for bit."""
    from database_convertor_spark.operators import similarity_search as ss
    from database_convertor_spark.sources.readers import read_table

    from .conftest import SF_SMALL

    emb = read_table(spark, SF_SMALL, "embeddings")
    probes = []
    orig = ss.collect_within_budget

    def spy(df, max_rows):
        out = orig(df, max_rows)
        probes.append(out is not None)
        return out

    monkeypatch.setattr(ss, "collect_within_budget", spy)
    local = ss.kmeans_fit(emb, k=8, n_iter=5)
    assert probes == [True]
    monkeypatch.setattr(ss, "collect_within_budget", _never)
    assert ss.kmeans_fit(emb, k=8, n_iter=5) == local


def test_fuzzy_exact_rescue_gate_parity(spark, monkeypatch):
    """fuzzy_join's exact-rescue regime answers the same when the
    dimension probe yields nothing (the gate falls back to a count and
    the rung collects the dimension itself)."""
    from database_convertor_spark.operators import entity_resolution as er
    from database_convertor_spark.sources.readers import read_table

    from .conftest import SF_SMALL

    customer = read_table(spark, SF_SMALL, "customer")
    supplier = read_table(spark, SF_SMALL, "supplier")

    def run():
        return sorted(tuple(r) for r in er.fuzzy_join(
            customer, supplier, "c_name", "s_name", "c_custkey",
            "s_suppkey", top_k=1).collect())

    probes = []
    orig = er.collect_within_budget

    def spy(df, max_rows):
        out = orig(df, max_rows)
        probes.append(out is not None)
        return out

    monkeypatch.setattr(er, "collect_within_budget", spy)
    probed = run()
    assert probes == [True] and probed
    monkeypatch.setattr(er, "collect_within_budget", _never)
    assert run() == probed


# ------------------------------------------------------------- session_memo


def test_session_memo_hit_miss_and_fifo(monkeypatch):
    monkeypatch.setattr(session, "_context_identity", lambda: ("app", 1))
    memo = session_memo(2)
    calls = []

    def compute(v):
        def f():
            calls.append(v)
            return v * 10
        return f

    assert memo("a", compute(1)) == 10
    assert memo("a", compute(99)) == 10          # hit
    assert memo("b", compute(2)) == 20
    assert memo("c", compute(3)) == 30           # evicts "a", the oldest
    assert memo("b", compute(99)) == 20          # still held
    assert memo("a", compute(4)) == 40           # recomputed
    assert calls == [1, 2, 3, 4]


def test_session_memo_cleared_by_new_context(monkeypatch):
    ctx = [("app-1", 100)]
    monkeypatch.setattr(session, "_context_identity", lambda: ctx[0])
    memo = session_memo(8)
    assert memo("k", lambda: "old") == "old"
    assert memo("k", lambda: "unused") == "old"
    ctx[0] = ("app-2", 200)
    assert memo("k", lambda: "new") == "new"
    ctx[0] = None                                 # no live context
    assert memo("k", lambda: "bare") == "bare"


# ------------------------------------------- persist_for_query / new_query


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_next_query_releases_previous_intermediates(spark):
    """Building the next catalog query releases what the previous one
    persisted: after doc_nb_quality and then pricing_summary the
    CacheManager is empty. Fails at the parent commit, where
    doc_nb_quality's three frames stayed cached between queries."""
    from database_convertor_spark.plans.catalog import CATALOG

    from .conftest import SF_SMALL

    spark.catalog.clearCache()
    CATALOG["doc_nb_quality"].builder(spark, SF_SMALL).collect()
    assert not _cache_is_empty(spark)
    CATALOG["pricing_summary"].builder(spark, SF_SMALL).collect()
    assert _cache_is_empty(spark)


def test_persists_within_one_query_do_not_evict_each_other(spark):
    """Two weekly runs in one query, on different inputs, both keep
    their matches cached. Fails at the parent commit, where the second
    run evicted the first run's matches."""
    from pyspark.storagelevel import StorageLevel

    from database_convertor_spark.pipelines.weekly import (
        run_weekly_pipeline,
    )

    discovered = spark.createDataFrame(
        [("camden", "APP/1", "Barratt Homes Limited", None),
         ("camden", "APP/2", "Taylor Wimpey PLC", None)],
        "borough string, reference string, applicant_name string, "
        "agent_name string")
    existing = spark.createDataFrame([], "borough string, reference string")
    companies = spark.createDataFrame(
        [(101, "BARRATT HOMES LIMITED"), (102, "TAYLOR WIMPEY PLC")],
        ["company_id", "company_name"])
    first = run_weekly_pipeline(discovered, existing, companies)
    second = run_weekly_pipeline(discovered, existing, companies.limit(1))
    assert first.matches.storageLevel == StorageLevel.MEMORY_AND_DISK
    assert second.matches.storageLevel == StorageLevel.MEMORY_AND_DISK


class _Frame:
    """Stands in for a DataFrame without a JVM: records whether it was
    unpersisted."""

    def __init__(self):
        self.unpersisted = False

    def persist(self, level):
        return self

    def unpersist(self):
        self.unpersisted = True


def test_new_query_drops_stopped_context_frames_without_jvm_call(
        monkeypatch):
    """Frames persisted under a context that has since stopped are
    dropped from the record, never unpersisted; frames of the live
    context are unpersisted. (At the parent commit neither function
    exists.)"""
    ctx = [("app-1", 100)]
    monkeypatch.setattr(session, "_context_identity", lambda: ctx[0])
    monkeypatch.setattr(session, "_QUERY_FRAMES", {})
    dead = persist_for_query(_Frame())
    ctx[0] = ("app-2", 200)                       # a restarted session
    live = persist_for_query(_Frame())
    new_query()
    assert not dead.unpersisted
    assert live.unpersisted
    assert session._QUERY_FRAMES == {}


_RESTART_SCRIPT = """
import json
from database_convertor_spark.session import get_spark
from database_convertor_spark.operators import dedup

def run():
    spark = get_spark("memo-restart", master="local[2]",
                      shuffle_partitions=2)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs, quickly")],
        "doc_id long, text string")
    fps = sorted(tuple(r) for r in dedup.winnow_fingerprints(docs).collect())
    return spark, dedup._winnow_fps_udf(10, 8), fps

spark, udf1, fps1 = run()
spark.stop()
spark, udf2, fps2 = run()
spark.stop()
print(json.dumps({"fresh": udf1 is not udf2, "same": fps1 == fps2,
                  "n": len(fps1)}))
"""


def test_winnow_udf_rebuilt_after_session_restart():
    """After a session stop/start the winnowing kernel is a fresh UDF
    (one kept from the dead context reports its accumulator updates to
    it) with identical fingerprints. Runs in its own interpreter so
    the suite's shared session is untouched."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root + os.pathsep
               + os.environ.get("PYTHONPATH", ""),
               SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", _RESTART_SCRIPT], cwd=root,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {"fresh": True, "same": True, "n": out["n"]}
    assert out["n"] > 0
    assert "Failed to update accumulator" not in proc.stderr
