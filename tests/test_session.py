"""The session helpers every gate, memo and persisted intermediate
goes through: ``collect_within_budget`` (the size probe that doubles
as the collect), ``pair_budget`` (the estimate-then-decide gate in
front of a quadratic pair join), ``session_memo`` (get-or-compute
scoped to the live SparkContext) and ``persist_for_query`` /
``new_query`` (a persisted intermediate lives until the next query
starts)."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys

import pytest

from database_convertor_spark import session
from database_convertor_spark.session import (
    PairBudget,
    PairBudgetExceeded,
    collect_within_budget,
    new_query,
    pair_budget,
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
    the rescue takes the full-ladder broadcast cross join)."""
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


def test_containment_prefix_released_by_next_query(spark):
    """containment_pairs persists its gated prefix for the query, so
    the next query leaves the CacheManager empty. Fails at the parent
    commit, where the prefix was a bare persist() that only the
    over-budget path unpersisted."""
    from database_convertor_spark.operators.dedup import containment_pairs
    from database_convertor_spark.sources.readers import read_table

    from .conftest import SF_SMALL

    spark.catalog.clearCache()
    new_query()
    docs = read_table(spark, SF_SMALL, "documents").filter("doc_id < 200")
    containment_pairs(docs).collect()
    new_query()
    assert _cache_is_empty(spark)


# ---------------------------------------------------------------- pair_budget

# operators whose quadratic pair join sits behind pair_budget
_GATED = ["ngram_jaccard_pairs", "containment_pairs",
          "cross_corpus_containment", "minhash_lsh_pairs", "simhash_pairs",
          "embedding_srp_pairs", "hard_negatives", "ingest_documents",
          "run_ingest_stream"]
_ROUTE_CAPABLE = {"ngram_jaccard_pairs", "hard_negatives",
                  "ingest_documents", "run_ingest_stream"}
# the policy value a None budget replaced
_REMOVED_POLICY = "ignore"


def _gated_call(spark, tmp_path, op):
    """(module holding the operator's pair_budget, call(budget, **kw)).
    The inputs carry exact copies, so every estimate is positive."""
    from pyspark.sql import functions as F

    from database_convertor_spark.operators import dedup
    from database_convertor_spark.operators import similarity_search as ss
    from database_convertor_spark.pipelines import corpus
    from database_convertor_spark.sources.readers import read_table
    from database_convertor_spark.streaming import pipeline

    from .conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents").filter("doc_id < 40")
    docs = docs.unionByName(docs.filter("doc_id < 4").withColumn(
        "doc_id", F.col("doc_id") + 100_000))
    emb = (read_table(spark, SF_SMALL, "embeddings")
           .filter("vec_id < 30").select("vec_id", "embedding"))
    emb = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 1000))
    calls = {
        "ngram_jaccard_pairs": (dedup, lambda b, **kw: (
            dedup.ngram_jaccard_pairs(docs, max_block_pairs=b, **kw))),
        "containment_pairs": (dedup, lambda b: dedup.containment_pairs(
            docs, max_candidate_pairs=b)),
        "cross_corpus_containment": (dedup, lambda b: (
            dedup.cross_corpus_containment(
                docs.filter("doc_id < 4"), docs.filter("doc_id >= 4"),
                max_candidate_pairs=b))),
        "minhash_lsh_pairs": (dedup, lambda b: dedup.minhash_lsh_pairs(
            docs, max_candidate_pairs=b)),
        "simhash_pairs": (dedup, lambda b: dedup.simhash_pairs(
            docs, max_candidate_pairs=b)),
        "embedding_srp_pairs": (dedup, lambda b: dedup.embedding_srp_pairs(
            emb, max_candidate_pairs=b)),
        "hard_negatives": (ss, lambda b, **kw: ss.hard_negatives(
            emb.filter("vec_id < 4"), emb, max_pair_mass=b, **kw)),
        "ingest_documents": (corpus, lambda b, **kw: corpus.ingest_documents(
            docs.filter("doc_id >= 100000"), docs.filter("doc_id < 100000"),
            max_block_pairs=b, **kw)),
        "run_ingest_stream": (pipeline, lambda b, **kw: (
            pipeline.run_ingest_stream(
                spark, SF_SMALL, str(tmp_path / "ckpt"),
                str(tmp_path / "corpus"), max_block_pairs=b, **kw))),
    }
    return calls[op]


class _Stop(Exception):
    pass


@pytest.mark.parametrize("op", _GATED)
def test_pair_budget_gate(spark, tmp_path, monkeypatch, op):
    """Each gated operator goes through pair_budget: past the budget it
    raises PairBudgetExceeded (a ValueError and a RuntimeError); a None
    budget runs no estimate; where a policy parameter remains, 'ignore'
    is rejected before any Spark job runs."""
    module, call = _gated_call(spark, tmp_path, op)
    with pytest.raises(PairBudgetExceeded, match=op) as exc:
        call(0)
    assert isinstance(exc.value, ValueError)
    assert isinstance(exc.value, RuntimeError)
    assert exc.value.mass > exc.value.budget == 0

    if op in _ROUTE_CAPABLE:
        sc = spark.sparkContext
        group = f"pair-budget-ignore-{op}"
        sc.setJobGroup(group, "a removed on_budget_exceeded value")
        try:
            with pytest.raises(ValueError, match="on_budget_exceeded"):
                call(5_000_000, on_budget_exceeded=_REMOVED_POLICY)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    decisions = []

    def spy(op_, budget_name, budget, estimate, remedy, *policy):
        def never():
            raise AssertionError(f"{op_} estimated under a None budget")

        decisions.append(pair_budget(op_, budget_name, budget, never,
                                     remedy, *policy))
        raise _Stop

    monkeypatch.setattr(module, "pair_budget", spy)
    with pytest.raises(_Stop):
        call(None)
    assert decisions == [PairBudget(None, False)]


def test_pair_budget_routes_once_with_warning():
    """'route' past the budget warns once and returns route=True; under
    the budget neither raises nor routes."""
    with pytest.warns(UserWarning, match="routing to") as caught:
        gate = pair_budget("op", "max_pairs", 1, lambda: 2, "remedy",
                           "route")
    assert gate == PairBudget(2.0, True) and len(caught) == 1
    assert pair_budget("op", "max_pairs", 2, lambda: 2, "remedy",
                       "route") == PairBudget(2.0, False)


# ------------------------------------------------ session-scoped UDF kernels

_RESTART_SCRIPT = """
import json
import sys

from pyspark.sql import functions as F

from database_convertor_spark.functions import similarity, text
from database_convertor_spark.operators import dedup
from database_convertor_spark.session import get_spark

# case -> (output frame over docs, the kernel UDF the column uses)
CASES = {
    "winnowing": (lambda d: dedup.winnow_fingerprints(d),
                  lambda: dedup._winnow_fps_udf(10, 8)),
    "simhash": (lambda d: d.select("doc_id",
                                   dedup.simhash64_fast(F.col("text"))),
                lambda: dedup._simhash_udf_memo(None,
                                                dedup._make_simhash_udf)),
    "nfc": (lambda d: d.select("doc_id", text.nfc_normalize(F.col("text"))),
            lambda: text._nfc_udf_memo(None, text._make_nfc_udf)),
    "sequence_ratio": (
        lambda d: d.select("doc_id", similarity.sequence_ratio(
            F.col("text"), F.lit("the quick brown fox"))),
        lambda: similarity._sequence_ratio_memo(
            None, similarity._make_sequence_ratio_udf)),
}
frame, kernel = CASES[sys.argv[1]]


def run():
    spark = get_spark("memo-restart", master="local[2]",
                      shuffle_partitions=2)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs, quickly"),
         (3, "cafe\u0301 au lait")],
        "doc_id long, text string")
    out = sorted(tuple(r) for r in frame(docs).collect())
    return spark, kernel(), out

spark, udf1, out1 = run()
spark.stop()
spark, udf2, out2 = run()
spark.stop()
print(json.dumps({"fresh": udf1 is not udf2, "same": out1 == out2,
                  "n": len(out1)}))
"""


@pytest.mark.parametrize("case", ["winnowing", "simhash", "nfc",
                                  "sequence_ratio"])
def test_udf_rebuilt_after_session_restart(case):
    """After a session stop/start each Python kernel is a fresh UDF
    (one kept from the dead context reports its accumulator updates to
    it) with identical output. Runs in its own interpreter so the
    suite's shared session is untouched."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root + os.pathsep
               + os.environ.get("PYTHONPATH", ""),
               SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", _RESTART_SCRIPT, case],
                          cwd=root, env=env, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {"fresh": True, "same": True, "n": out["n"]}
    assert out["n"] > 0
    assert "Failed to update accumulator" not in proc.stderr


def _udf_callee(node) -> bool:
    """A reference to ``pandas_udf``/``udf`` (``F.udf``, a bare name, or
    a decorator call of either)."""
    if isinstance(node, ast.Call):
        node = node.func
    name = (node.attr if isinstance(node, ast.Attribute)
            else node.id if isinstance(node, ast.Name) else "")
    return name in ("pandas_udf", "udf")


def _builds_udf(value) -> bool:
    """The expression calls a UDF constructor or a ``*udf*`` builder."""
    for call in ast.walk(value):
        if isinstance(call, ast.Call):
            f = call.func
            name = (f.attr if isinstance(f, ast.Attribute)
                    else f.id if isinstance(f, ast.Name) else "")
            if _udf_callee(call) or "udf" in name.lower():
                return True
    return False


def _process_scoped_udfs(tree):
    """Module-level UDFs and ``global`` UDF caches: each outlives the
    session that first runs it."""
    for node in tree.body:
        if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and any(_udf_callee(d) for d in node.decorator_list)):
            yield node.lineno, f"module-level UDF {node.name}"
        if (isinstance(node, (ast.Assign, ast.AnnAssign))
                and node.value is not None and _builds_udf(node.value)):
            yield node.lineno, "module-level UDF assignment"
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        names = {n for g in ast.walk(fn) if isinstance(g, ast.Global)
                 for n in g.names}
        for a in ast.walk(fn):
            if (isinstance(a, ast.Assign) and _builds_udf(a.value)
                    and any(isinstance(t, ast.Name) and t.id in names
                            for t in a.targets)):
                yield a.lineno, f"global UDF cache in {fn.name}"


def test_no_udf_outlives_its_session():
    """A UDF binds to the SparkContext that first runs it, so a kernel
    built once per process breaks after a session restart: every UDF
    is built inside a function (through ``session_memo`` when it is
    reused). Fails at the parent commit on dedup's _SIMHASH_UDF,
    text._nfc_udf and similarity.sequence_ratio."""
    import database_convertor_spark as pkg

    root = os.path.dirname(pkg.__file__)
    found = []
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read(), path)
                found += [f"{os.path.relpath(path, root)}:{line}: {what}"
                          for line, what in _process_scoped_udfs(tree)]
    assert found == []
