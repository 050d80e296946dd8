"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a cluster deployment would set
per-executor; the scale-relevant knobs (AQE, skew join handling,
shuffle partition sizing, Arrow) are on so the same plans survive a
100x scale-up: AQE re-coalesces the 32 local shuffle partitions today
and re-splits skewed partitions on a 1000-executor cluster tomorrow.
"""

from __future__ import annotations

import os
import threading
import warnings
from typing import NamedTuple

from pyspark.sql import SparkSession
from pyspark.storagelevel import StorageLevel

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "database_convertor_spark",
              master: str | None = None,
              shuffle_partitions: str | int | None = None) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Pinned session timezone (UTC) keeps timestamp semantics identical
    to UTC-naive engines (the DuckDB correctness oracle). Arrow is on
    for every pandas-UDF boundary. Partition discovery lists with one
    task per core, not one per partition directory.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # reliable checkpoints (connected components) are deleted when
        # their RDDs are GC'd instead of accumulating until JVM exit —
        # a long-lived session runs components many times (catalog
        # sweeps, bench loops), each leaving per-round checkpoint files
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # opening a table of more than 32 partition directories (a
        # 256-bucket MERGE table) lists them in a Spark job whose task
        # count defaults to one per directory, capped only at 10,000;
        # one task per core lists the same directories with a fraction
        # of the scheduling overhead. Listing stays distributed (the
        # threshold is untouched), which a remote store needs.
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
                cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 128 MB matches cluster practice; the env override exists so
        # a local scale run over few-but-splittable files can emulate
        # the many-input-splits parallelism a real corpus arrives with
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                               str(128 * 1024 * 1024)))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread(df):
    """Repartition ``df`` to the cluster's default parallelism ONLY
    when its source arrives with fewer partitions than that — the
    local/small-deployment fix for heavy per-row work (similarity
    ladders, shingle explodes, self-join probes) inheriting a
    single-file scan's 1-2 splits. A many-split 100-TB scan keeps its
    natural partitioning and pays no extra shuffle.

    Call this on SCAN-side frames only (projections/filters/explodes
    of a source): probing ``.rdd`` on a frame that already contains a
    broadcast join eagerly materializes the broadcast build, running
    its sub-plan twice (measured at the sf1 probe).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def collect_within_budget(df, max_rows: int):
    """A size gate whose probe IS the collect: one
    ``limit(max_rows + 1).toPandas()`` either returns the whole frame
    (at most ``max_rows`` rows came back) or proves the overflow with
    the one extra row and returns None. A collect that raises (e.g.
    ``spark.driver.maxResultSize``) also returns None, so every caller
    falls back to its distributed path instead of failing."""
    try:
        pdf = df.limit(max_rows + 1).toPandas()
    except Exception:
        return None
    return None if len(pdf) > max_rows else pdf


class PairBudgetExceeded(ValueError, RuntimeError):
    """A pair join's estimated mass exceeds its budget. Both a
    ValueError and a RuntimeError, the two types the gates raised
    before they shared ``pair_budget``. ``mass`` and ``budget`` carry
    the numbers the message prints."""

    def __init__(self, message: str, mass: float, budget: float):
        super().__init__(message)
        self.mass = mass
        self.budget = budget


class PairBudget(NamedTuple):
    """A pair gate's decision: the estimate it took (None when the
    budget is None and no estimate ran) and whether to route."""
    mass: float | None
    route: bool


def check_budget_policy(on_exceeded: str) -> None:
    """Reject an ``on_budget_exceeded`` value other than 'raise' or
    'route'. Runs no job, so a caller that takes a job before its gate
    calls it first."""
    if on_exceeded not in ("raise", "route"):
        raise ValueError(
            f"on_budget_exceeded must be 'raise' or 'route', got "
            f"{on_exceeded!r}")


def pair_budget(op: str, budget_name: str, budget: float | None,
                estimate, remedy: str,
                on_exceeded: str = "raise") -> PairBudget:
    """The one gate in front of a quadratic pair join: a budget of None
    skips it without running ``estimate``; otherwise ``estimate()``
    runs once and a mass past ``budget`` either raises
    ``PairBudgetExceeded`` (``'raise'``) or warns once and returns
    ``route=True`` (``'route'``, the caller runs its bounded plan).
    ``remedy`` says what the mass is and what bounds it."""
    check_budget_policy(on_exceeded)
    if budget is None:
        return PairBudget(None, False)
    mass = float(estimate())
    if mass <= budget:
        return PairBudget(mass, False)
    msg = f"{op}: {mass:,.0f} exceeds {budget_name}={budget:,.0f} — {remedy}"
    if on_exceeded == "raise":
        raise PairBudgetExceeded(
            f"{msg}; pass {budget_name}=None to run the exact plan",
            mass, budget)
    warnings.warn(f"{msg}; routing to the on_budget_exceeded='route' plan",
                  stacklevel=3)
    return PairBudget(mass, True)


def _context_identity():
    """(applicationId, startTime) of the live SparkContext, or None.
    Not ``id(sc)``: a stopped context's id can be reused by the next."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return None if sc is None else (sc.applicationId, sc.startTime)


def session_memo(maxsize: int):
    """A get-or-compute memo ``memo(key, compute)`` scoped to the live
    SparkContext: the first use under a different context drops every
    entry (a memoized Column or UDF wraps handles into the JVM that
    built it), and at most ``maxsize`` entries are kept, oldest out
    first. With no live context it just computes."""
    entries: dict = {}
    owner = [None]
    lock = threading.Lock()

    def memo(key, compute):
        ctx = _context_identity()
        if ctx is None:
            return compute()
        with lock:
            if owner[0] != ctx:
                entries.clear()
                owner[0] = ctx
            if key in entries:
                return entries[key]
        value = compute()
        with lock:
            if owner[0] == ctx:
                while len(entries) >= maxsize:
                    entries.pop(next(iter(entries)))
                entries[key] = value
        return value

    return memo


# frames persisted by the running query, keyed by the context identity
# they were persisted under
_QUERY_FRAMES: dict = {}
_QUERY_LOCK = threading.Lock()


def persist_for_query(df, level=StorageLevel.MEMORY_AND_DISK):
    """Persist ``df`` for the running query: it stays cached through the
    query's build and its sink, and the next ``new_query()`` releases
    it. Returns the persisted frame."""
    df = df.persist(level)
    ctx = _context_identity()
    with _QUERY_LOCK:
        _QUERY_FRAMES.setdefault(ctx, []).append(df)
    return df


def new_query() -> None:
    """Start a query: unpersist every frame ``persist_for_query``
    recorded under the live context, newest first (a frame cached over
    an earlier one goes before its base, so Spark never re-plans it).
    Frames recorded under a stopped context are dropped without a call
    into its JVM. Releasing a frame some caller still holds costs a
    recompute, never a wrong answer: its lineage is intact."""
    ctx = _context_identity()
    with _QUERY_LOCK:
        frames = _QUERY_FRAMES.pop(ctx, [])
        _QUERY_FRAMES.clear()
    for df in reversed(frames):
        df.unpersist()
