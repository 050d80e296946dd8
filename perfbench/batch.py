"""``catalog_batch``: catalog queries into the noop sink.

Each query is one operation: its builder call (span phase ``build``)
plus its noop write (phase ``exec``). Some queries spend their time in
the final plan, others in the builder call, so the per-query split
shows which layer a change moved.

Set-up writes the seeded star schema once. The first pass (phase
``verify``) warms the JVM, collects every answer and checks it against
the query's DuckDB oracle; an untimed pass like the timed ones (phase
``warm``) follows. Every pass after the first reads its own copy of
the schema, so no pass is served by plan-keyed memos or file listings
of an earlier pass; the cache is cleared between passes. A round is
the sum over queries of each query's median time over the timed
passes, each pass's times less its stolen CPU share.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from . import check, gen, trace

# execute-bound: time sits in the final plan (joins, shuffles, the
# similarity ladder, windows); builder-layer changes should leave these flat
# (entity resolution's ladder runs in the warehouse workload's weekly
# pipeline, so fuzzy_match_customers is left out here)
EXECUTE_BOUND = ["dedup_winnowing", "shared_supplier_pairs",
                 "top_orders_per_customer"]
# build-bound: time sits in the builder call (the pair-mass gate,
# persists, the connected-components solver); dedup_minhash_lsh is left
# out: its first (checked) run alone took ~11 s of a run's set-up
BUILD_BOUND = ["corpus_deduped"]
QUERIES = EXECUTE_BOUND + BUILD_BOUND

# timed passes per run at least; a query's time is its median pass
MIN_PASSES = 3
# star schema size: (scale factor, documents, embeddings)
SIZE, SMOKE_SIZE = (0.004, 300, 300), (0.001, 120, 120)


def run(ctx) -> None:
    from database_convertor_spark.plans.catalog import CATALOG

    spark, rec, queries = ctx.spark, ctx.rec, QUERIES
    sf, n_docs, n_vecs = SMOKE_SIZE if ctx.smoke else SIZE

    src = os.path.join(ctx.work, "star0")
    t0 = time.perf_counter()
    sizes = gen.write_star(src, ctx.seed, sf, n_docs, n_vecs)
    ctx.datagen_s = time.perf_counter() - t0
    ctx.log(f"star schema sf={sf} docs={n_docs} vecs={n_vecs} "
            f"bytes={sum(sizes.values())} {sizes}")

    rng = random.Random(ctx.seed)
    con = check.star_connection(src)
    t0 = time.perf_counter()
    for name in rng.sample(queries, len(queries)):
        ctx.attempted += 1
        try:
            with rec.op(name, "verify", timed=False):
                df = CATALOG[name].builder(spark, src)
                rows, cols = df.collect(), df.columns
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            ctx.fail(f"{name}: {type(exc).__name__}: {exc}")
            continue
        t1 = time.perf_counter()
        diff = check.against_sql(rows, cols, con, CATALOG[name].oracle)
        t0 += time.perf_counter() - t1  # the oracle is not warm-up time
        if diff:
            ctx.fail(f"{name}: wrong answer: {diff}")
    con.close()
    # one more untimed pass, as the timed ones run: the JVM is still
    # compiling after the first
    _pass(ctx, queries, rng, "warm", "warm")
    ctx.warmup_s = time.perf_counter() - t0
    ctx.setup_done()

    # per query, its seconds in each pass less the pass's stolen share
    per_query: dict[str, list[float]] = {q: [] for q in queries}
    deadline = time.perf_counter() + ctx.seconds
    while len(ctx.rounds) < MIN_PASSES or time.perf_counter() < deadline:
        ticks = trace.cpu_ticks()
        times = _pass(ctx, queries, rng, f"star{len(ctx.rounds) + 1}", None)
        share = trace.unstolen_share(ticks, trace.cpu_ticks())
        for name, secs in times.items():
            ctx.latencies.append(secs)
            per_query[name].append(secs * share)
        ctx.rounds.append(sum(times.values()))
        ctx.shares.append(share)
        ctx.log(f"pass {len(ctx.rounds)}: {ctx.rounds[-1]:.2f} s, "
                f"{1 - share:.1%} stolen")
    ctx.round_s = sum(trace.median(xs) for xs in per_query.values())


def _pass(ctx, queries, rng, dirname: str, phase: str | None) -> dict:
    """One pass over the queries, in a seeded order, on a fresh copy of
    the schema; each query's builder call is phase ``build`` and its
    noop write phase ``exec`` (both ``phase`` when given, untimed).
    Returns the seconds of each query that succeeded."""
    from database_convertor_spark.plans.catalog import CATALOG

    spark, rec, timed = ctx.spark, ctx.rec, phase is None
    d = os.path.join(ctx.work, dirname)
    shutil.copytree(os.path.join(ctx.work, "star0"), d)
    spark.catalog.clearCache()
    ctx.collect_garbage()
    out = {}
    for name in rng.sample(queries, len(queries)):
        ctx.attempted += 1
        try:
            with rec.op(name, phase or "build", timed=timed) as b:
                df = CATALOG[name].builder(spark, d)
            with rec.op(name, phase or "exec", timed=timed) as e:
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            ctx.fail(f"{name}: {type(exc).__name__}: {exc}")
            continue
        out[name] = b.seconds + e.seconds
    return out
