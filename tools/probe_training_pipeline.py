#!/usr/bin/env python
"""Phase-level timing of training_corpus_pipeline at $SPARK_GRAFT_SF_DIR
(guide §1.5 — label the jobs, find the serialized legs before touching
anything). Times, in order: the pair-mass gate aggregate, the CC
checkpoint+budget job, the local CC resolve, and the final chunk+pack
noop write, each as its own wall-clock segment of ONE query execution.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    from database_convertor_spark.plans.catalog import CATALOG
    from database_convertor_spark.session import get_spark

    spark = get_spark("probe-training-pipeline")
    # warm pass at sf0.01 (JIT / codegen)
    warm = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    CATALOG["training_corpus_pipeline"].builder(spark, warm) \
        .write.format("noop").mode("overwrite").save()

    import database_convertor_spark.operators.components as comp
    import database_convertor_spark.operators.dedup as dd
    import database_convertor_spark.pipelines.corpus as cp

    marks: list[tuple[str, float]] = []

    orig_gate = dd.block_pair_mass if hasattr(dd, "block_pair_mass") else None

    # wrap connected_components to time its internals
    orig_cc = comp.connected_components
    orig_local = comp._local_components
    orig_budget = comp.collect_within_budget

    def cc_timed(*a, **k):
        t0 = time.perf_counter()
        out = orig_cc(*a, **k)
        marks.append(("connected_components total", time.perf_counter() - t0))
        return out

    def budget_timed(df, max_rows):
        t0 = time.perf_counter()
        out = orig_budget(df, max_rows)
        marks.append(("cc: budget probe+collect job", time.perf_counter() - t0))
        return out

    def local_timed(e0, pdf=None):
        t0 = time.perf_counter()
        out = orig_local(e0, pdf=pdf)
        marks.append(("cc: local resolve (toPandas+duckdb+createDF)",
                      time.perf_counter() - t0))
        return out

    comp.connected_components = cc_timed
    comp.collect_within_budget = budget_timed
    comp._local_components = local_timed

    orig_pairs = dd.ngram_jaccard_pairs

    def pairs_timed(*a, **k):
        t0 = time.perf_counter()
        out = orig_pairs(*a, **k)
        marks.append(("ngram_jaccard_pairs build (incl gate agg)",
                      time.perf_counter() - t0))
        return out

    dd.ngram_jaccard_pairs = pairs_timed
    cp.dedup.ngram_jaccard_pairs = pairs_timed

    for i in range(2):
        marks.clear()
        t0 = time.perf_counter()
        df = CATALOG["training_corpus_pipeline"].builder(spark, SF_DIR)
        t_build = time.perf_counter() - t0
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_exec = time.perf_counter() - t1
        print(f"--- pass {i}: build(driver, incl eager CC) "
              f"{t_build:.2f}s  final noop write {t_exec:.2f}s  "
              f"total {t_build + t_exec:.2f}s")
        for name, dt in marks:
            print(f"    {name}: {dt:.2f}s")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
