#!/usr/bin/env python
"""Per-query phase report: build and execute seconds, the Spark jobs of
each phase, and an answer hash, for catalog queries in one session.

    python tools/phase_report.py [--sf DIR] [-n ROUNDS] query [query ...]

Each round runs every named query. The builder call is phase ``build``
and its noop-sink write phase ``exec``; jobs are counted the way
``perfbench.trace.Recorder`` counts them (ids in the phase's job group
plus new ungrouped ids). A collect outside both phases gives the row
count and the md5 of the sorted rows. Round 1 is memo-cold; later
rounds reuse the session's memos. The session is
``get_spark(shuffle_partitions=8)``; DIR defaults to
``$SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COLUMNS = ("round", "query", "build_s", "build_jobs", "exec_s",
           "exec_jobs", "rows", "md5")


def report(spark, sf_dir: str, queries, rounds: int = 2) -> list[dict]:
    """One dict per (round, query), keyed by ``COLUMNS``."""
    from database_convertor_spark.plans.catalog import CATALOG
    from perfbench.trace import Recorder

    rec = Recorder(spark, "phase", traced=True)
    out = []
    for rnd in range(1, rounds + 1):
        for name in queries:
            with rec.op(name, "build") as build:
                df = CATALOG[name].builder(spark, sf_dir)
            with rec.op(name, "exec") as exe:
                df.write.format("noop").mode("overwrite").save()
            rows = sorted((tuple(r) for r in df.collect()), key=repr)
            out.append({
                "round": rnd, "query": name,
                "build_s": round(build.seconds, 3), "build_jobs": build.jobs,
                "exec_s": round(exe.seconds, 3), "exec_jobs": exe.jobs,
                "rows": len(rows),
                "md5": hashlib.md5(repr(rows).encode()).hexdigest()})
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap.add_argument("--sf", default=sf, required=sf is None,
                    help="directory of the input parquet tables "
                         "(default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("-n", type=int, default=2, help="rounds")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    from database_convertor_spark.session import get_spark

    spark = get_spark("phase-report", shuffle_partitions=8)
    print("\t".join(COLUMNS), flush=True)
    for row in report(spark, args.sf, args.queries, args.n):
        print("\t".join(str(row[c]) for c in COLUMNS), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
