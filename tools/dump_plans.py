#!/usr/bin/env python
"""Dump `.explain("formatted")` for headline queries into plans/ROUND/.

Usage: python tools/dump_plans.py ROUND SUFFIX [query ...]

ROUND names the output directory (e.g. "r12"); SUFFIX is typically
"before" or "after"; with no query names, every bench.HEADLINE query
is dumped. Output: plans/<ROUND>/<query>_<SUFFIX>.txt
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 1
    rnd, suffix = sys.argv[1:3]
    from bench import HEADLINE
    from database_convertor_spark.plans.catalog import CATALOG
    from database_convertor_spark.session import get_spark

    names = sys.argv[3:] or HEADLINE
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"dump-plans-{rnd}")
    for name in names:
        df = CATALOG[name].builder(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain(formatted) at {SF_DIR}\n")
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
