#!/usr/bin/env python
"""Scale probe for containment_pairs (exact prefix-filter containment
join) + rp_project (JL projection).

Legs:
1. ESTIMATE-EXACTNESS (sf0.1): the gate's mass formula — sum over
   prefix rows of (df - 1) — must equal the ACTUAL pre-ordering
   non-self candidate row count from running the raw prefix×token
   join. The gate claims an exact count, not a bound; prove it.
2. GATE (sf1): the full-corpus run must refuse under the default
   budget with that exact mass in the message.
3. COMPLETION (sf1): where the corpus allows (the scale corpus's
   per-copy token suffixes keep cross-copy vocabulary disjoint, so
   prefix df — and the mass — ride within-copy frequency), run with
   ``max_candidate_pairs=None`` and record wall clock + output size.
4. rp_project decades: sf1/sf10(/sf100 if present) timings of the
   64->16 projection over the full embeddings table (noop sink).

Usage: python tools/run_containment_probe.py [--sf100]
Writes .scratch/containment_probe.json
"""
from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "2097152")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from database_convertor_spark.functions.text import tokens  # noqa: E402
from database_convertor_spark.operators.dedup import (  # noqa: E402
    containment_pairs,
)
from database_convertor_spark.session import (  # noqa: E402
    PairBudgetExceeded,
    get_spark,
)
from database_convertor_spark.sources.readers import read_table  # noqa: E402


def _prefix_frames(documents, threshold):
    docs = documents.select(
        "doc_id", "lang",
        F.array_distinct(tokens(F.lower(F.col("text")))).alias("toks"))
    docs = docs.withColumn("n", F.size("toks"))
    tok = docs.select("doc_id", "lang", "n", F.explode("toks").alias("tok"))
    dfreq = tok.groupBy("lang", "tok").agg(F.count("*").alias("df"))
    ranked = tok.join(dfreq, ["lang", "tok"])
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    pref_len = (F.col("n")
                - F.ceil(F.lit(threshold) * F.col("n")).cast("int") + 1)
    prefix = (ranked.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= pref_len))
    return tok, prefix


def main() -> None:
    spark = get_spark("containment_probe")
    out: dict = {}

    # --- leg 1: estimate exactness at sf0.1 -------------------------
    docs01 = read_table(spark, "/root/testdata/sf0.1", "documents")
    tok, prefix = _prefix_frames(docs01, 0.9)
    prefix = prefix.persist()
    est = float(prefix.agg(F.sum(F.col("df") - 1)).first()[0] or 0)
    a, b = prefix.alias("a"), tok.alias("b")
    actual = (a.join(b, (F.col("a.lang") == F.col("b.lang"))
                     & (F.col("a.tok") == F.col("b.tok"))
                     & (F.col("a.doc_id") != F.col("b.doc_id"))).count())
    prefix.unpersist()
    out["estimate_sf01"] = est
    out["actual_preorder_candidates_sf01"] = actual
    out["estimate_exact"] = (est == actual)
    print(f"sf0.1 estimate {est:,.0f} vs actual {actual:,} "
          f"-> exact={est == actual}", flush=True)

    # --- leg 2: gate fires at sf1 -----------------------------------
    docs1 = read_table(spark, ".scratch/sf1", "documents")
    try:
        containment_pairs(docs1, threshold=0.9).count()
        out["sf1_gate"] = "DID NOT FIRE (unexpected)"
    except PairBudgetExceeded as exc:
        out["sf1_gate"] = "fired"
        out["sf1_gate_mass"] = exc.mass
        print(f"sf1 gate fired: mass {out['sf1_gate_mass']:,.0f}", flush=True)

    # --- leg 3: completion at sf1, ungated -------------------------
    if out.get("sf1_gate_mass", float("inf")) <= 500_000_000:
        t0 = time.perf_counter()
        n = containment_pairs(docs1, threshold=0.9,
                              max_candidate_pairs=None).count()
        out["sf1_ignore_secs"] = round(time.perf_counter() - t0, 1)
        out["sf1_pairs"] = n
        print(f"sf1 ungated: {n:,} pairs in {out['sf1_ignore_secs']}s",
              flush=True)
    else:
        out["sf1_ignore_secs"] = "skipped (mass past local budget)"

    # --- leg 4: rp_project decades ----------------------------------
    from database_convertor_spark.operators.similarity_search import (
        rp_project,
    )
    scales = [".scratch/sf1", ".scratch/sf10"]
    if "--sf100" in sys.argv:
        scales.append(".scratch/sf100")
    rp_project(read_table(spark, "/root/testdata/sf0.01", "embeddings")) \
        .write.format("noop").mode("overwrite").save()   # warm
    for sf in scales:
        emb = read_table(spark, sf, "embeddings")
        t0 = time.perf_counter()
        rp_project(emb, out_dim=16).write.format("noop") \
            .mode("overwrite").save()
        out[f"rp_project@{sf}"] = round(time.perf_counter() - t0, 1)
        print(f"rp_project @ {sf}: {out[f'rp_project@{sf}']}s", flush=True)

    with open(".scratch/containment_probe.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
