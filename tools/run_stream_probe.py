#!/usr/bin/env python
"""Decade probes for the STREAMING lifecycles (round-9 verdict item 3):
the batch operators carry three measured scale decades (SCALE.md); the
streaming twins were correctness-tested at fixture scale only. This
drives each maintenance stream at a scratch-corpus scale (sf1 = 50k
docs / 20k vecs, sf10 = 500k / 200k — `make_scale_corpus.py`) and
records (a) drain wall time per decade and (b) an END-STATE IDENTITY
check against the batch twin:

- `run_text_index_ingest_stream`: land the index on the first half of
  `documents`, stream the second half through a landing dir; the final
  postings table must EQUAL `_postings(all docs)` row-for-row.
- `run_index_ingest_stream`: same for the IVFADC index — final codes
  table == `ivfpq_encode_under(all vecs)` under the frozen codebooks.
- `run_session_window_stream`: streamed per-user session counts ==
  `relational.user_sessions` on the same events (gap 30 min).
- `run_ingest_stream`: near-dup-gated corpus ingest; the contract is
  the invariant (the admitted corpus holds NO near-dup pair at the
  threshold — verified by running the pair stage over the final
  corpus), plus admitted-count accounting.

Usage: python tools/run_stream_probe.py .scratch/sf1 [out.json]
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402


def build_spark() -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (SparkSession.builder.master(f"local[{cpus}]")
            .config("spark.sql.shuffle.partitions", cpus)
            .config("spark.driver.memory", "96g")
            .config("spark.sql.adaptive.enabled", "true")
            .appName("stream-probe").getOrCreate())


def frames_equal(a, b) -> bool:
    """Exact multiset equality of two frames with identical schemas."""
    return (a.exceptAll(b).limit(1).count() == 0
            and b.exceptAll(a).limit(1).count() == 0)


def probe_text_index(spark, sf_dir: str, work: str) -> dict:
    from database_convertor_spark.operators.search import (
        _postings, land_text_index)
    from database_convertor_spark.streaming.pipeline import (
        run_text_index_ingest_stream)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    base, late = docs.filter(F.col("doc_id") <= mid), \
        docs.filter(F.col("doc_id") > mid)
    idx = os.path.join(work, "text_idx")
    landing = os.path.join(work, "text_landing")
    land_text_index(base, idx)
    late.repartition(16).write.mode("overwrite").parquet(landing)

    t0 = time.time()
    run_text_index_ingest_stream(spark, landing, idx,
                                 os.path.join(work, "text_ckpt"))
    drain_s = time.time() - t0

    with open(os.path.join(idx, "_stats.json")) as fh:
        n_buckets = json.load(fh)["n_buckets"]
    streamed = spark.read.parquet(idx).select(
        "term", "doc_id", "tf", "dl", "bucket")
    batch = _postings(docs, n_buckets).select(
        "term", "doc_id", "tf", "dl", "bucket")
    n_late = late.count()
    return {"drain_s": round(drain_s, 1), "n_streamed_docs": n_late,
            "docs_per_s": round(n_late / drain_s, 1),
            "identity_vs_batch": frames_equal(streamed, batch)}


def probe_ann_index(spark, sf_dir: str, work: str) -> dict:
    from database_convertor_spark.operators.similarity_search import (
        ivfpq_encode_under, land_ivfpq_index)
    from database_convertor_spark.streaming.pipeline import (
        run_index_ingest_stream)

    vecs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    mid = vecs.approxQuantile("vec_id", [0.5], 0.0)[0]
    base, late = vecs.filter(F.col("vec_id") <= mid), \
        vecs.filter(F.col("vec_id") > mid)
    idx = os.path.join(work, "ann_idx")
    landing = os.path.join(work, "ann_landing")
    coarse, books = land_ivfpq_index(base, idx)
    late.repartition(16).write.mode("overwrite").parquet(landing)

    t0 = time.time()
    run_index_ingest_stream(spark, landing, idx,
                            os.path.join(work, "ann_ckpt"))
    drain_s = time.time() - t0

    streamed = spark.read.parquet(idx).select("vec_id", "codes", "cell")
    batch = ivfpq_encode_under(vecs, coarse, books).select(
        "vec_id", "codes", "cell")
    n_late = late.count()
    return {"drain_s": round(drain_s, 1), "n_streamed_vecs": n_late,
            "vecs_per_s": round(n_late / drain_s, 1),
            "identity_vs_batch": frames_equal(streamed, batch)}


def probe_sessions(spark, sf_dir: str, work: str) -> dict:
    from database_convertor_spark.operators.relational import user_sessions
    from database_convertor_spark.streaming.pipeline import (
        run_session_window_stream)

    t0 = time.time()
    streamed = run_session_window_stream(
        spark, sf_dir, os.path.join(work, "sess_ckpt"),
        max_state_events=None)  # the probe measures the harness shape
    streamed = streamed.select("user_id", "n_sessions", "n_events")
    n = streamed.count()
    drain_s = time.time() - t0

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    batch = user_sessions(events).select(
        "user_id", "n_sessions", "n_events")
    return {"drain_s": round(drain_s, 1), "n_users": n,
            "identity_vs_batch": frames_equal(streamed, batch)}


def probe_sessions_stateful(spark, sf_dir: str, work: str) -> dict:
    """The applyInPandasWithState sessionizer — the SCALE path whose
    per-batch work is (batch events + open state), vs the complete-
    mode session_window twin that re-aggregates everything per batch
    (measured 52x on 10x data at sf10)."""
    from database_convertor_spark.operators.relational import user_sessions
    from database_convertor_spark.streaming.stateful import (
        run_sessionization_stream)

    t0 = time.time()
    streamed = run_sessionization_stream(
        spark, sf_dir, os.path.join(work, "sess_state_ckpt"))
    streamed = streamed.select("user_id", "n_sessions", "n_events")
    n = streamed.count()
    drain_s = time.time() - t0

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    batch = user_sessions(events).select(
        "user_id", "n_sessions", "n_events")
    return {"drain_s": round(drain_s, 1), "n_users": n,
            "identity_vs_batch": frames_equal(streamed, batch)}


def probe_corpus_ingest(spark, sf_dir: str, work: str,
                        threshold: float = 0.5,
                        max_block_pairs: float | None = None) -> dict:
    from database_convertor_spark.operators import dedup
    from database_convertor_spark.streaming.pipeline import run_ingest_stream

    corpus_path = os.path.join(work, "ingest_corpus")
    t0 = time.time()
    admitted = run_ingest_stream(spark, sf_dir,
                                 os.path.join(work, "ingest_ckpt"),
                                 corpus_path, threshold=threshold,
                                 max_block_pairs=max_block_pairs)
    n_admitted = admitted.count()
    drain_s = time.time() - t0

    n_in = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")).count()
    # The contract invariant (ingest_documents): the admitted corpus
    # holds NO word-set-Jaccard near-dup pair at the threshold. Pairs
    # form ONLY within exact (lang, band) blocks, so a BLOCK-COMPLETE
    # deterministic sample gives an EXACT check over the sampled
    # blocks: pick md5-ordered blocks until their residual pair mass
    # reaches ~20M, restrict the corpus to those blocks, run the exact
    # all-pairs plan (ungated — the mass is budgeted by construction)
    # and assert zero pairs. At sf1 the budget covers every block
    # (full exact check); at sf10 it is an exact check over a stated
    # fraction of the quadratic mass.
    t1 = time.time()
    blocks = (dedup._ngram_docs(admitted, 100)
              .groupBy("lang", "band")
              .agg(F.count(F.lit(1)).cast("double").alias("c"))
              .withColumn("_mass", F.col("c") * (F.col("c") - 1) / 2)
              .withColumn("_h", F.md5(F.concat_ws("|", "lang", "band")))
              .orderBy("_h").collect())
    budget, acc, keep = 20e6, 0.0, []
    total_mass = sum(r._mass for r in blocks)
    for r in blocks:
        if acc + r._mass > budget and keep:
            break
        acc += r._mass
        keep.append((r.lang, r.band))
    keep_df = spark.createDataFrame(keep, "lang string, band int")
    sampled = (dedup._ngram_docs(admitted, 100)
               .join(F.broadcast(keep_df), ["lang", "band"], "left_semi")
               .select("doc_id"))
    subset = admitted.join(sampled, "doc_id", "left_semi")
    pairs = dedup.ngram_jaccard_pairs(subset, threshold=threshold,
                                      max_block_pairs=None)
    n_residual = pairs.limit(1).count()
    return {"drain_s": round(drain_s, 1), "n_input_docs": n_in,
            "n_admitted": n_admitted,
            "docs_per_s": round(n_in / drain_s, 1),
            "no_residual_pairs": n_residual == 0,
            "checked_mass_frac": round(acc / total_mass, 3)
            if total_mass else 1.0,
            "invariant_check_s": round(time.time() - t1, 1)}


def probe_corpus_ingest_routed(spark, sf_dir: str, work: str,
                               threshold: float = 0.5) -> dict:
    """The ingest under on_budget_exceeded='route' (round 9): past the
    gate, the pair stage runs MinHash-LSH incremental — the invariant
    check then uses the SAME semantics (full LSH pairs over the
    admitted corpus must be empty; candidates are similarity-bounded,
    so the check is feasible at any admitted size)."""
    from database_convertor_spark.operators import dedup
    from database_convertor_spark.streaming.pipeline import run_ingest_stream

    corpus_path = os.path.join(work, "ingest_corpus")
    t0 = time.time()
    admitted = run_ingest_stream(spark, sf_dir,
                                 os.path.join(work, "ingest_ckpt"),
                                 corpus_path, threshold=threshold,
                                 on_budget_exceeded="route")
    n_admitted = admitted.count()
    drain_s = time.time() - t0
    n_in = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")).count()
    t1 = time.time()
    n_residual = dedup.minhash_lsh_pairs(
        admitted, threshold=threshold).limit(1).count()
    return {"drain_s": round(drain_s, 1), "n_input_docs": n_in,
            "n_admitted": n_admitted,
            "docs_per_s": round(n_in / drain_s, 1),
            "no_residual_lsh_pairs": n_residual == 0,
            "invariant_check_s": round(time.time() - t1, 1)}


PROBES = {"text_index": probe_text_index, "ann_index": probe_ann_index,
          "sessions": probe_sessions,
          "sessions_stateful": probe_sessions_stateful,
          "corpus_ingest": probe_corpus_ingest,
          "corpus_ingest_routed": probe_corpus_ingest_routed}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".scratch/sf1"
    out = sys.argv[2] if len(sys.argv) > 2 else None
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else list(PROBES)
    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")
    results: dict = {"sf_dir": sf_dir}
    for name in only:
        work = tempfile.mkdtemp(prefix=f"streamprobe_{name}_")
        try:
            results[name] = PROBES[name](spark, sf_dir, work)
            print(f"[{name}] {json.dumps(results[name])}", flush=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if out:
        with open(out, "w") as fh:
            json.dump(results, fh, indent=1)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
