"""Structured Streaming layer (SURVEY §2.8): event-status mapping,
replay dedup + foreachBatch MERGE, windowed agg vs its batch twin."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from database_convertor_spark.operators.relational import hourly_event_rollup
from database_convertor_spark.sources.readers import read_table
from database_convertor_spark.streaming.pipeline import (
    event_status_mapping,
    run_events_stream,
    run_session_window_stream,
    run_windowed_stream,
)

from .conftest import SF_SMALL


def test_event_status_mapping(spark):
    df = spark.createDataFrame(
        [("signup",), ("purchase",), ("error",), ("mystery",)], ["event_type"])
    out = [r.s for r in df.select(
        event_status_mapping(F.col("event_type")).alias("s")).collect()]
    assert out == ["new", "converted", "failed", "unknown"]


def test_events_stream_merge_sink(spark, tmp_path):
    out_path = os.path.join(tmp_path, "sink")
    ckpt = os.path.join(tmp_path, "ckpt")
    result = run_events_stream(spark, SF_SMALL, out_path, ckpt)
    batch = read_table(spark, SF_SMALL, "events")
    expected = batch.select("event_id").distinct().count()
    # every event lands exactly once (dedup + MERGE keyed by event_id)
    n_first = result.count()
    assert n_first == expected
    assert result.filter(F.col("status") == "unknown").count() == 0
    # replay the whole stream with a fresh checkpoint -> still exactly-once
    # (result df is rebound: the MERGE rewrites the sink files)
    ckpt2 = os.path.join(tmp_path, "ckpt2")
    replayed = run_events_stream(spark, SF_SMALL, out_path, ckpt2)
    assert replayed.count() == n_first == expected


def test_session_window_stream_matches_batch_sessionizer(spark, tmp_path):
    from database_convertor_spark.operators.relational import user_sessions

    ckpt = os.path.join(tmp_path, "sess_ckpt")
    stream_out = run_session_window_stream(spark, SF_SMALL, ckpt)
    got = {r.user_id: (r.n_sessions, r.n_events)
           for r in stream_out.collect()}
    batch = user_sessions(read_table(spark, SF_SMALL, "events"))
    want = {r.user_id: (r.n_sessions, r.n_events) for r in batch.collect()}
    assert got == want


def test_session_window_stream_state_budget_gate(spark, tmp_path):
    """Round-9 verdict #5: the complete-mode sessionization harness is
    public API that goes 52x per decade — past the state budget it
    must refuse and name the bounded-state operator, like every other
    hazardous shape in the repo."""
    import pytest

    with pytest.raises(RuntimeError,
                       match="run_sessionization_stream"):
        run_session_window_stream(
            spark, SF_SMALL, os.path.join(tmp_path, "gate_ckpt"),
            max_state_events=10)


def test_stream_stream_join_matches_batch(spark, tmp_path):
    from database_convertor_spark.streaming.pipeline import (
        run_stream_stream_join,
    )

    ckpt = os.path.join(tmp_path, "ssj_ckpt")
    got = {(r.purchase_id, r.click_id)
           for r in run_stream_stream_join(spark, SF_SMALL, ckpt).collect()}

    ev = read_table(spark, SF_SMALL, "events")
    p = ev.filter(F.col("event_type") == "purchase").selectExpr(
        "event_id AS purchase_id", "user_id AS pu", "ts AS pts")
    c = ev.filter(F.col("event_type") == "click").selectExpr(
        "event_id AS click_id", "user_id AS cu", "ts AS cts")
    batch = p.join(c, (F.col("pu") == F.col("cu"))
                   & (F.col("cts") <= F.col("pts"))
                   & (F.col("cts") > F.col("pts") - F.expr(
                       "INTERVAL 3600 SECONDS")))
    want = {(r.purchase_id, r.click_id) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_windowed_stream_matches_batch_twin(spark, tmp_path):
    ckpt = os.path.join(tmp_path, "wckpt")
    stream_out = run_windowed_stream(spark, SF_SMALL, ckpt)
    batch_out = hourly_event_rollup(read_table(spark, SF_SMALL, "events"))
    s = {tuple(r) for r in stream_out.collect()}
    b = {tuple(r) for r in batch_out.collect()}
    assert s == b


def test_corpus_dedup_stream_matches_batch_dedup(spark, tmp_path):
    """The streaming content dedup must admit exactly one row per
    distinct fingerprint — the same distinct set the batch exact_dedup
    produces (which doc survives is arrival-order dependent and not
    part of the contract)."""
    from database_convertor_spark.operators.dedup import exact_dedup
    from database_convertor_spark.sources.readers import read_table
    from database_convertor_spark.streaming.pipeline import (
        run_corpus_dedup_stream,
    )

    got = run_corpus_dedup_stream(
        spark, SF_SMALL, str(tmp_path / "ckpt_dedup"))
    stream_fps = {r.fp for r in got.collect()}
    batch = exact_dedup(read_table(spark, SF_SMALL, "documents"))
    batch_fps = {r.fp for r in batch.collect()}
    assert stream_fps == batch_fps
    assert got.count() == len(batch_fps)   # no fingerprint admitted twice


def test_ingest_stream_admits_no_duplicates(spark, tmp_path):
    """Streaming twin of the incremental ingest: after draining the
    document backlog in micro-batches, the accumulated corpus must
    contain zero near-dup pairs — each batch deduped internally AND
    against everything admitted before it. Each micro-batch is one
    query, so after the drain the session holds no more persisted
    frames than one ``ingest_documents`` call records."""
    from database_convertor_spark import session
    from database_convertor_spark.operators.dedup import ngram_jaccard_pairs
    from database_convertor_spark.pipelines.corpus import ingest_documents
    from database_convertor_spark.sources.readers import read_table
    from database_convertor_spark.streaming.pipeline import run_ingest_stream

    def recorded():
        with session._QUERY_LOCK:
            return sum(len(v) for v in session._QUERY_FRAMES.values())

    ckpt = tmp_path / "ckpt_ingest"
    corpus = run_ingest_stream(spark, SF_SMALL, str(ckpt),
                               str(tmp_path / "corpus"))
    batches = [f for f in os.listdir(ckpt / "commits") if f.isdigit()]
    assert len(batches) >= 2                # micro-batches ran
    after_stream = recorded()
    docs = read_table(spark, SF_SMALL, "documents")
    session.new_query()
    ingest_documents(docs, corpus.limit(0), pair_path="exact").collect()
    assert after_stream <= recorded()

    n_in = docs.count()
    n_out = corpus.count()
    assert 0 < n_out < n_in                 # admitted some, dropped some
    assert ngram_jaccard_pairs(corpus).count() == 0

    # the exact pair path persists nothing for the query; the routed
    # (MinHash-LSH) path persists both sides' signatures, so the same
    # bound there is not trivially zero
    with pytest.warns(UserWarning, match="MinHash-LSH"):
        run_ingest_stream(spark, SF_SMALL, str(tmp_path / "ckpt_lsh"),
                          str(tmp_path / "corpus_lsh"), max_block_pairs=0,
                          on_budget_exceeded="route")
    after_stream = recorded()
    session.new_query()
    ingest_documents(docs, corpus.limit(0), pair_path="lsh").collect()
    assert 0 < after_stream <= recorded()


def test_index_ingest_stream_extends_landed_ann_index(spark, tmp_path):
    """Streaming x ANN: new vectors stream into a landed IVFADC index
    under its frozen codebooks — a planted twin of a query becomes
    findable after the drain, streamed codes equal batch encoding
    under the same codebooks, and in-stream duplicates land once."""
    from database_convertor_spark.operators.similarity_search import (
        ivfpq_encode_under,
        land_ivfpq_index,
        search_ivfpq_index,
    )
    from database_convertor_spark.streaming.pipeline import (
        run_index_ingest_stream,
    )

    emb = read_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 100)
    path = os.path.join(tmp_path, "index")
    coarse, books = land_ivfpq_index(emb, path, n_cells=4, m=4, ks=8,
                                     n_iter=2)

    base = read_table(spark, SF_SMALL, "embeddings")
    twin = base.filter("vec_id = 1").select(
        F.lit(9001).cast("long").alias("vec_id"), "embedding", "label")
    newv = (base.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 160))
            .unionByName(twin).unionByName(twin))   # in-stream duplicate
    landing = os.path.join(tmp_path, "landing")
    newv.write.parquet(landing)

    after = run_index_ingest_stream(spark, landing, path,
                                    os.path.join(tmp_path, "ckpt"))
    assert after.count() == 100 + 60 + 1            # dup landed once

    # streamed rows carry exactly the batch encoding under the frozen
    # codebooks (cells + codes)
    got = {r.vec_id: (r.cell, list(r.codes))
           for r in after.filter("vec_id >= 100").collect()}
    want = {r.vec_id: (r.cell, list(r.codes))
            for r in ivfpq_encode_under(
                newv.dropDuplicates(["vec_id"]), coarse, books).collect()}
    assert got == want

    # the planted twin shares the query's cell + codes -> minimal ADC
    # distance, found by the FIRST probe
    hits = search_ivfpq_index(spark, path, base.filter("vec_id = 1"),
                              k=3, nprobe=1).collect()
    assert 9001 in [r.neighbor_id for r in hits][:2]


def test_text_index_ingest_stream_appends_frozen_stats(spark, tmp_path):
    """Streaming x search: new documents stream into a landed BM25
    index — appended postings equal the batch encoder's output (same
    tokenizer, same bucket hash), a term unique to a streamed doc is
    immediately searchable, in-stream duplicates land once, and the
    stats sidecar stays FROZEN (the documented staleness contract)."""
    import json

    from database_convertor_spark.operators.search import (
        _postings,
        land_text_index,
        search_text_index,
    )
    from database_convertor_spark.streaming.pipeline import (
        run_text_index_ingest_stream,
    )

    docs = read_table(spark, SF_SMALL, "documents").filter(
        F.col("doc_id") < 400)
    path = os.path.join(tmp_path, "tindex")
    stats0 = land_text_index(docs, path, n_buckets=16)

    base = read_table(spark, SF_SMALL, "documents")
    novel = spark.createDataFrame(
        [(9001, "zzzuniqterm appears here and zzzuniqterm again",
          "en", "stream", 46)],
        base.schema)
    newd = (base.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 440))
            .unionByName(novel).unionByName(novel))  # in-stream duplicate
    landing = os.path.join(tmp_path, "landing")
    newd.write.parquet(landing)

    after = run_text_index_ingest_stream(spark, landing, path,
                                         os.path.join(tmp_path, "ckpt"))
    # streamed postings == batch encoding of the deduplicated batch
    got = sorted(tuple(r) for r in after.filter("doc_id >= 400")
                 .select("bucket", "term", "doc_id", "tf", "dl").collect())
    want = sorted(tuple(r) for r in
                  _postings(newd.dropDuplicates(["doc_id"]), 16)
                  .select("bucket", "term", "doc_id", "tf", "dl").collect())
    assert got == want and got            # dup landed once

    # the streamed doc is searchable NOW...
    hits = search_text_index(spark, path, "zzzuniqterm").collect()
    assert [r.doc_id for r in hits] == [9001]
    # ...but the global stats are frozen at build time
    with open(os.path.join(path, "_stats.json")) as fh:
        assert json.load(fh) == stats0


def test_text_index_stream_skips_already_indexed_docs(spark, tmp_path):
    """ADVICE r7 closure: dropDuplicates only dedups WITHIN the
    stream — a doc already in the batch-built index would append
    duplicate postings (doubling tf, inflating df). The sink
    anti-joins each micro-batch against the index's current doc_ids,
    so re-landing indexed docs is a no-op and the final postings equal
    a fresh batch build over the union."""
    from database_convertor_spark.operators.search import (
        _postings,
        land_text_index,
    )
    from database_convertor_spark.streaming.pipeline import (
        run_text_index_ingest_stream,
    )

    base = read_table(spark, SF_SMALL, "documents")
    path = os.path.join(tmp_path, "tindex")
    land_text_index(base.filter("doc_id < 300"), path, n_buckets=16)

    # landing overlaps the indexed range: 250-299 are already indexed
    landing = os.path.join(tmp_path, "landing")
    base.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 350)) \
        .write.parquet(landing)
    after = run_text_index_ingest_stream(spark, landing, path,
                                         os.path.join(tmp_path, "ckpt"))

    got = sorted(tuple(r) for r in after
                 .select("bucket", "term", "doc_id", "tf", "dl").collect())
    want = sorted(tuple(r) for r in
                  _postings(base.filter("doc_id < 350"), 16)
                  .select("bucket", "term", "doc_id", "tf", "dl").collect())
    assert got == want


def test_ann_index_stream_skips_already_indexed_vecs(spark, tmp_path):
    """ANN twin of the text-index re-ingestion guard: a vec_id already
    in the landed codes table must not append a duplicate code row —
    the final codes equal a fresh encode of the union."""
    from database_convertor_spark.operators.similarity_search import (
        ivfpq_encode_under,
        land_ivfpq_index,
    )
    from database_convertor_spark.streaming.pipeline import (
        run_index_ingest_stream,
    )

    emb = read_table(spark, SF_SMALL, "embeddings")
    path = os.path.join(tmp_path, "aindex")
    coarse, books = land_ivfpq_index(emb.filter("vec_id < 300"), path,
                                     n_cells=4, m=4, ks=8, n_iter=2)

    landing = os.path.join(tmp_path, "landing")
    emb.filter((F.col("vec_id") >= 250) & (F.col("vec_id") < 350)) \
        .write.parquet(landing)          # 250-299 already indexed
    after = run_index_ingest_stream(spark, landing, path,
                                    os.path.join(tmp_path, "ckpt"))

    got = sorted((r.vec_id, r.cell, tuple(r.codes))
                 for r in after.collect())
    want = sorted((r.vec_id, r.cell, tuple(r.codes)) for r in
                  ivfpq_encode_under(emb.filter("vec_id < 350"),
                                     coarse, books).collect())
    assert got == want


def test_ann_index_stream_recovers_crashed_compaction(spark, tmp_path,
                                                     monkeypatch):
    """A compaction that crashed between its rename-aside and its
    rename-in leaves the index under its aside name; the IVFPQ stream
    reconciles before it opens the codebooks, so it rolls the index
    back and appends to it — the codes equal a fresh encode of the
    union and no aside is left."""
    from database_convertor_spark.operators.similarity_search import (
        compact_ivfpq_index,
        ivfpq_encode_under,
        land_ivfpq_index,
    )
    from database_convertor_spark.streaming.pipeline import (
        run_index_ingest_stream,
    )

    emb = read_table(spark, SF_SMALL, "embeddings")
    path = os.path.join(tmp_path, "aindex")
    coarse, books = land_ivfpq_index(emb.filter("vec_id < 300"), path,
                                     n_cells=4, m=4, ks=8, n_iter=2)

    calls = {"n": 0}
    real_rename = os.rename

    def crash_on_second_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected crash")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second_rename)
    with pytest.raises(OSError, match="injected crash"):
        compact_ivfpq_index(spark, path)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(path)           # caught mid-swap

    landing = os.path.join(tmp_path, "landing")
    emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 350)) \
        .write.parquet(landing)
    after = run_index_ingest_stream(spark, landing, path,
                                    os.path.join(tmp_path, "ckpt"))
    got = sorted((r.vec_id, r.cell, tuple(r.codes))
                 for r in after.collect())
    want = sorted((r.vec_id, r.cell, tuple(r.codes)) for r in
                  ivfpq_encode_under(emb.filter("vec_id < 350"),
                                     coarse, books).collect())
    assert got == want
    assert not any(e.endswith("__aside") for e in os.listdir(tmp_path))


def test_text_index_manifest_self_heals_and_reconciles(spark, tmp_path):
    """The doc-id manifest guard (round 9): (a) a pre-manifest index
    self-heals — the stream derives the manifest from postings once
    and the guard still skips already-indexed docs; (b) crash
    reconcile — postings appended without their manifest rows (the
    sink's crash window) are re-admitted to the manifest at the next
    stream start, so the at-least-once replay cannot double them;
    (c) compaction rebuilds the manifest, preserving token-less docs
    only the old manifest remembers."""
    import shutil

    from database_convertor_spark.operators.search import (
        _postings,
        compact_text_index,
        land_text_index,
    )
    from database_convertor_spark.streaming.pipeline import (
        run_text_index_ingest_stream,
    )

    base = read_table(spark, SF_SMALL, "documents")
    path = os.path.join(tmp_path, "tindex")
    land_text_index(base.filter("doc_id < 300"), path, n_buckets=16)
    manifest = os.path.join(path, "_manifest")
    assert os.path.isdir(manifest)

    # (a) self-heal: drop the manifest, stream an overlapping landing
    shutil.rmtree(manifest)
    landing = os.path.join(tmp_path, "landing")
    base.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 330)) \
        .write.parquet(landing)
    after = run_text_index_ingest_stream(spark, landing, path,
                                         os.path.join(tmp_path, "ckpt"))
    got = sorted(tuple(r) for r in after
                 .select("bucket", "term", "doc_id", "tf", "dl").collect())
    want = sorted(tuple(r) for r in
                  _postings(base.filter("doc_id < 330"), 16)
                  .select("bucket", "term", "doc_id", "tf", "dl").collect())
    assert got == want
    assert os.path.isdir(manifest)           # healed back into place

    # (b) crash window: append postings for 330-339 WITHOUT manifest
    # rows (what a crash between the sink's two appends leaves), then
    # re-land those same docs — the start-of-stream reconcile must
    # stop the replay from double-appending
    crashed = base.filter((F.col("doc_id") >= 330) & (F.col("doc_id") < 340))
    _postings(crashed, 16).write.mode("append") \
        .partitionBy("bucket").parquet(path)
    landing2 = os.path.join(tmp_path, "landing2")
    crashed.write.parquet(landing2)
    after2 = run_text_index_ingest_stream(spark, landing2, path,
                                          os.path.join(tmp_path, "ckpt2"))
    got2 = sorted(tuple(r) for r in after2
                  .select("bucket", "term", "doc_id", "tf", "dl").collect())
    want2 = sorted(tuple(r) for r in
                   _postings(base.filter("doc_id < 340"), 16)
                   .select("bucket", "term", "doc_id", "tf", "dl").collect())
    assert got2 == want2

    # (c) compaction rebuilds the manifest from deduped postings union
    # the old manifest
    before_ids = {r.doc_id for r in spark.read.parquet(manifest).collect()}
    compact_text_index(spark, path)
    after_ids = {r.doc_id for r in spark.read.parquet(manifest).collect()}
    assert after_ids == before_ids


def test_text_index_reconcile_repairs_partial_postings(spark, tmp_path):
    """Round-9 ADVICE closure: a crash MID-postings-append (parquet
    append is not atomic) can leave a doc with PARTIAL postings and no
    manifest row. The old reconcile adopted any doc with >=1 posting
    row into the manifest, freezing the damage forever (the replay's
    anti-join skipped the doc). The reconcile now QUARANTINES suspect
    docs — drops their postings from the touched buckets — so the
    uncommitted epoch's replay re-appends them COMPLETE."""
    from database_convertor_spark.operators.search import (
        _postings,
        land_text_index,
    )
    from database_convertor_spark.streaming.pipeline import (
        run_text_index_ingest_stream,
    )

    base = read_table(spark, SF_SMALL, "documents")
    path = os.path.join(tmp_path, "tindex")
    land_text_index(base.filter("doc_id < 300"), path, n_buckets=16)

    # simulate the torn write: only HALF of doc 330-334's posting rows
    # landed, and none of their manifest rows
    crashed = base.filter(
        (F.col("doc_id") >= 330) & (F.col("doc_id") < 335))
    full = _postings(crashed, 16)
    partial = full.filter(F.abs(F.hash("term")) % 2 == 0)
    assert 0 < partial.count() < full.count()
    partial.write.mode("append").partitionBy("bucket").parquet(path)

    # the replay (same docs re-land, as AvailableNow would)
    landing = os.path.join(tmp_path, "landing")
    crashed.write.parquet(landing)
    after = run_text_index_ingest_stream(spark, landing, path,
                                         os.path.join(tmp_path, "ckpt"))

    got = sorted(tuple(r) for r in after
                 .select("bucket", "term", "doc_id", "tf", "dl").collect())
    want = sorted(tuple(r) for r in
                  _postings(base.filter(
                      "doc_id < 300 OR (doc_id >= 330 AND doc_id < 335)"),
                      16)
                  .select("bucket", "term", "doc_id", "tf", "dl").collect())
    assert got == want     # complete postings, no dup, nothing partial


def test_text_index_quarantine_crash_mid_swap_recovers(spark, tmp_path,
                                                      monkeypatch):
    """The partial-postings scenario above, with a kill point on the
    quarantine's first bucket rename-in: that bucket's postings sit
    under its dot-aside name, invisible to reads. The rerun stream
    reconciles before it computes suspects, so it quarantines and
    replays as if nothing had crashed — postings equal a fresh build
    and no bucket aside remains."""
    from database_convertor_spark.operators.search import (
        _postings,
        land_text_index,
    )
    from database_convertor_spark.streaming.pipeline import (
        run_text_index_ingest_stream,
    )

    base = read_table(spark, SF_SMALL, "documents")
    path = os.path.join(tmp_path, "tindex")
    land_text_index(base.filter("doc_id < 300"), path, n_buckets=16)
    crashed = base.filter(
        (F.col("doc_id") >= 330) & (F.col("doc_id") < 335))
    _postings(crashed, 16).filter(F.abs(F.hash("term")) % 2 == 0) \
        .write.mode("append").partitionBy("bucket").parquet(path)
    landing = os.path.join(tmp_path, "landing")
    crashed.write.parquet(landing)
    ckpt = os.path.join(tmp_path, "ckpt")

    calls = {"n": 0}
    real_rename = os.rename

    def crash_on_first_rename_in(src, dst):
        # the first bucket swap: rename-aside (1), rename-in (2)
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected crash")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_first_rename_in)
    with pytest.raises(OSError, match="injected crash"):
        run_text_index_ingest_stream(spark, landing, path, ckpt)
    monkeypatch.setattr(os, "rename", real_rename)
    assert any(e.endswith("__aside") for e in os.listdir(path))

    spark.catalog.refreshByPath(path)
    after = run_text_index_ingest_stream(spark, landing, path, ckpt)
    got = sorted(tuple(r) for r in after
                 .select("bucket", "term", "doc_id", "tf", "dl").collect())
    want = sorted(tuple(r) for r in
                  _postings(base.filter(
                      "doc_id < 300 OR (doc_id >= 330 AND doc_id < 335)"),
                      16)
                  .select("bucket", "term", "doc_id", "tf", "dl").collect())
    assert got == want
    assert not any(e.startswith(".bucket=") and e.endswith("__aside")
                   for e in os.listdir(path))
    # no staging dir remains
    assert sorted(os.listdir(tmp_path)) == ["ckpt", "landing", "tindex"]


def test_ann_index_manifest_guard_and_compaction(spark, tmp_path):
    """ANN twin: the vec-id manifest self-heals from the codes table,
    the guard still makes re-landed vectors a no-op, and compaction
    rebuilds the manifest to exactly the indexed vec_ids."""
    import shutil

    from database_convertor_spark.operators.similarity_search import (
        compact_ivfpq_index,
        ivfpq_encode_under,
        land_ivfpq_index,
    )
    from database_convertor_spark.streaming.pipeline import (
        run_index_ingest_stream,
    )

    emb = read_table(spark, SF_SMALL, "embeddings")
    path = os.path.join(tmp_path, "aindex")
    coarse, books = land_ivfpq_index(emb.filter("vec_id < 300"), path,
                                     n_cells=4, m=4, ks=8, n_iter=2)
    manifest = os.path.join(path, "_manifest")
    assert os.path.isdir(manifest)
    shutil.rmtree(manifest)                   # pre-manifest index

    landing = os.path.join(tmp_path, "landing")
    emb.filter((F.col("vec_id") >= 250) & (F.col("vec_id") < 350)) \
        .write.parquet(landing)
    after = run_index_ingest_stream(spark, landing, path,
                                    os.path.join(tmp_path, "ckpt"))
    got = sorted((r.vec_id, r.cell, tuple(r.codes))
                 for r in after.collect())
    want = sorted((r.vec_id, r.cell, tuple(r.codes)) for r in
                  ivfpq_encode_under(emb.filter("vec_id < 350"),
                                     coarse, books).collect())
    assert got == want

    compact_ivfpq_index(spark, path)
    ids = {r.vec_id for r in spark.read.parquet(manifest).collect()}
    assert ids == {r.vec_id for r in
                   emb.filter("vec_id < 350").select("vec_id").collect()}
