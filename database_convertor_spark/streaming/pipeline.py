"""Incremental / streaming layer — SURVEY §2.8.

The reference's streaming surface is (T1) a push webhook that maps
event types to statuses and upserts keyed rows
(webhook_handler.py:30-115), (T2) weekly incremental micro-batches
with a lookback window, (T3/T4) replay dedup, (T7) weekly tumbling
windows. Spark-natively:

- readStream over a file source (the events parquet stands in for the
  webhook feed; swap format("kafka") in production — the plan is
  identical downstream of the source),
- when/otherwise event-type -> status mapping,
- withWatermark + dropDuplicates on event_id = replay/late dedup,
- windowed aggregation with watermark for late data,
- foreachBatch MERGE into a parquet sink (idempotent upsert — the
  ON CONFLICT contract, T3),
- Trigger.AvailableNow = the scheduled weekly micro-batch pattern:
  drain everything new, checkpoint, exit (crash recovery T6 is the
  checkpoint).

Each foreachBatch callback starts with ``new_query()``: a micro-batch
is one query, so what the previous batch persisted is released before
this one runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TESTDATA_SCHEMAS
from ..session import new_query, pair_budget

# T1: LinkedHelper event-type -> connection-status mapping
# (webhook_handler.py:30-88), transposed to the driver's event types.
EVENT_STATUS = {
    "signup": "new",
    "view": "engaged",
    "click": "engaged",
    "purchase": "converted",
    "error": "failed",
}


def event_status_mapping(col: Column) -> Column:
    expr = F.lit("unknown")
    for event_type, status in EVENT_STATUS.items():
        expr = F.when(col == event_type, F.lit(status)).otherwise(expr)
    return expr


def stage_event_landing(spark: SparkSession, sf_dir: str, landing_dir: str) -> str:
    """Land the events table into a streaming source directory (the
    file-stream source consumes directories of files — the landing-zone
    pattern a webhook/Kafka feed would write into). Also normalizes the
    nanosecond timestamps to Spark-native micros."""
    from ..sources.readers import read_table

    read_table(spark, sf_dir, "events").write.mode("overwrite").parquet(landing_dir)
    return landing_dir


def read_event_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream over an event landing directory (webhook feed
    stand-in). maxFilesPerTrigger bounds micro-batch size (backpressure
    — the reference's batch-of-50 throttling, app.py:336-380)."""
    return (spark.readStream
            .schema(TESTDATA_SCHEMAS["events"])
            .option("maxFilesPerTrigger", 8)
            .parquet(landing_dir))


def run_events_stream(spark: SparkSession, sf_dir: str, out_path: str,
                      checkpoint: str) -> DataFrame:
    """T1+T3: map event->status, dedup replays on event_id within the
    watermark, MERGE each micro-batch into the sink keyed by event_id.
    AvailableNow: drains all pending input then stops (the weekly job)."""
    from ..sources.writers import merge_upsert

    landing = stage_event_landing(spark, sf_dir, checkpoint + "_landing")
    stream = (read_event_stream(spark, landing)
              .withWatermark("ts", "1 hour")
              .dropDuplicates(["event_id"])
              .withColumn("status", event_status_mapping(F.col("event_type"))))

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        new_query()
        merge_upsert(spark, out_path, batch_df, keys=["event_id"])

    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.read.parquet(out_path)


def run_session_window_stream(spark: SparkSession, sf_dir: str,
                              checkpoint: str, gap: str = "30 minutes",
                              watermark: str = "30 days",
                              max_state_events: int | None = 5_000_000
                              ) -> DataFrame:
    """Streaming sessionization via the native session_window (dynamic
    gap-merging windows). The batch twin is relational.user_sessions
    (lag + conditional sum) — identical session definition: events
    within ``gap`` of each other merge. Watermark chosen past the
    data's full span so the complete replay emits every session.

    SCALE contract: this is the ORACLE-COMPARABLE HARNESS shape —
    complete output mode re-aggregates all accumulated state every
    micro-batch, measured 52x on 10x data at the sf10 probe (SCALE.md
    r9). The production path is ``stateful.run_sessionization_stream``
    (applyInPandasWithState interval merge, update-mode state bounded
    by users + open sessions): 4.6x on the same decade, identical
    final counts (probe-checked at both scales).

    State-budget gate (the repo's standard discipline for hazardous
    shapes, round-9 verdict #5): complete-mode state holds EVERY
    session ever seen and re-emits it per micro-batch, so past
    ``max_state_events`` input events this raises and names the
    bounded-state operator instead of quietly going quadratic.
    ``max_state_events=None`` runs it regardless (oracle harnesses at
    known-small scale)."""
    if max_state_events is not None:
        from ..sources.readers import read_table
        n_events = read_table(spark, sf_dir, "events").count()
        if n_events > max_state_events:
            raise RuntimeError(
                f"run_session_window_stream accumulates complete-mode "
                f"state over all {n_events:,} events (measured 52x "
                f"per-decade at the sf10 probe — SCALE.md r9); budget "
                f"max_state_events={max_state_events:,} exceeded. This "
                f"shape exists as the oracle-comparable harness. Use "
                f"stateful.run_sessionization_stream (update-mode, "
                f"state bounded by open sessions, 4.6x/decade) for "
                f"production, or pass max_state_events=None to run the "
                f"harness anyway.")
    landing = stage_event_landing(spark, sf_dir, checkpoint + "_landing")
    stream = (read_event_stream(spark, landing)
              .withWatermark("ts", watermark)
              .groupBy(F.session_window("ts", gap), "user_id")
              .agg(F.count(F.lit(1)).alias("n_events")))
    q = (stream.writeStream.outputMode("complete")
         .format("memory").queryName("session_windows")
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.sql("""
        SELECT user_id, count(*) AS n_sessions,
               CAST(sum(n_events) AS BIGINT) AS n_events
        FROM session_windows GROUP BY user_id
    """)


def run_stream_stream_join(spark: SparkSession, sf_dir: str,
                           checkpoint: str,
                           window_seconds: int = 3600) -> DataFrame:
    """Stream-stream inner join with event-time bounds: purchases
    joined to the same user's clicks within the preceding hour. Both
    sides carry watermarks; the time-range join condition lets Spark
    bound the join state (clicks older than the window + watermark are
    evicted) — the property that makes a stream-stream join viable on
    an unbounded feed."""
    landing = stage_event_landing(spark, sf_dir, checkpoint + "_landing")
    purchases = (read_event_stream(spark, landing)
                 .filter(F.col("event_type") == "purchase")
                 .selectExpr("event_id AS purchase_id",
                             "user_id AS p_user", "ts AS p_ts")
                 .withWatermark("p_ts", "1 hour"))
    clicks = (read_event_stream(spark, landing)
              .filter(F.col("event_type") == "click")
              .selectExpr("event_id AS click_id",
                          "user_id AS c_user", "ts AS c_ts")
              .withWatermark("c_ts", "2 hours"))
    joined = purchases.join(
        clicks,
        F.expr(f"""p_user = c_user
                   AND c_ts <= p_ts
                   AND c_ts > p_ts - INTERVAL {window_seconds} SECONDS"""),
        "inner")
    q = (joined.writeStream.outputMode("append")
         .format("memory").queryName("purchase_click_pairs")
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.sql(
        "SELECT purchase_id, click_id FROM purchase_click_pairs")


def run_corpus_dedup_stream(spark: SparkSession, sf_dir: str,
                            checkpoint: str) -> DataFrame:
    """Streaming twin of the exact content dedup (the dedup family x
    the streaming layer): documents arrive through a landing directory,
    each row is content-fingerprinted, and ``dropDuplicates`` on the
    fingerprint admits only the first arrival of each distinct content
    — the state store IS the fingerprint dictionary, one row per
    distinct content, exactly the batch dedup's distinct set (use
    dropDuplicatesWithinWatermark to bound it when the feed carries
    event time; a corpus backfill is timeless, so state ==
    dictionary is the correct semantics). Which doc_id survives is
    arrival-order dependent; the deterministic product — checked
    against ``dedup.exact_dedup`` — is the surviving fingerprint set."""
    from ..functions.text import fingerprint
    from ..sources.readers import read_table

    landing = checkpoint + "_landing"
    read_table(spark, sf_dir, "documents").write.mode(
        "overwrite").parquet(landing)
    stream = (spark.readStream
              .schema(TESTDATA_SCHEMAS["documents"])
              .option("maxFilesPerTrigger", 4)
              .parquet(landing)
              .withColumn("fp", fingerprint(F.col("text")))
              .dropDuplicates(["fp"]))
    q = (stream.writeStream.outputMode("append")
         .format("memory").queryName("corpus_dedup_stream")
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.sql("SELECT fp FROM corpus_dedup_stream")


def run_ingest_stream(spark: SparkSession, sf_dir: str,
                      checkpoint: str, corpus_path: str,
                      threshold: float = 0.5,
                      max_block_pairs: float | None = 5_000_000,
                      on_budget_exceeded: str = "raise") -> DataFrame:
    """Streaming twin of ``pipelines.corpus.ingest_documents`` — the
    production shape of a continuous training-data feed: documents
    arrive in micro-batches through a landing directory; foreachBatch
    runs the incremental near-dedup (batch pairs against batch ∪
    corpus-so-far only, never corpus x corpus) and appends the
    admitted rows to the parquet corpus. Trigger.AvailableNow drains
    the backlog and exits; the checkpoint makes re-runs resume, not
    re-ingest — the landing dir and corpus are initialized only on the
    FIRST run (an existing checkpoint means both already exist, and
    rewriting them would hand the file-source checkpoint a fresh set
    of part-file names it has never seen).

    Contract (tested): the final corpus contains NO near-dup pair at
    all — per-batch survivors are pairwise clean, and every later
    batch deduped against all earlier admissions.

    Regime gate (round 9 — the sf10 probe measured the exact
    incremental path at 84x on 10x data): decided ONCE, up front, from
    the whole input's block-pair mass (an upper bound for any batch
    split of it, since blocks only ever see subsets), then PINNED for
    every batch — a per-batch gate could flip semantics mid-stream,
    and a corpus admitted under mixed word-set/shingle semantics
    satisfies neither family's no-residual invariant (the sf1 routed
    probe caught exactly that). Past ``max_block_pairs``: 'raise'
    (default) refuses at submit time, before anything is written,
    naming remedies; 'route' pins the MinHash-LSH incremental pair
    stage (shingle-Jaccard semantics) with one warning;
    ``max_block_pairs=None`` pins the exact path without an estimate.
    """
    import os

    from ..operators.dedup import _block_pair_mass, _ngram_docs
    from ..pipelines.corpus import ingest_documents
    from ..sources.readers import read_table

    # gate ONCE on the whole input (upper-bounds any batch-vs-corpus
    # split of it), pin the semantics for every batch; deterministic
    # across resume (same input -> same decision)
    gate = pair_budget(
        "run_ingest_stream", "max_block_pairs", max_block_pairs,
        lambda: _block_pair_mass(
            _ngram_docs(read_table(spark, sf_dir, "documents"), 100),
            adjacent_bands=False),
        "whole-input block-pair mass; the exact incremental pair stage "
        "would go quadratic across the drain (measured 84x on 10x data, "
        "SCALE.md). on_budget_exceeded='route' pins MinHash-LSH "
        "incremental semantics for the whole stream",
        on_budget_exceeded)
    pair_path = "lsh" if gate.route else "exact"

    landing = checkpoint + "_landing"
    # a file-stream checkpoint writes its offsets log on first trigger;
    # its presence marks a resumed run (local-path heuristic — the test
    # harness always runs on local storage). Trust it only if the data
    # the checkpoint refers to is actually still there: checkpoint and
    # landing/corpus can live on different volumes with different
    # lifetimes, and resuming onto missing paths fails at stream start
    # instead of re-initializing.
    has_offsets = os.path.exists(os.path.join(checkpoint, "offsets"))
    resuming = (has_offsets
                and os.path.exists(landing)
                and os.path.exists(corpus_path))
    if has_offsets and not resuming:
        # the checkpoint outlived the data it describes (different
        # volume lifetimes): its offsets log references part files
        # about to be deleted, and an uncommitted batch would replay
        # against them at stream start. This is OUR checkpoint by
        # contract (run_ingest_stream created it) — clear it and
        # rebuild from scratch rather than resume into a crash.
        import shutil

        shutil.rmtree(checkpoint, ignore_errors=True)
    if not resuming:
        docs = read_table(spark, sf_dir, "documents")
        # several part-files so maxFilesPerTrigger yields real
        # micro-batches
        docs.repartition(8).write.mode("overwrite").parquet(landing)
        (spark.createDataFrame([], TESTDATA_SCHEMAS["documents"])
         .write.mode("overwrite").parquet(corpus_path))

    def ingest_batch(batch: DataFrame, epoch_id: int) -> None:
        new_query()
        sp = batch.sparkSession
        sp.catalog.refreshByPath(corpus_path)
        corpus = sp.read.schema(TESTDATA_SCHEMAS["documents"]).parquet(
            corpus_path)
        admitted = ingest_documents(batch, corpus, threshold=threshold,
                                    pair_path=pair_path)
        admitted.write.mode("append").parquet(corpus_path)

    q = (spark.readStream
         .schema(TESTDATA_SCHEMAS["documents"])
         .option("maxFilesPerTrigger", 2)
         .parquet(landing)
         .writeStream
         .foreachBatch(ingest_batch)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    spark.catalog.refreshByPath(corpus_path)
    return spark.read.schema(TESTDATA_SCHEMAS["documents"]).parquet(corpus_path)


def run_windowed_stream(spark: SparkSession, sf_dir: str,
                        checkpoint: str, window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """T7: tumbling-window counts with a watermark for late rows,
    drained synchronously into an in-memory sink (test harness); the
    batch twin (relational.hourly_event_rollup) is the oracle."""
    landing = stage_event_landing(spark, sf_dir, checkpoint + "_landing")
    stream = (read_event_stream(spark, landing)
              .withWatermark("ts", watermark)
              .groupBy(F.window("ts", window), "event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum("value"), 2).alias("sum_value")))
    q = (stream.writeStream.outputMode("complete")
         .format("memory").queryName("windowed_events")
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.sql("""
        SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS window_start,
               event_type, n, sum_value
        FROM windowed_events
    """)


def run_index_ingest_stream(spark: SparkSession, landing_dir: str,
                            index_path: str, checkpoint: str) -> DataFrame:
    """Streaming maintenance of a landed IVFADC index (the streaming
    layer x the ANN family): new embedding files arrive through a
    landing directory; each micro-batch is deduplicated on vec_id,
    encoded under the index's FROZEN codebooks (no refit — the faiss
    discipline: codebooks fix at build time, arrivals are assigned +
    residual-encoded under them), and APPENDED to the cell-partitioned
    codes table — arrivals land straight into the inverted-list
    directories a search prunes to. Trigger.AvailableNow drains the
    backlog; the checkpoint makes re-runs resume, not re-encode.
    Returns the index codes table after the drain."""
    import json
    import os

    from ..operators.similarity_search import (
        _require_local_index_path,
        ivfpq_encode_under,
    )
    from ..sources.writers import _reconcile_asides

    _require_local_index_path(index_path, "_codebooks.json")
    # roll back (or forward) a compaction swap a crash interrupted
    _reconcile_asides(index_path)
    with open(os.path.join(index_path, "_codebooks.json")) as fh:
        cb = json.load(fh)
    coarse, books = cb["coarse"], cb["books"]

    # vec-id MANIFEST guard (the text twin's discipline, same
    # append ordering — codes before manifest): the per-batch
    # anti-join reads the n_vecs-row manifest, not a codes-table
    # distinct per batch. Unlike the text index, the start-of-stream
    # reconcile here ADOPTS codes-not-in-manifest vec_ids: one vec is
    # exactly ONE code row, so any vec that landed is complete by
    # construction — there is no partial-append state to quarantine.
    manifest_path = os.path.join(index_path, "_manifest")
    if not os.path.isdir(manifest_path):
        (spark.read.parquet(index_path).select("vec_id").distinct()
         .write.mode("overwrite").parquet(manifest_path))
    else:
        missing = (spark.read.parquet(index_path).select("vec_id")
                   .distinct()
                   .join(spark.read.parquet(manifest_path), "vec_id",
                         "left_anti"))
        missing.write.mode("append").parquet(manifest_path)

    stream = (spark.readStream
              .schema(TESTDATA_SCHEMAS["embeddings"])
              .option("maxFilesPerTrigger", 4)
              .parquet(landing_dir)
              .dropDuplicates(["vec_id"]))

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        new_query()
        # RE-INGESTION guard: dropDuplicates dedups only within this
        # stream — a vec_id already IN the index would append a
        # duplicate code row that surfaces as a duplicate neighbor in
        # every probed page. Anti-join each batch against the
        # manifest; compact_ivfpq_index is the backstop repair.
        spark.catalog.refreshByPath(manifest_path)
        indexed = spark.read.parquet(manifest_path)
        fresh = batch_df.join(indexed, "vec_id", "left_anti")
        (ivfpq_encode_under(fresh, coarse, books)
         .write.mode("append").partitionBy("cell").parquet(index_path))
        (fresh.select("vec_id")
         .write.mode("append").parquet(manifest_path))

    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    spark.catalog.refreshByPath(index_path)
    return spark.read.parquet(index_path)


def run_text_index_ingest_stream(spark: SparkSession, landing_dir: str,
                                 index_path: str,
                                 checkpoint: str) -> DataFrame:
    """Streaming maintenance of a landed BM25 text index (the
    streaming layer x the search family — the text twin of
    ``run_index_ingest_stream``): new document files arrive through a
    landing directory; each micro-batch is deduplicated on doc_id,
    encoded to posting rows with the SAME tokenizer + bucket hash as
    the batch build (``search._postings``), and APPENDED to the
    bucket-partitioned postings table — arrivals land straight into
    the term directories a search prunes to.

    FROZEN-STATS contract (the ES refresh-vs-merge trade, documented
    on ``search_text_index``): the _stats.json sidecar is NOT
    touched — appended documents become searchable immediately (their
    postings carry their own tf/dl), but global N/avgdl stay at
    build-time values (per-term df is live) until the next
    ``compact_text_index`` / ``land_text_index``, so scores drift
    slowly as the appended fraction grows.

    RE-INGESTION guard: ``dropDuplicates`` dedups doc_id only within
    this stream's own batches — a doc already IN the index (batch
    build, earlier stream, or a re-landed file) would append duplicate
    (term, doc_id) postings, permanently doubling its tf and inflating
    df. Each micro-batch therefore ANTI-JOINS against the index's
    doc-id MANIFEST sidecar (``_manifest`` — n_docs rows, written by
    ``land_text_index``, self-healed here from a postings distinct if
    an older index lacks it, appended per batch) instead of scanning +
    distinct-ing the whole postings table per batch — the guard cost
    is manifest-sized, not postings-sized (measured ~5x at the sf10
    probe). ``compact_text_index`` rebuilds the manifest and is the
    backstop repair for duplicates landed around this guard.
    Trigger.AvailableNow drains the backlog; the checkpoint makes
    re-runs resume, not re-encode. Returns the postings table after
    the drain."""
    import json
    import os
    import shutil

    from ..operators.search import _postings
    from ..operators.similarity_search import _require_local_index_path
    from ..sources.writers import (
        _reconcile_asides,
        _stage_dir,
        _swap_partitions,
    )

    _require_local_index_path(index_path, "_stats.json")
    # roll back (or forward) a quarantine swap a crash interrupted
    # before anything reads the postings
    _reconcile_asides(index_path)
    with open(os.path.join(index_path, "_stats.json")) as fh:
        n_buckets = json.load(fh)["n_buckets"]

    manifest_path = os.path.join(index_path, "_manifest")
    if not os.path.isdir(manifest_path):
        # self-heal a pre-manifest index: one distinct-projection scan
        # of the postings, once, instead of once per batch
        (spark.read.parquet(index_path).select("doc_id").distinct()
         .write.mode("overwrite").parquet(manifest_path))
    else:
        # crash reconcile, once per stream start: the sink appends
        # postings BEFORE the manifest, so a doc in the postings but
        # not the manifest belongs to an epoch whose sink died midway.
        # One doc is MANY posting rows and a parquet append is not
        # atomic, so those postings may be PARTIAL — adopting them
        # into the manifest (the pre-r10 behavior) would freeze the
        # damage forever (the replay's anti-join would skip the doc).
        # Instead QUARANTINE: drop the suspect docs' postings from the
        # touched buckets (aside-swapped rewrite, bounded by one
        # micro-batch). A suspect's epoch is guaranteed uncommitted —
        # foreachBatch commits the checkpoint only after the sink
        # returns, and the manifest append is the sink's LAST step —
        # so AvailableNow replays it and re-appends complete postings
        # under the per-batch guard. Net: a crash costs one bounded
        # bucket rewrite, never a lost or half-indexed document.
        manifest = spark.read.parquet(manifest_path)
        suspects = (spark.read.parquet(index_path)
                    .select("doc_id", "bucket")
                    .join(manifest, "doc_id", "left_anti"))
        touched = [r.bucket for r in
                   suspects.select("bucket").distinct().collect()]
        if touched:
            scoped = (spark.read.parquet(index_path)
                      .filter(F.col("bucket").isin(touched)))
            cleaned = scoped.join(
                suspects.select("doc_id").distinct(), "doc_id", "left_anti")
            staging = _stage_dir(index_path)
            (cleaned.write.mode("overwrite").partitionBy("bucket")
             .parquet(staging))
            staged = set(os.listdir(staging))
            _swap_partitions(staging, index_path, "bucket")
            # a bucket whose every row was suspect stages nothing —
            # its old dir must go entirely
            for b in touched:
                leftover = os.path.join(index_path, f"bucket={b}")
                if f"bucket={b}" not in staged and os.path.isdir(leftover):
                    shutil.rmtree(leftover)
            spark.catalog.refreshByPath(index_path)

    stream = (spark.readStream
              .schema(TESTDATA_SCHEMAS["documents"])
              .option("maxFilesPerTrigger", 4)
              .parquet(landing_dir)
              .dropDuplicates(["doc_id"]))

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        new_query()
        # fresh snapshot per batch: earlier batches' appends count
        spark.catalog.refreshByPath(manifest_path)
        indexed = spark.read.parquet(manifest_path)
        fresh = batch_df.join(indexed, "doc_id", "left_anti")
        (_postings(fresh, n_buckets)
         .write.mode("append").partitionBy("bucket").parquet(index_path))
        (fresh.select("doc_id")
         .write.mode("append").parquet(manifest_path))

    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    spark.catalog.refreshByPath(index_path)
    return spark.read.parquet(index_path)
