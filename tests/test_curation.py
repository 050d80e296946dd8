"""Corpus-curation operator semantics: decontamination, boilerplate
line removal, PII redaction, deterministic stratified sampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from database_convertor_spark.operators.curation import (
    benchmark_contamination,
    decontaminate,
    redact_pii,
    remove_boilerplate_lines,
    stratified_sample,
)


def test_decontaminate_drops_shingle_overlap(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight"),
         (2, "completely unrelated text about spark physical plans"),
         (3, "shares no five gram with anything else in this corpus")],
        ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100, "we saw the quick brown fox jumps over a fence")],
        ["bench_id", "text"])
    hits = benchmark_contamination(docs, bench, shingle_n=5)
    got = {(r.doc_id, r.bench_id): r.n_shared_shingles for r in hits.collect()}
    # doc 1 shares 'the quick brown fox jumps' (and 'quick brown fox
    # jumps over') with the benchmark
    assert got[(1, 100)] >= 1
    assert all(d == 1 for d, _ in got)
    kept = {r.doc_id for r in decontaminate(docs, bench).collect()}
    assert kept == {2, 3}


def test_boilerplate_lines_removed_order_preserved(spark):
    banner = "ACCEPT COOKIES"
    rows = [(i, f"{banner}\nunique line {i} alpha\nunique line {i} beta")
            for i in range(1, 7)]
    rows.append((7, "no banner here\njust content"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.text
           for r in remove_boilerplate_lines(docs, min_docs=5).collect()}
    assert out[3] == "unique line 3 alpha\nunique line 3 beta"  # order kept
    assert out[7] == "no banner here\njust content"             # untouched
    assert all(banner not in t for t in out.values())


def test_boilerplate_blank_lines_never_counted(spark):
    docs = spark.createDataFrame(
        [(i, f"top {i}\n\nbottom {i}") for i in range(1, 9)],
        ["doc_id", "text"])
    out = {r.doc_id: r.text
           for r in remove_boilerplate_lines(docs, min_docs=5).collect()}
    assert out[1] == "top 1\n\nbottom 1"  # the blank line survives


def test_redact_pii_goldens(spark):
    df = spark.createDataFrame(
        [("mail jane.doe+spam@sub.example.co.uk now",),
         ("call +44 20 7946 0958 or 020 7946 0958",),
         ("nothing to redact here",)],
        ["text"])
    got = [r.out for r in df.select(redact_pii(F.col("text")).alias("out"))
           .collect()]
    assert got[0] == "mail <EMAIL> now"
    assert got[1] == "call <PHONE> or <PHONE>"
    assert got[2] == "nothing to redact here"


def test_stratified_sample_deterministic_and_exclusive(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(1000)],
        ["doc_id", "lang"])
    frac = {"en": 0.5, "fr": 0.0}
    a = {r.doc_id for r in stratified_sample(docs, frac).collect()}
    b = {r.doc_id for r in
         stratified_sample(docs.repartition(7), frac).collect()}
    assert a == b                      # partitioning-independent
    assert all(i % 2 == 0 for i in a)  # fr rate 0 -> none kept
    assert 0.4 <= len(a) / 500 <= 0.6  # en rate near 0.5
    # different salt -> different (but still deterministic) sample
    c = {r.doc_id for r in stratified_sample(docs, frac, salt="v2").collect()}
    assert c != a


def test_chunk_documents_reconstructs_and_overlaps(spark):
    words = " ".join(f"w{i}" for i in range(1, 31))   # 30 tokens
    docs = spark.createDataFrame([(1, words), (2, "short text")],
                                 ["doc_id", "text"])
    from database_convertor_spark.operators.curation import chunk_documents

    out = sorted((r.chunk_id, r.n_tokens, r.chunk_text)
                 for r in chunk_documents(docs, chunk_tokens=16, overlap=4)
                 .filter(F.col("doc_id") == 1).collect())
    # starts 1, 13, 25 -> chunks [1..16], [13..28], [25..30]
    assert [c[0] for c in out] == [0, 1, 2]
    assert [c[1] for c in out] == [16, 16, 6]
    assert out[0][2].startswith("w1 w2") and out[0][2].endswith("w16")
    assert out[1][2].startswith("w13")             # 4-token overlap
    assert out[2][2] == "w25 w26 w27 w28 w29 w30"
    # every token of the doc is covered by some chunk
    covered = set()
    for _, _, text in out:
        covered.update(text.split())
    assert covered == set(words.split())
    # a short doc yields exactly one chunk
    short = chunk_documents(docs, 16, 4).filter(F.col("doc_id") == 2)
    assert short.count() == 1


def test_leakage_safe_split_never_splits_a_cluster(spark):
    from database_convertor_spark.operators.curation import leakage_safe_split

    docs = spark.createDataFrame([(i, "t") for i in range(1, 101)],
                                 ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (50, 99)], ["doc_a", "doc_b"])
    split = leakage_safe_split(docs, pairs, val_frac=0.3)
    by_doc = {r.doc_id: r.split for r in split.collect()}
    assert len(by_doc) == 100
    assert by_doc[1] == by_doc[2] == by_doc[3]     # chained cluster together
    assert by_doc[10] == by_doc[11]
    assert by_doc[50] == by_doc[99]
    assert set(by_doc.values()) == {"train", "val"}  # both sides populated


def test_select_top_quality_threshold_and_ties(spark):
    from database_convertor_spark.operators.curation import select_top_quality

    docs = spark.createDataFrame(
        [(i, float(s)) for i, s in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 8, 8])],
        ["doc_id", "s"])
    out = select_top_quality(docs, F.col("s"), keep_frac=0.25)
    got = sorted(r.doc_id for r in out.collect())
    # 75th percentile of [1..8,8,8] = 7.75 -> keep scores 8,8,8 (ties kept)
    assert got == [7, 8, 9]
    # empty input short-circuits instead of filtering on a NULL threshold
    empty = select_top_quality(docs.filter("doc_id < 0"), F.col("s"))
    assert empty.count() == 0


def test_repetition_signals_goldens(spark):
    """Hand-computed Gopher repetition fractions."""
    from database_convertor_spark.operators.text_analysis import (
        repetition_signals,
    )

    # 'a b a b a b': 2-grams = [a b, b a, a b, b a, a b] -> 'a b' x3,
    # chars = 3*3 = 9, len = 11 -> top2 = 0.8182
    # 5-grams: [a b a b a, b a b a b] each once -> dup5 = 0
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z w v u"), (3, "")],
        ["doc_id", "text"])
    got = {r.doc_id: (r.top2_char_frac, r.dup5_char_frac)
           for r in repetition_signals(docs).collect()}
    assert got[1][0] == 0.8182
    assert got[1][1] == 0.0
    # all-distinct 2-grams: top2 = 1*3/11 = 0.2727
    assert got[2][0] == 0.2727
    assert got[3] == (0.0, 0.0)                 # empty doc guarded
    # a doc that repeats a 5-gram: 'p q r s t p q r s t' ->
    # 5-gram 'p q r s t' occurs 2x (positions 1 and 6) among 6 grams
    dup = spark.createDataFrame([(9, "p q r s t p q r s t")],
                                ["doc_id", "text"])
    r9 = repetition_signals(dup).collect()[0]
    assert r9.dup5_char_frac == round(2 * 9 / 19, 4)


def test_run_health_thresholds_golden(spark):
    """The reference's monitoring ladder: each threshold trips its own
    reason, reasons come in fixed check order."""
    from database_convertor_spark.operators.monitoring import run_health

    runs = spark.createDataFrame(
        [("ok",      30.0, 10, 1),    # 90% success -> healthy
         ("slow",   121.0, 10, 0),    # duration only
         ("flaky",   10.0, 10, 3),    # 70% success + 30% errors
         ("idle",     0.0,  0, 0),    # nothing processed (0% success)
         ("awful",  200.0, 10, 9)],   # everything at once
        ["run_id", "duration_minutes", "n_processed", "n_errors"])
    got = {r.run_id: (r.healthy, r.alert_reasons)
           for r in run_health(runs).collect()}
    assert got["ok"] == (True, "")
    assert got["slow"] == (False, "duration_exceeded")
    assert got["flaky"] == (False, "low_success_rate,high_error_rate")
    assert got["idle"] == (False, "low_success_rate,nothing_processed")
    assert got["awful"] == (
        False, "duration_exceeded,low_success_rate,high_error_rate")


def test_prepare_training_corpus_end_to_end(spark):
    """The one-call pipeline (README example): raw docs -> train/val
    chunks + report, with every cross-stage invariant that matters —
    disjoint split, no near-dup straddling the boundary, no chunk of
    one doc on both sides, redaction applied before anything persists."""
    from database_convertor_spark.api import Engine
    from database_convertor_spark.operators.dedup import ngram_jaccard_pairs
    from database_convertor_spark.sources.readers import read_table

    from .conftest import SF_SMALL

    eng = Engine(spark, "/tmp/dcs-prep-wh")
    docs = read_table(spark, SF_SMALL, "documents")
    out = eng.prepare_training_corpus(
        docs, threshold=0.5, keep_frac=0.9, chunk_tokens=64, overlap=8,
        val_frac=0.2)
    train, val, report = out["train"], out["val"], out["report"]

    tr_ids = {r.doc_id for r in train.select("doc_id").distinct().collect()}
    va_ids = {r.doc_id for r in val.select("doc_id").distinct().collect()}
    assert tr_ids and va_ids            # both sides non-empty at sf0.001
    assert not (tr_ids & va_ids)        # chunk parentage never straddles

    # no admitted near-dup pair straddles the split
    admitted = spark.createDataFrame(
        [(i,) for i in sorted(tr_ids | va_ids)], ["doc_id"])
    kept_docs = docs.join(admitted, "doc_id")
    pairs = ngram_jaccard_pairs(kept_docs, threshold=0.5).collect()
    for p in pairs:
        assert (p.doc_a in tr_ids) == (p.doc_b in tr_ids), (p.doc_a, p.doc_b)

    # chunk contract + redaction made it into the emitted text
    assert set(train.columns) == {"doc_id", "chunk_id", "n_tokens",
                                  "chunk_text"}
    assert train.filter(F.col("n_tokens") > 64).count() == 0
    leaked = train.filter(F.col("chunk_text").rlike(
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")).count()
    assert leaked == 0

    # report covers exactly the admitted docs
    n_admitted = len(tr_ids | va_ids)
    assert report.agg(F.sum("n_docs")).first()[0] == n_admitted


# ------------------------------------------- line dedup (keep-first)
def test_line_dedup_keeps_first_occurrence_only(spark):
    from database_convertor_spark.operators.curation import (
        dedup_lines_keep_first,
    )
    docs = spark.createDataFrame(
        [(1, "shared line\nunique one"),
         (2, "unique two\nshared line"),
         (3, "shared line\nshared line\nunique three")],
        ["doc_id", "text"])
    out = {r.doc_id: r.text
           for r in dedup_lines_keep_first(docs).collect()}
    # the first occurrence (doc 1, pos 0) survives; doc 2's and both of
    # doc 3's are removed — including the within-doc repeat
    assert out[1] == "shared line\nunique one"
    assert out[2] == "unique two"
    assert out[3] == "unique three"


def test_line_dedup_drops_emptied_docs_and_is_idempotent(spark):
    from database_convertor_spark.operators.curation import (
        dedup_lines_keep_first,
    )
    docs = spark.createDataFrame(
        [(1, "only line"),
         (2, "only line"),        # fully deduplicated away -> dropped
         (3, "   \n\t")],         # blank-only -> dropped
        ["doc_id", "text"])
    once = dedup_lines_keep_first(docs)
    assert {r.doc_id for r in once.collect()} == {1}
    twice = dedup_lines_keep_first(once)
    assert sorted(map(tuple, twice.collect())) == sorted(
        map(tuple, once.collect()))


# ---------------------------------------- temperature sampling
def test_temperature_sample_keeps_smallest_stratum_whole(spark):
    from database_convertor_spark.operators.curation import (
        temperature_sample,
    )
    rows = [(i, "big") for i in range(400)] + \
           [(1000 + i, "small") for i in range(20)]
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    kept = temperature_sample(docs, alpha=0.5)
    counts = {r.lang: r.n for r in
              kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # keep_frac(small) = 1.0 exactly; big keeps ~sqrt(20/400) ~ 22%
    assert counts["small"] == 20
    assert 50 <= counts["big"] <= 130
    # deterministic: a re-run keeps the identical doc set
    again = {r.doc_id for r in temperature_sample(docs, alpha=0.5).collect()}
    assert again == {r.doc_id for r in kept.collect()}


def test_temperature_alpha_one_is_identity(spark):
    from database_convertor_spark.operators.curation import (
        temperature_sample,
    )
    rows = [(i, "a") for i in range(50)] + [(100 + i, "b") for i in range(5)]
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    # alpha=1 -> keep_frac = (n_min/n)^0 = 1 for every stratum
    assert temperature_sample(docs, alpha=1.0).count() == 55


# ------------------------------------------------ sequence packing
def test_pack_chunks_conserves_tokens_and_bins_contiguous(spark):
    from database_convertor_spark.operators.curation import (
        chunk_documents,
        pack_chunks,
    )
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}t{j}" for j in range(37)), "en")
         for i in range(30)],
        ["doc_id", "text", "lang"])
    chunks = chunk_documents(docs, chunk_tokens=16, overlap=4)
    total = chunks.agg(F.sum("n_tokens")).first()[0]
    bins = pack_chunks(chunks, docs, budget=64, n_shards=4).collect()
    # token conservation: every chunk lands in exactly one bin
    assert sum(r.bin_tokens for r in bins) == total
    by_shard: dict[tuple, list] = {}
    for r in bins:
        by_shard.setdefault((r.lang, r.shard), []).append(r)
    for rows in by_shard.values():
        ids = sorted(r.bin_id for r in rows)
        # bin ids are the contiguous prefix 0..n-1 within each shard
        assert ids == list(range(len(ids)))
        # every bin but the last is filled to the budget boundary
        # (may overrun by the straddling chunk's tail, never underrun)
        for r in rows:
            if r.bin_id != ids[-1]:
                assert r.bin_tokens >= 64 - 15
        assert rows[0].fill_frac == round(rows[0].bin_tokens / 64, 4)


def test_prepare_training_corpus_line_dedup_temperature_packing(spark):
    """The round-4 pipeline knobs compose end-to-end: keep-first line
    dedup runs before pair generation, temperature rebalancing
    downsamples only the over-represented languages, and packed chunks
    carry their (lang, shard, bin_id) training-bin assignment."""
    from database_convertor_spark.api import Engine
    from database_convertor_spark.sources.readers import read_table

    from .conftest import SF_SMALL

    eng = Engine(spark, "/tmp/dcs-prep-wh2")
    docs = read_table(spark, SF_SMALL, "documents")
    out = eng.prepare_training_corpus(
        docs, threshold=0.5, line_dedup=True, temperature_alpha=0.7,
        chunk_tokens=32, overlap=4, val_frac=0.2, pack_budget=128)
    train = out["train"]
    assert {"doc_id", "chunk_id", "n_tokens", "chunk_text",
            "lang", "shard", "bin_id"} <= set(train.columns)
    rows = train.collect()
    assert rows
    assert all(0 <= r.shard < 4 and r.bin_id >= 0 and r.n_tokens <= 32
               for r in rows)
    # temperature rebalancing can only shrink a language's share, and
    # the smallest admitted language is kept whole relative to the
    # alpha=None run
    base = eng.prepare_training_corpus(
        docs, threshold=0.5, line_dedup=True, val_frac=0.2)

    def _lang_docs(frame):
        return {r.lang: r.n for r in frame.groupBy("lang")
                .agg(F.count_distinct("doc_id").alias("n")).collect()}

    t_counts = _lang_docs(train)
    b_counts = _lang_docs(base["train"])
    assert all(t_counts[lang] <= b_counts[lang] for lang in t_counts)


def test_fused_chunk_pack_matches_per_side_runs(spark):
    """r10 optimization guard: prepare_training_corpus chunks+packs
    the labeled frame ONCE with the split carried through (window
    keyed by (split, lang, shard)). The fused out['chunks'] restricted
    to each side must be row-identical to the pre-optimization shape —
    leakage_safe_split joined back, then one chunk+bin pass PER side."""
    from database_convertor_spark.operators import curation, dedup
    from database_convertor_spark.operators.components import (
        dedup_clusters, drop_near_duplicates)
    from database_convertor_spark.functions.text import gopher_passes
    from database_convertor_spark.pipelines.corpus import (
        prepare_training_corpus)
    from database_convertor_spark.sources.readers import read_table

    from .conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents")
    out = prepare_training_corpus(
        docs, threshold=0.5, redact=True, line_dedup=True,
        chunk_tokens=32, overlap=8, val_frac=0.1, pack_budget=128)

    # reference: the historical per-side shape, from the same stages
    kept = docs.filter(gopher_passes(F.col("text")))
    kept = curation.redact_documents(kept)
    kept = kept.drop("text").join(
        curation.dedup_lines_keep_first(kept), "doc_id")
    pairs = dedup.ngram_jaccard_pairs(kept, threshold=0.5,
                                      estimate_on=docs,
                                      on_budget_exceeded="route")
    clusters = dedup_clusters(pairs, "doc_a", "doc_b")
    curated = drop_near_duplicates(kept, clusters=clusters)
    split = curation.leakage_safe_split(curated, val_frac=0.1,
                                        clusters=clusters)
    labeled = curated.join(split, "doc_id")
    docs_for_lang = curated.select("doc_id", "lang")
    ref = {}
    for side in ("train", "val"):
        leg = labeled.filter(F.col("split") == side).drop("split")
        leg = curation.chunk_documents(leg, 32, 8)
        ref[side] = curation.assign_chunk_bins(
            leg, docs_for_lang, budget=128)

    for side in ("train", "val"):
        got = sorted(
            (tuple(r) for r in out[side]
             .select("doc_id", "chunk_id", "n_tokens", "chunk_text",
                     "lang", "shard", "bin_id").collect()))
        want = sorted(
            (tuple(r) for r in ref[side]
             .select("doc_id", "chunk_id", "n_tokens", "chunk_text",
                     "lang", "shard", "bin_id").collect()))
        assert got == want, f"{side}: fused != per-side"
        assert got  # non-degenerate
    # and out['chunks'] is exactly the union of its two side filters
    n_all = out["chunks"].count()
    assert n_all == out["train"].count() + out["val"].count()


def test_engine_facade_round4_surface(spark):
    """The facade exposes the new operators (thin pass-throughs)."""
    from database_convertor_spark.api import Engine
    from database_convertor_spark.sources.readers import read_table

    from .conftest import SF_SMALL

    eng = Engine(spark, "/tmp/dcs-facade-wh")
    docs = read_table(spark, SF_SMALL, "documents")
    emb = read_table(spark, SF_SMALL, "embeddings")
    assert eng.dedup_lines(docs).count() > 0
    lm = eng.lm_logprob(docs)
    assert {"doc_id", "n_tokens", "avg_logprob"} == set(lm.columns)
    assert eng.temperature_sample(docs, alpha=0.5).count() <= docs.count()
    chunks = eng.chunk_documents(docs, chunk_tokens=16, overlap=4)
    bins = eng.pack_chunks(chunks, docs, budget=64)
    assert bins.filter(F.col("bin_tokens") <= 0).count() == 0
    q = emb.filter(emb.vec_id < 3)
    exact = eng.ann_topk(q, emb, k=3)
    ivf = eng.ann_topk(q, emb, k=3, n_clusters=4, nprobe=4)
    assert exact.count() == 9 and ivf.count() == 9


def test_cross_doc_span_signals_golden(spark):
    """Window-level cross-document duplication: doc 1 and 2 share an
    8-token span (their windows overlap on it), doc 3 shares nothing;
    a doc shorter than the window is one whole-text window and two
    identical short docs count as mutual duplicates."""
    from database_convertor_spark.operators.text_analysis import (
        cross_doc_span_signals,
    )
    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(1, shared + " alpha beta"),
         (2, "gamma " + shared),
         (3, "wholly original text with nothing repeated anywhere here"),
         (4, "tiny dup"),
         (5, "tiny dup")],
        ["doc_id", "text"])
    got = {r.doc_id: (r.n_windows, r.cross_dup_frac)
           for r in cross_doc_span_signals(docs, window=8).collect()}
    # doc 1: 10 tokens -> 3 windows, exactly one (the shared span) dup
    assert got[1] == (3, 0.3333)
    assert got[2] == (2, 0.5)
    assert got[3][1] == 0.0
    assert got[4] == (1, 1.0) and got[5] == (1, 1.0)


# ------------------------------------- exact substring dedup (spans)
def test_duplicated_spans_golden(spark):
    """Span emission: keep-first per window hash (the corpus-wide
    first occurrence is never removable), overlapping windows merge
    into one maximal span, short exact-dup docs become whole-doc
    spans, empty docs emit nothing."""
    from database_convertor_spark.operators.text_analysis import (
        duplicated_spans,
    )
    docs = spark.createDataFrame([
        (1, "a b c d e f g h unique one two three"),
        (2, "x y a b c d e f g h z w q r s t"),
        (3, "totally different text with no duplication at all here"),
        (4, "short dup"),
        (5, "short dup"),
        (6, ""),
    ], ["doc_id", "text"])
    got = {(r.doc_id, r.span_id): (r.start_tok, r.end_tok, r.n_tokens)
           for r in duplicated_spans(docs, window=8).collect()}
    # doc 1 is the first occurrence -> keeps everything; doc 2's copy
    # of the 8-gram (tokens 3-10) is one merged span; doc 5 (exact dup
    # of doc 4, shorter than the window) is one whole-doc span
    assert got == {(2, 1): (3, 10, 8), (5, 1): (1, 2, 2)}


def test_remove_duplicated_spans_cuts_and_converges(spark):
    """Removal: spans are cut token-exactly, docs cut to nothing are
    dropped, and a second pass finds no removable spans (every
    surviving window is now its hash's sole/first occurrence)."""
    from database_convertor_spark.operators.text_analysis import (
        duplicated_spans,
        remove_duplicated_spans,
    )
    docs = spark.createDataFrame([
        (1, "a b c d e f g h unique one two three"),
        (2, "x y a b c d e f g h z w q r s t"),
        (4, "short dup"),
        (5, "short dup"),
    ], ["doc_id", "text"])
    out = {r.doc_id: (r.text, r.n_tokens_removed)
           for r in remove_duplicated_spans(docs, window=8).collect()}
    assert out == {
        1: ("a b c d e f g h unique one two three", 0),
        2: ("x y z w q r s t", 8),
        4: ("short dup", 0),
    }  # doc 5 cut to nothing and dropped
    cleaned = spark.createDataFrame(
        [(i, t) for i, (t, _) in sorted(out.items())], ["doc_id", "text"])
    assert duplicated_spans(cleaned, window=8).count() == 0


def test_prepare_training_corpus_cut_dup_spans(spark):
    """Pipeline hook: with cut_dup_spans on, a sentence shared by two
    quality-passing docs survives in exactly one admitted doc."""
    from database_convertor_spark.api import Engine

    filler_a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(20))
    filler_b = " ".join(f"delta{i} epsilon{i} zeta{i}" for i in range(20))
    shared = "the quick brown fox jumps over the lazy dog tonight"
    eng = Engine(spark, "/tmp/dcs-span-wh")
    docs = spark.createDataFrame(
        [(1, filler_a + " " + shared, "en"),
         (2, filler_b + " " + shared, "en")],
        ["doc_id", "text", "lang"]).withColumn(
            "n_chars", F.length("text").cast("long"))
    out = eng.prepare_training_corpus(docs, threshold=0.9,
                                      cut_dup_spans=8, val_frac=0.0)
    texts = [r.text for r in out["train"].unionByName(out["val"])
             .select("text").collect()]
    assert len(texts) == 2  # both docs admitted (unique content kept)
    assert sum(shared in t for t in texts) == 1  # span survives once


def test_unimax_sample_matches_python_water_fill(spark):
    """Exact twin: the water-fill threshold and md5 gates replicated in
    pure Python must select the same documents; the hand-checkable
    allocation (budget 50% of 100 tokens -> theta = 20: A keeps all
    10, B and C are capped at the same 20 tokens) drives the fractions."""
    import hashlib
    import math

    from database_convertor_spark.operators.curation import unimax_sample

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = []
    for i in range(5):       # lang a: 5 docs x 2 tokens = 10
        rows.append((100 + i, "a", "t1 t2"))
    for i in range(10):      # lang b: 10 docs x 3 tokens = 30
        rows.append((200 + i, "b", "t1 t2 t3"))
    for i in range(12):      # lang c: 12 docs x 5 tokens = 60
        rows.append((300 + i, "c", "t1 t2 t3 t4 t5"))
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = sorted(r.doc_id for r in
                 unimax_sample(docs, budget_frac=0.5).collect())
    # python water-fill twin
    n = {"a": 10, "b": 30, "c": 60}
    budget = 100 * 0.5
    theta = math.inf
    csum = 0
    langs = sorted(n, key=lambda k: (n[k], k))
    for i, k in enumerate(langs):
        share = (budget - csum) / (len(langs) - i)
        if n[k] > share:
            theta = share
            break
        csum += n[k]
    assert round(theta, 6) == 20.0
    gates = {k: round(round(min(1.0, theta / n[k]), 6) * 1e6)
             for k in n}
    expect = sorted(d for d, lang, _ in rows
                    if h60("unimax" + str(d)) % 1_000_000 < gates[lang])
    assert got == expect and 0 < len(expect) < len(rows)


def test_line_dedup_hash_collision_never_deletes(spark, monkeypatch):
    """Force EVERY non-blank line onto one hash bucket (constant-hash
    monkeypatch = the worst possible 60-bit collision): the text-
    equality confirmation must keep every distinct line intact — only
    true duplicates of the single global winner may be removed."""
    from pyspark.sql import functions as F

    from database_convertor_spark.operators import curation

    monkeypatch.setattr(curation, "md5_long", lambda c: F.lit(0))
    docs = spark.createDataFrame(
        [(1, "alpha\nbeta"),
         (2, "alpha\ngamma"),       # 'alpha' dups doc 1's winner line
         (3, "delta\nepsilon")],    # all-distinct lines, same bucket
        ["doc_id", "text"])
    got = {r.doc_id: r.text
           for r in curation.dedup_lines_keep_first(docs).collect()}
    # winner = global (doc 1, pos 0) 'alpha'; doc 2 loses its copy;
    # every OTHER distinct line survives despite sharing the bucket
    assert got == {1: "alpha\nbeta", 2: "gamma", 3: "delta\nepsilon"}


def test_mixture_sample_saturation_whitelist_and_uniform_twin(spark):
    """mixture_sample: (1) a stratum too small for its target keeps
    100% and the excess re-spreads by weight; (2) strata absent from
    the weights dict are dropped (whitelist); (3) at uniform weights
    and the same salt it IS unimax_sample (the weighted
    generalization degenerates exactly)."""
    import pytest

    from database_convertor_spark.operators.curation import (
        mixture_sample,
        unimax_sample,
    )

    rows = []
    did = 0
    for src, n_docs, words in [("a", 4, 5), ("b", 8, 10), ("c", 8, 10),
                               ("drop_me", 6, 10)]:
        for _ in range(n_docs):
            rows.append((did, src, "tok " * words))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    # a: 20 tokens, wants 0.8 * B; B = 0.5 * (20 + 80 + 80) = 90 ->
    # target 72 > 20 -> saturates, keeps everything
    out = mixture_sample(docs, {"a": 0.8, "b": 0.1, "c": 0.1},
                         budget_frac=0.5)
    kept = {r.source for r in out.collect()}
    a_kept = out.filter(F.col("source") == "a").count()
    assert a_kept == 4                      # saturated stratum: all docs
    assert "drop_me" not in kept            # whitelist

    # uniform weights + same salt degenerate to unimax exactly
    uni = mixture_sample(docs, {"a": 1.0, "b": 1.0, "c": 1.0,
                                "drop_me": 1.0},
                         budget_frac=0.4, salt="unimax")
    umax = unimax_sample(docs, budget_frac=0.4, stratum_col="source")
    assert (sorted(r.doc_id for r in uni.collect())
            == sorted(r.doc_id for r in umax.collect()))

    with pytest.raises(ValueError):
        mixture_sample(docs, {})
    with pytest.raises(ValueError):
        mixture_sample(docs, {"a": 0.0})
    with pytest.raises(ValueError):
        mixture_sample(docs, {"a": 1.0, "b": -0.1})


def test_unimax_allocation_invariants(spark):
    """Allocation water-fill with epoch cap: kept totals hit the
    budget exactly while no stratum exceeds its cap; when the budget
    exceeds the summed caps, every stratum sits at its cap and the
    shortfall is visible."""
    import pytest

    from database_convertor_spark.operators.curation import unimax_allocation

    rows, did = [], 0
    for lang, n_docs, words in [("aa", 2, 10), ("bb", 10, 10),
                                ("cc", 30, 10)]:
        for _ in range(n_docs):
            rows.append((did, lang, "tok " * words))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    # corpus = 420 tokens (20/100/300); budget 0.8*420 = 336, cap 2x
    out = {r.lang: r for r in unimax_allocation(
        docs, budget_frac=0.8, epoch_cap=2.0).collect()}
    assert abs(sum(r.allocated_tokens for r in out.values()) - 336) < 1e-6
    for r in out.values():
        assert r.allocated_tokens <= 2.0 * r.n_tokens + 1e-9
    assert out["aa"].epochs == 2.0          # tiny language: full 2 epochs
    assert out["cc"].epochs < 1.0           # dominant language downsampled
    # budget above the summed caps: everything at cap, shortfall visible
    capped = {r.lang: r for r in unimax_allocation(
        docs, budget_frac=3.0, epoch_cap=1.5).collect()}
    for r in capped.values():
        assert abs(r.epochs - 1.5) < 1e-9
    assert sum(r.allocated_tokens for r in capped.values()) < 3.0 * 420
    with pytest.raises(ValueError):
        unimax_allocation(docs, epoch_cap=0)


def test_contamination_fraction_golden(spark):
    """Pure-Python twin of the GPT-3 dirtiness measure: distinct
    5-gram shingles per doc, fraction found in the benchmark set —
    including the fully-dirty doc (frac 1.0), the clean doc (0.0),
    and the short-doc whole-text shingle case."""
    corpus = {
        1: "a b c d e f",          # shingles: abcde, bcdef
        2: "a b c d e",            # single shingle, in benchmark
        3: "x y z w v u t",        # clean
        4: "tiny",                 # < 5 tokens: one whole-text shingle
    }
    bench = {10: "a b c d e"}      # one shingle: abcde
    docs = spark.createDataFrame(
        [(i, t) for i, t in corpus.items()], ["doc_id", "text"])
    b = spark.createDataFrame(
        [(i, t) for i, t in bench.items()], ["bench_id", "text"])
    from database_convertor_spark.operators.curation import (
        contamination_fraction,
    )
    got = {r.doc_id: (r.n_shingles, r.n_contaminated, r.contamination_frac)
           for r in contamination_fraction(docs, b, shingle_n=5).collect()}
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (1, 1, 1.0)
    assert got[3] == (3, 0, 0.0)
    assert got[4] == (1, 0, 0.0)   # whole-text shingle, not in bench


def test_source_cap_semantics_and_gate_engagement(spark):
    """Cap discipline: every source lands <= cap docs; under-cap
    sources keep everything; a mega-source engages the rate-gate
    prefilter (gate < 1e6) yet still fills the cap at the default
    oversample; two runs agree row-for-row (determinism)."""
    from pyspark.sql import functions as F

    from database_convertor_spark.operators.curation import source_cap

    rows = ([(i, "mega") for i in range(400)]
            + [(1000 + i, "small") for i in range(3)])
    docs = spark.createDataFrame(rows, ["doc_id", "source"]) \
        .withColumn("text", F.lit("x"))
    got = source_cap(docs, cap=10).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    assert len(by_src["mega"]) == 10       # gate (80/400) still fills cap
    assert by_src["small"] == {1000, 1001, 1002}
    again = source_cap(docs, cap=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_source_cap_gate_floor_never_drops_a_mega_source(spark):
    """Regression (round-6 review): a source so large that its keep
    rate rounds to zero at 6dp (n > cap*oversample*2e6) must still be
    CAPPED, not dropped — the gate floors at 1 (keep rate 1e-6).
    2.1M docs at cap=1, oversample=1: rate 1/2.1M rounds to 0.0; the
    floored gate admits the 3 ids whose md5 lands on residue 0, and
    the window keeps the first."""
    from pyspark.sql import functions as F

    from database_convertor_spark.operators.curation import source_cap

    docs = (spark.range(2_100_000)
            .select(F.col("id").alias("doc_id"),
                    F.lit("mega").alias("source")))
    got = source_cap(docs, cap=1, oversample=1).collect()
    assert len(got) == 1                 # capped, NOT dropped
    assert got[0].doc_id in {614145, 868960, 1478385}


def test_contamination_fraction_null_text_doc(spark):
    """Regression (round-6 review): a NULL-text doc reports
    (0, 0, NULL) — matching the serial oracle, whose unnest drops the
    NULL shingle — instead of counting one NULL-hash shingle."""
    from database_convertor_spark.operators.curation import (
        contamination_fraction,
    )
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, None)], ["doc_id", "text"])
    bench = spark.createDataFrame([(10, "a b c d e")],
                                  ["bench_id", "text"])
    got = {r.doc_id: (r.n_shingles, r.n_contaminated, r.contamination_frac)
           for r in contamination_fraction(docs, bench).collect()}
    assert got[2] == (0, 0, None)
    assert got[1] == (1, 1, 1.0)


def test_corpus_diff_semantics(spark):
    """added / removed / modified classification by content
    fingerprint; whitespace-only rewrites are NOT modifications
    (fingerprints normalize whitespace); unchanged rows are omitted."""
    from database_convertor_spark.operators.curation import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "delta")],
        ["doc_id", "text"])
    new = spark.createDataFrame(
        [(1, "alpha   beta"),      # whitespace-only: unchanged
         (2, "gamma REVISED"),     # modified
         (4, "epsilon")],          # added; 3 removed
        ["doc_id", "text"])
    got = {r.doc_id: r.change for r in corpus_diff(old, new).collect()}
    assert got == {2: "modified", 3: "removed", 4: "added"}
    rows = {r.doc_id: r for r in corpus_diff(old, new).collect()}
    assert rows[4].old_fp is None and rows[4].new_fp is not None
    assert rows[3].new_fp is None and rows[3].old_fp is not None


def test_corpus_diff_null_text_presence_flags(spark):
    """Regression (round-6 ADVICE medium): presence is decided by
    join-side flags, never fingerprint nullness — a NULL-text row in
    BOTH snapshots is unchanged (omitted), NULL only in old is
    'removed', and text -> NULL is 'modified' (sentinel fingerprint,
    null-safe compare)."""
    from database_convertor_spark.operators.curation import (
        NULL_TEXT_FP,
        corpus_diff,
    )

    old = spark.createDataFrame(
        [(1, None), (2, "gamma"), (3, None), (5, "keep")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, None), (2, None), (4, None), (5, "keep")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in corpus_diff(old, new).collect()}
    assert {d: r.change for d, r in rows.items()} == {
        2: "modified",   # text became NULL — NOT 'removed'
        3: "removed",    # NULL-text row that vanished — NOT 'added'
        4: "added",
    }
    # NULL text fingerprints to the sentinel, so consumers can still
    # read "NULL fp" as "row absent on that side"
    assert rows[2].new_fp == NULL_TEXT_FP
    assert rows[3].old_fp == NULL_TEXT_FP
    assert rows[4].old_fp is None


# ------------------------------------------------ containment pairs
def test_containment_pairs_finds_truncated_mirror(spark):
    """The predicate Jaccard blocking cannot see: a truncated mirror
    (10 of 40 tokens) is 100% contained but Jaccard-0.25 and three
    length bands away. containment_pairs must find it; the same-band
    jaccard operator must not."""
    from database_convertor_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    full = " ".join(f"tok{i:02d}" for i in range(40))
    trunc = " ".join(f"tok{i:02d}" for i in range(10))
    other = " ".join(f"alt{i:02d}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, full, "en", len(full)),
         (2, trunc, "en", len(trunc)),
         (3, other, "en", len(other))],
        ["doc_id", "text", "lang", "n_chars"])
    got = {(r.doc_small, r.doc_big, r.containment)
           for r in containment_pairs(docs, threshold=0.9).collect()}
    assert got == {(2, 1, 1.0)}
    jac = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []                     # band + score both miss it


def test_containment_pairs_exact_vs_brute_force(spark):
    """Prefix-filter completeness theorem: the blocked result equals
    the all-pairs brute-force containment on a small random-ish
    corpus (no recall loss — exact algorithm, not LSH)."""
    from database_convertor_spark.operators.dedup import containment_pairs

    rows = []
    for i in range(30):
        n = 5 + (i * 7) % 20
        toks = [f"w{(i * 13 + j * 5) % 37}" for j in range(n)]
        text = " ".join(toks)
        rows.append((i, text, "en", len(text)))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "n_chars"])
    got = {(r.doc_small, r.doc_big, r.containment)
           for r in containment_pairs(docs, threshold=0.8).collect()}

    sets = {i: set(t[1].split()) for i, t in zip(range(30), rows)}
    want = set()
    for a in range(30):
        for b in range(30):
            if a == b:
                continue
            sa, sb = sets[a], sets[b]
            if (len(sa), a) > (len(sb), b):
                continue
            c = len(sa & sb) / len(sa)
            if round(c, 4) >= 0.8:
                want.add((a, b, round(c, 4)))
    assert got == want and want          # non-trivial fixture


def test_containment_pairs_gate_raises_with_exact_mass(spark):
    """The candidate-mass gate: max_candidate_pairs=0 must raise
    naming the remedies; a None budget runs the same plan regardless."""
    import pytest

    from database_convertor_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j", "en", 19),
         (2, "a b c d e f g h i j k", "en", 21)],
        ["doc_id", "text", "lang", "n_chars"])
    with pytest.raises(ValueError, match="candidate row mass"):
        containment_pairs(docs, threshold=0.9,
                          max_candidate_pairs=0).collect()
    out = containment_pairs(docs, threshold=0.9,
                            max_candidate_pairs=None).collect()
    assert {(r.doc_small, r.doc_big) for r in out} == {(1, 2)}


def test_drop_contained_docs_chain_and_survivor(spark):
    """Product semantics: A ⊆ B ⊆ C drops A and B via their own pairs
    and keeps C; an unrelated doc is untouched; equal token sets keep
    the HIGHER doc_id (the pair convention's contained side is the
    lower id)."""
    from database_convertor_spark.operators.dedup import drop_contained_docs

    a = " ".join(f"tok{i:02d}" for i in range(10))
    b = " ".join(f"tok{i:02d}" for i in range(25))
    c = " ".join(f"tok{i:02d}" for i in range(40))
    other = " ".join(f"alt{i:02d}" for i in range(15))
    dup1 = "same words here exactly"
    dup2 = "exactly here words same"      # equal token SET
    docs = spark.createDataFrame(
        [(1, a, "en", len(a)), (2, b, "en", len(b)), (3, c, "en", len(c)),
         (4, other, "en", len(other)),
         (5, dup1, "en", len(dup1)), (6, dup2, "en", len(dup2))],
        ["doc_id", "text", "lang", "n_chars"])
    kept = sorted(r.doc_id for r in
                  drop_contained_docs(docs, threshold=0.9).collect())
    assert kept == [3, 4, 6]


def test_cross_corpus_containment_directional(spark):
    """A benchmark item quoted inside a longer training doc is found
    (containment 1.0); the reverse direction is NOT emitted (the
    needle side is fixed); a needle with no haystack-shared rare
    tokens produces zero candidates (df-0 prefix short-circuit);
    the gate raises with the exact sum-of-df mass."""
    import pytest

    from database_convertor_spark.operators.dedup import (
        cross_corpus_containment,
    )

    bench_item = "what is the capital of atlantis exactly"
    training = ("some long document that asks what is the capital of "
                "atlantis exactly and then rambles on about many "
                "other things for a while")
    unrelated = "completely disjoint vocabulary zebra quokka lemur"
    needles = spark.createDataFrame(
        [(100, bench_item, "en", len(bench_item)),
         (101, unrelated, "en", len(unrelated))],
        ["doc_id", "text", "lang", "n_chars"])
    hay = spark.createDataFrame(
        [(1, training, "en", len(training)),
         (2, "nothing related here at all", "en", 27)],
        ["doc_id", "text", "lang", "n_chars"])
    got = {(r.needle_id, r.doc_id, r.containment)
           for r in cross_corpus_containment(needles, hay,
                                             threshold=0.9).collect()}
    assert got == {(100, 1, 1.0)}
    with pytest.raises(ValueError, match="candidate row mass"):
        cross_corpus_containment(needles, hay, threshold=0.9,
                                 max_candidate_pairs=0).collect()
