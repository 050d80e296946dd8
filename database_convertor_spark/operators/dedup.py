"""Deduplication operators for the training-data pipeline layer:
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.

Scale design notes:
- exact dedup is a hash groupBy on a fingerprint — one shuffle, no
  pairwise work, the 100 TB default;
- pairwise near-dup detection NEVER materializes the O(n^2) cross
  product: n-gram Jaccard uses (lang, length-band) blocking; MinHash
  uses LSH banding (pairs only within a band bucket); SimHash uses
  16-bit chunk banding (Hamming <= 3 pigeonholes into 4 chunks);
  embedding near-dup uses the label partition (IVF-style bucket);
- all signatures are computed with deterministic JVM-side expressions
  (md5-derived 60-bit hashes + higher-order array functions) — no
  Python in the per-document path, and the hash is reproducible in
  DuckDB so MinHash/SimHash are fully oracle-checkable, not rows-only.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 - resolves pandas_udf type hints

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.similarity import cosine_similarity, token_jaccard
from ..session import pair_budget, persist_for_query, session_memo, spread
from ..functions.text import (
    HASH_PRIME,
    MINHASH_A,
    MINHASH_B,
    fingerprint,
    md5_long,
    shingles,
    tokens,
)


# ---------------------------------------------------------------- exact dedup
def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups by normalized-text MD5: keep the smallest
    doc_id as canonical, count members. Output one row per distinct
    content."""
    return (documents
            .select(fingerprint(F.col("text")).alias("fp"), "doc_id")
            .groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.count(F.lit(1)).alias("dup_count")))


def drop_exact_duplicates(documents: DataFrame) -> DataFrame:
    """Dedup the corpus itself: keep one row per content fingerprint
    (min doc_id wins — deterministic, unlike dropDuplicates)."""
    keep = exact_dedup(documents).select("doc_id")
    return documents.join(keep, "doc_id", "left_semi")


# ------------------------------------------------------- n-gram Jaccard pairs
def _ngram_docs(documents: DataFrame, band_chars: int) -> DataFrame:
    """Shared blocking projection: (doc_id, lang, band, toks, n_toks)."""
    docs = documents.select(
        "doc_id", "lang",
        F.floor(F.col("n_chars") / band_chars).cast("int").alias("band"),
        F.array_distinct(tokens(F.lower(F.col("text")))).alias("toks"))
    return docs.withColumn("n_toks", F.size("toks"))


def _jaccard_filter(pairs: DataFrame, threshold: float) -> DataFrame:
    """Size-ratio prefilter + exact word-set Jaccard over candidate
    pairs carrying a./b. toks and n_toks; emits (doc_a, doc_b, jaccard)
    with doc_a < doc_b.

    Per-candidate cost discipline (r10, guide §2.3/§1.2 — this
    predicate chain is evaluated inside the block join's residual
    condition for EVERY candidate pair, so its per-pair cost is the
    operator's hot loop):

    - the union is never materialized: ``toks`` arrives
      ``array_distinct``-ed from ``_ngram_docs``, so
      |A ∪ B| = |A| + |B| - |A ∩ B| exactly — ``array_intersect``
      (one hash-set build per evaluation) replaces an intersect AND a
      union (two hash-set builds), the dominant per-pair cost
      (measured 3.3x on dedup_ngram_jaccard at sf0.1);
    - conjunct ORDER, by contrast, is not controllable from the
      DataFrame API: Catalyst merges every post-join filter into the
      join's residual condition and normalizes the conjunct order
      regardless of whether callers pass pair-uniqueness predicates
      (``doc_id <``) as join conjuncts or as filters (verified on the
      executed plans of both spellings — identical). Callers keep the
      uniqueness predicate as a ``.filter`` purely for readability.

    The size-ratio prefilter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
    any pair failing the ratio cannot reach the threshold — prunes
    without changing results. The when() guards the ANSI divide: two
    empty token sets have J = 0 by definition (token_jaccard), so
    they are correctly pruned, not a division-by-zero crash (found by
    the hypothesis invariant test)."""
    mx = F.greatest("a.n_toks", "b.n_toks").cast("double")
    ratio_ok = F.when(
        mx > 0,
        F.least("a.n_toks", "b.n_toks").cast("double") / mx >= threshold
    ).otherwise(F.lit(False))
    inter = F.size(F.array_intersect(
        F.col("a.toks"), F.col("b.toks"))).cast("double")
    union = (F.col("a.n_toks") + F.col("b.n_toks")).cast("double") - inter
    sim = F.when(union == 0, F.lit(0.0)).otherwise(inter / union)
    return (pairs.filter(ratio_ok)
            .select(F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                    F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
                    F.round(sim, 4).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


# pair-mass estimates keyed by (estimate plan, adjacency): the gate's
# histogram job runs ONCE per distinct input within a session — a
# pipeline invoking several gated operators over the same upstream
# (corpus_deduped + curation_stats both estimate on the raw documents
# scan) pays for the estimate once, not per operator. The estimate is
# a coarse work bound, so intra-session staleness (same plan, mutated
# files underneath) is an accepted trade.
_pair_mass_memo = session_memo(64)


def _session_plan_cached(frames: tuple[DataFrame, ...], tag,
                         compute) -> float:
    """Gate estimates memoized per session on the inputs' analyzed-plan
    semanticHashes + a caller tag. ``compute`` is the thunk that runs
    the estimate's job(s) on a miss."""
    try:
        key = (tuple(f._jdf.queryExecution().analyzed().semanticHash()
                     for f in frames), tag)
    except Exception:                      # connect / API drift: no cache
        return compute()
    return _pair_mass_memo(key, compute)


def _block_pair_mass_cached(docs: DataFrame,
                            adjacent_bands: bool) -> float:
    return _session_plan_cached(
        (docs,), ("block", adjacent_bands),
        lambda: _block_pair_mass(docs, adjacent_bands))


def _keyed_candidate_mass_cached(frame: DataFrame, key_cols: list[str],
                                 tag: str) -> float:
    """Candidate-row mass of a banding/chunking equi-join — sum over
    key populations of c*(c-1)/2 from ONE map-side-combining
    histogram — cached per (session, input plan, tag) via
    ``_session_plan_cached`` (the r6 lesson: an uncached gate
    estimate re-pays its job on every invocation, and bench's
    min-of-2 and the pipelines' repeated calls each pay it again)."""
    def compute() -> float:
        return (frame.groupBy(*key_cols)
                .agg(F.count(F.lit(1)).cast("double").alias("c"))
                .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("m"))
                .collect()[0]["m"]) or 0.0
    return _session_plan_cached((frame,), tag, compute)


def _block_pair_mass(docs: DataFrame, adjacent_bands: bool) -> float:
    """Estimated candidate-pair mass of the (lang, band) blocking,
    from ONE cheap histogram aggregate (the scan reads only lang +
    n_chars — the tokenize projection is pruned; no join runs):
    sum over blocks of c*(c-1)/2, plus cross-band c_i*c_{i+1} terms
    when ``adjacent_bands`` widens the candidates. Doubles throughout —
    it is a work ESTIMATE, and bigint c^2 would overflow first."""
    hist = (docs.groupBy("lang", "band")
            .agg(F.count(F.lit(1)).cast("double").alias("c")))
    w = Window.partitionBy("lang").orderBy("band")
    adj = F.when(F.lead("band").over(w) == F.col("band") + 1,
                 F.col("c") * F.lead("c").over(w)).otherwise(F.lit(0.0))
    mass = (hist
            .select((F.col("c") * (F.col("c") - 1) / 2).alias("_same"),
                    (adj if adjacent_bands else F.lit(0.0)).alias("_adj"))
            .agg((F.sum("_same") + F.sum("_adj")).alias("m"))
            .collect()[0]["m"])
    return float(mass or 0.0)


def ngram_jaccard_pairs(documents: DataFrame, threshold: float = 0.5,
                        band_chars: int = 100,
                        adjacent_bands: bool = False,
                        block_splits: int = 1,
                        max_block_pairs: float | None = 5_000_000,
                        on_budget_exceeded: str = "raise",
                        estimate_on: DataFrame | None = None) -> DataFrame:
    """Near-duplicate pairs by word-set Jaccard within (lang,
    length-band) blocks. The block join replaces the cross product; the
    Jaccard itself is array algebra (array_intersect/array_union).

    Regime gate (the round-5 verdict's ask — same discipline as
    fuzzy_join's pair budget): this operator is the EXACT
    all-pairs-within-block baseline, and within-block pair mass grows
    quadratically in block population (measured 45.5× on 10× data at
    the sf1 probe). Before building the join, one cheap histogram
    aggregate estimates the candidate-pair mass; past
    ``max_block_pairs`` the operator refuses to run the quadratic plan:
    ``on_budget_exceeded='raise'`` (default) raises naming
    ``minhash_lsh_pairs`` — the scale path whose candidates are bounded
    by similarity structure, not block size (measured 3.3× on 10×
    data); ``'route'`` auto-routes to it (same output schema; note the
    similarity becomes SHINGLE Jaccard, LSH-approximate — results
    change, which is why routing is opt-in, not silent);
    ``max_block_pairs=None`` skips the gate and runs the exact plan
    (``block_splits`` then shards the straggler blocks, but total work
    is unchanged). ``estimate_on`` lets a caller whose
    ``documents`` is an expensive sub-plan (the curation pipeline:
    filter → redact → line-dedup → decontaminate) estimate on the cheap
    upstream scan instead — a conservative UPPER bound, since the
    hygiene stages only remove rows and the ``n_chars`` band key rides
    through them unchanged.

    ``adjacent_bands`` widens candidates to pairs whose bands differ by
    at most 1 — the recall fix for near-dups straddling a band
    boundary — while STAYING an equi-join: each doc emits block keys
    {band, band+1}, so a diff-1 pair meets on the higher band and a
    same-band pair meets on both (deduped). No range join, no nested
    loop.

    ``block_splits`` (S) is the straggler lever for cluster scale: the
    block key space is small (|langs| x |bands|), so at 100x data the
    biggest block's pair work lands on ONE task. With S > 1 each block
    is sharded into S sub-buckets by doc-id hash and the join key grows
    to (lang, band, i, j) — every pair still meets exactly once (at
    i = bucket(a), j = bucket(b)), each side is replicated S times, and
    per-block parallelism becomes S^2 (Okcan & Riedewald's theta-join
    sharding — public algorithm). Results are identical for any S
    (tested); the default 1 adds no replication for local runs.

    Scale note — why not PPJoin prefix filtering: measured on the
    driver corpus at sf0.1, rarest-prefix-token candidates are MORE
    numerous than band candidates (586k vs 459k) because the synthetic
    vocabulary is tiny and uniformly frequent; on a natural long-tail
    vocabulary prefix filtering prunes well, but the scale-robust path
    in this engine is MinHash-LSH (candidates bounded by similarity
    structure, not block size)."""
    docs = _ngram_docs(documents, band_chars)
    gate = pair_budget(
        "ngram_jaccard_pairs", "max_block_pairs", max_block_pairs,
        lambda: _block_pair_mass_cached(
            docs if estimate_on is None
            else _ngram_docs(estimate_on, band_chars), adjacent_bands),
        "estimated within-block pair mass; the exact all-pairs-within-"
        "block plan is quadratic at this scale. minhash_lsh_pairs "
        "bounds candidates by similarity structure (LSH-approximate, "
        "shingle Jaccard; on_budget_exceeded='route' routes there), or "
        "raise max_block_pairs and shard stragglers with block_splits "
        "if the quadratic cost is intended",
        on_budget_exceeded)
    if gate.route:
        return minhash_lsh_pairs(documents, threshold=threshold)
    # single-file inputs arrive as one partition; the (broadcast) self-
    # join would then run on one core — spread the probe side first
    # (conditional: a many-split scan keeps its natural partitioning)
    if block_splits > 1:
        if adjacent_bands:
            raise ValueError(
                "block_splits composes with the default path only")
        s = block_splits
        bucket = F.pmod(F.xxhash64("doc_id"), F.lit(s))
        j_copies = F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
        a = spread(docs.withColumn("i", bucket)
                   .withColumn("j", j_copies)).alias("a")
        b = (docs.withColumn("j", bucket).withColumn("i", j_copies)
             .alias("b"))
        # pair uniqueness as a FILTER, not a join conjunct — same
        # executed plan either way (see _jaccard_filter), kept
        # separate for readability
        pairs = (a.join(b, (F.col("a.lang") == F.col("b.lang"))
                        & (F.col("a.band") == F.col("b.band"))
                        & (F.col("a.i") == F.col("b.i"))
                        & (F.col("a.j") == F.col("b.j")))
                 .filter(F.col("a.doc_id") < F.col("b.doc_id")))
        return _jaccard_filter(pairs, threshold)
    if adjacent_bands:
        blocked = docs.withColumn(
            "block", F.explode(F.array(F.col("band"), F.col("band") + 1)))
        a = spread(blocked).alias("a")
        b = blocked.alias("b")
        # same-band pairs meet on BOTH emitted keys; keeping only the
        # row matched on the lower one makes every pair appear exactly
        # once without a distinct
        once = ((F.col("a.band") != F.col("b.band"))
                | (F.col("a.block") == F.col("a.band")))
        # uniqueness predicates as filters — same executed plan as
        # join conjuncts (see _jaccard_filter)
        pairs = (a.join(b, (F.col("a.lang") == F.col("b.lang"))
                        & (F.col("a.block") == F.col("b.block")))
                 .filter((F.col("a.doc_id") < F.col("b.doc_id")) & once))
    else:
        a, b = spread(docs).alias("a"), docs.alias("b")
        pairs = (a.join(b, (F.col("a.lang") == F.col("b.lang"))
                        & (F.col("a.band") == F.col("b.band")))
                 .filter(F.col("a.doc_id") < F.col("b.doc_id")))
    return _jaccard_filter(pairs, threshold)


def containment_pairs(documents: DataFrame, threshold: float = 0.9,
                      max_candidate_pairs: float | None = 5_000_000,
                      ) -> DataFrame:
    """Token-set CONTAINMENT near-duplicates: pairs where the smaller
    doc's token set is >= ``threshold`` contained in the bigger doc's
    (|A∩B| / |A| with |A| <= |B|). This is the predicate Jaccard
    blocking structurally CANNOT see: a truncated mirror or a
    quote-wrapped copy pairs docs of very different lengths, so the
    (lang, n_chars-band) equi-join never forms the candidate and the
    Jaccard score punishes the length gap even when it does. The
    keep-best dedup policy wants exactly these pairs.

    Algorithm — prefix filtering (Chaudhuri et al., ICDE'06; the
    SSJoin/PPJoin family — public): order each lang's vocabulary by
    (document frequency, token); if c(A,B) >= t then A's
    |A| - ceil(t|A|) + 1 RAREST tokens must intersect B's full set
    (fewer exclusions cannot avoid the overlap), so joining A-prefix
    tokens against B-full tokens is EXACT — zero recall loss — and
    candidate mass rides the document frequency of each doc's rarest
    tokens, not block population. (ngram_jaccard_pairs' scale note
    measured prefix filtering as the WORSE blocking for Jaccard on
    this corpus's flat vocabulary; for containment there is no band
    alternative — prefix filtering is the exact algorithm, and the
    candidate-mass gate below keeps the flat-vocabulary failure mode
    from running quadratic silently.)

    Candidate-mass gate (the pair-family discipline): the exact
    pre-dedup candidate row mass is sum over prefix rows of
    (df(token) - 1) — known BEFORE the join from the same df table
    the ordering needs, no pairs materialized. Past
    ``max_candidate_pairs`` the operator raises naming the remedies
    (raise ``threshold`` — the prefix shrinks linearly in 1-t; split
    the corpus by source/lang; or ``max_candidate_pairs=None`` on a
    cluster that can absorb the mass). No 'route': MinHash estimates
    Jaccard, not containment — there is nothing semantically
    equivalent to route to, and pretending otherwise would silently
    change the predicate.

    Output: (doc_small, doc_big, containment) rounded to 4dp,
    doc_small strictly smaller (ties broken by doc_id).
    """
    # The tokenized doc frame feeds FIVE consumers (df build, prefix
    # ranking, the candidate join's full-token side, and the two
    # verify-join sides) — unpersisted, each re-scanned the parquet
    # and re-ran the tokenize regex + array_distinct (5 scans in the
    # r11 before-plan). One persist for the query (guide §5 reuse;
    # ~tokens-per-doc x 8B per row, spilled to disk past memory)
    # collapses them to one pass.
    docs = documents.select(
        "doc_id", "lang",
        F.array_distinct(tokens(F.lower(F.col("text")))).alias("toks"))
    docs = docs.withColumn("n", F.size("toks"))
    docs = persist_for_query(docs)
    tok = docs.select("doc_id", "lang", "n",
                      F.explode("toks").alias("tok"))
    dfreq = tok.groupBy("lang", "tok").agg(F.count("*").alias("df"))
    ranked = tok.join(dfreq, ["lang", "tok"])
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    pref_len = (F.col("n")
                - F.ceil(F.lit(threshold) * F.col("n")).cast("int") + 1)
    prefix = (ranked.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= pref_len))
    if max_candidate_pairs is not None:
        # the gate's sum and the candidate join share the prefix
        prefix = persist_for_query(prefix)
    pair_budget(
        "containment_pairs", "max_candidate_pairs", max_candidate_pairs,
        lambda: prefix.agg(F.sum(F.col("df") - 1)).first()[0] or 0,
        "exact candidate row mass (sum of df-1 over prefix tokens); the "
        "corpus's rarest-token prefixes are too frequent (flat "
        "vocabulary / hot tokens). Raise threshold (the prefix shrinks "
        "linearly in 1-threshold) or split the corpus by source")
    a, b = prefix.alias("a"), tok.alias("b")
    smaller = ((F.col("a.n") < F.col("b.n"))
               | ((F.col("a.n") == F.col("b.n"))
                  & (F.col("a.doc_id") < F.col("b.doc_id"))))
    cand = (a.join(b, (F.col("a.lang") == F.col("b.lang"))
                   & (F.col("a.tok") == F.col("b.tok")) & smaller)
            .select(F.col("a.doc_id").alias("doc_small"),
                    F.col("b.doc_id").alias("doc_big"))
            .distinct())
    s = docs.select(F.col("doc_id").alias("doc_small"),
                    F.col("toks").alias("s_toks"), F.col("n").alias("s_n"))
    g = docs.select(F.col("doc_id").alias("doc_big"),
                    F.col("toks").alias("g_toks"))
    c = F.round(
        F.size(F.array_intersect("s_toks", "g_toks")).cast("double")
        / F.col("s_n"), 4)
    return (cand.join(s, "doc_small").join(g, "doc_big")
            .withColumn("containment", c)
            .filter(F.col("containment") >= threshold)
            .select("doc_small", "doc_big", "containment"))


def drop_contained_docs(documents: DataFrame, threshold: float = 0.9,
                        max_candidate_pairs: float | None = 5_000_000,
                        ) -> DataFrame:
    """The containment family's consumable product: remove every doc
    whose token set is >= ``threshold`` contained in some LARGER doc's
    (the smaller side adds ~nothing the bigger doesn't already carry —
    the truncated-mirror cleanup `corpus_deduped`'s Jaccard clusters
    cannot perform). A doc appearing as ``doc_small`` in ANY
    qualifying pair is dropped; chains resolve content-safely
    (A ⊆ B ⊆ C drops A and B via their own pairs, keeps C). For
    equal token sets the pair convention makes the LOWER doc_id the
    contained side, so the higher id survives — deterministic, and
    content-identical either way."""
    losers = (containment_pairs(
        documents, threshold=threshold,
        max_candidate_pairs=max_candidate_pairs)
        .select(F.col("doc_small").alias("doc_id")).distinct())
    return documents.join(losers, "doc_id", "left_anti")


def cross_corpus_containment(needles: DataFrame, haystack: DataFrame,
                             threshold: float = 0.9,
                             max_candidate_pairs: float | None = 5_000_000,
                             ) -> DataFrame:
    """Directional containment across TWO corpora: pairs where a
    ``needles`` doc's token set is >= ``threshold`` contained in a
    ``haystack`` doc's — the decontamination question n-gram overlap
    approximates from below ("is this benchmark item quoted inside a
    training document?"), asked exactly at the token-set level. No
    size predicate: the direction is fixed by the sides, not by
    length.

    Same exact prefix filter as ``containment_pairs``, with the global
    token order taken from HAYSTACK document frequency (needle tokens
    absent from the haystack get df 0 and sort FIRST into the prefix —
    maximally selective: they match nothing, and a needle whose whole
    prefix is haystack-absent provably cannot reach the threshold
    against any haystack doc, so it correctly produces zero
    candidates). Candidate mass is the exact sum of haystack df over
    needle prefix tokens, known before any join; past the budget the
    operator raises (``max_candidate_pairs=None`` runs regardless — no
    approximate route exists for containment).

    Output: (needle_id, doc_id, containment) rounded to 4dp."""

    def _prep(frame):
        # same one-pass tokenize discipline as ``containment_pairs``:
        # each side feeds 2-3 consumers (df/ranking + verify join)
        d = frame.select(
            "doc_id", "lang",
            F.array_distinct(tokens(F.lower(F.col("text")))).alias("toks"))
        d = d.withColumn("n", F.size("toks"))
        return persist_for_query(d)

    nd = _prep(needles)
    hs = _prep(haystack)
    h_tok = hs.select("doc_id", "lang", F.explode("toks").alias("tok"))
    dfreq = h_tok.groupBy("lang", "tok").agg(F.count("*").alias("df"))
    n_tok = nd.select("doc_id", "lang", "n", F.explode("toks").alias("tok"))
    ranked = (n_tok.join(dfreq, ["lang", "tok"], "left")
              .withColumn("df", F.coalesce("df", F.lit(0))))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    pref_len = (F.col("n")
                - F.ceil(F.lit(threshold) * F.col("n")).cast("int") + 1)
    prefix = (ranked.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= pref_len))
    if max_candidate_pairs is not None:
        prefix = persist_for_query(prefix)
    pair_budget(
        "cross_corpus_containment", "max_candidate_pairs",
        max_candidate_pairs,
        lambda: prefix.agg(F.sum("df")).first()[0] or 0,
        "exact candidate row mass (sum of haystack df over needle prefix "
        "tokens). Raise threshold or split the haystack by source")
    a, b = prefix.alias("a"), h_tok.alias("b")
    cand = (a.join(b, (F.col("a.lang") == F.col("b.lang"))
                   & (F.col("a.tok") == F.col("b.tok")))
            .select(F.col("a.doc_id").alias("needle_id"),
                    F.col("b.doc_id").alias("doc_id"))
            .distinct())
    s = nd.select(F.col("doc_id").alias("needle_id"),
                  F.col("toks").alias("s_toks"), F.col("n").alias("s_n"))
    g = hs.select("doc_id", F.col("toks").alias("g_toks"))
    c = F.round(
        F.size(F.array_intersect("s_toks", "g_toks")).cast("double")
        / F.col("s_n"), 4)
    return (cand.join(s, "needle_id").join(g, "doc_id")
            .withColumn("containment", c)
            .filter(F.col("containment") >= threshold)
            .select("needle_id", "doc_id", "containment"))


def cross_corpus_overlap(corpus_a: DataFrame, corpus_b: DataFrame,
                         threshold: float = 0.5,
                         band_chars: int = 100) -> DataFrame:
    """Between-corpora near-dup report: every pair has one side in A
    and one in B (neither corpus is paired against itself) — the
    "how much of dataset B duplicates dataset A" question asked before
    mixing two sources into one training corpus. Same (lang, band)
    equi-join blocking; output (doc_a, doc_b, jaccard) with doc_a from
    A and doc_b from B."""
    a = spread(_ngram_docs(corpus_a, band_chars)).alias("a")
    b = _ngram_docs(corpus_b, band_chars).alias("b")
    pairs = a.join(b, (F.col("a.lang") == F.col("b.lang"))
                   & (F.col("a.band") == F.col("b.band")))
    mx = F.greatest("a.n_toks", "b.n_toks").cast("double")
    ratio_ok = F.when(
        mx > 0,
        F.least("a.n_toks", "b.n_toks").cast("double") / mx >= threshold
    ).otherwise(F.lit(False))
    sim = token_jaccard(F.col("a.toks"), F.col("b.toks"))
    return (pairs.filter(ratio_ok)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.round(sim, 4).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def incremental_block_pair_mass(new_docs: DataFrame,
                                corpus_docs: DataFrame,
                                band_chars: int = 100) -> float:
    """Estimated candidate-pair mass of the EXACT incremental path
    (``ngram_jaccard_pairs_incremental``): per (lang, band) block,
    c_new*(c_new-1)/2 + c_new*c_corpus, summed — two cheap histogram
    aggregates (lang + n_chars only, the tokenize projection pruned),
    no join over documents. The ingest gate's estimate: this is the
    mass the sf10 streaming probe measured going 84x on 10x data."""
    def hist(docs):
        return (_ngram_docs(docs, band_chars)
                .groupBy("lang", "band")
                .agg(F.count(F.lit(1)).cast("double").alias("c")))

    hn = hist(new_docs).withColumnRenamed("c", "cn")
    hc = hist(corpus_docs).withColumnRenamed("c", "cc")
    mass = (hn.join(hc, ["lang", "band"], "left_outer")
            .select((F.col("cn") * (F.col("cn") - 1) / 2
                     + F.col("cn") * F.coalesce(F.col("cc"), F.lit(0.0)))
                    .alias("m"))
            .agg(F.sum("m").alias("m")).collect()[0]["m"])
    return float(mass or 0.0)


def incremental_block_pair_mass_cached(new_docs: DataFrame,
                                       corpus_docs: DataFrame,
                                       band_chars: int = 100) -> float:
    """``incremental_block_pair_mass`` through the session-plan-keyed
    estimate cache (the same policy as ``_block_pair_mass_cached`` —
    round-9 advice): a caller invoking the ingest gate repeatedly over
    the same two frames pays the two histogram jobs once per session,
    not per call. Keyed on BOTH inputs' analyzed-plan semantic
    hashes."""
    return _session_plan_cached(
        (new_docs, corpus_docs), ("incr_block", band_chars),
        lambda: incremental_block_pair_mass(new_docs, corpus_docs,
                                            band_chars))


def ngram_jaccard_pairs_incremental(new_docs: DataFrame,
                                    corpus_docs: DataFrame,
                                    threshold: float = 0.5,
                                    band_chars: int = 100) -> DataFrame:
    """Near-dup pairs for an INCREMENTAL ingest: every pair has at
    least one side in ``new_docs``; corpus x corpus pairs are never
    generated (they were found when those docs were ingested). This is
    the reference's weekly already-seen anti-join discipline
    (weekly_scheduler.py:586-609) generalized from exact keys to
    near-duplicate similarity — the operator a daily 100 TB ingest
    actually runs: cost is |new| x avg-block-overlap, independent of
    |corpus|^2, and the corpus side needs only its blocking projection
    (at scale: served from a parquet table partitioned by (lang,
    band), so the equi-join prunes partitions).

    Invariant (property-tested): pairs(new ∪ corpus) =
    this(new, corpus) ∪ pairs(corpus). Inputs must be disjoint by
    doc_id (ingest contract). Output matches ngram_jaccard_pairs:
    (doc_a < doc_b, jaccard >= threshold).
    """
    nd = _ngram_docs(new_docs, band_chars)
    cd = _ngram_docs(corpus_docs, band_chars)
    a = spread(nd).alias("a")
    b = (nd.withColumn("_new", F.lit(True))
         .unionByName(cd.withColumn("_new", F.lit(False)))
         .alias("b"))
    # new x new pairs once via id ordering; new x corpus pairs once by
    # construction (corpus rows never appear on the probe side); the
    # uniqueness predicate as a filter is plan-identical to a join
    # conjunct (see _jaccard_filter)
    pairs = (a.join(b, (F.col("a.lang") == F.col("b.lang"))
                    & (F.col("a.band") == F.col("b.band")))
             .filter(~F.col("b._new")
                     | (F.col("a.doc_id") < F.col("b.doc_id"))))
    return _jaccard_filter(pairs, threshold)


# -------------------------------------------------------------- MinHash + LSH


def _minhash_signature(base_col: Column, num_hashes: int) -> Column:
    """num_hashes-wide MinHash signature over precomputed base hashes:
    sig[i] = min over shingles of (A_i*b + B_i) mod HASH_PRIME — an
    affine universal family over the 30-bit md5 base, so the whole
    signature costs ONE md5 per shingle and is reproducible in the
    DuckDB oracle (the seeds are baked literals)."""
    def affine(a: int, b_: int):
        # closure factory, NOT default args: pyspark maps every declared
        # lambda parameter (defaults included) to a lambda variable
        return lambda x: (F.lit(a) * x + F.lit(b_)) % HASH_PRIME

    return F.array(*[
        F.array_min(F.transform(base_col,
                                affine(MINHASH_A[i], MINHASH_B[i])))
        for i in range(num_hashes)])


# num_hashes -> Arrow-batched signature UDF (constructed once per
# width and session; a per-call construction would re-pickle the
# closure into every plan built)
_minhash_sig_udf_memo = session_memo(16)


def _minhash_sig_udf(num_hashes: int):
    """Arrow-batched numpy twin of ``_minhash_signature`` over the
    precomputed base hashes (guide §4.2 — the r10 SRP recipe ported):
    the expression path evaluates ``num_hashes`` interpreted
    ``array_min(transform(...))`` HOF passes per doc (CodegenFallback,
    boxed per-shingle ops); the kernel computes the identical affine
    family in ONE (n_shingles x num_hashes) int64 matrix op per doc.

    Bit-identity (pinned by ``test_minhash_kernel_matches_expression``):
    A_i < HASH_PRIME < 2^30 and base hashes < HASH_PRIME, so
    A_i*b + B_i < 2^60 + 2^30 — exact in int64 in both engines, and
    numpy's % on non-negative int64 equals the JVM's. An empty/NULL
    shingle array yields [NULL] * num_hashes exactly as
    ``array_min(transform(NULL|[]))`` does."""
    import pandas as pd
    import numpy as np

    def build():
        A = np.asarray(MINHASH_A[:num_hashes], dtype=np.int64)
        B = np.asarray(MINHASH_B[:num_hashes], dtype=np.int64)
        nulls = [None] * num_hashes

        @F.pandas_udf("array<long>")
        def sig_from_base(bhs: pd.Series) -> pd.Series:
            out = []
            for bh in bhs:
                if bh is None or len(bh) == 0:
                    out.append(nulls)
                    continue
                b = np.asarray(bh, dtype=np.int64)
                out.append(((b[:, None] * A + B) % HASH_PRIME)
                           .min(axis=0).tolist())
            return pd.Series(out)

        return sig_from_base

    return _minhash_sig_udf_memo(num_hashes, build)


def minhash_signatures(documents: DataFrame, num_hashes: int = 32,
                       shingle_n: int = 3) -> DataFrame:
    # signature computation is the expensive projection — spread the
    # (possibly single-file) input before it, not after; the base-hash
    # array is projected as its own column so md5 runs once per shingle
    # (not once per hash-family member). The affine-min fold itself is
    # the Arrow kernel (r11): only the narrow base-hash array crosses
    # the Python boundary; shingling and md5 stay JVM/oracle-side.
    documents = documents.repartition(
        documents.sparkSession.sparkContext.defaultParallelism)
    return (documents
            .select("doc_id", shingles(F.col("text"), shingle_n).alias("sh"))
            .select("doc_id", "sh",
                    F.transform(F.col("sh"),
                                lambda s: md5_long(s) % HASH_PRIME)
                    .alias("_bh"))
            .select("doc_id", "sh",
                    _minhash_sig_udf(num_hashes)(F.col("_bh")).alias("sig")))


def _minhash_band_keys(bands: int, rows_per_band: int):
    """The banding projection over a ``sig`` column, shared by the
    full and incremental LSH pair operators (same bands -> same
    candidates, which is what makes the incremental decomposition
    EXACT against the full operator's candidate set)."""
    return F.array(*[
        F.concat_ws(",", *[F.col("sig").getItem(b * rows_per_band + r)
                           .cast("string") for r in range(rows_per_band)])
        for b in range(bands)])


def minhash_lsh_pairs_incremental(new_docs: DataFrame,
                                  corpus_docs: DataFrame,
                                  threshold: float = 0.5,
                                  num_hashes: int = 32, bands: int = 8,
                                  shingle_n: int = 3) -> DataFrame:
    """MinHash-LSH near-dup pairs for an INCREMENTAL ingest — the
    SCALE route of ``ngram_jaccard_pairs_incremental`` (same contract:
    every pair has at least one side in ``new_docs``, corpus x corpus
    pairs never generated, inputs disjoint by doc_id), with candidates
    bounded by similarity structure instead of (lang, band) block
    population. The sf10 streaming probe measured the exact
    incremental formulation at 84x on 10x data (dense blocks make
    |new| x block-overlap quadratic on this fixture); the banding
    equi-join rides signature agreement, the regime that stayed linear
    through the sf100 batch probe (SCALE.md).

    Decomposition invariant (tested): under the same banding,
    pairs_lsh(new ∪ corpus) = this(new, corpus) ∪ pairs_lsh(corpus) —
    the incremental candidates are EXACTLY the full candidates with
    >= 1 new endpoint, because band-key equality decides candidacy on
    both paths. Similarity is shingle Jaccard verified exactly on
    candidates (``minhash_lsh_pairs``'s semantics — routing an ingest
    here from the word-set-Jaccard exact path changes which pairs are
    found, the documented opt-in trade).

    At 100 TB the corpus side would serve its signatures from a LANDED
    (signature, band) table maintained by the ingest itself; here both
    sides compute signatures in one linear scan each — the linear term
    the probe measured, never the quadratic one.
    """
    from pyspark.storagelevel import StorageLevel

    rows_per_band = num_hashes // bands
    sn = persist_for_query(
        minhash_signatures(new_docs, num_hashes, shingle_n),
        StorageLevel.DISK_ONLY)
    sc_ = persist_for_query(
        minhash_signatures(corpus_docs, num_hashes, shingle_n),
        StorageLevel.DISK_ONLY)
    band_keys = _minhash_band_keys(bands, rows_per_band)
    bn = sn.select(
        "doc_id", F.posexplode(band_keys).alias("band_id", "band_hash"))
    bc = sc_.select(
        "doc_id", F.posexplode(band_keys).alias("band_id", "band_hash"))
    probe = spread(bn).alias("a")
    build = (bn.withColumn("_new", F.lit(True))
             .unionByName(bc.withColumn("_new", F.lit(False)))
             .alias("b"))
    # new x new once via id ordering; new x corpus once by construction
    cands = (probe.join(build,
                        (F.col("a.band_id") == F.col("b.band_id"))
                        & (F.col("a.band_hash") == F.col("b.band_hash"))
                        & (~F.col("b._new")
                           | (F.col("a.doc_id") < F.col("b.doc_id"))))
             .select(F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                     F.greatest("a.doc_id", "b.doc_id").alias("doc_b"))
             .dropDuplicates(["doc_a", "doc_b"]))
    sh = (sn.select("doc_id", "sh")
          .unionByName(sc_.select("doc_id", "sh")))
    cands = (cands
             .join(sh.select(F.col("doc_id").alias("doc_a"),
                             F.col("sh").alias("sh_a")), "doc_a")
             .join(sh.select(F.col("doc_id").alias("doc_b"),
                             F.col("sh").alias("sh_b")), "doc_b"))
    sim = token_jaccard(F.array_distinct(F.col("sh_a")),
                        F.array_distinct(F.col("sh_b")))
    return (cands.select("doc_a", "doc_b", F.round(sim, 4).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def minhash_lsh_pairs(documents: DataFrame, threshold: float = 0.5,
                      num_hashes: int = 32, bands: int = 8,
                      shingle_n: int = 3,
                      max_candidate_pairs: float | None = 200_000_000,
                      ) -> DataFrame:
    """MinHash-LSH near-dup pairs: shingle -> signature -> band buckets
    -> candidate pairs within a bucket -> verify true shingle Jaccard.

    bands=8 x rows=4 over 32 hashes targets ~0.5 Jaccard: P(candidate)
    = 1-(1-s^4)^8. The band join is an equi-join on (band_id, band
    hash) — no cross product at any scale. Verification recomputes
    exact Jaccard on the candidate pairs only.

    Candidate-mass gate (round-10, closing the family's last ungated
    member — ``ngram_jaccard_pairs`` and ``simhash_pairs`` already had
    it, and the adversarial-skew probe showed a corpus with a hot
    near-identical slice drives a band bucket quadratic silently):
    before the self-join, one map-side-combining histogram over the
    persisted band keys estimates the candidate-row mass (sum over
    (band_id, band_hash) buckets of c*(c-1)/2 — the join's exact
    pre-dedup intermediate). Past ``max_candidate_pairs`` the operator
    raises naming the remedies — a hot bucket means dense TRUE
    near-dup mass (collapse exact duplicates first: an exact-dup
    cluster of k docs costs C(k,2) candidates in EVERY band) or
    too-coarse banding (raise rows-per-band = num_hashes/bands for
    stricter bucket agreement). ``max_candidate_pairs=None`` runs
    regardless. The gate's histogram and the join share the persisted
    signature work."""
    rows_per_band = num_hashes // bands
    # materialize signatures once: the self-join below would otherwise
    # recompute the (expensive) signature projection on both sides.
    # persist(DISK_ONLY) rather than localCheckpoint: lineage is kept,
    # so the stage is replayable after executor loss — the property
    # localCheckpoint gives up (at real cluster scale this would be a
    # persisted parquet stage).
    from pyspark.storagelevel import StorageLevel

    # the signatures live for the query: the next query releases them
    # (repeated invocations never accumulate DISK_ONLY blocks), and
    # after a session restart they are dropped without a call into the
    # stopped SparkContext.
    sigs = persist_for_query(
        minhash_signatures(documents, num_hashes, shingle_n),
        StorageLevel.DISK_ONLY)
    band_keys = _minhash_band_keys(bands, rows_per_band)
    # the band self-join moves ONLY (doc_id, band_id, band_hash) — the
    # shingle arrays would otherwise ride every exploded band row
    # through the shuffle; candidates are few, so fetching the arrays
    # back with two joins against the persisted signatures is cheaper
    banded = sigs.select(
        "doc_id", F.posexplode(band_keys).alias("band_id", "band_hash"))
    pair_budget(
        "minhash_lsh_pairs", "max_candidate_pairs", max_candidate_pairs,
        lambda: _keyed_candidate_mass_cached(
            banded, ["band_id", "band_hash"],
            ("minhash", num_hashes, bands, shingle_n)),
        "estimated candidate-row mass; a band bucket is hot. Either the "
        "corpus has dense TRUE near-dup clusters (collapse exact "
        "duplicates first — drop_exact_duplicates; an exact-dup "
        "cluster of k docs costs C(k,2) candidates in every band) or "
        "the banding is too coarse for this corpus (raise rows-per-band "
        "= num_hashes/bands)")
    a, b = spread(banded).alias("a"), banded.alias("b")
    cands = (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                    & (F.col("a.band_hash") == F.col("b.band_hash"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .dropDuplicates(["doc_a", "doc_b"]))
    sh = sigs.select("doc_id", "sh")
    cands = (cands
             .join(sh.select(F.col("doc_id").alias("doc_a"),
                             F.col("sh").alias("sh_a")), "doc_a")
             .join(sh.select(F.col("doc_id").alias("doc_b"),
                             F.col("sh").alias("sh_b")), "doc_b"))
    sim = token_jaccard(F.array_distinct(F.col("sh_a")),
                        F.array_distinct(F.col("sh_b")))
    return (cands.select("doc_a", "doc_b", F.round(sim, 4).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


# -------------------------------------------------------------------- SimHash
SIMHASH_BITS = 60  # md5_long yields 60 bits (engine-portable hash)


def simhash_votes(text: Column) -> Column:
    """Per-bit signed vote array for the 60-bit SimHash: ONE pass over
    the token array (aggregate with an array<int> accumulator via
    zip_with), not one aggregate per bit — the round-1 version unrolled
    64 full passes over the token hashes; this is the single-pass
    rewrite. Tokens hash through md5_long so the DuckDB oracle can
    reproduce the exact hash."""
    toks = F.array_distinct(tokens(F.lower(text)))
    hashes = F.transform(toks, lambda t: md5_long(t))
    bit_arrays = F.transform(
        hashes,
        lambda h: F.array(*[
            F.shiftright(h, k).bitwiseAND(F.lit(1)).cast("int")
            for k in range(SIMHASH_BITS)]))
    return F.aggregate(
        bit_arrays,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, bits: F.zip_with(acc, bits,
                                     lambda x, y: x + 2 * y - 1))


def votes_to_simhash(votes: Column) -> Column:
    """Fold the vote array into the 60-bit hash (bit k set when the
    vote is positive). Callers should project the votes as a bound
    column first so the aggregate runs once, not 60 times."""
    out = F.lit(0).cast("long")
    for k in range(SIMHASH_BITS):
        out = out.bitwiseOR(
            F.when(votes.getItem(k) > 0,
                   F.lit(1 << k).cast("long"))
             .otherwise(F.lit(0).cast("long")))
    return out


def simhash64(text: Column) -> Column:
    """Single-expression SimHash (convenience; simhash_pairs projects
    the votes separately to evaluate them once)."""
    return votes_to_simhash(simhash_votes(text))


def _simhash_token_hashes(text: Column) -> Column:
    """Per-doc md5-60 hashes of the distinct lowered tokens — the
    JVM-side half of the kernelized SimHash: the hash stays the exact
    oracle-checkable ``md5_long`` expression, one interpreted
    ``transform`` pass per doc."""
    toks = F.array_distinct(tokens(F.lower(text)))
    return F.transform(toks, lambda t: md5_long(t))


def _make_simhash_udf():
    """Arrow-batched numpy twin of ``votes_to_simhash(simhash_votes())``
    over precomputed token hashes (guide §4.2 — the r10 SRP recipe
    ported): the expression path folds an ``aggregate(zip_with(...))``
    over per-token 60-wide bit arrays — interpreted CodegenFallback,
    ~60 boxed ops + one array allocation per TOKEN — where the kernel
    unpacks the same bits with two integer matrix ops per doc.

    Bit-identity (pinned by ``test_simhash_kernel_matches_expression``):
    all arithmetic is exact int64 — votes[k] = 2*ones_k - n, bit k set
    iff votes[k] > 0 iff 2*ones_k > n; an empty/NULL token array folds
    to all-zero votes, hence hash 0, exactly as the expression's
    when/otherwise chain does."""
    import pandas as pd
    import numpy as np

    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)

    @F.pandas_udf("long")
    def simhash_from_hashes(hs: pd.Series) -> pd.Series:
        out = np.zeros(len(hs), dtype=np.int64)
        for i, h in enumerate(hs):
            if h is None or len(h) == 0:
                continue
            hh = np.asarray(h, dtype=np.int64)
            ones = ((hh[:, None] >> shifts) & 1).sum(axis=0)
            bits = (2 * ones) > len(hh)
            out[i] = int((bits.astype(np.int64) << shifts).sum())
        return pd.Series(out)

    return simhash_from_hashes


# one SimHash kernel per session: a UDF kept past a session restart
# reports its accumulator updates to the dead context
_simhash_udf_memo = session_memo(1)


def simhash64_fast(text: Column) -> Column:
    """Kernelized SimHash column: JVM md5-60 token hashing (one
    ``transform`` pass, oracle-identical hash) + the numpy bit-fold
    UDF. Result-identical to ``simhash64`` (tested)."""
    udf = _simhash_udf_memo(None, _make_simhash_udf)
    return udf(_simhash_token_hashes(text))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(documents: DataFrame, max_hamming: int = 3,
                  n_blocks: int = 6, key_blocks: int = 3,
                  max_candidate_pairs: float | None = 200_000_000,
                  ) -> DataFrame:
    """SimHash near-dup pairs with MULTI-BLOCK banding (Manku et al.
    WWW'07, "Detecting Near-Duplicates for Web Crawling" §3 — the
    production simhash dedup design): split the 60-bit hash into
    ``n_blocks`` equal blocks and key candidates on every
    ``key_blocks``-subset of blocks. A pair within Hamming distance
    <= ``max_hamming`` has dirty bits in at most ``max_hamming``
    blocks, leaving >= ``n_blocks - max_hamming`` clean — so as long
    as ``key_blocks <= n_blocks - max_hamming`` (validated), at least
    one all-clean subset exists and the pair meets in that subset's
    equi-join (generalized pigeonhole). Every candidate is verified by
    exact Hamming distance, so the emitted pair set is IDENTICAL for
    any valid banding — banding chooses cost, not results.

    Scale rationale (measured, SCALE.md r7): the old 4 x 15-bit
    single-chunk keys left a 32k key space, so random chunk
    collisions grew ~n^2/2^15 — 22.2x on 10x data at the sf10 probe.
    The default 6-blocks/3-of-6 keys emit C(6,3) = 20 rows/doc
    (5x the linear work) against a 2^30 key space (~2^15x fewer
    random collisions) — the same linear-for-quadratic trade as the
    SRP 128-bit redesign. At petabyte corpora raise ``n_blocks``
    further (Manku's tables) — the guarantee only needs
    n_blocks - key_blocks >= max_hamming.

    Candidate-mass gate (same discipline as ``ngram_jaccard_pairs``,
    added after the r8 sf100 probe FILLED 77 GB of shuffle on a corpus
    with dense true-dup clusters): before building the self-join, one
    map-side-combining histogram over the banding keys estimates the
    candidate-row mass (sum over keys of c*(c-1)/2 — an upper WORK
    bound: pairs meeting in several subsets count once per subset,
    exactly like the join's pre-dedup intermediate). Past
    ``max_candidate_pairs`` the operator raises naming the remedies —
    a dense key means either dense TRUE near-dup mass (collapse exact
    duplicates first: any exact-dup cluster of k docs contributes
    C(k,2) candidates in EVERY subset) or a too-small key space
    (raise ``n_blocks`` per Manku's tables). ``max_candidate_pairs=None``
    runs regardless. The banding keys are computed once (persisted for
    the query) — the gate's histogram and the join share the signature
    work."""
    from itertools import combinations

    if n_blocks - key_blocks < max_hamming:
        raise ValueError(
            f"simhash_pairs: need n_blocks - key_blocks >= max_hamming "
            f"for the pigeonhole guarantee (got {n_blocks} - "
            f"{key_blocks} < {max_hamming})")
    if SIMHASH_BITS % n_blocks:
        raise ValueError(
            f"simhash_pairs: {SIMHASH_BITS}-bit hash not divisible "
            f"into {n_blocks} blocks")
    width = SIMHASH_BITS // n_blocks
    mask = (1 << width) - 1
    # r11 (guide §4.2, the SRP recipe): the 60-bit fingerprint fold is
    # an Arrow-batched numpy kernel over JVM-side md5-60 token hashes —
    # the old per-doc aggregate(zip_with(...)) vote fold was interpreted
    # CodegenFallback costing ~60 boxed ops per TOKEN. Bit-identity
    # pinned by test_simhash_kernel_matches_expression.
    sh = (spread(documents)
          .select("doc_id", simhash64_fast(F.col("text")).alias("sh")))
    blocks = [F.shiftright(F.col("sh"), c * width)
              .bitwiseAND(F.lit(mask)) for c in range(n_blocks)]
    keys = []
    for combo in combinations(range(n_blocks), key_blocks):
        key = F.lit(0).cast("long")
        for pos, c in enumerate(combo):
            key = key.bitwiseOR(
                F.shiftleft(blocks[c].cast("long"), pos * width))
        keys.append(key)
    chunked = sh.select(
        "doc_id", "sh",
        F.posexplode(F.array(*keys)).alias("chunk_id", "chunk_val"))
    chunked = persist_for_query(chunked)
    pair_budget(
        "simhash_pairs", "max_candidate_pairs", max_candidate_pairs,
        lambda: _keyed_candidate_mass_cached(
            chunked, ["chunk_id", "chunk_val"], "simhash"),
        "estimated candidate-row mass; the banding keys are dense. "
        "Either the corpus has dense TRUE near-dup clusters (collapse "
        "exact duplicates first — an exact-dup cluster of k docs costs "
        "C(k,2) candidates in every subset), or the key space is too "
        "small for this corpus (raise n_blocks per Manku WWW'07)")
    a, b = spread(chunked).alias("a"), chunked.alias("b")
    cands = (a.join(b, (F.col("a.chunk_id") == F.col("b.chunk_id"))
                    & (F.col("a.chunk_val") == F.col("b.chunk_val"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
             .dropDuplicates(["doc_a", "doc_b"]))
    return (cands.select("doc_a", "doc_b",
                         hamming64(F.col("sh_a"), F.col("sh_b"))
                         .cast("int").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def dedup_family_agreement(documents: DataFrame,
                           minhash: DataFrame | None = None,
                           simhash: DataFrame | None = None,
                           winnowing: DataFrame | None = None,
                           ) -> DataFrame:
    """Cross-family near-dup AGREEMENT AUDIT — the corpus-QA report
    for choosing a dedup family: run the three text near-dup families
    at their default regimes over the same corpus (MinHash-LSH at 0.5
    shingle Jaccard; SimHash at Hamming <= 3; winnowing at 0.5
    fingerprint overlap) and report, for each family pair, how far
    their emitted pair sets agree. Families measure DIFFERENT
    similarity notions (set, bit, local-substring), so disagreement
    is signal, not error: a corpus where simhash finds pairs the
    others miss is template-heavy; one where winnowing dominates is
    copy-paste-heavy — that diagnosis picks the family (and the
    threshold) for the real 100 TB run on a sample.

    Distributed shape: the three pair generators keep their own
    banded/blocked plans; their (doc_a, doc_b) outputs (pair-mass-
    sized, orders below the corpus at sane thresholds) union into ONE
    groupBy(pair) presence-flag frame and ONE global aggregate — no
    new quadratic stage anywhere.

    Output, 3 rows: (family_a, family_b, n_a, n_b, n_both,
    agreement = n_both / min(n_a, n_b) rounded 4dp, NULL when a side
    is empty) — the overlap coefficient of the pair SETS, families
    lexically ordered. Reference has no analog (beyond-reference
    corpus-QA operator).

    ``minhash`` / ``simhash`` / ``winnowing`` accept PRE-COMPUTED pair
    frames (any frame with doc_a, doc_b columns — the landed/persisted
    pair tables a real dedup audit already has on disk); only absent
    families recompute from the corpus. With all three supplied the
    audit is a cheap flag-join over existing pairs — the cost profile
    a 100 TB audit needs, since recomputing all three families just to
    compare them is the audit's only expensive regime (measured: the
    sf10 probe's 201 s was exactly the sum of the three families).

    A recomputing family keeps its default candidate-mass gate, so on
    a dense-key corpus the audit refuses with that family's remedy
    message. To accept the family's quadratic cost, pass its pairs
    computed without the gate (``simhash=simhash_pairs(documents,
    max_candidate_pairs=None)``), or land the pair frames once and
    pass them in (the scale path).
    """
    mh = (minhash_lsh_pairs(documents) if minhash is None
          else minhash).select(
        "doc_a", "doc_b", F.lit("minhash").alias("_fam"))
    sh = (simhash_pairs(documents) if simhash is None
          else simhash).select(
        "doc_a", "doc_b", F.lit("simhash").alias("_fam"))
    wn = (winnow_pairs(documents) if winnowing is None
          else winnowing).select(
        "doc_a", "doc_b", F.lit("winnowing").alias("_fam"))
    flags = (mh.unionByName(sh).unionByName(wn)
             .groupBy("doc_a", "doc_b")
             .agg(*[F.max((F.col("_fam") == f).cast("long")).alias(c)
                    for f, c in [("minhash", "_mh"), ("simhash", "_sh"),
                                 ("winnowing", "_wn")]]))
    one = flags.agg(
        F.sum("_mh").alias("n_mh"), F.sum("_sh").alias("n_sh"),
        F.sum("_wn").alias("n_wn"),
        F.sum(F.col("_mh") * F.col("_sh")).alias("b_mh_sh"),
        F.sum(F.col("_mh") * F.col("_wn")).alias("b_mh_wn"),
        F.sum(F.col("_sh") * F.col("_wn")).alias("b_sh_wn"))
    out = one.selectExpr(
        "stack(3, "
        "'minhash', 'simhash', n_mh, n_sh, b_mh_sh, "
        "'minhash', 'winnowing', n_mh, n_wn, b_mh_wn, "
        "'simhash', 'winnowing', n_sh, n_wn, b_sh_wn) "
        "AS (family_a, family_b, n_a, n_b, n_both)")
    least = F.least("n_a", "n_b").cast("double")
    return out.select(
        "family_a", "family_b", "n_a", "n_b", "n_both",
        F.when(least > 0,
               F.round(F.col("n_both").cast("double") / least, 4))
        .alias("agreement"))


# ------------------------------------------------------ embedding near-dup
def embedding_neardup_pairs(embeddings: DataFrame,
                            threshold: float = 0.95,
                            block_splits: int = 1) -> DataFrame:
    """Embedding-cosine near-duplicates within IVF-style buckets (the
    ``label`` column is the precomputed coarse quantizer assignment):
    pairs are generated only inside a bucket — the blocked join pattern
    again, this time in vector space.

    ``block_splits`` is the same straggler lever as the n-gram path:
    the label space is small (a coarse quantizer has maybe hundreds of
    cells), so the hottest cell's pair work is one task at cluster
    scale; S > 1 shards each cell into S^2 sub-joins with every pair
    met exactly once (identical results, tested)."""
    e = embeddings.select("vec_id", "label", "embedding")
    if block_splits > 1:
        s = block_splits
        bucket = F.pmod(F.xxhash64("vec_id"), F.lit(s))
        copies = F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
        a = spread(e.withColumn("i", bucket)
                   .withColumn("j", copies)).alias("a")
        b = (e.withColumn("j", bucket).withColumn("i", copies).alias("b"))
        pairs = a.join(b, (F.col("a.label") == F.col("b.label"))
                       & (F.col("a.i") == F.col("b.i"))
                       & (F.col("a.j") == F.col("b.j"))
                       & (F.col("a.vec_id") < F.col("b.vec_id")))
    else:
        a, b = spread(e).alias("a"), e.alias("b")
        pairs = a.join(b, (F.col("a.label") == F.col("b.label"))
                       & (F.col("a.vec_id") < F.col("b.vec_id")))
    sim = cosine_similarity(F.col("a.embedding").cast("array<double>"),
                            F.col("b.embedding").cast("array<double>"))
    return (pairs.select(F.col("a.vec_id").alias("vec_a"),
                         F.col("b.vec_id").alias("vec_b"),
                         F.round(sim, 4).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


SRP_BITS = 128
SRP_BAND_BITS = 16  # 8 bands x 16 bits
# narrow-attach vs streamed-verify plan switch: the largest candidate
# mass whose pair x vector sort (~0.5 KB/row, ~13 GB here) is still
# the cheaper plan — past it the verify streams inside the banding
# join (see embedding_srp_pairs)
_SRP_NARROW_ATTACH_MAX = 25_000_000


def srp_signs(dim: int, nbits: int = SRP_BITS) -> list[list[float]]:
    """Deterministic Rademacher hyperplanes for sign-random-projection:
    sign(i, d) = +1/-1 from bit 0 of md5("srp:i:d") — reproducible in
    Python (plan literals) and in the DuckDB oracle (the same md5
    arithmetic), like the MinHash seed family."""
    from ..functions.text import _hash_const

    return [[1.0 if _hash_const(f"srp:{i}:{d}") % 2 else -1.0
             for d in range(dim)] for i in range(nbits)]


def srp_band_keys(vec: Column, dim: int, nbits: int = SRP_BITS,
                  band_bits: int = SRP_BAND_BITS) -> Column:
    """Sign-random-projection band keys (Charikar 2002, STOC — the
    cosine-LSH rounding scheme; public paper): bit i is
    sign(<v, r_i>) for a fixed Rademacher hyperplane r_i, folded
    directly into ``nbits/band_bits`` integer band keys of
    ``band_bits`` bits each. P(bits agree) = 1 - angle/pi. Each dot
    is rounded to 6dp before the sign test so the DuckDB oracle's
    summation agrees at the boundary.

    Band LENGTH is the scale knob: a random (near-orthogonal) pair
    collides on a ``band_bits``-bit band w.p. ~2^-band_bits, so
    16-bit bands hold the corpus-wide false-candidate mass to
    ~bands * n^2 / 65536 — the first cut of this operator used 4-bit
    bands and spent 85% of its sf1 runtime verifying the ~23% of ALL
    pairs that collided by chance (46.5 s -> see SCALE.md). Long
    signature, long bands: linear signature work buys down quadratic
    candidate work.
    """
    signs = srp_signs(dim, nbits)
    bands = []
    for c in range(nbits // band_bits):
        val = F.lit(0)
        for j in range(band_bits):
            sv = F.array(*[F.lit(s) for s in signs[c * band_bits + j]])
            dot = F.aggregate(
                F.zip_with(vec, sv, lambda a, b: a * b),
                F.lit(0.0), lambda acc, x: acc + x)
            val = val + F.when(F.round(dot, 6) >= 0,
                               F.lit(1 << j)).otherwise(F.lit(0))
        bands.append(val)
    return F.array(*bands)


def _srp_signatures(e: DataFrame, dim: int, nbits: int,
                    band_bits: int) -> DataFrame:
    """(vec_id, _emb, _bands) with ``_bands`` computed by an
    Arrow-batched numpy kernel — bit-identical to
    ``srp_band_keys`` (guide §4.2: the per-bit
    ``aggregate(zip_with(...))`` expression tree is interpreted
    CodegenFallback, ~nbits x dim boxed ops per row; the numpy kernel
    does the same arithmetic as ``dim`` vectorized fused rank-2
    updates per batch). Equivalence argument, pinned by
    ``test_srp_numpy_signatures_match_expression``:

    - products: the hyperplane entries are exactly +-1.0, so
      ``a * b`` is an exact sign flip in both engines;
    - fold order: the expression computes
      ``acc = (((0 + v0*s0) + v1*s1) + ...)`` left to right; the
      kernel accumulates ``acc += V[:, d] * s[d]`` over d in the same
      order — identical IEEE-double operation sequence;
    - sign test: the expression tests ``round(dot, 6) >= 0`` where
      Catalyst rounds via BigDecimal.valueOf (shortest-roundtrip
      decimal, HALF_UP). Because shortest-roundtrip reprs of
      distinct doubles are distinct and order-preserving, and the
      double nearest -5e-7 reprs to exactly "-5e-07",
      ``round(dot, 6) >= 0  <=>  dot > -5e-7`` for every double
      (boundary doubles fuzz-checked in the test).

    A side benefit at scale: the hyperplane signs live in the
    function closure, not as nbits x dim plan literals, so long
    re-bandings (nbits=480) no longer pay plan-build/codegen cost.
    """
    import pandas as pd

    signs = srp_signs(dim, nbits)
    id_type = dict(e.dtypes)["vec_id"]
    n_bands = nbits // band_bits

    def bands(batches):
        import numpy as np

        S = np.asarray(signs)                      # (nbits, dim)
        shifts = 1 << np.arange(band_bits, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["_emb"].to_numpy())  # (n, dim) float64
            acc = np.zeros((len(V), nbits))
            for d in range(dim):                   # exact left fold
                acc += V[:, d, None] * S[:, d]
            bits = acc > -5e-7                     # == round(.,6) >= 0
            vals = (bits.reshape(len(V), n_bands, band_bits)
                    * shifts).sum(axis=2).astype("int32")
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "_emb": pdf["_emb"],
                                "_bands": list(vals)})

    return e.mapInPandas(
        bands, f"vec_id {id_type}, _emb array<double>, _bands array<int>")


def embedding_srp_pairs(embeddings: DataFrame,
                        threshold: float = 0.95,
                        dim: int | None = None,
                        nbits: int = SRP_BITS,
                        band_bits: int = SRP_BAND_BITS,
                        max_candidate_pairs: float | None = 50_000_000,
                        ) -> DataFrame:
    """Embedding-cosine near-duplicates WITHOUT a precomputed coarse
    quantizer: sign-random-projection LSH (Charikar 2002) generates
    candidates from a band equi-join over 128-bit signatures (8
    bands x 16 bits — the SimHash chunk-banding pattern transplanted
    to vector space), then every candidate is verified by exact
    cosine. This removes ``embedding_neardup_pairs``'s dependency on
    the ``label`` column: on an unlabeled 100 TB embedding table the
    candidate mass is bounded by similarity structure (band
    collisions ~ bands * n^2 / 2^16 for the orthogonal bulk), not by
    any blocking column's cardinality.

    Candidate-mass gate (the ``simhash_pairs`` discipline, added
    after the r8 THIRD-decade probe: at 2M vectors the band-collision
    mass measured 6.1e8 pairs — partly the random term
    bands * n^2 / 2^16, mostly the corpus's own within-cluster
    similarity structure — and the original narrow-pairs-then-attach
    plan spilled ~300 GB sorting pair x vector rows; the verify is
    now PLAN-ADAPTIVE on the measured mass, see the in-line note, so
    past the sort cliff the gate bounds streamed CPU, never disk): one
    map-side-combining histogram over the (persisted) band keys
    bounds the candidate-row mass BEFORE the self-join; past
    ``max_candidate_pairs`` the operator raises naming the remedies.
    Unlike simhash (whose exact
    Hamming verify makes the pair set banding-INVARIANT, so the key
    space could simply be widened), SRP recall DEPENDS on the
    banding — a re-banding is a recall choice the caller must make:

    - equal-recall re-banding: ``nbits=480, band_bits=24`` holds
      ~0.80 recall at cosine 0.95 (20 bands of p^24 vs 8 of p^16)
      while dividing the random-collision term by ~2^8/2.5 ≈ 100 —
      3.75x the linear signature work buying down the quadratic term
      (the 100 TB trade, same direction as the r6 16->128-bit
      redesign);
    - same-signature re-banding: ``nbits=192, band_bits=24`` (8
      bands) costs 1.5x signature work and drops recall at 0.95 to
      ~0.48 — acceptable when the corpus's near-dups sit at
      cosine >= 0.99 (recall ~0.97 there);
    - coarse-block first: run SemDeDup/``embedding_neardup_pairs``
      within k-means labels — candidate mass rides label population,
      not the random-collision floor;
    - ``max_candidate_pairs=None`` runs regardless (a 1000-executor cluster absorbs 1e9 candidate
      rows; this box's disk does not).

    Recall contract (LSH-probabilistic, like MinHash banding): a bit
    agrees w.p. 1 - theta/pi, a 16-bit band w.p. p^16, and at least
    one of 8 bands w.p. 1-(1-p^16)^8 — ~0.995 at cosine 0.99, ~0.80
    at 0.95, falling fast below (pairs losing every band are
    missed — the documented trade for never running label-quadratic
    or all-pairs work). Precision is exact: every emitted pair
    passed the cosine verify.

    Output: (vec_a, vec_b, cosine) with vec_a < vec_b — the same
    schema as embedding_neardup_pairs.

    ``dim`` defaults to the ACTUAL embedding length (one head() on a
    narrow size() projection, like pq_fit): a mismatched caller value
    would NULL every zip_with dot product, zero every band key, and
    silently degenerate the band join to all-pairs — results would
    stay correct through the exact verify while the scale contract
    evaporated. A caller-supplied dim that disagrees fails fast.
    """
    if nbits % band_bits:
        raise ValueError(
            f"embedding_srp_pairs: {nbits}-bit signature not "
            f"divisible into {band_bits}-bit bands")
    actual_row = embeddings.select(
        F.size(F.col("embedding")).alias("d")).head()
    actual = actual_row["d"] if actual_row else 0
    if dim is None:
        dim = actual
    elif actual and dim != actual:
        raise ValueError(
            f"embedding_srp_pairs: dim={dim} but embeddings are "
            f"length {actual} — a mismatch would zero every SRP band "
            "key and degenerate the band join to all-pairs")
    e = spread(embeddings).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("_emb"))
    sigs = _srp_signatures(e, dim, nbits=nbits, band_bits=band_bits)
    sigs = persist_for_query(sigs)
    banded = sigs.select(
        "vec_id", "_emb",
        F.posexplode(F.col("_bands")).alias("band_id", "band_val"))
    mass = pair_budget(
        "embedding_srp_pairs", "max_candidate_pairs", max_candidate_pairs,
        lambda: _keyed_candidate_mass_cached(
            banded.drop("_emb"), ["band_id", "band_val"],
            f"srp:{nbits}:{band_bits}"),
        f"estimated candidate-row mass; the {band_bits}-bit band key "
        f"space is saturated at this corpus size (random collisions ~ "
        f"bands*n^2/2^{band_bits}). Re-band longer (nbits=480, "
        f"band_bits=24 holds ~0.80 recall at cosine 0.95 with ~100x "
        f"fewer random collisions — note the hyperplane signs are "
        f"embedded as nbits*dim plan literals, ~{480 * (dim or 1000):,} "
        f"doubles at nbits=480/dim={dim or 1000}: expect plan-build/"
        f"codegen cost in the tens of seconds at that size; nbits=192, "
        f"band_bits=24 is 2.5x cheaper but ~0.48 recall at 0.95) or "
        f"block on a coarse k-means label first (semantic_dedup). The "
        f"streamed in-join verify is CPU-linear in this mass (nothing "
        f"pair-sized is materialized), so running it is a time choice, "
        f"not a disk gamble").mass
    # TWO PHYSICAL PLANS, ONE RESULT (the r8 third-decade redesign,
    # chosen by the gate's own mass estimate):
    #
    # (a) narrow-attach — materialize (vec_a, vec_b) candidate pairs,
    #     dedup, then attach both vectors by id-joins. Each attach
    #     SORTS |candidates| wide rows (pair x full vector ~0.5 KB):
    #     cheapest when the mass is small (every candidate verified
    #     exactly once), catastrophic when it is not — at 2M vectors /
    #     6.1e8 candidates that is a ~300 GB spill, which is how the
    #     sf100 probe filled the disk.
    # (b) streamed in-join verify — carry the vectors ON the banded
    #     frames (sorted inputs = n x bands rows, LINEAR in the
    #     corpus, ~8.5 GB at 2M vectors); candidate pairs merely
    #     STREAM through the merge join into the cosine filter, never
    #     sorted, never spilled; only verified survivors reach the
    #     dedup shuffle (bounded by OUTPUT size). Cost: a pair
    #     colliding in k bands is verified k times (<= bands) — the
    #     sf10 probe measured that duplicate-verify tax at ~1.4x wall
    #     on a mass far below the sort cliff.
    #
    # So: take (a) while the measured mass sorts safely
    # (<= _SRP_NARROW_ATTACH_MAX pairs, ~13 GB of wide sort), (b)
    # past it — and (b) unconditionally when no estimate exists
    # (budget disabled), because an unknown mass is exactly
    # the case that must not gamble the disk. Results are identical
    # either way (cosine is deterministic; both dedup on the pair
    # key), property-tested by the gate test's ungated-vs-default
    # comparison, which crosses the two plans.
    narrow = mass is not None and mass <= _SRP_NARROW_ATTACH_MAX
    if narrow:
        nb = banded.drop("_emb")
        a, b = nb.alias("a"), nb.alias("b")
        cands = (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                        & (F.col("a.band_val") == F.col("b.band_val"))
                        & (F.col("a.vec_id") < F.col("b.vec_id")))
                 .select(F.col("a.vec_id").alias("vec_a"),
                         F.col("b.vec_id").alias("vec_b"))
                 .dropDuplicates(["vec_a", "vec_b"]))
        ea = sigs.select(F.col("vec_id").alias("vec_a"),
                         F.col("_emb").alias("_ea"))
        eb = sigs.select(F.col("vec_id").alias("vec_b"),
                         F.col("_emb").alias("_eb"))
        sim = cosine_similarity(F.col("_ea"), F.col("_eb"))
        return (cands.join(ea, "vec_a").join(eb, "vec_b")
                .select("vec_a", "vec_b",
                        F.round(sim, 4).alias("cosine"))
                .filter(F.col("cosine") >= threshold))
    a, b = banded.alias("a"), banded.alias("b")
    sim = cosine_similarity(F.col("a._emb"), F.col("b._emb"))
    return (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                   & (F.col("a.band_val") == F.col("b.band_val"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    F.round(sim, 4).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
            .dropDuplicates(["vec_a", "vec_b"]))


# --------------------------------------------------------- semantic dedup
def semantic_dedup(embeddings: DataFrame, threshold: float = 0.95,
                   block_splits: int = 1,
                   relabel_clusters: int | None = None,
                   auto_relabel_label_size: int | None = 250,
                   max_relabel_clusters: int = 4096,
                   relabel_fit_rows: int | None = 200_000) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication of an embedded corpus. Within each coarse cluster
    (the ``label`` column — precomputed or from
    ``similarity_search.kmeans_assign``), cosine-near-duplicate pairs
    are grouped into semantic-duplicate components and exactly ONE
    representative per component survives: the member LEAST similar to
    its cluster centroid (the paper's keep-low-centroid-similarity
    rule — it retains the most "edge-of-cluster", least redundant
    exemplar; ties break on vec_id). Docs in no component all survive.

    Distributed shape, stage by stage (nothing is all-pairs):
      1. candidate pairs ride ``embedding_neardup_pairs`` — label-
         blocked equi-join, ``block_splits`` straggler sharding;
      2. pair -> component via the large/small-star connected
         components (a duplicate GROUP may chain a > c through b even
         when cos(a, c) < threshold — the same transitive-closure
         contract the text dedup family uses);
      3. centroids are labels x dim partial aggregates
         (``similarity_search.label_centroids`` — the IVF codebook
         helper, reused), joined back on the label key;
      4. the per-component argmin is a window over components —
         components are near-dup groups, orders of magnitude smaller
         than labels, so no skewed partition.

    ``relabel_clusters``: the SCALE knob (measured at the sf1 probe —
    13.2× on 10× data with the fixture's FIXED 10 labels, because
    within-label candidate pairs grow quadratically in label
    population). Abbas et al.'s own prescription is k ∝ corpus size;
    passing ``relabel_clusters=k`` ignores the incoming ``label``
    column and re-blocks on a spherical k-means codebook learned from
    the corpus itself (``kmeans_fit`` + ``kmeans_assign`` — Arrow-GEMM
    Lloyd's, k×dim shuffle per iteration), holding per-label pair mass
    constant as the corpus grows. The centroid used for the keep rule
    is then the LEARNED centroid's cluster mean, consistent with the
    blocking.

    ``auto_relabel_label_size`` makes the scale-safe regime the
    DEFAULT (the round-5 verdict's ask): when ``relabel_clusters`` is
    not given, one cheap aggregate measures (n vectors, distinct
    labels); if the average label population exceeds 4x this target,
    the operator re-labels itself with k = ceil(n / target) — Abbas
    et al.'s k ∝ n. Trip (4x) and sizing (1x) are deliberately apart:
    sizing k at the trip threshold would buy only a ~2x pair-mass
    reduction right at the boundary (measured: k=20 at the sf1 probe
    left the runtime unchanged), while the 4x hysteresis keeps a
    reasonably-sized incoming codebook trusted. The default target of
    250 reproduces the REMEDY the sf1 probe measured — 20k vectors /
    10 labels trips the 1,000-vector threshold and relabels at k=80,
    the exact configuration measured 46.3 s → 16.9 s — while the
    driver fixtures (20-200 vectors per label) stay untouched. The
    engagement warns so it is visible. A codebook whose cells stay at
    or below 4x the target (a properly-sized coarse quantizer) is
    used as-is; pass ``None`` to trust any incoming label column
    unconditionally.

    Third-decade regime (measured at the r7 sf10 probe, SCALE.md):
    auto-relabel holds pair mass flat but moves cost into the k-means
    fit, whose distance pass grows n x k = n^2/target — linear per
    decade today (sf1 17.6 s → sf10 176 s on 10x data), supra-linear
    eventually. BOTH remedies are therefore DEFAULT-ENGAGED past
    their thresholds (the same discipline as the auto-relabel gate
    itself — no advice-only regimes):

    - ``max_relabel_clusters`` (default 4096) caps the auto-sized k;
      past the cap, labels grow beyond the target and ``block_splits``
      is the documented straggler lever (pair mass grows only as the
      cap ratio, bounded, never quadratic in n);
    - ``relabel_fit_rows`` (default 200k, ``None`` disables) fits the
      codebook on a deterministic md5-gated SAMPLE of that expected
      size when the corpus exceeds it — Lloyd's converges to the same
      codebook shape on a large sample at a fraction of the distance
      work — and assigns the FULL corpus in one linear Arrow pass.
      Sampling changes the learned codebook, hence blocking, hence
      possibly which near-dup pairs become candidates — the standard
      LSH-style recall trade, and the codebook was already
      self-chosen on the relabel path. Both engagements warn.

    Returns the surviving rows of ``embeddings`` (all columns).
    Reference has no analog (beyond-reference training-data operator).
    """
    import math
    import warnings

    from . import components

    from .similarity_search import label_centroids

    n_vectors: int | None = None
    if relabel_clusters is None and auto_relabel_label_size is not None:
        sizes = embeddings.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("label").alias("k")).collect()[0]
        n_vectors = sizes["n"]
        if (sizes["k"]
                and sizes["n"] / sizes["k"] > 4 * auto_relabel_label_size):
            wanted = max(2, math.ceil(sizes["n"] / auto_relabel_label_size))
            relabel_clusters = min(wanted, max_relabel_clusters)
            capped = (" (CAPPED from k={} by max_relabel_clusters — "
                      "labels will exceed the target; use block_splits "
                      "for the stragglers)".format(wanted)
                      if wanted > max_relabel_clusters else "")
            warnings.warn(
                f"semantic_dedup: incoming label cardinality "
                f"{sizes['k']} leaves {sizes['n'] / sizes['k']:.0f} "
                f"vectors per label (> {4 * auto_relabel_label_size}); "
                f"within-label pair mass grows quadratically, so "
                f"re-blocking on a learned k-means codebook with "
                f"k={relabel_clusters}{capped} (pass relabel_clusters "
                f"or auto_relabel_label_size=None to override)",
                stacklevel=2)
    if relabel_clusters is not None:
        from ..functions.text import md5_long
        from .similarity_search import kmeans_assign, kmeans_fit

        fit_input = embeddings
        if relabel_fit_rows is not None:
            if n_vectors is None:
                n_vectors = embeddings.count()
            if n_vectors > relabel_fit_rows:
                # 1e9 modulus + max(1, ...): at the extreme corpus
                # sizes this path targets (n > 1e9 * fit_rows would be
                # needed to truncate now), the cut must never round to
                # 0 — an empty fit frame would surface as a confusing
                # "empty corpus" error from kmeans_fit
                gate = F.pmod(
                    md5_long(F.col("vec_id").cast("string")),
                    F.lit(1_000_000_000))
                cut = max(1, int(1_000_000_000 * relabel_fit_rows
                                 / n_vectors))
                fit_input = embeddings.filter(gate < cut)
                warnings.warn(
                    f"semantic_dedup: fitting the relabel codebook on "
                    f"a deterministic md5-gated sample (~"
                    f"{relabel_fit_rows:,} of {n_vectors:,} rows) — "
                    f"the full corpus is still assigned and deduped; "
                    f"pass relabel_fit_rows=None to fit on everything",
                    stacklevel=2)
        cents, _ = kmeans_fit(fit_input, k=relabel_clusters,
                              normalize=True)
        assigned = kmeans_assign(embeddings, cents, normalize=True)
        embeddings = (embeddings.drop("label")
                      .join(assigned.select(
                          "vec_id",
                          F.col("cluster_id").alias("label")), "vec_id")
                      .select(*embeddings.columns))
    pairs = embedding_neardup_pairs(embeddings, threshold=threshold,
                                    block_splits=block_splits)
    comp = components.dedup_clusters(pairs, "vec_a", "vec_b").select(
        F.col("doc_id").alias("vec_id"), "cluster_id")
    e = embeddings.select("vec_id", "label",
                          F.col("embedding").cast("array<double>")
                          .alias("_emb"))
    members = (comp.join(e, "vec_id")
               .join(label_centroids(embeddings), "label"))
    # 6dp round before ranking: keeps the argmin stable across engines
    # (summation order differs), and 1e-6 is far below any meaningful
    # cosine gap between distinct vectors
    cs = F.round(cosine_similarity(F.col("_emb"), F.col("centroid")), 6)
    w = Window.partitionBy("cluster_id").orderBy(F.asc("_cs"),
                                                 F.asc("vec_id"))
    drop = (members.withColumn("_cs", cs)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select("vec_id"))
    return embeddings.join(drop, "vec_id", "left_anti")


# ------------------------------------------------- winnowing fingerprints
def winnow_fingerprints(documents: DataFrame, k: int = 10,
                        w: int = 8) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local-fingerprinting algorithm; public
    paper). Guarantee: any shared substring of length >= w + k - 1
    characters between two documents produces at least one SHARED
    fingerprint, so fingerprint overlap detects local (copy-paste /
    partial-overlap) duplication that whole-document MinHash dilutes
    away — a third near-dup family alongside set-similarity (MinHash)
    and bit-similarity (SimHash).

    Per doc: normalize (lower + whitespace collapse), hash every
    character k-gram with md5-60 (the engine-portable hash — the
    whole operator is value-checkable in DuckDB), then keep the
    MINIMUM hash of each window of ``w`` consecutive k-gram hashes,
    deduplicated per doc. Docs shorter than one k-gram emit nothing;
    docs with 1..w-1 k-grams emit their global min (the paper's
    short-document convention).

    Distributed shape: pure per-row HOF expressions (transform /
    slice / array_min) — ZERO shuffles until the caller joins or
    aggregates. The normalized text and the k-gram hash array are
    each bound in a projection BELOW their consumers (the Generate-
    parent discipline: co-projected with the explode, the hash array
    would be re-evaluated once per fingerprint ROW; referenced
    unbound inside the window transform, the normalize regex would
    re-run once per k-gram). Cost is O(chars * w) integer compares
    per doc; a native kernel would run the O(chars) monotonic-deque
    recurrence, but at w = 8 the HOF constant keeps the whole
    operator inside the JVM, which beats any Python round-trip.

    Output: (doc_id, fp) — distinct winnowed fingerprints per doc.
    Reference has no analog (beyond-reference training-data operator).

    r11 (guide §4.2 — the SRP recipe ported to the last HOF-heavy
    signature): the per-doc k-gram hashing + window-min now runs as an
    Arrow-batched Python kernel (``_winnow_fps_udf``) — the expression
    path paid O(chars) interpreted md5 ``transform`` nodes PLUS
    O(chars x w) ``array_min(slice(...))`` boxed compares per doc,
    all CodegenFallback; the kernel does the identical arithmetic
    (hashlib md5 is the same public digest; numpy sliding-window min)
    per batch. Normalization stays a JVM regex. Bit-identity pinned by
    ``test_winnow_kernel_matches_expression``.
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    nb = spread(documents).select("doc_id", norm.alias("_norm"))
    return (nb.select("doc_id",
                      _winnow_fps_udf(k, w)(F.col("_norm")).alias("_fps"))
            .select("doc_id", F.explode_outer("_fps").alias("fp"))
            .filter(F.col("fp").isNotNull()))


# (k, w) -> Arrow-batched fingerprint UDF (constructed once per shape
# and session: a UDF kept past a session restart reports its
# accumulator updates to the dead context)
_winnow_udf_memo = session_memo(16)


def _winnow_fps_udf(k: int, w: int):
    """Per-doc winnowed fingerprint kernel: md5-60 every character
    k-gram of the normalized text (``int(md5(utf8).hexdigest()[:15],
    16)`` — the exact ``md5_long`` arithmetic; Python slices strings
    by codepoints exactly as Spark's ``substring`` does), then keep
    the min of each w-window (short docs: global min), first-occurrence
    deduplicated — the order ``array_distinct`` preserves."""
    import hashlib

    import numpy as np
    import pandas as pd

    def build():
        @F.pandas_udf("array<long>")
        def winnow_fps(norms: pd.Series) -> pd.Series:
            from numpy.lib.stride_tricks import sliding_window_view

            md5 = hashlib.md5
            out = []
            for s in norms:
                if s is None:
                    out.append([])
                    continue
                m = len(s) - (k - 1)
                if m < 1:
                    out.append([])
                    continue
                h = np.fromiter(
                    (int(md5(s[i:i + k].encode("utf-8"))
                         .hexdigest()[:15], 16) for i in range(m)),
                    dtype=np.int64, count=m)
                if m >= w:
                    fps = sliding_window_view(h, w).min(axis=1)
                    out.append(pd.unique(fps).tolist())
                else:
                    out.append([int(h.min())])
            return pd.Series(out)

        return winnow_fps

    return _winnow_udf_memo((k, w), build)


def _winnow_fingerprints_expr(documents: DataFrame, k: int = 10,
                              w: int = 8) -> DataFrame:
    """The pure-expression winnowing path (pre-r11) — kept as the
    kernel's equivalence twin for the bit-identity test; arithmetic
    documented in ``winnow_fingerprints``."""
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    nb = spread(documents).select("doc_id", norm.alias("_norm"))
    m = F.length(F.col("_norm")) - (k - 1)
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — docs
    # shorter than one k-gram must short-circuit to an empty array
    positions = F.when(m >= 1, F.sequence(F.lit(1), m)) \
        .otherwise(F.array().cast("array<int>"))
    hashed = nb.select(
        "doc_id",
        F.transform(
            positions,
            lambda i: md5_long(F.substring(F.col("_norm"), i, k)),
        ).alias("_h"))
    n_grams = F.size(F.col("_h"))
    fps = (F.when(n_grams >= w,
                  F.array_distinct(F.transform(
                      F.sequence(F.lit(1), n_grams - (w - 1)),
                      lambda j: F.array_min(F.slice(F.col("_h"), j, w)))))
           .when(n_grams >= 1, F.array(F.array_min(F.col("_h"))))
           .otherwise(F.array().cast("array<long>")))
    return (hashed.select("doc_id", fps.alias("_fps"))
            .select("doc_id", F.explode_outer("_fps").alias("fp"))
            .filter(F.col("fp").isNotNull()))


def winnow_pairs(documents: DataFrame, k: int = 10, w: int = 8,
                 threshold: float = 0.5, max_df: int = 50) -> DataFrame:
    """Near-duplicate pairs by winnowed-fingerprint overlap
    coefficient (the MOSS similarity): two docs pair when
    n_shared / min(|A|, |B|) >= ``threshold`` over their winnowed
    fingerprint sets — containment-flavored, so a short doc pasted
    into a long one still scores high. Isolated common PHRASES score
    near zero (a 500-doc probe at the loose count-based criterion
    paired 40% of the corpus on shared 10-char phrases; the overlap
    coefficient drops those to ~0.07).

    Blocking discipline (the same budget thinking as the LSH band
    mass and the ngram pair-mass gate): a fingerprint present in more
    than ``max_df`` documents is corpus boilerplate — it is dropped
    BEFORE the self-join, so one hot fingerprint can never drive
    quadratic pair mass; each surviving fingerprint contributes at
    most max_df*(max_df-1)/2 pairs, keeping total pair mass linear in
    the number of distinct fingerprints at a fixed cap. Boilerplate
    fingerprints leave the similarity universe entirely: the per-doc
    set sizes in the denominator count the PRUNED sets, so the
    coefficient stays a true overlap over the retained universe. The
    fingerprint relation is computed ONCE (persisted for the query)
    and feeds the document-frequency filter, both sides of the
    equi-join, and the set sizes.

    Output: (doc_a, doc_b, n_shared, overlap) with doc_a < doc_b.
    """
    fps = persist_for_query(winnow_fingerprints(documents, k, w))
    rare = (fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("fp"))
    pruned = persist_for_query(fps.join(rare, "fp"))
    sizes = pruned.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_sz"))
    a, b = pruned.alias("a"), pruned.alias("b")
    shared = (a.join(b, "fp")
              .filter(F.col("a.doc_id") < F.col("b.doc_id"))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_shared")))
    ov = (F.col("n_shared")
          / F.least(F.col("sa._sz"), F.col("sb._sz")).cast("double"))
    return (shared
            .join(sizes.alias("sa"),
                  F.col("doc_a") == F.col("sa.doc_id"))
            .join(sizes.alias("sb"),
                  F.col("doc_b") == F.col("sb.doc_id"))
            .withColumn("overlap", F.round(ov, 4))
            .filter(F.col("overlap") >= threshold)
            .select("doc_a", "doc_b", "n_shared", "overlap"))
