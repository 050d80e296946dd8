"""End-to-end training-corpus curation pipeline: quality filter ->
near-duplicate removal -> per-language stats. This composes the
operators a training-data user actually chains (the reference's
pipeline idea generalized to corpus curation; its closest analog is
the staged weekly ingest in weekly_scheduler.py:253-425 — filter,
dedup-against-seen, persist, report):

  1. **filter**: Gopher-style quality rules (functions/text.py
     ``gopher_passes`` — published thresholds, pure column
     expressions, evaluated in the parquet scan stage);
  2. **dedup**: word-set Jaccard near-dup pairs within (lang,
     length-band) blocks over the SURVIVING docs only (filter-first
     ordering: at 100 TB the quality gate drops ~half the corpus
     before any pairwise work), then large-star/small-star connected
     components -> drop every non-canonical cluster member;
  3. **stats**: per-language doc/token counts over the curated corpus
     — the "what did curation keep" report.

Everything is DataFrame-native: the filter is a predicate on the scan,
the dedup is the blocked equi-join family from operators/dedup.py, the
stats are one partial-aggregable groupBy. No collect, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import gopher_passes, quality_score, tokens
from ..operators import components, curation, dedup
from ..session import check_budget_policy, pair_budget, persist_for_query


def curate_corpus(documents: DataFrame, threshold: float = 0.5,
                  keep: str = "min_id") -> DataFrame:
    """Quality-filter then near-dedup the corpus; returns surviving
    document rows (all input columns).

    ``keep`` picks each near-dup cluster's survivor: ``"min_id"``
    (default, the deterministic-arbitrary choice) or
    ``"best_quality"`` — the highest ``quality_score`` member wins
    (ties → min doc_id), so a cluster mixing a clean original with
    truncated mirrors keeps the clean copy."""
    if keep not in ("min_id", "best_quality"):
        raise ValueError(f"keep={keep!r}: expected 'min_id' or "
                         "'best_quality'")
    # persist the filtered frame (r11 — the same guide §5 fix
    # prepare_training_corpus got in r10): it feeds BOTH sides of the
    # pair self-join (materialized inside the components checkpoint)
    # and the final anti-join, each of which otherwise re-runs the
    # gopher predicate from a fresh scan. Released when the next query
    # starts.
    kept = persist_for_query(documents.filter(gopher_passes(F.col("text"))))
    # budget-estimate on the raw scan: the filtered frame would re-run
    # the gopher predicate for the gate's histogram, and the raw
    # histogram upper-bounds the filtered one (same n_chars band key)
    pairs = dedup.ngram_jaccard_pairs(kept, threshold=threshold,
                                      estimate_on=documents,
                                      on_budget_exceeded="route")
    if keep == "best_quality":
        scored = kept.withColumn("__q", quality_score(F.col("text")))
        return components.drop_near_duplicates(
            scored, pairs, score_col="__q").drop("__q")
    return components.drop_near_duplicates(kept, pairs)


def ingest_documents(new_docs: DataFrame, corpus_docs: DataFrame,
                     threshold: float = 0.5,
                     max_block_pairs: float | None = 5_000_000,
                     on_budget_exceeded: str = "raise",
                     pair_path: str = "auto") -> DataFrame:
    """Incremental ingest dedup: return the subset of ``new_docs`` that
    belongs in the corpus, treating the existing corpus as IMMUTABLE
    (the reference's weekly ingest discipline — existing rows are never
    rewritten, weekly_scheduler.py:586-609):

    - a new doc in any near-dup cluster that touches a corpus doc is
      dropped (its content is already represented — transitively: a
      new doc chained to the corpus through other new dups drops too);
    - pure-new clusters keep their canonical (min doc_id) member only.

    Pairwise work is ``ngram_jaccard_pairs_incremental`` — |new| x
    block-overlap, never corpus x corpus — and components run over the
    touched neighborhood only (nodes appearing in some incremental
    pair), not the whole corpus.

    Regime gate (round 9 — the sf10 streaming probe measured the
    exact incremental path at 84x on 10x data on the scratch fixture's
    dense (lang, band) blocks): before the pair join, two cheap
    histograms estimate the incremental candidate mass
    (``dedup.incremental_block_pair_mass``). Past ``max_block_pairs``:
    ``'raise'`` (default) names the remedies; ``'route'`` runs
    ``minhash_lsh_pairs_incremental`` instead — candidates bounded by
    signature agreement, not block population (similarity becomes
    LSH-verified SHINGLE Jaccard: which near-dup pairs are found
    changes, so routing is opt-in, the same language as
    ``ngram_jaccard_pairs``); ``max_block_pairs=None`` runs the exact
    plan regardless.

    ``pair_path`` pins the semantics explicitly: ``'exact'`` /
    ``'lsh'`` bypass the gate entirely — what a REPEATED caller (the
    streaming ingest) must use, because a per-call gate can flip
    semantics between batches of one logical ingest, and a corpus
    admitted under MIXED semantics satisfies NEITHER family's
    no-residual-pair invariant (found by the sf1 routed probe:
    early under-budget batches ran word-set-exact admissions that the
    later LSH batches' shingle semantics would have rejected).
    ``'auto'`` (default) keeps the per-call gate for one-shot use.

    Contract (tested): incremental pairs between the survivors and the
    (deduped) corpus are EMPTY — nothing the ingest admits duplicates
    anything already admitted (under the pair semantics that ran).
    """
    check_budget_policy(on_budget_exceeded)
    if pair_path not in ("auto", "exact", "lsh"):
        raise ValueError(
            f"pair_path must be 'auto', 'exact' or 'lsh', "
            f"got {pair_path!r}")
    if pair_path != "auto":
        pairs = (dedup.minhash_lsh_pairs_incremental(
            new_docs, corpus_docs, threshold=threshold)
            if pair_path == "lsh"
            else dedup.ngram_jaccard_pairs_incremental(
                new_docs, corpus_docs, threshold=threshold))
        return _ingest_admit(new_docs, corpus_docs, pairs)
    # session-plan-keyed cache: repeated gate calls over the same two
    # frames pay the histogram jobs once (round-9 advice)
    gate = pair_budget(
        "ingest_documents", "max_block_pairs", max_block_pairs,
        lambda: dedup.incremental_block_pair_mass_cached(new_docs,
                                                         corpus_docs),
        "estimated incremental candidate mass. Remedies: "
        "on_budget_exceeded='route' (the MinHash-LSH incremental pair "
        "stage — candidates bounded by similarity structure; "
        "LSH-verified shingle-Jaccard semantics) or smaller ingest "
        "batches",
        on_budget_exceeded)
    if gate.route:
        pairs = dedup.minhash_lsh_pairs_incremental(
            new_docs, corpus_docs, threshold=threshold)
    else:
        pairs = dedup.ngram_jaccard_pairs_incremental(
            new_docs, corpus_docs, threshold=threshold)
    return _ingest_admit(new_docs, corpus_docs, pairs)


def _ingest_admit(new_docs: DataFrame, corpus_docs: DataFrame,
                  pairs: DataFrame) -> DataFrame:
    """The admission tail shared by every pair semantics: incremental
    pairs -> touched-neighborhood components -> drop tainted clusters'
    new members and non-canonical pure-new members."""
    comps = components.dedup_clusters(pairs, "doc_a", "doc_b")
    tainted = (comps.join(corpus_docs.select("doc_id"), "doc_id", "left_semi")
               .select("cluster_id").distinct())
    losers_tainted = (comps.join(tainted, "cluster_id", "left_semi")
                      .select("doc_id"))
    losers_new = comps.filter(~F.col("is_canonical")).select("doc_id")
    losers = losers_tainted.unionByName(losers_new).distinct()
    return new_docs.join(losers, "doc_id", "left_anti")


def prepare_training_corpus(documents: DataFrame, *,
                            threshold: float = 0.5,
                            benchmark: DataFrame | None = None,
                            redact: bool = True,
                            line_dedup: bool = False,
                            cut_dup_spans: int | None = None,
                            keep_frac: float | None = None,
                            temperature_alpha: float | None = None,
                            chunk_tokens: int | None = None,
                            overlap: int = 16,
                            val_frac: float = 0.1,
                            pack_budget: int | None = None
                            ) -> dict[str, DataFrame]:
    """The one-call raw-parquet -> curated-train/val pipeline — every
    corpus-hygiene stage this engine implements, chained in the order
    a production training-data run chains them:

      1. Gopher quality filter (predicate on the scan);
      2. PII redaction (``redact=False`` to skip);
      3. cross-document keep-first line dedup (``line_dedup=True``:
         repeated content survives exactly once corpus-wide);
      3b. exact substring dedup (when ``cut_dup_spans`` is given: cut
         every non-first cross-document duplicated ``cut_dup_spans``-
         token span — Lee et al.-style span REMOVAL, finer than both
         line dedup and the doc-level near-dup drop in stage 6);
      4. benchmark decontamination (when ``benchmark`` is given:
         5-gram shingle equi-join, never doc x bench);
      5. near-dup pair generation within (lang, length-band) blocks,
         then ONE connected-components run whose cluster map feeds
         both stages 6 and 9 (the iterative star rounds never execute
         twice — lineage reuse is not computation reuse). Past the
         exact path's pair-mass budget the stage AUTO-ROUTES to
         MinHash-LSH (with a visible warning): the pipeline's contract
         is "near-duplicates removed", which both candidate generators
         satisfy, and LSH is the measured scale path (3.3× on 10×
         data vs 45.5× for exact-within-block);
      6. cluster dedup (drop non-canonical members);
      7. quality-threshold selection (when ``keep_frac`` is given:
         exact percentile cut on the composite quality score);
      8. temperature-scaled language rebalancing (when
         ``temperature_alpha`` is given: kept ∝ n^alpha, the
         multilingual mixing rule, deterministic md5 gate).
         Language-less (NULL-lang) docs ride as their own sentinel
         stratum — counted, rated, and sampled like any language —
         rather than being silently dropped by the rate join;
      9. leakage-safe train/val split keyed per DUP CLUSTER (reusing
         stage 5's cluster map), so near-dup content never straddles
         the boundary even for docs the dedup kept;
     10. fixed-token chunking (when ``chunk_tokens`` is given) applied
         AFTER the split — chunks of one doc can never land on both
         sides; with ``pack_budget`` also set, each chunk carries its
         (shard, bin_id) training-bin assignment (GPT-style sequence
         packing, shard-parallel).

    Returns {'train': ..., 'val': ..., 'report': ...}: train/val are
    document frames (or chunk frames when chunking is on), report is
    the per-language kept-doc/token stats over everything admitted.

    Scale shape: stages 1-3 and 6-8 are scans/filters/explodes with at
    most one aggregate; the pairwise work (4) is the blocked equi-join
    family, and the only iteration (5) is O(log n) star rounds on
    reliable checkpoints.
    """
    kept = documents.filter(gopher_passes(F.col("text")))
    if redact:
        kept = curation.redact_documents(kept)
    if line_dedup:
        # rejoin the non-text columns the line pass doesn't carry
        deduped_text = curation.dedup_lines_keep_first(kept)
        kept = (kept.drop("text").join(deduped_text, "doc_id"))
    if cut_dup_spans is not None:
        from ..operators.text_analysis import remove_duplicated_spans

        kept = remove_duplicated_spans(
            kept, window=cut_dup_spans).drop("n_tokens_removed")
    if benchmark is not None:
        kept = curation.decontaminate(kept, benchmark)
    # persist the hygiene chain's output (r10, guide §5): it is
    # consumed by the pair join (materialized inside the components
    # checkpoint), by the curated anti-join, and by the labeled frame
    # — without the persist each consumer re-runs
    # gopher+redact+line-dedup from the scan (~2.6 s per re-execution
    # profiled at sf0.1; A/B of the full query: 10.6 s -> 7.2 s).
    # Released when the next query starts, so repeated invocations
    # never accumulate executor cache
    kept = persist_for_query(kept)
    # budget-estimate on the raw scan, not the multi-stage `kept`
    # sub-plan (the gate's one histogram aggregate would otherwise
    # eagerly execute the whole hygiene chain an extra time); raw
    # upper-bounds kept, and n_chars rides through the stages unchanged
    pairs = dedup.ngram_jaccard_pairs(kept, threshold=threshold,
                                      estimate_on=documents,
                                      on_budget_exceeded="route")
    clusters = components.dedup_clusters(pairs, "doc_a", "doc_b")
    curated = components.drop_near_duplicates(kept, clusters=clusters)
    if keep_frac is not None:
        curated = curation.select_top_quality(
            curated, quality_score(F.col("text")), keep_frac)
    if temperature_alpha is not None:
        curated = curation.temperature_sample(
            curated, alpha=temperature_alpha, null_stratum=True)
    # the split label as an IN-PLACE column (r10, guide §2.4/§1.2):
    # the previous shape — leakage_safe_split builds a (doc_id, split)
    # frame FROM curated, then curated joins it back — put the whole
    # hygiene+anti-join subtree into `labeled` TWICE (once directly,
    # once inside the split frame) and paid a join. One left join
    # against the (checkpointed, cheap) cluster map + the same gate
    # expression yields identical rows: the split frame's doc_ids are
    # exactly curated's, so the inner join was a left join in disguise
    labeled = (curated
               .join(clusters.select("doc_id", "cluster_id"),
                     "doc_id", "left")
               .withColumn("split", curation.split_expr(
                   F.col("cluster_id"), F.col("doc_id"), val_frac))
               .drop("cluster_id"))
    if chunk_tokens is not None:
        # fused single-pass chunk+pack (r10): chunking is per-row and
        # the packing window restarts per (split, lang, shard), so
        # chunking the labeled frame ONCE with the split carried
        # through produces bit-identical train/val chunks to one
        # chunk+pack pass per side — at half the executions of the
        # hygiene/dedup subtree (profiled 2.6 s per re-execution at
        # sf0.1)
        carry = ("split", "lang") if pack_budget is not None else ("split",)
        chunks_all = curation.chunk_documents(
            labeled, chunk_tokens, overlap, carry_cols=carry)
        if pack_budget is not None:
            chunks_all = curation.assign_chunk_bins(
                chunks_all, None, budget=pack_budget,
                extra_partition_cols=("split",))
        train = (chunks_all.filter(F.col("split") == "train")
                 .drop("split"))
        val = chunks_all.filter(F.col("split") == "val").drop("split")
    else:
        chunks_all = None
        train = labeled.filter(F.col("split") == "train").drop("split")
        val = labeled.filter(F.col("split") == "val").drop("split")
    n = F.size(tokens(F.col("text")))
    report = (curated
              .select("lang", n.alias("_n"))
              .groupBy("lang")
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                   F.sum("_n").cast("long").alias("total_tokens"),
                   F.round(F.avg("_n"), 4).alias("avg_tokens")))
    out = {"train": train, "val": val, "report": report}
    if chunks_all is not None:
        # the fused frame itself, split column included — consumers
        # that want BOTH sides (the catalog's per-bin roll-up) read it
        # directly and execute the pipeline subtree once, not once per
        # side re-unioned
        out["chunks"] = chunks_all
    return out


def curation_stats(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """The curation report: per-language kept-doc and token counts over
    the filtered + deduped corpus."""
    curated = curate_corpus(documents, threshold)
    n = F.size(tokens(F.col("text")))
    return (curated
            .select("lang", n.alias("_n"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("_n").cast("long").alias("total_tokens"),
                 F.round(F.avg("_n"), 4).alias("avg_tokens")))
