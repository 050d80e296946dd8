"""User-facing facade: the reference platform's query surface
(DatabaseConverter/database.py + app.py read paths) over a parquet
warehouse laid out per ``schemas.WAREHOUSE_SCHEMAS``.

A user of the reference interacts through: company search, stats
roll-ups, enrichment-joined views, the shared-officer network, contact
breakdowns, incremental upserts, CSV/Excel exports, and the weekly
automation run. Each has a method here delegating to the operator
layers; everything returns a lazy DataFrame (callers decide when to
materialize)."""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .schemas import MERGE_KEYS, MERGE_PARTITION_SPECS, WAREHOUSE_SCHEMAS
from .session import new_query
from .sources.writers import BUCKET_COL, merge_upsert, write_csv, write_excel


class Engine:
    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.warehouse_dir = warehouse_dir

    # ------------------------------------------------------------- plumbing
    def _path(self, table: str) -> str:
        return os.path.join(self.warehouse_dir, table)

    def table(self, name: str) -> DataFrame:
        """Read a warehouse table; empty-but-typed if never written
        (the reference's fresh-database behavior). Tables written with a
        partial schema (e.g. migrated legacy data) are conformed to the
        declared schema with typed nulls, so every facade query works
        regardless of which optional columns the writer supplied."""
        if name not in WAREHOUSE_SCHEMAS:
            raise KeyError(f"unknown warehouse table: {name}")
        schema = WAREHOUSE_SCHEMAS[name]
        path = self._path(name)
        if not os.path.exists(path):
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.parquet(path)
        if BUCKET_COL in df.columns:  # internal merge-routing column
            df = df.drop(BUCKET_COL)
        missing = {f.name: F.lit(None).cast(f.dataType)
                   for f in schema.fields if f.name not in df.columns}
        return df.withColumns(missing) if missing else df

    def sql(self, query: str) -> DataFrame:
        """Raw SQL escape hatch (S14, database.py:506-510): warehouse
        tables are registered as temp views."""
        for name in WAREHOUSE_SCHEMAS:
            self.table(name).createOrReplaceTempView(name)
        return self.spark.sql(query)

    def upsert(self, name: str, rows: DataFrame) -> DataFrame:
        """Idempotent MERGE on the table's reference key contract (S19),
        partition-scoped per ``schemas.MERGE_PARTITION_SPECS`` so an
        incremental batch rewrites only the partitions it touches."""
        keys = MERGE_KEYS.get(name)
        if keys is None:
            raise KeyError(f"no merge-key contract for table: {name}")
        spec = MERGE_PARTITION_SPECS.get(name, {})
        out = merge_upsert(self.spark, self._path(name), rows, keys,
                           partition_by=spec.get("partition_by"),
                           hash_buckets=spec.get("hash_buckets"))
        return out.drop(BUCKET_COL) if BUCKET_COL in out.columns else out

    # ---------------------------------------------------------- query paths
    def search_companies(self, query: str, status: str | None = None,
                         limit: int = 100) -> DataFrame:
        """F1 multi-column ILIKE + optional F3 status filter + W1 sort
        (database.py:292-316)."""
        q = query.lower()
        c = self.table("companies")
        cond = (F.lower(F.col("company_name")).contains(q)
                | F.lower(F.col("company_number")).contains(q)
                | F.lower(F.coalesce("locality", F.lit(""))).contains(q))
        out = c.filter(cond)
        if status is not None:
            out = out.filter(F.col("company_status") == status)
        return (out.orderBy(F.desc("updated_at"), "company_number")
                .limit(limit))

    def companies_with_enrichment(self, provider: str | None = None) -> DataFrame:
        """J1/J2: companies ⟕ enrichment as a provider->payload map
        (database.py:344-378's group-to-map, one join not N+1)."""
        e = self.table("enrichment_data")
        if provider is not None:
            e = e.filter(F.col("provider") == provider)
        agg = (e.groupBy("company_id")
               .agg(F.map_from_entries(
                   F.collect_list(F.struct("provider", "enrichment_data")))
                   .alias("enrichment")))
        c = self.table("companies")
        return c.join(agg, c.id == agg.company_id, "left").drop("company_id")

    def get_stats(self) -> DataFrame:
        """A1/A2/A3: table counts + enrichment success rate in one pass
        per table (database.py:458-488)."""
        counts = [self.table(t).agg(
            F.lit(t).alias("table"), F.count(F.lit(1)).alias("n"))
            for t in ("companies", "officers", "appointments", "contacts",
                      "planning_applications", "applicants",
                      "applicant_company_matches", "enrichment_data")]
        out = counts[0]
        for c in counts[1:]:
            out = out.unionByName(c)
        return out

    def enrichment_success_rate(self) -> DataFrame:
        e = self.table("enrichment_data")
        return e.agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct(F.when(F.col("success"), F.col("company_id")))
             .alias("n_companies_enriched"),
            F.round(100.0 * F.sum(F.when(F.col("success"), 1).otherwise(0))
                    / F.greatest(F.count(F.lit(1)), F.lit(1)), 2)
             .alias("success_rate_pct"))

    def refresh_officer_edges(self, min_shared: int = 1) -> DataFrame:
        """J3 materialization (database.py:937-970): full refresh of
        shared_officer_edges from active appointments."""
        app = (self.table("appointments")
               .select("officer_id", "company_id").distinct())
        a, b = app.alias("a"), app.alias("b")
        edges = (a.join(b, (F.col("a.officer_id") == F.col("b.officer_id"))
                        & (F.col("a.company_id") < F.col("b.company_id")))
                 .groupBy(F.col("a.company_id").alias("company_a_id"),
                          F.col("b.company_id").alias("company_b_id"))
                 .agg(F.countDistinct("a.officer_id")
                      .alias("shared_officer_count"))
                 .filter(F.col("shared_officer_count") >= min_shared)
                 .withColumn("updated_at", F.current_timestamp()))
        edges.write.mode("overwrite").parquet(self._path("shared_officer_edges"))
        self.spark.catalog.refreshByPath(self._path("shared_officer_edges"))
        return self.table("shared_officer_edges")

    def company_network(self, company_id: int) -> DataFrame:
        """J4: one-hop neighborhood with names, one join (the reference
        loops per edge, database.py:985-1011)."""
        e = self.table("shared_officer_edges")
        mine = e.filter((F.col("company_a_id") == company_id)
                        | (F.col("company_b_id") == company_id))
        neighbor = F.when(F.col("company_a_id") == company_id,
                          F.col("company_b_id")).otherwise(F.col("company_a_id"))
        mine = mine.select(neighbor.alias("neighbor_id"), "shared_officer_count")
        c = self.table("companies").select(
            F.col("id").alias("neighbor_id"), "company_name")
        return mine.join(F.broadcast(c), "neighbor_id", "left")

    def contact_breakdown(self) -> DataFrame:
        """A4: contacts by (type, source, verification_status) — the
        reference runs three separate GROUP BYs; one cube-free pass
        each here via a single grouping set union."""
        c = self.table("contacts")
        by = lambda col: (c.groupBy(F.lit(col).alias("dimension"),
                                    F.col(col).alias("value"))
                          .agg(F.count(F.lit(1)).alias("n")))
        return by("contact_type").unionByName(by("source")).unionByName(
            by("verification_status"))

    def top_contacts(self, limit: int = 20) -> DataFrame:
        """W1: newest contacts (database.py:1113-1134)."""
        return (self.table("contacts")
                .orderBy(F.desc("created_at"), "id").limit(limit))

    def primary_contact_per_company(self) -> DataFrame:
        """W3 priority-pick: verified first, then confidence, then id."""
        w = Window.partitionBy("company_id").orderBy(
            F.when(F.col("verification_status") == "verified", 0).otherwise(1),
            F.desc("confidence_score"), "id")
        return (self.table("contacts")
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1).drop("rn"))

    def merged_enrichment(self,
                          priority: tuple[str, ...] = ("clearbit", "hunter",
                                                       "apollo")) -> DataFrame:
        """D6 (data_enrichment.py:186-240): collapse the per-provider
        enrichment rows into one profile per company — scalar fields
        first-wins by provider priority with source attribution,
        technologies set-unioned. Payload fields are pulled out of the
        JSON blob column; unsuccessful rows are excluded, as in the
        reference."""
        from .operators.provider_merge import merge_provider_records

        e = self.table("enrichment_data").filter(F.col("success"))
        prio = F.lit(len(priority))  # unknown providers rank last
        for i, p in enumerate(priority):
            prio = F.when(F.col("provider") == p, F.lit(i)).otherwise(prio)
        records = e.select(
            "company_id", "provider", prio.alias("priority"),
            F.get_json_object("enrichment_data", "$.name").alias("name"),
            F.get_json_object("enrichment_data", "$.domain").alias("domain"),
            F.get_json_object("enrichment_data", "$.industry").alias("industry"),
            F.from_json(F.get_json_object("enrichment_data", "$.technologies"),
                        "array<string>").alias("technologies"))
        return merge_provider_records(
            records, "company_id", ["name", "domain", "industry"],
            ["technologies"])

    def match_officer_emails(self, emails: DataFrame,
                             company_domains: DataFrame) -> DataFrame:
        """J8 (api_clients.py:1909-1942): match warehouse officers to
        email candidates at their companies' domains — the reference
        loops one Hunter call per officer; here active appointments
        join to domains (the blocking key) and the containment ladder
        scores in one pass.

        ``emails``: email, first_name, last_name, company_domain.
        ``company_domains``: company_id, company_domain."""
        from .operators.entity_resolution import name_match_email_join

        officers = (self.table("officers")
                    .select(F.col("id").alias("officer_id"),
                            F.col("name").alias("officer_name")))
        seats = (self.table("appointments").filter(F.col("is_active"))
                 .select("officer_id", "company_id").distinct())
        placed = (officers.join(seats, "officer_id")
                  .join(F.broadcast(company_domains), "company_id"))
        return name_match_email_join(placed, emails)

    def pick_linkedin_profiles(self, profiles: DataFrame,
                               key: str = "officer_id") -> DataFrame:
        """C32 (api_clients.py:2392-2483): GB filter + city-priority
        pick over raw profile-search results, one row per entity."""
        from .operators.entity_resolution import select_gb_linkedin

        return select_gb_linkedin(profiles, key)

    # -------------------------------------------------------------- exports
    def export_csv(self, df: DataFrame, path: str) -> None:
        write_csv(df, path, single_file=True)

    def export_excel(self, df: DataFrame, path: str) -> None:
        write_excel(df, path)

    def import_excel(self, path: str,
                     sheet_name: str | int = 0) -> DataFrame:
        """Excel upload ingestion (reference S12, app.py:2064-2120):
        pandas/openpyxl when available, stdlib SpreadsheetML codec
        otherwise — un-gated in every environment."""
        from .sources.readers import read_excel
        return read_excel(self.spark, path, sheet_name)

    # ------------------------------------------------------ corpus curation
    def curate_corpus(self, documents: DataFrame,
                      threshold: float = 0.5,
                      keep: str = "min_id") -> DataFrame:
        """Training-corpus curation: Gopher quality filter -> blocked
        near-dup removal; returns surviving document rows.
        ``keep='best_quality'`` makes each near-dup cluster keep its
        highest-quality_score member instead of the min-id one."""
        from .pipelines.corpus import curate_corpus
        return curate_corpus(documents, threshold, keep=keep)

    def prepare_training_corpus(self, documents: DataFrame,
                                **kwargs) -> dict[str, DataFrame]:
        """One call, raw docs -> {'train', 'val', 'report'}: Gopher
        filter -> redact -> (optional) decontaminate -> blocked
        near-dedup -> (optional) quality selection -> leakage-safe
        split -> (optional) chunking. See
        pipelines.corpus.prepare_training_corpus for the knobs."""
        from .pipelines.corpus import prepare_training_corpus
        return prepare_training_corpus(documents, **kwargs)

    def curation_report(self, documents: DataFrame,
                        threshold: float = 0.5) -> DataFrame:
        """Per-language kept-doc/token stats over the curated corpus."""
        from .pipelines.corpus import curation_stats
        return curation_stats(documents, threshold)

    def ingest_documents(self, new_docs: DataFrame, corpus_docs: DataFrame,
                         threshold: float = 0.5,
                         max_block_pairs: float | None = 5_000_000,
                         on_budget_exceeded: str = "raise",
                         pair_path: str = "auto") -> DataFrame:
        """Incremental ingest dedup against an immutable corpus: the
        new-batch rows worth admitting (near-dups of the corpus, or of
        admitted batch-mates, dropped). Past ``max_block_pairs``
        estimated exact-path candidates, 'raise' names remedies and
        'route' switches to the MinHash-LSH incremental pair stage.

        A caller looping this method over batches of ONE logical ingest
        must pin ``pair_path`` to ``'exact'`` or ``'lsh'``: the default
        ``'auto'`` gate decides per call, and a corpus admitted under
        MIXED pair semantics satisfies neither family's no-residual
        invariant (see pipelines.corpus.ingest_documents)."""
        from .pipelines.corpus import ingest_documents
        return ingest_documents(new_docs, corpus_docs, threshold,
                                max_block_pairs=max_block_pairs,
                                on_budget_exceeded=on_budget_exceeded,
                                pair_path=pair_path)

    def diff_corpus(self, old: DataFrame, new: DataFrame) -> DataFrame:
        """Snapshot diff by content fingerprint: added / removed /
        modified (migration verification)."""
        from .operators.curation import corpus_diff
        return corpus_diff(old, new)

    def cap_sources(self, documents: DataFrame, cap: int,
                    source_col: str = "source") -> DataFrame:
        """Per-source frequency cap (RefinedWeb/C4 domain-dominance
        discipline), deterministic md5-ranked keep."""
        from .operators.curation import source_cap
        return source_cap(documents, cap, source_col=source_col)

    def contamination_report(self, documents: DataFrame,
                             benchmark: DataFrame) -> DataFrame:
        """Per-doc contamination fraction vs a benchmark set (the
        GPT-3 dirtiness measure behind the binary decontaminate)."""
        from .operators.curation import contamination_fraction
        return contamination_fraction(documents, benchmark)

    def decontaminate(self, documents: DataFrame, benchmark: DataFrame,
                      shingle_n: int = 5, min_shared: int = 1) -> DataFrame:
        """Drop corpus docs sharing word shingles with an eval set."""
        from .operators.curation import decontaminate
        return decontaminate(documents, benchmark, shingle_n, min_shared)

    def redact_documents(self, documents: DataFrame) -> DataFrame:
        """Scrub emails/phones from the text column."""
        from .operators.curation import redact_documents
        return redact_documents(documents)

    def stratified_sample(self, documents: DataFrame,
                          fractions: dict[str, float],
                          stratum_col: str = "lang",
                          default_fraction: float = 0.0) -> DataFrame:
        """Deterministic per-stratum corpus sampling (md5 hash gate)."""
        from .operators.curation import stratified_sample
        return stratified_sample(documents, fractions, stratum_col,
                                 default_fraction)

    def chunk_documents(self, documents: DataFrame,
                        chunk_tokens: int = 128,
                        overlap: int = 16) -> DataFrame:
        """Fixed-token chunking with overlap (sequence-packing prep)."""
        from .operators.curation import chunk_documents
        return chunk_documents(documents, chunk_tokens, overlap)

    def train_val_split(self, documents: DataFrame, pairs: DataFrame,
                        val_frac: float = 0.1) -> DataFrame:
        """Leakage-safe split: dup clusters never straddle the boundary."""
        from .operators.curation import leakage_safe_split
        return leakage_safe_split(documents, pairs, val_frac)

    def select_top_quality(self, documents: DataFrame, score,
                           keep_frac: float = 0.25) -> DataFrame:
        """Quality-threshold selection at an exact percentile cut."""
        from .operators.curation import select_top_quality
        return select_top_quality(documents, score, keep_frac)

    def dedup_lines(self, documents: DataFrame) -> DataFrame:
        """Cross-document exact line dedup, keep-first-occurrence."""
        from .operators.curation import dedup_lines_keep_first
        return dedup_lines_keep_first(documents)

    def unimax_sample(self, documents: DataFrame,
                      budget_frac: float = 0.3) -> DataFrame:
        """UniMax water-fill language sampling: every language keeps
        min(n_l, theta) tokens of a total token budget."""
        from .operators.curation import unimax_sample
        return unimax_sample(documents, budget_frac)

    def temperature_sample(self, documents: DataFrame,
                           alpha: float = 0.5,
                           stratum_col: str = "lang") -> DataFrame:
        """Temperature-scaled language rebalancing (kept ∝ n^alpha)."""
        from .operators.curation import temperature_sample
        return temperature_sample(documents, alpha, stratum_col)

    def semantic_dedup(self, embeddings: DataFrame,
                       threshold: float = 0.95,
                       relabel_clusters: int | None = None) -> DataFrame:
        """SemDeDup: drop all-but-one of each cosine-near-duplicate
        component within coarse embedding clusters. Pass
        ``relabel_clusters`` (k ∝ corpus size) to re-block on a learned
        k-means codebook — the scale path."""
        from .operators.dedup import semantic_dedup
        return semantic_dedup(embeddings, threshold,
                              relabel_clusters=relabel_clusters)

    def unimax_allocation(self, documents: DataFrame,
                          budget_frac: float = 0.8,
                          epoch_cap: float = 2.0,
                          stratum_col: str = "lang") -> DataFrame:
        """UniMax allocation plan with the paper's epoch cap: tokens
        + epochs per language for the training loader (small
        languages upsample to > 1 epochs)."""
        from .operators.curation import unimax_allocation
        return unimax_allocation(documents, budget_frac, epoch_cap,
                                 stratum_col)

    def mixture_sample(self, documents: DataFrame,
                       weights: dict[str | None, float],
                       budget_frac: float = 0.3,
                       stratum_col: str = "source") -> DataFrame:
        """Explicit-mixture sampling (DoReMi/Pile-style per-source
        target weights) via the weighted water-fill; unlisted strata
        are dropped."""
        from .operators.curation import mixture_sample
        return mixture_sample(documents, weights, budget_frac,
                              stratum_col)

    def winnow_dedup(self, documents: DataFrame,
                     threshold: float = 0.5,
                     max_df: int = 50) -> DataFrame:
        """Near-dup pairs by winnowed-fingerprint overlap coefficient
        (Schleimer et al. 2003 / MOSS) — the local-fingerprinting
        family: catches copy-paste / partial-overlap duplication that
        whole-document sketches dilute away."""
        from .operators.dedup import winnow_pairs
        return winnow_pairs(documents, threshold=threshold,
                            max_df=max_df)

    def token_counts(self, documents: DataFrame) -> DataFrame:
        """Per-doc whitespace + BPE-ish token counts and fertility
        (token-budget planning signal)."""
        from .operators.text_analysis import doc_token_counts
        return doc_token_counts(documents)

    def train_bpe(self, documents: DataFrame, n_merges: int = 8,
                  byte_level: bool = False) -> DataFrame:
        """Learn a BPE merge table (tokenizer training, Sennrich
        2016) from corpus word frequencies: one corpus scan, then
        vocab-sized merge iterations. ``byte_level=True`` trains the
        GPT-2-style byte-level variant (pre-tokenized, every character
        covered) instead of the char-level ^[a-z]+$ mode."""
        from .operators.text_analysis import bpe_merges
        return bpe_merges(documents, n_merges, byte_level=byte_level)

    def bpe_token_budget(self, documents: DataFrame, n_merges: int = 8,
                         byte_level: bool = False) -> DataFrame:
        """Per-doc token counts under the vocabulary ``train_bpe``
        learns from this corpus (train + apply in one call)."""
        from .operators.text_analysis import bpe_token_counts
        return bpe_token_counts(documents, n_merges, byte_level=byte_level)

    def dsir_weights(self, documents: DataFrame, target,
                     num_buckets: int = 65536) -> DataFrame:
        """DSIR-style importance weights of each doc vs a target slice."""
        from .operators.text_analysis import dsir_importance_weights
        return dsir_importance_weights(documents, target, num_buckets)

    def perplexity_buckets(self, documents: DataFrame) -> DataFrame:
        """CCNet-style head/middle/tail terciles of the unigram-LM
        score per language (threshold-based, no per-language sort)."""
        from .operators.text_analysis import perplexity_buckets
        return perplexity_buckets(documents)

    def lm_logprob(self, documents: DataFrame) -> DataFrame:
        """Per-doc mean log-prob under the corpus unigram LM."""
        from .operators.text_analysis import doc_lm_logprob
        return doc_lm_logprob(documents)

    def vocab_report(self, documents: DataFrame) -> DataFrame:
        """Per-language vocabulary QA report (type-token ratio, hapax
        fraction, top-token share)."""
        from .operators.text_analysis import vocab_stats_by_lang
        return vocab_stats_by_lang(documents)

    def bigram_logprob(self, documents: DataFrame,
                       lam: float = 0.75) -> DataFrame:
        """Per-doc mean log-prob under a JM-interpolated bigram LM
        (word-order-sensitive quality signal)."""
        from .operators.text_analysis import doc_bigram_logprob
        return doc_bigram_logprob(documents, lam=lam)

    def search_documents(self, documents: DataFrame, query: str,
                         top_k: int = 25,
                         snippets: bool = False) -> DataFrame:
        """BM25 ranked full-text search in-engine (the reference's ES
        match-query surface): one corpus scan, one-row stats
        broadcast, TakeOrderedAndProject top-k. With ``snippets``,
        each hit carries an ES-style highlight window."""
        from .operators.search import bm25_search, bm25_search_snippets
        if snippets:
            return bm25_search_snippets(documents, query, top_k=top_k)
        return bm25_search(documents, query, top_k=top_k)

    def keywords(self, documents: DataFrame, k: int = 3) -> DataFrame:
        """Per-document top-k TF-IDF keywords (ES significant-terms
        idea per doc) for tagging / faceting a landed corpus."""
        from .operators.search import tfidf_keywords
        return tfidf_keywords(documents, k=k)

    def nb_quality(self, documents: DataFrame,
                   seed_threshold: int = 100) -> DataFrame:
        """Trained Naive-Bayes quality classifier (CCNet/GPT-3 style):
        Laplace log-odds over the capped vocabulary, seeded by the
        heuristic quality score; broadcast model, one corpus
        shuffle."""
        from .operators.text_analysis import naive_bayes_quality
        return naive_bayes_quality(documents,
                                   seed_threshold=seed_threshold)

    def cross_dup_spans(self, documents: DataFrame,
                        window: int = 8) -> DataFrame:
        """Per-doc coverage by cross-document duplicated token spans."""
        from .operators.text_analysis import cross_doc_span_signals
        return cross_doc_span_signals(documents, window)

    def dup_spans(self, documents: DataFrame,
                  window: int = 8) -> DataFrame:
        """Maximal cross-document duplicated token spans (keep-first),
        ready to cut."""
        from .operators.text_analysis import duplicated_spans
        return duplicated_spans(documents, window)

    def remove_dup_spans(self, documents: DataFrame,
                         window: int = 8) -> DataFrame:
        """Exact substring dedup: cut every non-first duplicated span
        out of the corpus (Lee et al.-style span removal)."""
        from .operators.text_analysis import remove_duplicated_spans
        return remove_duplicated_spans(documents, window)

    def normalize_text(self, documents: DataFrame) -> DataFrame:
        """Pre-training text normalization (NFC + control strip +
        whitespace collapse) applied to the text column."""
        from .functions.text import normalize_text_for_training
        from pyspark.sql import functions as F
        return documents.withColumn(
            "text", normalize_text_for_training(F.col("text")))

    def top_terms(self, documents: DataFrame, k: int = 5,
                  sketch: bool = False) -> DataFrame:
        """Per-language top-k terms: exact aggregate by default;
        ``sketch=True`` takes the two-pass Misra-Gries path (still
        exact — certificate + fallback — without the full-vocabulary
        shuffle)."""
        from .operators.text_analysis import (
            top_terms_heavy_hitters,
            top_terms_per_lang,
        )
        if sketch:
            return top_terms_heavy_hitters(documents, k)
        return top_terms_per_lang(documents, k)

    def pack_chunks(self, chunks: DataFrame, documents: DataFrame,
                    budget: int = 512, n_shards: int = 4) -> DataFrame:
        """Sequence-packing bin report (per-bin chunk/token counts)."""
        from .operators.curation import pack_chunks
        return pack_chunks(chunks, documents, budget, n_shards)

    def write_training_shards(self, chunks_with_bins: DataFrame,
                              path: str) -> None:
        """Land packed chunks partitioned by (lang, shard), sorted by
        bin within each file — the training-loader layout."""
        from .sources.writers import write_training_shards
        return write_training_shards(chunks_with_bins, path)

    def ann_topk(self, queries: DataFrame, corpus: DataFrame,
                 k: int = 5, n_clusters: int | None = None,
                 nprobe: int = 2) -> DataFrame:
        """Cosine top-k: exact brute force by default; with
        ``n_clusters`` set, IVF over a spherical k-means codebook
        trained on the corpus (the scale path)."""
        from .operators.similarity_search import (
            brute_force_topk,
            ivf_topk_kmeans,
        )
        if n_clusters is None:
            return brute_force_topk(queries, corpus, k)
        return ivf_topk_kmeans(queries, corpus, k=k,
                               n_clusters=n_clusters, nprobe=nprobe)

    def mine_hard_negatives(self, queries: DataFrame, corpus: DataFrame,
                            k: int = 5, lo: float = 0.3,
                            hi: float = 0.8) -> DataFrame:
        """Contrastive-training hard negatives: per-anchor top-k in
        the cosine band [lo, hi) — below the near-dup zone."""
        from .operators.similarity_search import hard_negatives
        return hard_negatives(queries, corpus, k=k, lo=lo, hi=hi)

    def ann_pq(self, queries: DataFrame, corpus: DataFrame,
               k: int = 5, m: int = 4, ks: int = 8,
               rerank_shortlist: int | None = None) -> DataFrame:
        """Product-quantization ANN (ADC): the memory-bound scale
        path — the corpus is scanned as m small codes per vector, the
        query stays exact. With ``rerank_shortlist`` set, the ADC
        shortlist re-ranks by exact cosine (faiss's refine stage)."""
        from .operators.similarity_search import ann_pq_rerank, ann_pq_topk
        if rerank_shortlist is None:
            return ann_pq_topk(queries, corpus, k=k, m=m, ks=ks)
        return ann_pq_rerank(queries, corpus, k=k, m=m, ks=ks,
                             shortlist=rerank_shortlist)

    def benchmark_containment(self, benchmark: DataFrame,
                              documents: DataFrame,
                              threshold: float = 0.9) -> DataFrame:
        """Benchmark-item-in-training-doc pairs by exact token-set
        containment (the decontamination question n-gram overlap
        approximates): (needle_id, doc_id, containment)."""
        from .operators.dedup import cross_corpus_containment
        return cross_corpus_containment(benchmark, documents,
                                        threshold=threshold)

    def drop_contained_docs(self, documents: DataFrame,
                            threshold: float = 0.9) -> DataFrame:
        """Remove docs whose token set is >= threshold contained in a
        LARGER doc's (truncated mirrors / quote-wrapped subsets) via
        the exact prefix-filter containment join — the predicate
        Jaccard-cluster dedup structurally misses."""
        from .operators.dedup import drop_contained_docs
        return drop_contained_docs(documents, threshold=threshold)

    def project_embeddings(self, embeddings: DataFrame,
                           out_dim: int = 16) -> DataFrame:
        """Johnson-Lindenstrauss Rademacher projection of the
        embedding column to ``out_dim`` dims, exploded as
        (vec_id, pos, value) — the pre-ANN / pre-clustering
        scan-width cut."""
        from .operators.similarity_search import rp_project
        return rp_project(embeddings, out_dim=out_dim)

    def ann_sq8(self, queries: DataFrame, corpus: DataFrame,
                k: int = 5) -> DataFrame:
        """8-bit scalar-quantized cosine top-k: per-dim min/max
        codebook, asymmetric search (full-precision queries against
        the dequantized int8 corpus) — the 4x-smaller-index scan."""
        from .operators.similarity_search import sq8_topk
        return sq8_topk(queries, corpus, k=k)

    def ann_ivfpq(self, queries: DataFrame, corpus: DataFrame,
                  k: int = 5, n_cells: int = 8, m: int = 4,
                  ks: int = 8, nprobe: int = 2) -> DataFrame:
        """Full IVFADC (faiss IVF<n>,PQ<m>): coarse cells prune the
        scan, residual PQ compresses what remains."""
        from .operators.similarity_search import ann_ivfpq_topk
        return ann_ivfpq_topk(queries, corpus, k=k, n_cells=n_cells,
                              m=m, ks=ks, nprobe=nprobe)

    def build_ann_index(self, corpus: DataFrame, path: str,
                        n_cells: int = 8, m: int = 4,
                        ks: int = 8) -> tuple[list, list]:
        """Land an IVFADC index partitioned by coarse cell (the
        inverted lists become the directory layout — searches prune
        at the file level)."""
        from .operators.similarity_search import land_ivfpq_index
        return land_ivfpq_index(corpus, path, n_cells=n_cells,
                                m=m, ks=ks)

    def search_ann_index(self, path: str, queries: DataFrame,
                         k: int = 5, nprobe: int = 2) -> DataFrame:
        """Search a landed IVFADC index with partition pruning."""
        from .operators.similarity_search import search_ivfpq_index
        return search_ivfpq_index(self.spark, path, queries,
                                  k=k, nprobe=nprobe)

    def build_text_index(self, documents: DataFrame, path: str,
                         n_buckets: int = 64) -> dict:
        """Land the BM25 inverted index (postings partitioned by the
        term's hash bucket — query terms prune at the file level) plus
        the one-row stats sidecar. The persistent-ES usage shape:
        scan the corpus once here, serve every later query from the
        index."""
        from .operators.search import land_text_index
        return land_text_index(documents, path, n_buckets=n_buckets)

    def query_text_index(self, path: str, query: str,
                         top_k: int = 25) -> DataFrame:
        """Serve a BM25 hit page from a landed text index — identical
        results to ``search_documents`` on the indexed corpus, at
        index-scan cost (partition pruning to the query's term
        buckets)."""
        from .operators.search import search_text_index
        return search_text_index(self.spark, path, query, top_k=top_k)

    def compact_text_index(self, path: str) -> dict:
        """Compact a landed text index after streaming appends: merge
        the accumulated small files per bucket and un-freeze the
        global stats (the ES merge)."""
        from .operators.search import compact_text_index
        return compact_text_index(self.spark, path)

    def dedup_agreement_report(self, documents: DataFrame,
                               minhash: DataFrame | None = None,
                               simhash: DataFrame | None = None,
                               winnowing: DataFrame | None = None,
                               ) -> DataFrame:
        """Cross-family near-dup agreement audit: MinHash-LSH vs
        SimHash vs winnowing pair-set overlap — the corpus-QA report
        for choosing a dedup family before the full-scale run. Pass
        the landed pair tables to audit WITHOUT recomputing; absent
        families recompute from the corpus."""
        from .operators.dedup import dedup_family_agreement
        return dedup_family_agreement(documents, minhash=minhash,
                                      simhash=simhash,
                                      winnowing=winnowing)

    def hybrid_search(self, documents: DataFrame, embeddings: DataFrame,
                      query: str, query_vec: list[float],
                      top_k: int = 25) -> DataFrame:
        """Hybrid retrieval: BM25 lexical leg + cosine semantic leg
        fused by Reciprocal Rank Fusion (the ES/OpenSearch hybrid
        rule). Per-query corpus scans — for the many-queries shape use
        ``hybrid_search_indexed`` over the landed indexes."""
        from .operators.search import hybrid_search_rrf
        return hybrid_search_rrf(documents, embeddings, query,
                                 query_vec, top_k=top_k)

    def hybrid_search_indexed(self, text_index_path: str,
                              ann_index_path: str, query: str,
                              query_vec: list[float],
                              embeddings: DataFrame,
                              top_k: int = 25) -> DataFrame:
        """Hybrid retrieval served from the LANDED text + IVFPQ
        indexes (both legs partition-prune; the semantic leg
        point-fetches raw floats for the exact re-rank) — per-query
        cost tracks posting/cell mass, not corpus size."""
        from .operators.search import hybrid_search_rrf_indexed
        return hybrid_search_rrf_indexed(
            self.spark, text_index_path, ann_index_path, query,
            query_vec, embeddings, top_k=top_k)

    # ----------------------------------------------------------- automation
    def run_health(self, runs: DataFrame) -> DataFrame:
        """Health verdicts + alert reasons for automation runs against
        the reference's monitoring thresholds."""
        from .operators.monitoring import run_health
        return run_health(runs)

    def run_weekly(self, discovered: DataFrame, companies: DataFrame | None = None):
        """§3.3 weekly automation against the warehouse state."""
        from .pipelines.weekly import run_weekly_pipeline
        companies = companies if companies is not None else (
            self.table("companies").select(
                F.col("id").alias("company_id"), "company_name"))
        existing = self.table("planning_applications")
        return run_weekly_pipeline(discovered, existing, companies)


def _starts_query(method):
    @functools.wraps(method)
    def run(self, *args, **kwargs):
        new_query()
        return method(self, *args, **kwargs)
    return run


# Every public method is one query: it releases what the previous one
# persisted. The readers ``table`` and ``sql`` are not: other methods
# call them while their own query runs.
for _name, _method in list(vars(Engine).items()):
    if (callable(_method) and not _name.startswith("_")
            and _name not in ("table", "sql")):
        setattr(Engine, _name, _starts_query(_method))
