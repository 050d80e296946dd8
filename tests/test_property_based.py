"""Property-based tests (hypothesis) for the invariants the oracle
can't reach: MERGE idempotence/key-uniqueness on arbitrary batches and
connected-components correctness on random graphs. The reference ships
no property tests (SURVEY §5) — these are the engine's guarantees."""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from database_convertor_spark.operators.components import connected_components
from database_convertor_spark.sources.writers import merge_upsert

_slow = settings(max_examples=10, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])

_batches = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 1000), st.text("ab", max_size=3)),
    min_size=1, max_size=20)

_edges = st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)),
                  min_size=1, max_size=25)


@given(batch1=_batches, batch2=_batches)
@_slow
def test_merge_upsert_key_unique_and_latest_wins(spark, tmp_path_factory,
                                                 batch1, batch2):
    path = os.path.join(tmp_path_factory.mktemp("merge"), "t")
    df1 = spark.createDataFrame(batch1, ["k", "v", "s"])
    df2 = spark.createDataFrame(batch2, ["k", "v", "s"])
    merge_upsert(spark, path, df1, keys=["k"])
    merged = merge_upsert(spark, path, df2, keys=["k"])
    rows = merged.collect()
    keys = [r.k for r in rows]
    # invariant 1: exactly one row per key
    assert len(keys) == len(set(keys))
    # invariant 2: every key from either batch is present
    assert set(keys) == {b[0] for b in batch1} | {b[0] for b in batch2}
    # invariant 3: batch2 rows win on overlapping keys
    b2_keys = {b[0] for b in batch2}
    b2_vals = {r.k: (r.v, r.s) for r in df2.dropDuplicates(["k"]).collect()}
    for r in rows:
        if r.k in b2_keys:
            assert (r.v, r.s) == b2_vals[r.k]


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@given(edges=_edges)
@_slow
def test_connected_components_random_graphs(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _union_find(edges)


# -------------------------------------------------- D6 provider-merge model
_provider_rows = st.lists(
    st.tuples(st.integers(0, 4),                       # entity
              st.sampled_from(["clearbit", "hunter", "apollo"]),
              st.one_of(st.none(), st.text("xy", min_size=1, max_size=3)),
              st.one_of(st.none(),
                        st.lists(st.text("pq", min_size=1, max_size=2),
                                 max_size=3))),
    min_size=1, max_size=25)

_PRIO = {"clearbit": 1, "hunter": 2, "apollo": 3}


def _merge_model(rows):
    """Driver-side reference model of the reference's field loop
    (data_enrichment.py:186-240)."""
    out = {}
    for ent in {r[0] for r in rows}:
        mine = sorted((r for r in rows if r[0] == ent),
                      key=lambda r: _PRIO[r[1]])
        name = src = None
        for _, prov, val, _t in mine:
            if val is not None:
                name, src = val, prov
                break
        techs = sorted({t for r in mine if r[3] for t in r[3]})
        out[ent] = (name, src, techs, len(mine))
    return out


@given(rows=_provider_rows)
@_slow
def test_provider_merge_matches_model(spark, rows):
    from database_convertor_spark.operators.provider_merge import (
        merge_provider_records,
    )
    # one row per (entity, provider): the reference's dict-of-providers
    # shape; dedupe the generated batch the same way
    seen, uniq = set(), []
    for r in rows:
        if (r[0], r[1]) not in seen:
            seen.add((r[0], r[1]))
            uniq.append(r)
    df = spark.createDataFrame(
        [(e, p, _PRIO[p], v, t) for e, p, v, t in uniq],
        "entity long, provider string, priority int, name string, "
        "technologies array<string>")
    got = {r.entity: (r.name, r.name_source, r.technologies, r.n_providers)
           for r in merge_provider_records(
               df, "entity", ["name"], ["technologies"]).collect()}
    assert got == _merge_model(uniq)


# ------------------------------------------------ chunking invariants
_doc_texts = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=120),
    min_size=1, max_size=8)


@given(texts=_doc_texts,
       chunk=st.integers(2, 12), overlap=st.integers(0, 6))
@_slow
def test_chunk_documents_invariants(spark, texts, chunk, overlap):
    """For any text and any (chunk, overlap < chunk): concatenating the
    chunks minus their overlap prefixes reconstructs the token stream
    exactly, every chunk is <= chunk tokens, and consecutive chunks
    share exactly min(overlap, remaining) leading tokens."""
    from hypothesis import assume

    from database_convertor_spark.operators.curation import chunk_documents

    assume(overlap < chunk)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    out = chunk_documents(docs, chunk_tokens=chunk, overlap=overlap)
    rows = sorted((r.doc_id, r.chunk_id, r.chunk_text)
                  for r in out.collect())
    stride = chunk - overlap
    for doc_id, text in enumerate(texts):
        toks = [t for t in text.split() if t]
        mine = [r[2].split() if r[2] else [] for r in rows
                if r[0] == doc_id]
        assert len(mine) >= 1                      # even empty docs chunk
        assert all(len(c) <= chunk for c in mine)
        # reconstruction: chunk 0 whole, then drop the overlap prefix
        rebuilt = list(mine[0])
        for c in mine[1:]:
            rebuilt.extend(c[overlap:])
        assert rebuilt == toks


# --------------------------------------- incremental dedup invariant
_corpus = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=40),
    min_size=2, max_size=14)


@given(texts=_corpus, split_mod=st.integers(2, 4))
@_slow
def test_incremental_pairs_invariant_random_corpora(spark, texts, split_mod):
    """pairs(new ∪ corpus) = incremental(new, corpus) ⊎ pairs(corpus)
    for ANY corpus and ANY disjoint split — the ingest operator finds
    exactly the pairs the batch operator would add, never re-finding
    or missing one."""
    from pyspark.sql import functions as F

    from database_convertor_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, t, "en", len(t)) for i, t in enumerate(texts)],
        ["doc_id", "text", "lang", "n_chars"])
    new = docs.filter(F.col("doc_id") % split_mod == 0)
    corpus = docs.filter(F.col("doc_id") % split_mod != 0)
    full = {tuple(r) for r in dedup.ngram_jaccard_pairs(docs).collect()}
    inc = {tuple(r) for r in
           dedup.ngram_jaccard_pairs_incremental(new, corpus).collect()}
    old = {tuple(r) for r in dedup.ngram_jaccard_pairs(corpus).collect()}
    assert inc | old == full
    assert inc & old == set()


# ------------------------------------------- boilerplate removal laws
_bp_texts = st.lists(st.text(alphabet="xy \n", max_size=60),
                     min_size=1, max_size=10)


@given(texts=_bp_texts)
@_slow
def test_boilerplate_identity_and_idempotence(spark, texts):
    """min_docs above the corpus size = identity (split/rejoin is
    lossless); at any min_docs the operator is idempotent (survivor
    lines have frequency < min_docs by construction)."""
    from database_convertor_spark.operators.curation import (
        remove_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    ident = {r.doc_id: r.text
             for r in remove_boilerplate_lines(docs,
                                               min_docs=len(texts) + 1)
             .collect()}
    assert ident == {i: t for i, t in enumerate(texts)}
    once = remove_boilerplate_lines(docs, min_docs=2)
    twice = remove_boilerplate_lines(once, min_docs=2)
    assert (sorted(map(tuple, once.collect()))
            == sorted(map(tuple, twice.collect())))


_line_texts = st.lists(
    st.lists(st.sampled_from(["alpha beta", "gamma", "shared line",
                              "delta five", "", "  ",
                              # tab-bearing cases: a tab-only line is
                              # BLANK (str.strip semantics, not trim's
                              # space-only), and tab-padded content
                              # dedups against its space-padded twin
                              "\t", "\tshared line\t", " shared line "]),
             min_size=1, max_size=5).map(lambda ls: "\n".join(ls)),
    min_size=1, max_size=8)


@given(texts=_line_texts)
@_slow
def test_line_dedup_keep_first_model(spark, texts):
    """Keep-first line dedup against a 20-line python model: every
    non-blank trimmed line survives exactly once corpus-wide, at its
    minimal (doc_id, pos); blank lines always survive; doc order
    preserved; the pass is idempotent."""
    from database_convertor_spark.operators.curation import (
        dedup_lines_keep_first,
    )
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = {r.doc_id: r.text
           for r in dedup_lines_keep_first(docs).collect()}

    seen: set[str] = set()
    model: dict[int, str] = {}
    for i, t in enumerate(texts):
        kept = []
        for line in t.split("\n"):
            k = line.strip()
            if k == "":
                kept.append(line)
            elif k not in seen:
                seen.add(k)
                kept.append(line)
        joined = "\n".join(kept)
        if joined.strip("\n\t "):
            model[i] = joined
    assert out == model

    # idempotence (explicit schema: `out` may be empty)
    again = {r.doc_id: r.text for r in dedup_lines_keep_first(
        spark.createDataFrame(sorted(out.items()),
                              "doc_id long, text string")
    ).collect()}
    assert again == out


_chunk_rows = st.lists(
    st.tuples(st.sampled_from(["en", "fr", "zh"]), st.integers(1, 40)),
    min_size=1, max_size=30)


@given(rows=_chunk_rows, budget=st.sampled_from([16, 64]))
@_slow
def test_pack_chunks_model(spark, rows, budget):
    """Bin assignment against the sequential python model: chunks laid
    end-to-end per (lang, shard) in (doc_id, chunk_id) order, a chunk
    belongs to the bin where its first token falls."""
    from database_convertor_spark.operators.curation import (
        assign_chunk_bins,
    )
    from database_convertor_spark.functions.text import md5_long
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, lang) for i, (lang, _) in enumerate(rows)],
        ["doc_id", "lang"])
    chunks = spark.createDataFrame(
        [(i, 0, n) for i, (_, n) in enumerate(rows)],
        ["doc_id", "chunk_id", "n_tokens"])
    got = {(r.doc_id): (r.lang, r.shard, r.bin_id)
           for r in assign_chunk_bins(chunks, docs, budget=budget,
                                      n_shards=2).collect()}

    shard_of = {r.doc_id: r.s for r in docs.select(
        "doc_id", (md5_long(F.concat(F.lit("pack"),
                                     F.col("doc_id").cast("string")))
                   % 2).alias("s")).collect()}
    streams: dict[tuple, int] = {}
    for i, (lang, n) in enumerate(rows):     # doc_id order == input order
        key = (lang, shard_of[i])
        start = streams.get(key, 0)
        assert got[i] == (lang, shard_of[i], start // budget), (i, rows)
        streams[key] = start + n


_unimax_corpora = st.lists(
    st.tuples(st.sampled_from(["en", "fr", "de", None]),
              st.integers(0, 6)),      # (lang, token count per doc)
    min_size=1, max_size=30)


@given(rows=_unimax_corpora,
       frac=st.sampled_from([0.2, 0.5, 0.9]))
@_slow
def test_unimax_sample_matches_water_fill_model(spark, rows, frac):
    """unimax_sample vs the pure-Python water-fill + md5-gate model on
    random corpora: the kept doc SET matches exactly -- random language
    mixes, NULL langs, empty docs, and the no-overflow (budget >=
    corpus) regime all covered. (Tie order between equal-count strata
    differs from Spark's sentinel ordering, but water-fill shares are
    invariant to the order of equal counts.)"""
    import hashlib
    import math

    from database_convertor_spark.operators.curation import unimax_sample

    docs = spark.createDataFrame(
        [(i, lang, " ".join(f"t{j}" for j in range(n)))
         for i, (lang, n) in enumerate(rows)],
        "doc_id long, lang string, text string")
    got = sorted(r.doc_id for r in
                 unimax_sample(docs, budget_frac=frac).collect())

    n_by = {}
    for lang, n in rows:
        k = lang if lang is not None else "<null>"
        n_by[k] = n_by.get(k, 0) + n
    budget = sum(n_by.values()) * frac
    theta, csum = math.inf, 0
    langs = sorted(n_by, key=lambda k: (n_by[k], k))
    for i, k in enumerate(langs):
        share = (budget - csum) / (len(langs) - i)
        if n_by[k] > share:
            theta = share
            break
        csum += n_by[k]
    gates = {k: round(round(min(1.0, theta / n), 6) * 1e6) if n > 0
             else 1_000_000
             for k, n in n_by.items()}

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    expect = sorted(
        i for i, (lang, _n) in enumerate(rows)
        if h60("unimax" + str(i)) % 1_000_000
        < gates[lang if lang is not None else "<null>"])
    assert got == expect


_winnow_texts = st.lists(
    st.text(st.sampled_from("ab cd"), max_size=40), min_size=1, max_size=8)


@given(texts=_winnow_texts, k=st.integers(2, 6), w=st.integers(1, 5))
@_slow
def test_winnow_fingerprints_match_python_model(spark, texts, k, w):
    """Random short texts over a tiny alphabet (dense hash collisions,
    heavy whitespace) against the pure-Python winnowing model at
    random (k, w) — the engine-vs-model twin of the golden suite's
    fixed-parameter cases."""
    import hashlib
    import re as _re

    from database_convertor_spark.operators.dedup import winnow_fingerprints

    def model(text):
        norm = _re.sub(r"\s+", " ", text.lower()).strip(" ")
        m = len(norm) - k + 1
        hs = [int(hashlib.md5(norm[i:i + k].encode()).hexdigest()[:15], 16)
              for i in range(max(m, 0))]
        if not hs:
            return set()
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {(r.doc_id, r.fp)
           for r in winnow_fingerprints(df, k=k, w=w).collect()}
    want = {(i, fp) for i, t in enumerate(texts) for fp in model(t)}
    assert got == want


def test_simhash_banding_invariance_and_guard(spark):
    """The Manku multi-block banding chooses COST, not results: any
    valid (n_blocks, key_blocks) emits the identical verified pair
    set (the old 4x15 single-chunk scheme included, as key_blocks=1);
    a banding that voids the pigeonhole guarantee raises."""
    import pytest

    from database_convertor_spark.operators.dedup import simhash_pairs
    from database_convertor_spark.sources.readers import read_table

    from .conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents").filter(
        "doc_id < 200")
    new = {tuple(r) for r in simhash_pairs(docs).collect()}
    old = {tuple(r) for r in simhash_pairs(
        docs, n_blocks=4, key_blocks=1).collect()}
    assert new == old and new
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs, max_hamming=3, n_blocks=4, key_blocks=2)


def test_semantic_dedup_third_decade_caps(spark):
    """The r7 third-decade remedies engage by default past their
    thresholds: the auto-sized k caps at max_relabel_clusters, and
    the codebook fit runs on a deterministic sample when the corpus
    exceeds relabel_fit_rows — while planted exact twins still dedup
    (one survivor per twin pair) and the result stays a subset of the
    input."""
    import warnings

    from pyspark.sql import functions as F

    from database_convertor_spark.operators.dedup import semantic_dedup
    from database_convertor_spark.sources.readers import read_table

    from .conftest import SF_SMALL

    emb = read_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 200)
    twins = emb.select((F.col("vec_id") + 5000).alias("vec_id"),
                       F.transform(F.col("embedding"),
                                   lambda x: x * 2).alias("embedding"),
                       "label")
    base = emb.unionByName(twins)          # 400 rows, every row twinned
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = semantic_dedup(base, threshold=0.99,
                             auto_relabel_label_size=5,
                             max_relabel_clusters=7,
                             relabel_fit_rows=150)
        msgs = " ".join(str(x.message) for x in w)
    assert "CAPPED" in msgs            # k = ceil(400/5) = 80 -> 7
    assert "md5-gated sample" in msgs  # 400 > 150 engages the sample fit
    ids = {r.vec_id for r in out.select("vec_id").collect()}
    assert ids <= {r.vec_id for r in base.select("vec_id").collect()}
    # every twin pair lost exactly one member (cosine exactly 1.0 is
    # in-band at any threshold; the capped/sampled codebook cannot
    # split an identical-direction pair across labels)
    for i in range(200):
        assert (i in ids) != (i + 5000 in ids) or (
            i in ids and i + 5000 in ids) is False
    assert len(ids) == 200


def test_dedup_family_agreement_recomputes_from_families(spark):
    """The agreement report's counts must equal set arithmetic over
    the three families' own pair outputs — no independent similarity
    logic hides in the audit."""
    from database_convertor_spark.operators.dedup import (
        dedup_family_agreement,
        minhash_lsh_pairs,
        simhash_pairs,
        winnow_pairs,
    )
    from database_convertor_spark.sources.readers import read_table

    from .conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents")
    sets = {
        "minhash": {(r.doc_a, r.doc_b)
                    for r in minhash_lsh_pairs(docs).collect()},
        "simhash": {(r.doc_a, r.doc_b)
                    for r in simhash_pairs(docs).collect()},
        "winnowing": {(r.doc_a, r.doc_b)
                      for r in winnow_pairs(docs).collect()},
    }
    got = {(r.family_a, r.family_b): r
           for r in dedup_family_agreement(docs).collect()}
    assert set(got) == {("minhash", "simhash"), ("minhash", "winnowing"),
                        ("simhash", "winnowing")}
    for (fa, fb), r in got.items():
        assert r.n_a == len(sets[fa]) and r.n_b == len(sets[fb])
        both = len(sets[fa] & sets[fb])
        assert r.n_both == both
        low = min(r.n_a, r.n_b)
        want = round(both / low, 4) if low else None
        assert r.agreement == want


def test_dedup_family_agreement_accepts_precomputed_pairs(spark):
    """r7 verdict item: a real 100 TB audit already HAS its pair
    tables landed — supplying them must produce the identical report
    without recomputing any family (and a partial supply recomputes
    only the absent families)."""
    from database_convertor_spark.operators.dedup import (
        dedup_family_agreement,
        minhash_lsh_pairs,
        simhash_pairs,
        winnow_pairs,
    )
    from database_convertor_spark.sources.readers import read_table

    from .conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents").filter("doc_id < 300")
    mh = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    sh = simhash_pairs(docs).select("doc_a", "doc_b")
    wn = winnow_pairs(docs).select("doc_a", "doc_b")

    recomputed = sorted(tuple(r) for r in
                        dedup_family_agreement(docs).collect())
    supplied = sorted(tuple(r) for r in dedup_family_agreement(
        docs, minhash=mh, simhash=sh, winnowing=wn).collect())
    partial = sorted(tuple(r) for r in dedup_family_agreement(
        docs, simhash=sh).collect())
    assert supplied == recomputed == partial


def test_simhash_candidate_mass_gate(spark):
    """r8 gate (added after the sf100 probe filled 77 GB of shuffle
    on a dense-dup corpus): a tiny budget must raise naming the
    remedies BEFORE the quadratic join runs; a None budget and the
    default budget produce the identical pair set."""
    from database_convertor_spark.operators.dedup import simhash_pairs
    from database_convertor_spark.sources.readers import read_table

    from .conftest import SF_SMALL

    import pytest

    docs = read_table(spark, SF_SMALL, "documents").filter("doc_id < 200")
    with pytest.raises(ValueError, match="max_candidate_pairs"):
        simhash_pairs(docs, max_candidate_pairs=1).collect()
    gated = {tuple(r) for r in simhash_pairs(docs).collect()}
    forced = {tuple(r) for r in simhash_pairs(
        docs, max_candidate_pairs=None).collect()}
    assert gated == forced and gated


def test_minhash_candidate_mass_gate(spark):
    """Round-10 gate (the family's last ungated member): a hot band
    bucket — here an exact-dup cluster, which agrees in EVERY band —
    must trip a tiny budget BEFORE the self-join, naming dedup_exact
    as the first remedy; the named remedy (collapse exact duplicates
    first) then completes under the same budget; a None budget and the
    default budget produce the identical pair set."""
    import pytest
    from pyspark.sql import functions as F

    from database_convertor_spark.operators.dedup import (
        drop_exact_duplicates,
        minhash_lsh_pairs,
    )
    from database_convertor_spark.sources.readers import read_table

    from .conftest import SF_SMALL

    base = read_table(spark, SF_SMALL, "documents").filter("doc_id < 60")
    hot = spark.range(1000, 1040).select(
        F.col("id").alias("doc_id"),
        F.lit("the same hot document text repeated verbatim in every "
              "copy of this pathological slice").alias("text"),
        F.lit("en").alias("lang"), F.lit("skew").alias("source"),
        F.lit(95).cast("long").alias("n_chars"))
    docs = base.unionByName(hot)

    # 40 identical docs: C(40,2)=780 candidates per band x 8 bands
    with pytest.raises(ValueError, match="drop_exact_duplicates"):
        minhash_lsh_pairs(docs, max_candidate_pairs=1000).collect()

    # the named remedy completes under the SAME budget: exact dedup
    # collapses the hot cluster to one representative
    collapsed = drop_exact_duplicates(docs)
    pairs = minhash_lsh_pairs(collapsed, max_candidate_pairs=1000)
    assert pairs.count() >= 0   # completes, no raise

    # gated vs ungated: identical results when under budget
    gated = {tuple(r) for r in minhash_lsh_pairs(base).collect()}
    forced = {tuple(r) for r in minhash_lsh_pairs(
        base, max_candidate_pairs=None).collect()}
    assert gated == forced
