"""The Arrow/numpy GEMM top-k must be row-for-row identical to the
HOF-expression baseline (same semantics, different execution)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from database_convertor_spark.operators.similarity_search import (
    brute_force_topk,
    brute_force_topk_numpy,
)
from database_convertor_spark.sources.readers import read_table

from .conftest import SF_SMALL


def test_numpy_topk_equals_expression_topk(spark):
    emb = read_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(emb.vec_id < 5)
    a = sorted(map(tuple, brute_force_topk(queries, emb, k=5).collect()))
    b = sorted(map(tuple, brute_force_topk_numpy(queries, emb, k=5).collect()))
    assert a == b


def test_multiprobe_all_buckets_equals_brute_force(spark):
    """nprobe = n_labels degenerates multi-probe IVF to an exact
    search — the recall lever's correctness anchor."""
    from database_convertor_spark.operators.similarity_search import (
        ivf_topk_multiprobe,
    )
    emb = read_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(emb.vec_id < 5)
    n_labels = emb.select("label").distinct().count()
    a = sorted(map(tuple, brute_force_topk(queries, emb, k=5).collect()))
    b = sorted(map(tuple,
                   ivf_topk_multiprobe(queries, emb, k=5,
                                       nprobe=n_labels).collect()))
    assert a == b


def test_numpy_topk_empty_queries_returns_empty(spark):
    """An empty query frame must short-circuit to an empty, correctly
    typed result — not crash in np.vstack before any Spark work."""
    emb = read_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(emb.vec_id < 0)
    out = brute_force_topk_numpy(queries, emb, k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "rank", "cosine"]
    # id types follow the input, not a hardcoded bigint
    assert dict(out.dtypes)["query_id"] == dict(emb.dtypes)["vec_id"]


def test_numpy_topk_broadcast_guard_raises(spark, monkeypatch):
    """The query set is broadcast by contract; above the size bound the
    operator must refuse loudly instead of OOMing the driver."""
    import pytest

    from database_convertor_spark.operators import similarity_search as ss

    emb = read_table(spark, SF_SMALL, "embeddings")
    monkeypatch.setattr(ss, "MAX_BROADCAST_QUERIES", 3)
    with pytest.raises(ValueError, match="broadcasts the query set"):
        ss.brute_force_topk_numpy(emb.filter(emb.vec_id < 10), emb, k=2)


# ------------------------------------------------------- k-means IVF
def test_kmeans_matches_numpy_lloyds(spark):
    """The distributed loop IS Lloyd's: same deterministic init, same
    5 rounds recomputed in numpy must give the same codebook (to FP
    tolerance) and the same argmin assignment."""
    import numpy as np

    from database_convertor_spark.functions.text import md5_long
    from database_convertor_spark.operators.similarity_search import (
        kmeans_assign,
        kmeans_fit,
    )
    emb = read_table(spark, SF_SMALL, "embeddings")
    k, n_iter = 4, 3
    cents, inertia = kmeans_fit(emb, k=k, n_iter=n_iter)
    # inertia (computed on the PRE-update assignment each round) never
    # increases across Lloyd iterations
    assert all(b <= a + 1e-9 for a, b in zip(inertia, inertia[1:]))

    pdf = (emb.select("vec_id",
                      F.col("embedding").cast("array<double>").alias("v"),
                      md5_long(F.col("vec_id").cast("string")).alias("h"))
           .toPandas())
    X = np.vstack(pdf["v"].to_numpy())
    init_idx = pdf.sort_values(["h", "vec_id"]).index[:k]
    C = X[init_idx].copy()
    for _ in range(n_iter):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(k):
            if (a == c).any():
                C[c] = X[a == c].mean(axis=0)
    assert np.allclose(np.array(cents), C, atol=1e-8)

    got = {r.vec_id: r.cluster_id
           for r in kmeans_assign(emb, cents).collect()}
    d = ((X[:, None, :] - np.array(cents)[None, :, :]) ** 2).sum(axis=2)
    want = dict(zip(pdf["vec_id"].to_numpy(), d.argmin(axis=1)))
    assert got == {int(k_): int(v) for k_, v in want.items()}


def test_ivf_kmeans_full_probe_equals_brute_force(spark):
    """nprobe = n_clusters degenerates learned-codebook IVF to exact
    search — same anchor as the label-IVF multiprobe test."""
    from database_convertor_spark.operators.similarity_search import (
        ivf_topk_kmeans,
    )
    emb = read_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(emb.vec_id < 5)
    a = sorted(map(tuple, brute_force_topk(queries, emb, k=5).collect()))
    b = sorted(map(tuple, ivf_topk_kmeans(queries, emb, k=5, n_clusters=4,
                                          n_iter=3, nprobe=4).collect()))
    assert a == b


def test_ivf_kmeans_multiprobe_recall_beats_chance(spark):
    """At nprobe=2 of 8 trained buckets, recall@5 must clearly beat
    the random-bucketing floor (nprobe/n_clusters = 0.25). The driver
    embeddings are near-uniform in 64-dim — the hardest case for any
    coarse quantizer (cosine neighbors barely separate from the
    bulk), so the spherical codebook earning ~1.8x chance (measured
    0.45) is the signal that bucketing follows the search metric;
    absolute-recall guarantees belong to real, clustered corpora."""
    from database_convertor_spark.operators.similarity_search import (
        ivf_topk_kmeans,
    )
    emb = read_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(emb.vec_id < 20)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(queries, emb, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ivf_topk_kmeans(queries, emb, k=5, n_clusters=8,
                                       n_iter=5, nprobe=2).collect()}
    assert len(approx & exact) / len(exact) >= 0.4  # chance = 0.25


def test_srp_numpy_signatures_match_expression(spark):
    """The r10 Arrow-batched SRP signature kernel is bit-identical to
    the ``srp_band_keys`` expression path it replaced (same fold
    order, exact +-1 products, round(.,6)>=0 == dot > -5e-7): every
    fixture vector, the planted near-twins included, gets the same
    band keys from both engines."""
    from database_convertor_spark.operators.dedup import (
        _srp_signatures,
        srp_band_keys,
    )

    emb = read_table(spark, SF_SMALL, "embeddings")
    twin = F.concat(F.array(F.lit(0.0).cast("float")),
                    F.slice(F.col("embedding"), 2, 63))
    base = (emb.select("vec_id", "embedding")
            .unionByName(emb.filter(F.col("vec_id") < 100)
                         .select((F.col("vec_id") + 100000).alias("vec_id"),
                                 twin.alias("embedding"))))
    e = base.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_emb"))
    want = {r.vec_id: list(r.b) for r in e.select(
        "vec_id", srp_band_keys(F.col("_emb"), 64).alias("b")).collect()}
    got = {r.vec_id: list(r._bands)
           for r in _srp_signatures(e, 64, 128, 16).collect()}
    assert got == want
    # the kernel must also round-trip the vectors unchanged
    back = {r.vec_id: list(r._emb)
            for r in _srp_signatures(e, 64, 128, 16).collect()}
    orig = {r.vec_id: list(r._emb) for r in e.collect()}
    assert back == orig


def test_srp_pairs_recover_planted_twins_without_labels(spark):
    """SRP-LSH embedding near-dup: scaled twins (cosine exactly 1.0)
    produce IDENTICAL signatures, so recall on them is certain — and
    the input carries NO label column at all."""
    from database_convertor_spark.operators.dedup import (
        embedding_srp_pairs,
        srp_band_keys,
    )

    emb = read_table(spark, SF_SMALL, "embeddings") \
        .select("vec_id", "embedding").filter(F.col("vec_id") < 60)
    twins = emb.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 2).alias("embedding"))
    pairs = embedding_srp_pairs(emb.unionByName(twins)).collect()
    got = {(r.vec_a, r.vec_b) for r in pairs}
    want = {(i, i + 1000) for i in range(60)}
    assert want <= got                      # every planted twin found
    for r in pairs:
        if (r.vec_a, r.vec_b) in want:
            assert r.cosine == 1.0          # scaling preserves cosine
    # band keys are deterministic pure expressions
    s1 = emb.select(srp_band_keys(
        F.col("embedding").cast("array<double>"), 64).alias("s")).collect()
    s2 = emb.select(srp_band_keys(
        F.col("embedding").cast("array<double>"), 64).alias("s")).collect()
    assert [r.s for r in s1] == [r.s for r in s2]
    assert all(len(r.s) == 8 for r in s1)    # 8 bands of 16 bits


def test_pq_encode_shape_and_determinism(spark):
    """Codes: m ints in [0, ks); two runs produce identical codes
    (deterministic md5 init + fixed iteration count)."""
    from database_convertor_spark.operators.similarity_search import (
        pq_encode,
        pq_fit,
    )
    emb = read_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 100)
    books = pq_fit(emb, m=4, ks=8, n_iter=2)
    assert len(books) == 4 and all(len(b) <= 8 for b in books)
    assert all(len(c) == 16 for b in books for c in b)
    c1 = {r.vec_id: list(r.codes) for r in pq_encode(emb, books).collect()}
    c2 = {r.vec_id: list(r.codes) for r in pq_encode(emb, books).collect()}
    assert c1 == c2
    assert all(len(v) == 4 and all(0 <= x < 8 for x in v)
               for v in c1.values())


def test_pq_adc_is_exact_on_quantizable_corpus(spark):
    """When the corpus is built from <= ks distinct sub-patterns per
    subspace, quantization is lossless and the ADC distance equals the
    TRUE squared L2 — the property that separates a correct ADC
    implementation from a plausible one."""
    import itertools

    from database_convertor_spark.operators.similarity_search import (
        ann_pq_topk,
    )

    pats = {0: [1.0] * 16, 1: [-1.0] * 16, 2: [0.5] * 8 + [-0.5] * 8}
    combos = list(itertools.product([0, 1, 2], repeat=2))[:9]
    # 9 vectors over 4 subspaces: subspaces 0/1 vary, 2/3 fixed
    vecs = {i: pats[a] + pats[b] + pats[0] + pats[1]
            for i, (a, b) in enumerate(combos)}
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>")
    got = ann_pq_topk(emb.filter("vec_id = 0"), emb, k=8,
                      m=4, ks=8, n_iter=2).collect()
    q = vecs[0]
    for r in got:
        true_d2 = sum((a - b) ** 2 for a, b in zip(q, vecs[r.neighbor_id]))
        assert abs(r.adist - true_d2) < 1e-3, (r, true_d2)


def test_pq_planted_duplicate_ranks_first(spark):
    """An exact duplicate shares every code with the query, so its
    ADC distance is the minimum possible — it must rank at the top."""
    from database_convertor_spark.operators.similarity_search import (
        ann_pq_topk,
    )
    emb = read_table(spark, SF_SMALL, "embeddings") \
        .select("vec_id", "embedding").filter(F.col("vec_id") < 80)
    dup = emb.filter("vec_id = 3").select(
        F.lit(9003).cast("long").alias("vec_id"), "embedding")
    corpus = emb.unionByName(dup)
    got = ann_pq_topk(corpus.filter("vec_id = 3"), corpus, k=3,
                      m=4, ks=8, n_iter=2).collect()
    top = [r.neighbor_id for r in got if r.query_id == 3]
    assert 9003 in top[:2], top


def test_pq_rerank_recall_beats_plain_adc(spark):
    """The refine stage exists to buy back recall lost to
    quantization: with a 25-candidate shortlist over 80 vectors,
    exact-cosine re-ranked recall@5 must be at least the plain ADC
    ranking's recall@5 — and both must clearly beat chance."""
    from database_convertor_spark.operators.similarity_search import (
        ann_pq_rerank,
        ann_pq_topk,
    )
    emb = read_table(spark, SF_SMALL, "embeddings") \
        .filter(F.col("vec_id") < 80)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(queries, emb, k=5).collect()}
    adc = {(r.query_id, r.neighbor_id)
           for r in ann_pq_topk(queries, emb, k=5, m=4, ks=8,
                                n_iter=2).collect()}
    rer = {(r.query_id, r.neighbor_id)
           for r in ann_pq_rerank(queries, emb, k=5, m=4, ks=8,
                                  n_iter=2, shortlist=25).collect()}
    r_adc = len(adc & exact) / len(exact)
    r_rer = len(rer & exact) / len(exact)
    assert r_rer >= r_adc
    assert r_rer >= 0.3  # chance ~ 5/79
    # a full-corpus shortlist degenerates to exact search
    full = {(r.query_id, r.neighbor_id)
            for r in ann_pq_rerank(queries, emb, k=5, m=4, ks=8,
                                   n_iter=2, shortlist=79).collect()}
    assert full == exact


def test_hard_negatives_band_semantics(spark):
    """Every mined negative's cosine sits in [lo, hi); near-duplicates
    above the band are EXCLUDED (a planted twin must not appear); the
    band degenerating to [-1, 1) plus near-dups removed equals brute
    force minus the above-band hits."""
    from database_convertor_spark.operators.similarity_search import (
        hard_negatives,
    )
    emb = read_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 60)
    twin = emb.filter("vec_id = 2").select(
        F.lit(9002).cast("long").alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 2).alias("embedding"),
        "label")
    corpus = emb.unionByName(twin)
    queries = corpus.filter("vec_id = 2")
    # the fixture embeddings are near-orthogonal (pair cosines cluster
    # around 0), so the informative band sits just above 0; the
    # planted twin at cosine 1.0 is far above hi
    got = hard_negatives(queries, corpus, k=10, lo=0.0, hi=0.2).collect()
    assert got, "band should not be empty on this fixture"
    for r in got:
        assert 0.0 <= r.cosine < 0.2
    assert all(r.neighbor_id != 9002 for r in got)  # twin (cos=1) excluded
    # rank is dense from 1 and ordered by cosine desc
    ranks = [r.rank for r in sorted(got, key=lambda r: -r.cosine)]
    assert ranks == list(range(1, len(got) + 1))


def test_ivfpq_planted_duplicate_in_probed_cell_ranks_first(spark):
    """An exact duplicate lands in the query's own cell with the
    query's own residual codes — the first probe finds it at the
    minimum possible ADC distance."""
    from database_convertor_spark.operators.similarity_search import (
        ann_ivfpq_topk,
    )
    emb = read_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 80)
    dup = emb.filter("vec_id = 7").select(
        F.lit(9007).cast("long").alias("vec_id"), "embedding", "label")
    corpus = emb.unionByName(dup)
    got = ann_ivfpq_topk(corpus.filter("vec_id = 7"), corpus, k=3,
                         n_cells=4, m=4, ks=8, n_iter=2,
                         nprobe=1).collect()
    top = [r.neighbor_id for r in got]
    assert 9007 in top[:2], top


def test_ivfpq_results_come_only_from_probed_cells(spark):
    """nprobe=1 must return neighbors exclusively from the query's
    nearest coarse cell — the pruning contract (and, with all cells
    probed, the candidate set covers the corpus)."""
    from database_convertor_spark.operators.similarity_search import (
        ann_ivfpq_topk,
        kmeans_assign,
        kmeans_fit,
    )
    emb = read_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 80)
    cents, _ = kmeans_fit(emb, k=4, n_iter=2)
    cents = [[round(x, 9) for x in c] for c in cents]
    cells = {r.vec_id: r.cluster_id
             for r in kmeans_assign(emb, cents).collect()}
    got = ann_ivfpq_topk(emb.filter("vec_id < 3"), emb, k=5, n_cells=4,
                         m=4, ks=8, n_iter=2, nprobe=1).collect()
    assert got
    for r in got:
        assert cells[r.neighbor_id] == cells[r.query_id]
    full = ann_ivfpq_topk(emb.filter("vec_id < 3"), emb, k=79, n_cells=4,
                          m=4, ks=8, n_iter=2, nprobe=4).collect()
    per_q = {}
    for r in full:
        per_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    for q, ns in per_q.items():
        assert len(ns) == 79          # every other vector reachable


def test_landed_ivfpq_index_prunes_partitions_and_matches(spark, tmp_path):
    """The landed index contract: cell directories on disk, probe set
    as a PartitionFilters entry on the codes scan (file pruning), and
    results identical to the in-memory IVFADC under the same
    codebooks."""
    from database_convertor_spark.operators.similarity_search import (
        ann_ivfpq_topk,
        land_ivfpq_index,
        search_ivfpq_index,
    )
    emb = read_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 120)
    queries = emb.filter("vec_id < 4")
    path = str(tmp_path / "ivfpq_index")
    land_ivfpq_index(emb, path, n_cells=4, m=4, ks=8, n_iter=2)

    landed = search_ivfpq_index(spark, path, queries, k=5, nprobe=2)
    plan = landed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan

    in_mem = ann_ivfpq_topk(queries, emb, k=5, n_cells=4, m=4, ks=8,
                            n_iter=2, nprobe=2)
    assert sorted(map(tuple, landed.collect())) == \
        sorted(map(tuple, in_mem.collect()))

    import os
    cells = [d for d in os.listdir(path) if d.startswith("cell=")]
    assert len(cells) >= 2            # the inverted lists ARE the layout


def test_hard_negatives_needs_no_label_column(spark):
    """Regression (round-6 review): anchor/corpus frames with only
    (vec_id, embedding) — e.g. an ANN shortlist — must work; the
    operator must not demand a label column it never uses."""
    from database_convertor_spark.operators.similarity_search import (
        hard_negatives,
    )
    emb = read_table(spark, SF_SMALL, "embeddings") \
        .select("vec_id", "embedding").filter(F.col("vec_id") < 40)
    got = hard_negatives(emb.filter("vec_id < 2"), emb,
                         k=5, lo=0.0, hi=0.3).collect()
    assert got
    for r in got:
        assert 0.0 <= r.cosine < 0.3


def test_index_path_guard_refuses_uri_schemes(spark, tmp_path):
    """Regression (round-6 review): the codebook sidecar is local-file
    I/O — URI-scheme index paths must be refused up front, not fail
    halfway with a landed-but-unsearchable index."""
    import pytest

    from database_convertor_spark.operators.similarity_search import (
        land_ivfpq_index,
        search_ivfpq_index,
    )
    emb = read_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 30)
    with pytest.raises(NotImplementedError, match="local-filesystem"):
        land_ivfpq_index(emb, "s3a://bucket/index")
    with pytest.raises(NotImplementedError, match="local-filesystem"):
        search_ivfpq_index(spark, "hdfs://nn/index", emb.limit(1))


def test_hard_negatives_broadcast_guard_trips(spark, monkeypatch):
    """Anchor sets past MAX_BROADCAST_QUERIES raise unconditionally —
    both the exact and the shortlist path broadcast the anchor frame
    (the r6 verdict's last unguarded broadcast)."""
    import database_convertor_spark.operators.similarity_search as ss

    emb = read_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 60).select("vec_id", "embedding")
    monkeypatch.setattr(ss, "MAX_BROADCAST_QUERIES", 10)
    try:
        ss.hard_negatives(emb, emb, k=3)
        raise AssertionError("guard did not trip")
    except ValueError as e:
        assert "broadcasts the anchor set" in str(e)


def test_hard_negatives_pair_budget_raises_naming_route(spark):
    """Past max_pair_mass the exact anchors x corpus scan refuses to
    run, naming the shortlist route (same discipline as
    ngram_jaccard_pairs)."""
    from database_convertor_spark.operators.similarity_search import (
        hard_negatives,
    )
    emb = read_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 60).select("vec_id", "embedding")
    try:
        hard_negatives(emb, emb, k=3, max_pair_mass=100.0)
        raise AssertionError("budget gate did not trip")
    except ValueError as e:
        assert "route" in str(e) and "pair mass" in str(e)


def test_hard_negatives_routed_subset_of_band(spark):
    """The routed (PQ-shortlist) path: every emitted negative passed
    the exact-cosine band (precision exact), its pairs are a subset of
    the brute band universe, and with a corpus-sized shortlist it
    degenerates to the exact result."""
    import warnings

    from database_convertor_spark.operators.similarity_search import (
        hard_negatives,
    )
    emb = read_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 80).select("vec_id", "embedding")
    anchors = emb.filter("vec_id < 4")
    brute = hard_negatives(anchors, emb, k=10, lo=0.0, hi=0.2,
                           max_pair_mass=None)
    brute_all = hard_negatives(anchors, emb, k=10**6, lo=0.0, hi=0.2,
                               max_pair_mass=None)
    universe = {(r.query_id, r.neighbor_id, r.cosine)
                for r in brute_all.collect()}
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        routed = hard_negatives(anchors, emb, k=10, lo=0.0, hi=0.2,
                                max_pair_mass=10.0,
                                on_budget_exceeded="route",
                                shortlist_k=30, n_iter=2)
        got = routed.collect()
        assert got, "routed band should not be empty on this fixture"
        for r in got:
            assert 0.0 <= r.cosine < 0.2
        assert {(r.query_id, r.neighbor_id, r.cosine)
                for r in got} <= universe
        # corpus-sized shortlist == exact path
        full = hard_negatives(anchors, emb, k=10, lo=0.0, hi=0.2,
                              max_pair_mass=10.0,
                              on_budget_exceeded="route",
                              shortlist_k=79, n_iter=2)
        assert ({(r.query_id, r.neighbor_id, r.rank, r.cosine)
                 for r in full.collect()}
                == {(r.query_id, r.neighbor_id, r.rank, r.cosine)
                    for r in brute.collect()})


def test_srp_pairs_candidate_mass_gate(spark):
    """The r8 third-decade catch: at 2M vectors the 16-bit bands'
    random-collision term (bands*n^2/2^16) filled the disk through
    the vector-attach joins. The gate bounds candidate-row mass from
    the band-key histogram BEFORE the self-join: forced-tiny budgets
    raise naming the re-banding remedies; a None budget runs the same
    plan and emits the same pairs as the default (whose budget sits far
    above any certified scale's mass)."""
    from database_convertor_spark.operators.dedup import (
        embedding_srp_pairs,
    )
    emb = read_table(spark, SF_SMALL, "embeddings") \
        .select("vec_id", "embedding").filter(F.col("vec_id") < 60)
    twins = emb.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 2).alias("embedding"))
    corpus = emb.unionByName(twins)
    try:
        embedding_srp_pairs(corpus, max_candidate_pairs=1)
        raise AssertionError("forced-tiny budget did not raise")
    except ValueError as e:
        assert "candidate-row mass" in str(e)
        assert "nbits=480" in str(e)        # names the re-banding remedy
    gated = {(r.vec_a, r.vec_b) for r in embedding_srp_pairs(
        corpus).collect()}
    ungated = {(r.vec_a, r.vec_b) for r in embedding_srp_pairs(
        corpus, max_candidate_pairs=None).collect()}
    assert gated == ungated                 # gate chooses cost, not results


def test_srp_pairs_rebanding_knobs(spark):
    """The scale re-banding the gate recommends is a first-class
    regime: 24-bit bands keep cosine-1.0 twins (identical signatures
    collide in EVERY band at any banding) and every emitted pair
    still passes the exact-cosine verify; an indivisible
    nbits/band_bits split fails fast."""
    from database_convertor_spark.operators.dedup import (
        embedding_srp_pairs,
    )
    emb = read_table(spark, SF_SMALL, "embeddings") \
        .select("vec_id", "embedding").filter(F.col("vec_id") < 60)
    twins = emb.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 2).alias("embedding"))
    corpus = emb.unionByName(twins)
    want = {(i, i + 1000) for i in range(60)}
    rebanded = embedding_srp_pairs(corpus, nbits=192,
                                   band_bits=24).collect()
    got = {(r.vec_a, r.vec_b) for r in rebanded}
    assert want <= got
    assert all(r.cosine >= 0.95 for r in rebanded)
    try:
        embedding_srp_pairs(corpus, nbits=128, band_bits=24)
        raise AssertionError("indivisible banding did not raise")
    except ValueError as e:
        assert "divisible" in str(e)


def test_srp_pairs_dim_mismatch_fails_fast(spark):
    """Regression (round-6 ADVICE): a caller-supplied dim that
    disagrees with the data raises instead of silently zeroing every
    band key (which would degenerate the band join to all-pairs)."""
    from database_convertor_spark.operators.dedup import (
        embedding_srp_pairs,
    )
    emb = read_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 10).select("vec_id", "embedding")
    try:
        embedding_srp_pairs(emb, dim=32)
        raise AssertionError("dim mismatch did not raise")
    except ValueError as e:
        assert "dim=32" in str(e)


def test_compact_ivfpq_index_collapses_reingested_codes(spark, tmp_path):
    """The ANN twin of the text-index compaction: a vector re-landed
    around the stream guard leaves duplicate code rows that surface as
    duplicate neighbors; compaction collapses them so a search equals
    one against a fresh build, and the swap is crash-safe (sidecar
    present in the final layout)."""
    import os

    from pyspark.sql import functions as F

    from database_convertor_spark.operators.similarity_search import (
        compact_ivfpq_index,
        ivfpq_encode_under,
        land_ivfpq_index,
        search_ivfpq_index,
    )
    from database_convertor_spark.sources.readers import read_table
    from .conftest import SF_SMALL

    emb = read_table(spark, SF_SMALL, "embeddings")
    path = str(tmp_path / "ai")
    coarse, books = land_ivfpq_index(emb, path, n_cells=4, m=4, ks=8,
                                     n_iter=2)
    # re-ingest 50 ALREADY-INDEXED vectors verbatim (duplicate codes)
    ivfpq_encode_under(emb.filter("vec_id < 50"), coarse, books) \
        .write.mode("append").partitionBy("cell").parquet(path)
    spark.catalog.refreshByPath(path)
    dup = (spark.read.parquet(path).groupBy("vec_id").count()
           .filter(F.col("count") > 1))
    assert dup.count() > 0                    # corruption is real

    n = compact_ivfpq_index(spark, path)
    assert n == emb.count()
    assert os.path.exists(os.path.join(path, "_codebooks.json"))
    dup2 = (spark.read.parquet(path).groupBy("vec_id").count()
            .filter(F.col("count") > 1))
    assert dup2.count() == 0

    fresh = str(tmp_path / "ai_fresh")
    land_ivfpq_index(emb, fresh, n_cells=4, m=4, ks=8, n_iter=2)
    q = emb.filter("vec_id < 3")
    got = [tuple(r) for r in
           search_ivfpq_index(spark, path, q, k=5, nprobe=2).collect()]
    want = [tuple(r) for r in
            search_ivfpq_index(spark, fresh, q, k=5, nprobe=2).collect()]
    assert got == want


def test_compact_ivfpq_index_crash_mid_swap_recovers(spark, tmp_path,
                                                    monkeypatch):
    """Kill point between the compaction swap's rename-aside and its
    rename-in: the next compaction rolls the old index back before
    reading and completes — the index ends whole at its path,
    searching like a fresh build, with no aside left beside it."""
    import os

    import pytest

    from database_convertor_spark.operators.similarity_search import (
        compact_ivfpq_index,
        ivfpq_encode_under,
        land_ivfpq_index,
        search_ivfpq_index,
    )

    emb = read_table(spark, SF_SMALL, "embeddings")
    path = str(tmp_path / "ai")
    coarse, books = land_ivfpq_index(emb, path, n_cells=4, m=4, ks=8,
                                     n_iter=2)
    ivfpq_encode_under(emb.filter("vec_id < 50"), coarse, books) \
        .write.mode("append").partitionBy("cell").parquet(path)
    spark.catalog.refreshByPath(path)

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

    assert compact_ivfpq_index(spark, path) == emb.count()
    fresh = str(tmp_path / "ai_fresh")
    land_ivfpq_index(emb, fresh, n_cells=4, m=4, ks=8, n_iter=2)
    q = emb.filter("vec_id < 3")
    got = [tuple(r) for r in
           search_ivfpq_index(spark, path, q, k=5, nprobe=2).collect()]
    want = [tuple(r) for r in
            search_ivfpq_index(spark, fresh, q, k=5, nprobe=2).collect()]
    assert got == want
    assert not any(e.endswith("__aside") for e in os.listdir(tmp_path))
    # no staging dir remains
    assert sorted(os.listdir(tmp_path)) == ["ai", "ai_fresh"]


def test_hard_negatives_rebuild_skips_corpus_count(spark, monkeypatch):
    """The corpus count behind the pair-mass estimate is memoized per
    session on the corpus plan, like the histogram gates: a second
    build of ``ann_hard_negatives`` in one session runs fewer Spark
    jobs than the first."""
    import database_convertor_spark.operators.dedup as dedup
    from database_convertor_spark.plans.catalog import CATALOG
    from database_convertor_spark.session import session_memo

    # start from an empty memo: earlier tests may have built this query
    monkeypatch.setattr(dedup, "_pair_mass_memo", session_memo(64))
    sc = spark.sparkContext

    def build_jobs(group):
        sc.setJobGroup(group, "ann_hard_negatives build")
        try:
            CATALOG["ann_hard_negatives"].builder(spark, SF_SMALL)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    first = build_jobs("test-hard-negatives-build-1")
    second = build_jobs("test-hard-negatives-build-2")
    assert second < first, (first, second)


def test_probe_cells_py_twins_spark_probes_on_every_vector(spark, tmp_path):
    """The driver-side probe twin (`_probe_cells_py`) must reproduce
    `_ivfpq_probes`' cell choice for EVERY fixture vector as a query —
    it is what lets the interactive searchers skip the probe job, and
    any rounding divergence (Spark ROUND = BigDecimal HALF_UP over the
    shortest-roundtrip decimal; the twin = Decimal(repr(x)) HALF_UP)
    would silently change which cells are probed. Checked at the VALUE
    level too: the 6dp-rounded L2 per (query, cell) must match the
    expression engine's double bit for bit."""
    from database_convertor_spark.operators.similarity_search import (
        _ivfpq_probes,
        _probe_cells_py,
        _spark_round_py,
        land_ivfpq_index,
    )
    emb = read_table(spark, SF_SMALL, "embeddings")
    path = str(tmp_path / "probe_twin_idx")
    coarse, _ = land_ivfpq_index(emb, path, n_cells=4, m=4, ks=8,
                                 n_iter=2)

    # value-level parity: Spark's rounded L2 vs the python twin for
    # every (vector, cell) pair in the fixture
    cells_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(coarse)],
        "cell int, centroid array<double>")
    d2 = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"),
                   F.col("centroid"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    spark_vals = {(r.vec_id, r.cell): (r.raw, r.rounded)
                  for r in emb.crossJoin(F.broadcast(cells_df))
                  .select("vec_id", "cell", d2.alias("raw"),
                          F.round(d2, 6).alias("rounded")).collect()}
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.collect()}
    for (vid, cell), (raw, rounded) in spark_vals.items():
        acc = 0.0
        for a, b in zip(vecs[vid], coarse[cell]):
            d = a - b
            acc = acc + d * d
        assert acc == raw, (vid, cell)
        assert _spark_round_py(acc, 6) == rounded, (vid, cell, raw)

    # choice-level parity: per-query probed cell SET for every vector
    ids = sorted(vecs)
    got = _probe_cells_py([vecs[i] for i in ids], coarse, nprobe=2)
    want: dict = {}
    for r in _ivfpq_probes(emb, coarse, 2).select(
            "query_id", "cell").collect():
        want.setdefault(r.query_id, []).append(r.cell)
    assert {i: sorted(c) for i, c in zip(ids, got)} == \
        {q: sorted(c) for q, c in want.items()}


def test_search_ivfpq_index_local_equals_dataframe_path(spark, tmp_path):
    """`search_ivfpq_index_local` (driver-side probes + memoized rank
    expressions — the warm interactive path) must return rows
    IDENTICAL to `search_ivfpq_index` on a query frame, keep the
    partition pruning, and stay correct across a cache-warm repeat AND
    an index re-land (sidecar mtime invalidation)."""
    from database_convertor_spark.operators.similarity_search import (
        land_ivfpq_index,
        search_ivfpq_index,
        search_ivfpq_index_local,
    )
    emb = read_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 120)
    path = str(tmp_path / "ivfpq_local_idx")
    land_ivfpq_index(emb, path, n_cells=4, m=4, ks=8, n_iter=2)

    qrows = [(int(r.vec_id) - 1000, [float(x) for x in r.embedding])
             for r in emb.filter("vec_id < 4").collect()]
    qdf = spark.createDataFrame(
        qrows, "vec_id long, embedding array<double>")

    local = search_ivfpq_index_local(spark, path, qrows, k=5, nprobe=2)
    plan = local._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan
    df_path = search_ivfpq_index(spark, path, qdf, k=5, nprobe=2)
    want = sorted(map(tuple, df_path.collect()))
    assert sorted(map(tuple, local.collect())) == want

    # warm repeat: the memoized expressions serve the same rows
    again = search_ivfpq_index_local(spark, path, qrows, k=5, nprobe=2)
    assert sorted(map(tuple, again.collect())) == want

    # re-land over a DIFFERENT corpus: the sidecar mtime changes, the
    # caches must refresh — local results track the new index exactly
    emb2 = read_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") >= 120)
    import time

    time.sleep(0.01)          # ensure a distinct mtime_ns
    land_ivfpq_index(emb2, path, n_cells=4, m=4, ks=8, n_iter=2)
    spark.catalog.refreshByPath(path)
    fresh_local = sorted(map(tuple, search_ivfpq_index_local(
        spark, path, qrows, k=5, nprobe=2).collect()))
    fresh_df = sorted(map(tuple, search_ivfpq_index(
        spark, path, qdf, k=5, nprobe=2).collect()))
    assert fresh_local == fresh_df
    assert fresh_local != want


def test_sq8_codes_and_recall(spark):
    """SQ8 invariants: codes are 8-bit (0..255) ints; a constant
    dimension encodes to 0; asymmetric dequantized search recovers
    almost all of the exact top-5 on the fixture (64-dim, 8-bit ->
    per-dim error <= (max-min)/510, far below fixture separation)."""
    from database_convertor_spark.operators.similarity_search import (
        sq8_encode,
        sq8_fit,
        sq8_topk,
    )
    emb = read_table(spark, SF_SMALL, "embeddings")
    stats = sq8_fit(emb)
    codes = sq8_encode(emb, stats)
    mn, mx = codes.select(
        F.min(F.array_min("code")), F.max(F.array_max("code"))).first()
    assert 0 <= mn and mx <= 255

    # a constant dimension must encode to code 0 and dequantize back
    # to its constant (the max==min guard)
    const = emb.select(
        "vec_id", F.concat(F.array(F.lit(0.5)), "embedding").alias("embedding"))
    cstats = sq8_fit(const)
    ccodes = sq8_encode(const, cstats)
    assert ccodes.select(F.max(F.element_at("code", 1))).first()[0] == 0

    queries = emb.filter(emb.vec_id < 5)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(queries, emb, k=5).collect()}
    sq = {(r.query_id, r.neighbor_id)
          for r in sq8_topk(queries, emb, k=5).collect()}
    recall = len(exact & sq) / len(exact)
    assert recall >= 0.9, recall


def test_rp_project_norms_and_determinism(spark):
    """JL contract at out_dim=16: E[||y||^2] = ||x||^2 (unbiased
    Rademacher projection) — per-vector ratios are chi-square-noisy
    (var 2/16) so we bound the per-vector band loosely and the
    40-vector MEAN tightly; the md5-seeded planes make every value
    bit-reproducible across calls, and an exact near-duplicate pair
    stays near-duplicate after projection (the signal SemDeDup/ANN
    consume downstream)."""
    import math

    from database_convertor_spark.operators.similarity_search import (
        rp_project,
    )
    emb = read_table(spark, SF_SMALL, "embeddings").filter("vec_id < 40")
    rows = rp_project(emb, out_dim=16).collect()
    assert len(rows) == 40 * 16
    proj = {}
    for r in rows:
        proj.setdefault(r.vec_id, [0.0] * 16)[r.pos] = r.value
    exact = {r.vec_id: [float(x) for x in r.embedding]
             for r in emb.collect()}
    ratios = [sum(v * v for v in proj[i])
              / sum(v * v for v in exact[i]) for i in proj]
    assert all(0.1 < r < 4.0 for r in ratios), (min(ratios), max(ratios))
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.25, mean

    # a self-duplicate projects to an identical vector, so the
    # projected cosine of a true near-dup pair stays ~1
    dup = emb.limit(1).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding",
        *[c for c in emb.columns if c not in ("vec_id", "embedding")])
    both = emb.limit(1).unionByName(dup.select(*emb.columns))
    pr = {}
    for r in rp_project(both, out_dim=16).collect():
        pr.setdefault(r.vec_id, [0.0] * 16)[r.pos] = r.value
    (a, b) = sorted(pr)
    dot = sum(x * y for x, y in zip(pr[a], pr[b]))
    na = math.sqrt(sum(x * x for x in pr[a]))
    nb = math.sqrt(sum(y * y for y in pr[b]))
    assert dot / (na * nb) > 0.999

    again = {(r.vec_id, r.pos): r.value
             for r in rp_project(emb, out_dim=16).collect()}
    assert all(again[(i, p)] == proj[i][p]
               for i in proj for p in range(16))


def test_rp_project_refuses_plan_literal_blowup(spark):
    import pytest

    from database_convertor_spark.operators.similarity_search import (
        rp_project,
    )
    emb = read_table(spark, SF_SMALL, "embeddings").limit(1)
    with pytest.raises(ValueError, match="plan-literal"):
        rp_project(emb, out_dim=2000)


def test_sq8_topk_precomputed_stats_identical(spark):
    from database_convertor_spark.operators.similarity_search import (
        sq8_fit,
        sq8_topk,
    )
    emb = read_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(emb.vec_id < 3)
    fresh = sorted(map(tuple, sq8_topk(queries, emb, k=3).collect()))
    reused = sorted(map(tuple,
                        sq8_topk(queries, emb, k=3,
                                 stats=sq8_fit(emb)).collect()))
    assert fresh == reused


def test_ivfpq_driver_init_matches_cluster_residuals(spark):
    """r11: the PQ sub-fit's init rows are derived DRIVER-side from
    the one shared md5-init collect (assign + 9dp HALF_UP round twin)
    — they must equal the residual rows the old second takeOrdered
    job collected from the cluster-computed residual frame."""
    from database_convertor_spark.functions.text import md5_long
    from database_convertor_spark.operators.similarity_search import (
        _ivfpq_residuals,
        _md5_init_vecs,
        _residual_init_vecs,
        kmeans_fit,
    )

    emb = read_table(spark, SF_SMALL, "embeddings")
    ks, n_cells = 8, 8
    init = _md5_init_vecs(emb, max(n_cells, ks))
    coarse, _ = kmeans_fit(emb, k=n_cells, n_iter=3, init_vecs=init)
    coarse = [[round(x, 9) for x in c] for c in coarse]
    got = _residual_init_vecs(init[:ks], coarse)
    res = _ivfpq_residuals(emb, coarse)
    want = [list(r._v) for r in
            (res.select(F.col("vec_id").alias("_id"),
                        F.col("embedding").alias("_v"),
                        md5_long(F.col("vec_id").cast("string"))
                        .alias("_h"))
             .orderBy("_h", "_id").limit(ks).collect())]
    assert got == want


def test_sql_adc_tables_match_literal_builder(spark):
    """r11: the one-parse SQL text of the ADC distance tables must
    produce cell-identical values to the per-F.lit builder it
    replaced (same operator order, same rounding)."""
    from database_convertor_spark.operators.similarity_search import (
        _adc_tables_sql,
        pq_fit,
    )

    emb = read_table(spark, SF_SMALL, "embeddings")
    books = pq_fit(emb, m=4, ks=8, n_iter=2)
    m, sub = len(books), len(books[0][0])
    q = emb.filter(emb.vec_id < 5).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("q_emb"))

    def dot_lit(vec, cent):
        lits = F.array(*[F.lit(x) for x in cent])
        return F.aggregate(F.zip_with(vec, lits, lambda a, b: a * b),
                           F.lit(0.0), lambda acc, x: acc + x)

    def self_dot(vec):
        return F.aggregate(F.transform(vec, lambda x: x * x),
                           F.lit(0.0), lambda acc, x: acc + x)

    subvecs = [F.slice(F.col("q_emb"), j * sub + 1, sub) for j in range(m)]
    lit_tables = F.array(*[
        F.array(*[
            F.round(self_dot(subvecs[j]) - 2 * dot_lit(subvecs[j], cent)
                    + F.lit(float(sum(x * x for x in cent))), 6)
            for cent in books[j]])
        for j in range(m)])
    want = {r.vec_id: [list(a) for a in r.t] for r in
            q.select("vec_id", lit_tables.alias("t")).collect()}
    got = {r.vec_id: [list(a) for a in r.t] for r in
           q.select("vec_id", F.expr(_adc_tables_sql(books, "q_emb"))
                    .alias("t")).collect()}
    assert got == want


def test_sql_double_literals_round_trip_exactly(spark):
    """Every double the SQL-text builders embed parses back to the
    identical value: NaN, the infinities (which have no bare literal
    form), the sign of zero and the extremes of the exponent range."""
    import math
    import struct

    from database_convertor_spark.operators.similarity_search import (
        _sql_double,
        _sql_double_array,
    )

    vals = [float("nan"), float("inf"), float("-inf"), -0.0, 0.0,
            1e-300, -1e-300, 1e308, -1e308, 5e-324, 0.1, -2.5, 1e16]
    row = spark.sql(
        "SELECT " + ", ".join(f"{_sql_double(v)} AS c{i}"
                              for i, v in enumerate(vals))
        + f", {_sql_double_array(vals)} AS arr").first()

    def bits(x):
        return "nan" if math.isnan(x) else struct.pack(">d", x)

    want = [bits(v) for v in vals]
    assert [bits(row[f"c{i}"]) for i in range(len(vals))] == want
    assert [bits(x) for x in row["arr"]] == want


def test_spark_round_np_matches_py(spark):
    """r11: the vectorized HALF_UP round twin must equal the scalar
    Decimal twin element for element — fixture residual magnitudes
    plus adversarial boundary values."""
    import numpy as np

    from database_convertor_spark.operators.similarity_search import (
        _spark_round_np,
        _spark_round_py,
    )

    rng = [x / 7.0 for x in range(-500, 500)]
    adversarial = [0.0000000005, -0.0000000005, 0.1234567895,
                   -0.1234567895, 1.0000000015, -1.0000000015,
                   0.12345678949999, 0.1234567895000001, 2.5e-10,
                   -2.5e-10, 123.4567890125, -123.4567890125,
                   # |x| ~ 1e4: x * 1e9 carries ~1e-3 of float error
                   8585.8374241475, -34525.1557494455]
    vals = np.asarray(rng + adversarial, dtype="float64")
    got = _spark_round_np(vals, 9)
    want = np.asarray([_spark_round_py(float(v), 9) for v in vals])
    assert got.tolist() == want.tolist()


def test_kmeans_local_fit_matches_distributed(spark, monkeypatch):
    """r11: the driver-local Lloyd loop (budget path) must be
    BIT-identical to the distributed loop on the single-partition
    fixture — centroids and inertia, normalize on and off."""
    from database_convertor_spark.operators import similarity_search as ss

    emb = read_table(spark, SF_SMALL, "embeddings")
    for normalize in (False, True):
        c_local, i_local = ss.kmeans_fit(emb, k=8, n_iter=5,
                                         normalize=normalize)
        with monkeypatch.context() as mp:
            mp.setattr(ss, "LOCAL_FIT_ROWS_BUDGET", 0)
            c_dist, i_dist = ss.kmeans_fit(emb, k=8, n_iter=5,
                                           normalize=normalize)
        assert c_local == c_dist
        assert i_local == i_dist


def test_pq_local_fit_matches_distributed(spark, monkeypatch):
    """r11: local PQ loop == distributed loop, bit for bit."""
    from database_convertor_spark.operators import similarity_search as ss

    emb = read_table(spark, SF_SMALL, "embeddings")
    local = ss.pq_fit(emb, m=4, ks=8, n_iter=3)
    monkeypatch.setattr(ss, "LOCAL_FIT_ROWS_BUDGET", 0)
    assert local == ss.pq_fit(emb, m=4, ks=8, n_iter=3)


def test_ivfpq_local_fit_matches_distributed(spark, monkeypatch):
    """r11: the fully-local IVFADC train (coarse + residuals + PQ)
    must reproduce the distributed build's codebooks and codes."""
    from database_convertor_spark.operators import similarity_search as ss

    emb = read_table(spark, SF_SMALL, "embeddings")
    cl, bl, codl = ss.ivfpq_fit_encode(emb, n_cells=8, m=4, ks=8, n_iter=3)
    rows_l = sorted((r.vec_id, r.cell, list(r.codes))
                    for r in codl.collect())
    monkeypatch.setattr(ss, "LOCAL_FIT_ROWS_BUDGET", 0)
    cd, bd, codd = ss.ivfpq_fit_encode(emb, n_cells=8, m=4, ks=8, n_iter=3)
    assert cl == cd
    assert bl == bd
    rows_d = sorted((r.vec_id, r.cell, list(r.codes))
                    for r in codd.collect())
    assert rows_l == rows_d


def test_ivfpq_past_budget_builds_residuals_once(spark, monkeypatch):
    """The past-budget IVFADC build encodes from the residual frame its
    PQ fit trained on — one residual build, not a second one — and
    the codes are those of an encode over freshly built residuals."""
    from database_convertor_spark.operators import similarity_search as ss

    built = []
    orig = ss._ivfpq_residuals

    def counting(corpus, coarse):
        built.append(coarse)
        return orig(corpus, coarse)

    monkeypatch.setattr(ss, "_ivfpq_residuals", counting)
    monkeypatch.setattr(ss, "LOCAL_FIT_ROWS_BUDGET", 0)
    emb = read_table(spark, SF_SMALL, "embeddings")
    coarse, books, codes = ss.ivfpq_fit_encode(
        emb, n_cells=8, m=4, ks=8, n_iter=3)
    got = sorted((r.vec_id, r.cell, list(r.codes)) for r in codes.collect())
    assert built == [coarse]

    res = orig(emb, coarse)
    want = (ss.pq_encode(res, books, carry_cols=("cluster_id",))
            .select("vec_id", F.col("cluster_id").alias("cell"), "codes"))
    assert got == sorted((r.vec_id, r.cell, list(r.codes))
                         for r in want.collect())


@pytest.mark.parametrize("n_parts", [1, 4])
def test_grouped_reduction_matches_direct(spark, monkeypatch, n_parts):
    """Past ``_DIRECT_PARTIAL_ROWS`` per-task partial rows a distributed
    Lloyd iteration reduces through a groupBy instead of collecting the
    rows directly. The k-means centroids (normalize off and on) and the
    PQ codebooks equal the direct path's exactly; the inertia, whose
    float summation order the groupBy changes, agrees to 1e-12."""
    from database_convertor_spark.operators import similarity_search as ss

    emb = read_table(spark, SF_SMALL, "embeddings")
    if n_parts > 1:
        emb = emb.repartition(n_parts, "vec_id")
    monkeypatch.setattr(ss, "LOCAL_FIT_ROWS_BUDGET", 0)
    grouped_iterations = []
    reduce_grouped = ss._grouped_partials

    def counting(mp, sub):
        grouped_iterations.append(sub)
        return reduce_grouped(mp, sub)

    monkeypatch.setattr(ss, "_grouped_partials", counting)

    def fits():
        return ([ss.kmeans_fit(emb, k=8, n_iter=5, normalize=nz)
                 for nz in (False, True)],
                ss.pq_fit(emb, m=4, ks=8, n_iter=3))

    direct_km, direct_pq = fits()
    assert grouped_iterations == []
    monkeypatch.setattr(ss, "_DIRECT_PARTIAL_ROWS", 0)
    grouped_km, grouped_pq = fits()
    assert len(grouped_iterations) == 2 * 5 + 3
    for (c_d, i_d), (c_g, i_g) in zip(direct_km, grouped_km):
        assert c_g == c_d
        assert i_g == pytest.approx(i_d, rel=1e-12)
    assert grouped_pq == direct_pq


def test_fit_job_counts(spark, monkeypatch):
    """Under ``LOCAL_FIT_ROWS_BUDGET`` rows each fit is one Spark job,
    the budget collect. Past it ``kmeans_fit`` and ``pq_fit`` run
    1 + n_iter jobs (the init collect, then one per iteration) and
    ``ivfpq_fit_encode`` 1 + 2 x n_iter (one init collect feeds both
    fits)."""
    from database_convertor_spark.operators import similarity_search as ss

    emb = read_table(spark, SF_SMALL, "embeddings")
    sc = spark.sparkContext
    n_iter = 3
    fits = {"kmeans": lambda: ss.kmeans_fit(emb, k=8, n_iter=n_iter),
            "pq": lambda: ss.pq_fit(emb, m=4, ks=8, n_iter=n_iter),
            "ivfpq": lambda: ss.ivfpq_fit_encode(emb, 8, 4, 8, n_iter)}

    def jobs(regime):
        counts = {}
        for name, fit in fits.items():
            group = f"test-fit-jobs-{name}-{regime}"
            sc.setJobGroup(group, f"{name} fit, {regime}")
            try:
                fit()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            counts[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        return counts

    assert jobs("local") == {"kmeans": 1, "pq": 1, "ivfpq": 1}
    monkeypatch.setattr(ss, "LOCAL_FIT_ROWS_BUDGET", 0)
    assert jobs("distributed") == {"kmeans": 1 + n_iter, "pq": 1 + n_iter,
                                   "ivfpq": 1 + 2 * n_iter}
