"""Entity-resolution semantics on reference-shaped data: the
applicant -> company flow with the reference's thresholds
(test vectors modeled on DatabaseConverter/test_pipeline.py:26-59:
company applicants match, individuals are skipped, dedup applies)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from database_convertor_spark.functions.cleaning import normalize_company_name
from database_convertor_spark.functions.similarity import levenshtein_similarity
from database_convertor_spark.operators import entity_resolution as er
from database_convertor_spark.operators.entity_resolution import (
    fuzzy_join,
    is_likely_individual,
)

from .conftest import SF_MEDIUM, SF_SMALL


def _applicants(spark):
    return spark.createDataFrame(
        [(1, "Barratt Homes Limited"),
         (2, "Taylor Wimpey PLC"),
         (3, "John Smith"),                 # individual -> skipped
         (4, "Barratt  Homes  Ltd"),        # near-dup of 1 after normalize
         (5, "Persimmon Homes Ltd")],   # suffix -> company, subset of 103
        ["applicant_id", "name"])


def _companies(spark):
    return spark.createDataFrame(
        [(101, "BARRATT HOMES LIMITED"),
         (102, "TAYLOR WIMPEY PLC"),
         (103, "PERSIMMON HOMES LIMITED"),
         (104, "BERKELEY GROUP HOLDINGS PLC")],
        ["company_id", "company_name"])


def test_individual_filter_then_fuzzy_join(spark):
    apps = _applicants(spark).filter(~is_likely_individual(F.col("name")))
    assert {r.applicant_id for r in apps.collect()} == {1, 2, 4, 5}

    matches = fuzzy_join(apps, _companies(spark),
                         "name", "company_name",
                         "applicant_id", "company_id",
                         threshold=0.7, top_k=3, broadcast_right=True)
    got = {(r.applicant_id, r.company_id): (r.match_method, r.confidence)
           for r in matches.filter(F.col("match_rank") == 1).collect()}
    # exact normalized match -> confidence 1.0
    assert got[(1, 101)] == ("exact_name", 1.0)
    assert got[(2, 102)] == ("exact_name", 1.0)
    # whitespace-variant still exact after normalization? 'barratt homes
    # ltd' vs 'barratt homes limited' differs -> token/fuzzy rung >= 0.7
    method, conf = got[(4, 101)]
    assert conf >= 0.7
    # near match: 'persimmon homes ltd' vs 'persimmon homes limited'
    method, conf = got[(5, 103)]
    assert method in ("token_match", "fuzzy_name") and conf >= 0.7


def test_name_match_email_join_ladder(spark):
    """J8 golden cases (api_clients.py:1909-1942): containment both
    ways -> 0.9, first-initial + last containment -> 0.7, same-domain
    blocking, single-token names skipped."""
    from database_convertor_spark.operators.entity_resolution import (
        name_match_email_join,
    )
    officers = spark.createDataFrame(
        [(1, "John Smith", "acme.com"),        # exact -> 0.9
         (2, "Jon Smithson", "acme.com"),      # j. + smith⊆smithson -> 0.7
         (3, "Mary Jones", "acme.com"),        # no candidate match
         (4, "Prince", "acme.com"),            # single token -> skipped
         (5, "John Smith", "other.com")],      # wrong domain -> no match
        ["officer_id", "officer_name", "company_domain"])
    emails = spark.createDataFrame(
        [("john.smith@acme.com", "John", "Smith", "acme.com"),
         ("j.smithson@acme.com", "J", "Smithson", "acme.com")],
        ["email", "first_name", "last_name", "company_domain"])
    got = {(r.officer_id, r.email): r.name_match_confidence
           for r in name_match_email_join(officers, emails).collect()}
    assert got[(1, "john.smith@acme.com")] == 0.9
    # 'j' ⊆ 'jon' both-ways check: 'jon' not in 'j', but 'j' in 'jon' -> full
    assert got[(2, "j.smithson@acme.com")] == 0.9
    # officer 2 vs john.smith: 'jon'<->'john' containment fails both ways;
    # initial 'j'=='j' but 'smithson' not in 'smith' -> no match
    assert (2, "john.smith@acme.com") not in got
    # officer 1 vs j.smithson: 'j' in 'john' -> first ok; 'smith' in
    # 'smithson' -> full match 0.9
    assert got[(1, "j.smithson@acme.com")] == 0.9
    assert not any(oid in (3, 4, 5) for oid, _ in got)


def test_blocking_path_agrees_with_broadcast(spark):
    apps = _applicants(spark).filter(~is_likely_individual(F.col("name")))
    kw = dict(threshold=0.7, top_k=3)
    a = fuzzy_join(apps, _companies(spark), "name", "company_name",
                   "applicant_id", "company_id", broadcast_right=True, **kw)
    b = fuzzy_join(apps, _companies(spark), "name", "company_name",
                   "applicant_id", "company_id", broadcast_right=False, **kw)
    # token blocking may only DROP pairs that share no non-stopword token;
    # every surviving (high-confidence) match must agree here
    sa = {tuple(r) for r in a.collect()}
    sb = {tuple(r) for r in b.collect()}
    assert sb <= sa
    # and on this data nothing above threshold shares zero tokens
    assert sa == sb


def test_name_match_email_join_empty_names_no_false_positives(spark):
    """An email row with NULL/empty first+last name must not 0.9-match
    every officer at the domain (the reference's `'' in s` quirk is
    deliberately NOT mirrored; the oracle SQL carries the same guard)."""
    from database_convertor_spark.operators.entity_resolution import (
        name_match_email_join,
    )
    officers = spark.createDataFrame(
        [(1, "John Smith", "acme.com")],
        ["officer_id", "officer_name", "company_domain"])
    emails = spark.createDataFrame(
        [("info@acme.com", None, None, "acme.com"),
         ("sales@acme.com", "", "", "acme.com"),
         ("john.smith@acme.com", "John", "Smith", "acme.com")],
        ["email", "first_name", "last_name", "company_domain"])
    got = {r.email: r.name_match_confidence
           for r in name_match_email_join(officers, emails).collect()}
    assert got == {"john.smith@acme.com": 0.9}


def test_fuzzy_gram_rescue_budget_engages(spark, monkeypatch):
    """The r7 sf10 regime: when the gram-rescue upper bound exceeds
    MAX_RESCUE_PAIRS, the blocking-gram DF cap shrinks to fit (warning
    fired), the plan stays nested-loop-free, and the rung still
    produces scored matches for token-less lefts."""
    import warnings

    from database_convertor_spark.sources.readers import read_table

    customer = read_table(spark, SF_SMALL, "customer")
    supplier = read_table(spark, SF_SMALL, "supplier")
    monkeypatch.setattr(er, "EXACT_RESCUE_LIMIT", 0)
    monkeypatch.setattr(er, "MAX_RESCUE_PAIRS", 1_000)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        df = fuzzy_join(customer, supplier, "c_name", "s_name",
                        "c_custkey", "s_suppkey", threshold=0.3, top_k=1)
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows = df.collect()
    msgs = " ".join(str(x.message) for x in w)
    assert "gram-rescue upper bound" in msgs
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert rows                                  # still matches


def test_fuzzy_rank1_exemption_answers_to_budget(spark, monkeypatch):
    """r8 sf100 finding: once the budget regime is live, rank 1's gram
    cap exemption is the last unbounded mass (sum of per-left min gram
    DF — on an all-grams-frequent corpus it concentrated ~15M x 10^3+
    pairs on a few gram keys: a measured single-task straggler + disk
    fill). With a budget tiny enough that even rank 1's mass exceeds
    it, the exemption must drop WITH a warning and the join must still
    complete; the default budget keeps the exemption (no warning)."""
    import warnings

    from database_convertor_spark.sources.readers import read_table

    customer = read_table(spark, SF_SMALL, "customer")
    supplier = read_table(spark, SF_SMALL, "supplier")
    monkeypatch.setattr(er, "EXACT_RESCUE_LIMIT", 0)
    monkeypatch.setattr(er, "MAX_RESCUE_PAIRS", 10)  # below even rank-1 mass
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        df = fuzzy_join(customer, supplier, "c_name", "s_name",
                        "c_custkey", "s_suppkey", threshold=0.3, top_k=1)
        rows = df.collect()
    msgs = " ".join(str(x.message) for x in w)
    assert "rank-1 cap-exemption mass" in msgs
    assert "rescue-unreachable" in msgs
    assert rows is not None                    # completes (maybe fewer)

    monkeypatch.setattr(er, "MAX_RESCUE_PAIRS", 50_000_000)
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        fuzzy_join(customer, supplier, "c_name", "s_name",
                   "c_custkey", "s_suppkey", threshold=0.3,
                   top_k=1).collect()
    assert "rank-1" not in " ".join(str(x.message) for x in w2)


def _normalized(df, key: str, name: str, norm: str):
    return df.select(key, normalize_company_name(F.col(name)).alias(norm))


def _expression_lev_rung(residual, rnorm, left_key: str, right_key: str,
                         threshold: float):
    """The JVM expression form of ``_duckdb_lev_rung``: every
    (residual, dimension) pair scored by levenshtein alone (exact match
    -> 1.0), then the per-left argmax (confidence desc, right key asc)
    kept when it reaches ``threshold``."""
    pairs = (residual.select(left_key, "_lnorm")
             .crossJoin(rnorm.select(right_key, "_rnorm")))
    exact = F.col("_lnorm") == F.col("_rnorm")
    lev = levenshtein_similarity(F.col("_lnorm"), F.col("_rnorm"))
    w = Window.partitionBy(left_key).orderBy(F.desc("confidence"),
                                             F.asc(right_key))
    return (pairs.select(
                left_key, right_key,
                F.round(F.when(exact, F.lit(1.0)).otherwise(lev), 4)
                .alias("confidence"),
                F.when(exact, F.lit("exact_name"))
                .otherwise(F.lit("fuzzy_name")).alias("match_method"))
            .withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1)
                    & (F.col("confidence") >= threshold))
            .drop("_rn"))


def _rungs_agree(spark, left, right, left_key, right_key, threshold):
    """Both forms of the levenshtein rescue rung over the whole left
    side; returns the native rung's sorted rows after asserting the
    expression rung's are identical."""
    residual = _normalized(left, left_key, left.columns[1], "_lnorm")
    rnorm = _normalized(right, right_key, right.columns[1], "_rnorm")
    native = er._duckdb_lev_rung(
        residual, rnorm, rnorm.toPandas(), left_key, right_key, threshold,
        spark.sparkContext.defaultParallelism)
    expression = _expression_lev_rung(residual, rnorm, left_key, right_key,
                                      threshold)

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    got = rows(native)
    assert got == rows(expression)
    return got


def test_duckdb_rescue_rung_matches_expression_rung(spark):
    """r10 optimization pin: the native DuckDB lev-rescue rung
    (_duckdb_lev_rung, pre-aggregated per-left argmax) must produce
    exactly the rows of the JVM expression rung it replaced plus the
    per-left argmax."""
    from database_convertor_spark.sources.readers import read_table

    customer = read_table(spark, SF_SMALL, "customer")
    supplier = read_table(spark, SF_SMALL, "supplier")
    got = _rungs_agree(spark, customer.select("c_custkey", "c_name"),
                       supplier.select("s_suppkey", "s_name"),
                       "c_custkey", "s_suppkey", 0.5)
    assert len(got) > 0


def test_duckdb_lev_rung_matches_expression_rung_adversarial(spark):
    """r11 (round-10 advice): the native DuckDB levenshtein rescue and
    its JVM expression twin must produce identical rows on adversarial
    inputs — unicode (accents, CJK, emoji, NBSP), empty and NULL
    norms, and 32-char names engineered so confidence lands on exact
    .xxxx5 midpoints of the 4dp rounding (1 - k/32 is binary-exact) —
    not just on fixture names."""
    left = spark.createDataFrame(
        [(1, "café münchen gmbh"), (2, "smith & jönes 株式会社"),
         (3, ""), (4, None),
         (5, "aaaaaaaaaaaaaaaabbbbbbbbbbbbbbbb"), (6, "ab"),
         (7, "ZWISCHENRAUM AG"), (8, "emoji 🚀 logistics"),
         (9, "x" * 31 + "q")],
        "lid long, lname string")
    right = spark.createDataFrame(
        [(101, "cafe munchen gmbh"), (102, "smith & jones kk"),
         (103, "zzz"), (104, "aaaaaaaaaaaaaaaacccccccccccccccc"),
         (105, "aaaaaaaaaaaaaaabbbbbbbbbbbbbbbbb"), (106, None),
         (107, "zwischenraum ag"), (108, "emoji 🚀 logistic"),
         (109, "x" * 32), (110, "q" * 17 + "x" * 15)],
        "rid long, rname string")

    _rungs_agree(spark, left, right, "lid", "rid", 0.1)
    joined = fuzzy_join(left, right, "lname", "rname", "lid", "rid",
                        threshold=0.1, top_k=1).collect()
    # the midpoint-bait pair must be present and 4dp-stable: 1 - 1/32
    assert any(r[0] == 5 and r[2] == 0.9688 for r in joined)


@pytest.mark.parametrize("sf", [SF_SMALL, SF_MEDIUM])
def test_failed_probe_rescues_by_full_ladder(spark, monkeypatch, sf):
    """A size-gate probe whose collect raised comes back as None. The
    exact rescue must then take the full-ladder broadcast cross join —
    not re-run the failed collect, unbounded, for the native rung — and
    stay oracle-exact."""
    from database_convertor_spark.plans.catalog import CATALOG

    from .oracle_harness import compare, duck_connection

    monkeypatch.setattr(er, "collect_within_budget", lambda df, n: None)
    spec = CATALOG["fuzzy_match_customers"]
    df = spec.builder(spark, sf)
    assert "MapInPandas" not in df._jdf.queryExecution().executedPlan().toString()
    con = duck_connection(sf)
    try:
        ok, diag = compare(df, con, spec.oracle)
    finally:
        con.close()
    assert ok, diag


@pytest.mark.parametrize("sf", [SF_SMALL, SF_MEDIUM])
def test_window_path_exact_rescue_matches_native(spark, sf):
    """The exact rescue's full-ladder cross join (the window path a
    string right key takes) answers like the native DuckDB rung (the
    aggregate path a numeric key takes). Zero-padding the key keeps
    string order equal to numeric order, so ties break alike."""
    from database_convertor_spark.sources.readers import read_table

    customer = read_table(spark, sf, "customer")
    supplier = read_table(spark, sf, "supplier")
    padded = supplier.withColumn("s_suppkey",
                                 F.format_string("%09d", "s_suppkey"))

    def run(right):
        df = fuzzy_join(customer, right, "c_name", "s_name", "c_custkey",
                        "s_suppkey", threshold=0.5, top_k=1)
        return sorted((r.c_custkey, int(r.s_suppkey), r.confidence,
                       r.match_method) for r in df.collect())

    numeric = run(supplier)
    assert numeric and run(padded) == numeric
