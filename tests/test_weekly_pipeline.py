"""Flagship weekly dataflow (SURVEY §3.3) on reference-shaped data —
expectations modeled on the reference's own end-to-end test
(DatabaseConverter/test_pipeline.py: 5 applicants in -> 1 processed,
individuals skipped, dups collapsed, validation errors surfaced)."""

from __future__ import annotations

from database_convertor_spark.pipelines.weekly import run_weekly_pipeline


def _discovered(spark):
    return spark.createDataFrame(
        [("camden", "APP/1", "Barratt Homes Limited", None),
         ("camden", "APP/2", "Taylor Wimpey PLC", None),
         ("camden", "APP/3", "Mr John Smith", None),          # individual
         ("camden", "APP/4", None, "Barratt  Homes  Limited"),  # dup via agent
         ("camden", "APP/5", None, None),                      # invalid: no name
         ("hackney", "APP/1", "Berkeley Group Holdings PLC", None),
         ("camden", "OLD/1", "Already Seen Limited", None)],   # already in sink
        ["borough", "reference", "applicant_name", "agent_name"])


def _existing(spark):
    return spark.createDataFrame(
        [("camden", "OLD/1")], ["borough", "reference"])


def _companies(spark):
    return spark.createDataFrame(
        [(101, "BARRATT HOMES LIMITED"),
         (102, "TAYLOR WIMPEY PLC"),
         (103, "BERKELEY GROUP HOLDINGS PLC"),
         (104, "UNRELATED WIDGETS LIMITED")],
        ["company_id", "company_name"])


def test_weekly_pipeline_end_to_end(spark):
    res = run_weekly_pipeline(_discovered(spark), _existing(spark),
                              _companies(spark))
    s = res.stats
    assert s["applications_discovered"] == 7
    assert s["applications_new"] == 6            # OLD/1 anti-joined away
    assert s["applicants_invalid"] == 1          # APP/5: no name at all
    assert s["applicants_valid"] == 5
    # APP/1 and APP/4 collapse on normalized name (different reference
    # keys -> both kept by D2's composite key; dedup is (ref, name))
    assert s["applicants_deduped"] == 5
    assert s["individuals_skipped"] == 1         # Mr John Smith
    # every remaining company applicant resolves to its company
    matched = {(r.applicant_key, r.company_id, r.match_method)
               for r in res.matches.filter("match_rank = 1").collect()}
    assert ("camden|APP/1", 101, "exact_name") in matched
    assert ("camden|APP/2", 102, "exact_name") in matched
    assert ("hackney|APP/1", 103, "exact_name") in matched
    assert ("camden|APP/4", 101, "exact_name") in matched
    assert s["applicants_matched"] == 4
    # nothing matches the unrelated company at rank 1
    assert all(cid != 104 for _, cid, _ in matched)


def test_pipeline_idempotent_on_replay(spark):
    # running the same discovery against a sink that now contains the
    # applications yields zero new work (T3 semantics)
    first = run_weekly_pipeline(_discovered(spark), _existing(spark),
                                _companies(spark))
    existing_after = first.new_applications.select("borough", "reference")
    replay = run_weekly_pipeline(_discovered(spark),
                                 _existing(spark).unionByName(existing_after),
                                 _companies(spark))
    assert replay.stats["applications_new"] == 0
    assert replay.stats["matches_recorded"] == 0


def test_weekly_stats_single_action(spark, monkeypatch):
    """The A12 stats contract in ONE job (round-5 verdict item 7): the
    eight metrics come from a single tagged-union multi-aggregate
    action — exactly one collect(), zero count() actions — and the
    numbers are unchanged."""
    try:  # Spark 4: the concrete class (pyspark.sql.DataFrame is abstract)
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    actions: list[str] = []
    orig_collect, orig_count = DataFrame.collect, DataFrame.count
    monkeypatch.setattr(
        DataFrame, "collect",
        lambda self: (actions.append("collect"), orig_collect(self))[1])
    monkeypatch.setattr(
        DataFrame, "count",
        lambda self: (actions.append("count"), orig_count(self))[1])
    res = run_weekly_pipeline(_discovered(spark), _existing(spark),
                              _companies(spark))
    assert actions == ["collect"], f"stats must be one action, got {actions}"
    assert res.stats == {
        "applications_discovered": 7,
        "applications_new": 6,
        "applicants_valid": 5,
        "applicants_invalid": 1,
        "applicants_deduped": 5,
        "individuals_skipped": 1,
        "applicants_matched": 4,
        "matches_recorded": 4,
    }


def test_weekly_matches_persisted_and_agree_with_stats(spark):
    """The stats action fills the matches cache: res.matches is one
    persisted evaluation, and the match metrics count exactly its
    rows."""
    from pyspark.storagelevel import StorageLevel

    res = run_weekly_pipeline(_discovered(spark), _existing(spark),
                              _companies(spark))
    assert res.matches.storageLevel == StorageLevel.MEMORY_AND_DISK
    rows = res.matches.collect()
    assert res.stats["matches_recorded"] == len(rows)
    assert res.stats["applicants_matched"] == len(
        {r.applicant_key for r in rows})


def test_weekly_second_run_releases_first_matches(spark, tmp_path):
    """Each Engine call is one query: a later weekly run on other
    inputs starts by unpersisting the earlier run's matches."""
    from pyspark.storagelevel import StorageLevel

    from database_convertor_spark.api import Engine

    eng = Engine(spark, str(tmp_path / "warehouse"))
    first = eng.run_weekly(_discovered(spark), _companies(spark))
    assert first.matches.storageLevel != StorageLevel.NONE
    second = eng.run_weekly(_discovered(spark), _companies(spark).limit(2))
    assert first.matches.storageLevel == StorageLevel.NONE
    assert second.matches.storageLevel == StorageLevel.MEMORY_AND_DISK
