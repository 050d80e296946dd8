"""The reference's flagship dataflow (SURVEY §3.3,
weekly_scheduler.py:253-425) as one declarative Spark pipeline:

  1. discover   — newly scanned planning applications (input DataFrame;
                  in production a landing table written by the scanner)
  2. anti-join  — drop (borough, reference) pairs already in the sink
                  (weekly_scheduler.py:586-609)
  3. extract    — applicant rows with coalesced names
                  (weekly_scheduler.py:611-640)
  4. validate   — required-field predicate splits valid/invalid; invalid
                  rows become an error side-output, never a crash
                  (F10, applicant_processor.py:268-289)
  5. dedup      — composite business key (D2: upper(reference) +
                  normalized name, applicant_processor.py:317-336)
  6. classify   — skip likely individuals (F6)
  7. resolve    — fuzzy similarity join to the broadcast companies
                  dimension, every pair scored, with the reference
                  thresholds (J5: >= 0.7, top 3)
  8. edges      — full refresh of the shared-officer-style graph (J3)
  9. stats      — one metrics row per run (A12) computed from the
                  DataFrames themselves, not driver-side counters

Each stage is a pure DataFrame -> DataFrame function; the composition
is lazy until the caller materializes, so Catalyst optimizes across
stage boundaries (e.g. the validate filter pushes into the scan).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import normalize_company_name
from ..operators.entity_resolution import fuzzy_join, is_likely_individual
from ..session import persist_for_query


@dataclass
class WeeklyPipelineResult:
    new_applications: DataFrame
    valid_applicants: DataFrame
    invalid_applicants: DataFrame
    skipped_individuals: DataFrame
    matches: DataFrame
    stats: dict


def filter_new_applications(discovered: DataFrame,
                            existing: DataFrame) -> DataFrame:
    """Stage 2: incremental anti-join on the sink's unique key."""
    return discovered.join(
        existing.select("borough", "reference").dropDuplicates(),
        ["borough", "reference"], "left_anti")


def extract_applicants(applications: DataFrame) -> DataFrame:
    """Stage 3: one applicant row per application, name coalesced from
    the candidate fields (the reference coalesces 4 source fields)."""
    return applications.select(
        "borough", "reference",
        F.coalesce("applicant_name", "agent_name").alias("name"),
    )


def validate_applicants(applicants: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Stage 4 (F10): required fields present + min length; returns
    (valid, invalid) — the invalid side is the error output."""
    ok = (F.col("name").isNotNull() & (F.length(F.trim("name")) >= 3)
          & F.col("reference").isNotNull() & (F.length(F.trim("reference")) > 0))
    return applicants.filter(ok), applicants.filter(~ok | ok.isNull())


def dedup_applicants(applicants: DataFrame) -> DataFrame:
    """Stage 5 (D2): composite key (upper(reference), normalized name)."""
    return (applicants
            .withColumn("_ref", F.upper(F.col("reference")))
            .withColumn("_norm", normalize_company_name(F.col("name")))
            .dropDuplicates(["_ref", "_norm"])
            .drop("_ref", "_norm"))


def run_weekly_pipeline(discovered: DataFrame, existing_applications: DataFrame,
                        companies: DataFrame,
                        threshold: float = 0.7, top_k: int = 3) -> WeeklyPipelineResult:
    new_apps = filter_new_applications(discovered, existing_applications)
    applicants = extract_applicants(new_apps)
    valid, invalid = validate_applicants(applicants)
    deduped = dedup_applicants(valid)

    individual = is_likely_individual(F.col("name"))
    skipped = deduped.filter(individual)
    candidates = (deduped.filter(~individual)
                  .withColumn("applicant_key",
                              F.concat_ws("|", "borough", "reference")))

    matches = fuzzy_join(
        candidates, companies, "name", "company_name",
        "applicant_key", "company_id",
        threshold=threshold, top_k=top_k, broadcast_right=True)
    # Persisted before the stats action, which fills the cache: a caller
    # materializing res.matches reads that one evaluation instead of
    # re-running normalize, cross join, ladder and argmax. The matches
    # live until the next query starts: an Engine call in between (an
    # upsert, say) releases them first, so a later merge_upsert's
    # refreshByPath has no cache entry over the path to re-plan. Matches
    # read after that are recomputed against the table as it is then.
    matches = persist_for_query(matches)

    # Stage 9: metrics in ONE multi-aggregate job (A12); the reference
    # mutates a counter dict per row — here counts are facts about the
    # data, computed by the engine. Eight separate .count() actions
    # were eight jobs, each re-reading its lineage (at 100 TB: eight
    # extra scans); tagging each stage's rows into one union and
    # grouping by the tag is a single action, with the stage branches
    # evaluated concurrently inside it. The matches branch carries its
    # applicant_key so one (count, count_distinct) pair serves both
    # match metrics.
    from functools import reduce

    def _tag(df: DataFrame, stage: str, key: str | None = None):
        k = (F.col(key).cast("string") if key
             else F.lit(None).cast("string"))
        return df.select(F.lit(stage).alias("_stage"), k.alias("_k"))

    tagged = reduce(DataFrame.unionByName, [
        _tag(discovered, "applications_discovered"),
        _tag(new_apps, "applications_new"),
        _tag(valid, "applicants_valid"),
        _tag(invalid, "applicants_invalid"),
        _tag(deduped, "applicants_deduped"),
        _tag(skipped, "individuals_skipped"),
        _tag(matches, "matches", "applicant_key"),
    ])
    rows = {r["_stage"]: r for r in
            (tagged.groupBy("_stage")
             .agg(F.count(F.lit(1)).alias("_n"),
                  F.countDistinct("_k").alias("_nd"))
             .collect())}

    def _n(stage: str, distinct: bool = False) -> int:
        r = rows.get(stage)
        return 0 if r is None else int(r["_nd"] if distinct else r["_n"])

    stats = {
        "applications_discovered": _n("applications_discovered"),
        "applications_new": _n("applications_new"),
        "applicants_valid": _n("applicants_valid"),
        "applicants_invalid": _n("applicants_invalid"),
        "applicants_deduped": _n("applicants_deduped"),
        "individuals_skipped": _n("individuals_skipped"),
        "applicants_matched": _n("matches", distinct=True),
        "matches_recorded": _n("matches"),
    }
    return WeeklyPipelineResult(new_apps, valid, invalid, skipped, matches, stats)
