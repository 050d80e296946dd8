"""Similarity measures — SURVEY §2.7 C20-C23 and the scoring core of
the J5 fuzzy join (applicant_processor.py:140-198).

Built-in expressions wherever Spark has them (levenshtein is native);
the one genuinely non-expressible measure — difflib.SequenceMatcher
.ratio(), which is order-sensitive and NOT the Levenshtein ratio — is
a vectorized pandas UDF so golden tests against the reference's
thresholds (0.95/0.9/0.7/0.8) don't drift.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import session_memo


def levenshtein_similarity(a: Column, b: Column) -> Column:
    """1 - levenshtein/max(len). Native expression (C20); the reference
    hand-rolls the DP (applicant_processor.py:140-158)."""
    dist = F.levenshtein(a, b).cast("double")
    longest = F.greatest(F.length(a), F.length(b)).cast("double")
    return F.when(longest == 0, F.lit(1.0)).otherwise(1.0 - dist / longest)


def token_set(col: Column, pattern: str = r"\s+") -> Column:
    """Distinct non-empty tokens."""
    return F.array_distinct(F.filter(F.split(col, pattern), lambda x: x != ""))


def token_jaccard(a_tokens: Column, b_tokens: Column) -> Column:
    """|A∩B| / |A∪B| over token arrays — pure column expr (C22,
    applicant_processor.py:177-198)."""
    inter = F.size(F.array_intersect(a_tokens, b_tokens)).cast("double")
    union = F.size(F.array_union(a_tokens, b_tokens)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def token_jaccard_with_subset_boost(a_tokens: Column, b_tokens: Column) -> Column:
    """Jaccard + 0.2 subset boost, capped at 1.0
    (applicant_processor.py:177-198)."""
    base = token_jaccard(a_tokens, b_tokens)
    a_subset = F.size(F.array_except(a_tokens, b_tokens)) == 0
    b_subset = F.size(F.array_except(b_tokens, a_tokens)) == 0
    boosted = F.when((a_subset | b_subset) &
                     (F.size(a_tokens) > 0) & (F.size(b_tokens) > 0),
                     base + 0.2).otherwise(base)
    return F.least(boosted, F.lit(1.0))


def _make_sequence_ratio_udf():
    @F.pandas_udf(T.DoubleType())
    def sequence_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
        from difflib import SequenceMatcher

        def ratio(x, y):
            if x is None or y is None:
                return 0.0
            return SequenceMatcher(None, x, y).ratio()

        return pd.Series([ratio(x, y) for x, y in zip(a, b)])

    return sequence_ratio


# one kernel per session: a UDF kept past a session restart reports
# its accumulator updates to the dead context
_sequence_ratio_memo = session_memo(1)


def sequence_ratio(a: Column, b: Column) -> Column:
    """difflib.SequenceMatcher.ratio() — exact port of the reference's
    order-sensitive similarity (applicant_processor.py:160-175, C21).
    Vectorized via Arrow; keep off the hot path (use levenshtein_similarity
    for blocking-scale comparisons, this for final scoring only)."""
    return _sequence_ratio_memo(None, _make_sequence_ratio_udf)(a, b)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two array<float|double> columns — pure higher-order
    function expression (no UDF): dot / (||a|| * ||b||)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))


def confidence_ladder(base: Column, *bonuses: tuple[Column, float]) -> Column:
    """Capped additive confidence (C23, contact_enrichment.py:289-322):
    base + sum(bonus where predicate), least(1.0)."""
    total = base
    for predicate, bonus in bonuses:
        total = total + F.when(predicate, F.lit(bonus)).otherwise(F.lit(0.0))
    return F.least(total, F.lit(1.0))
