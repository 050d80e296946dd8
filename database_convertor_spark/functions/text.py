"""Text-analysis building blocks for the training-data pipeline layer:
tokenization, token counting, quality scoring, language-ID heuristics,
document fingerprinting. Pure column expressions (JVM-side) so a
100 TB corpus pass stays inside WholeStageCodegen — with ONE
documented exception: ``nfc_normalize`` is an Arrow-batched pandas
UDF (unicode composition needs per-codepoint tables Spark doesn't
ship; everything downstream of it returns to JVM regexes).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import session_memo

# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic. Deliberately small and deterministic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "es"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "zh": ["的", "是", "了", "在", "我"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is",
                "it", "that", "for", "on", "with", "as"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization, empty-safe."""
    return F.filter(F.split(col, r"\s+"), lambda x: x != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-flavored token estimate: count word pieces + digits + punct
    runs via regexp matching (a deterministic proxy for a real BPE
    vocab, which isn't shipped in this image)."""
    pieces = F.regexp_count(col, F.lit(r"[A-Za-z]{1,4}|\d|[^\sA-Za-z\d]"))
    return pieces.cast("long")


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars."""
    total = F.length(col).cast("double")
    punct = F.regexp_count(col, F.lit(r"[^\w\s]")).cast("double")
    return F.when(total == 0, F.lit(0.0)).otherwise(punct / total)


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    """Stopword tokens / total tokens."""
    sw = F.array(*[F.lit(w) for w in (stopwords or EN_STOPWORDS)])
    toks = tokens(F.lower(col))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("double")
    n = F.size(toks).cast("double")
    return F.when(n == 0, F.lit(0.0)).otherwise(hits / n)


def mean_token_length(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t))
    n = F.size(toks).cast("double")
    return F.when(n == 0, F.lit(0.0)).otherwise(total / n)


def quality_score(col: Column) -> Column:
    """0-100 composite quality score, reference-style additive points
    (data_enrichment.py:166-184 scores 20 pts x 5 fields + bonus; here
    the fields are text-quality signals):
      25 pts: >= 20 tokens, 25 pts: mean token length in [3, 12],
      25 pts: punctuation ratio < 0.2, 25 pts: stopword ratio > 0.01.
    """
    pts = (
        F.when(token_count(col) >= 20, 25).otherwise(0)
        + F.when(mean_token_length(col).between(3.0, 12.0), 25).otherwise(0)
        + F.when(punct_ratio(col) < 0.2, 25).otherwise(0)
        + F.when(stopword_ratio(col) > 0.01, 25).otherwise(0)
    )
    return pts.cast("int")


def lang_marker_hits(col: Column, lang: str) -> Column:
    """# distinct marker words of ``lang`` present in the text."""
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.array_intersect(F.array_distinct(tokens(F.lower(col))), markers))


def detect_language(col: Column) -> Column:
    """Argmax over per-language marker hits; 'und' when no marker hits.
    Ties break by language code order (deterministic)."""
    langs = sorted(LANG_MARKERS)
    scores = {lang: lang_marker_hits(col, lang) for lang in langs}
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.lit("und")
    # build reversed so earlier langs win ties
    for lang in reversed(langs):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column) -> Column:
    """Normalized-text MD5 fingerprint (content-addressed dedup key)."""
    norm = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.md5(norm)


def gopher_signals(col: Column) -> dict[str, Column]:
    """Gopher-style document quality signals (public filter rules from
    Rae et al. 2021, "Scaling Language Models: ... Gopher", §A1.1, and
    the C4 duplicate-line heuristic) — all pure column expressions:

      n_words, mean_word_len, dup_line_frac (1 - distinct/total over
      non-empty trimmed lines), dup_word_frac, ellipsis_line_frac,
      bullet_line_frac, alpha_word_frac, symbol_word_ratio ('#' and
      '...' per word).

    Returns a dict of named columns so callers select the subset they
    need; ``gopher_passes`` conjoins the published thresholds."""
    toks = tokens(col)
    n_words = F.size(toks)
    nw = n_words.cast("double")
    lines = F.filter(F.transform(F.split(col, "\n"), lambda x: F.trim(x)),
                     lambda x: x != "")
    n_lines = F.size(lines)
    nl = n_lines.cast("double")

    def frac_lines(pred) -> Column:
        return F.when(n_lines == 0, F.lit(0.0)).otherwise(
            F.size(F.filter(lines, pred)).cast("double") / nl)

    dup_line = F.when(n_lines == 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(lines)).cast("double") / nl)
    dup_word = F.when(n_words == 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(toks)).cast("double") / nw)
    ellipsis = frac_lines(lambda x: x.endswith("...") | x.endswith("…"))
    bullet = frac_lines(lambda x: F.substring(x, 1, 1).isin("-", "*", "•"))
    alpha = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
        .cast("double") / nw)
    symbols = (F.regexp_count(col, F.lit("#"))
               + F.regexp_count(col, F.lit(r"\.\.\."))).cast("double")
    sym_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(symbols / nw)
    return {
        "n_words": n_words.cast("long"),
        "mean_word_len": F.round(mean_token_length(col), 4),
        "dup_line_frac": F.round(dup_line, 4),
        "dup_word_frac": F.round(dup_word, 4),
        "ellipsis_line_frac": F.round(ellipsis, 4),
        "bullet_line_frac": F.round(bullet, 4),
        "alpha_word_frac": F.round(alpha, 4),
        "symbol_word_ratio": F.round(sym_ratio, 4),
    }


# repr(col) -> built predicate Column, per session (a Column wraps a
# Py4J handle into its session's JVM). Building costs ~250 Py4J round
# trips (~0.45 s of driver time profiled warm at sf0.1), repeated by
# every corpus-family query invocation; Columns are immutable
# unresolved expression trees resolved by name at plan time, so one
# build per input expression is sound (r11, guide §1.2 — same
# memoization argument as similarity_search._rank_exprs_cached).
_gopher_passes_memo = session_memo(64)


def gopher_passes(col: Column) -> Column:
    """The Gopher keep/drop conjunction over the signals (published
    thresholds: 50<=words<=100k, 3<=mean word len<=10, symbol ratio
    <0.1, bullet lines <90%, ellipsis lines <30%, >=80% words
    alphabetic, duplicate lines <=30%)."""
    def build() -> Column:
        s = gopher_signals(col)
        return (s["n_words"].between(50, 100_000)
                & s["mean_word_len"].between(3.0, 10.0)
                & (s["symbol_word_ratio"] < 0.1)
                & (s["bullet_line_frac"] < 0.9)
                & (s["ellipsis_line_frac"] < 0.3)
                & (s["alpha_word_frac"] >= 0.8)
                & (s["dup_line_frac"] <= 0.3))

    return _gopher_passes_memo(repr(col), build)


# Cross-engine deterministic hashing: xxhash64 is Spark-only, so the
# sketch operators (MinHash, SimHash) hash through md5 instead — the
# first 15 hex chars parsed as a 60-bit integer is computable
# identically in DuckDB as ('0x' || substr(md5(x), 1, 15))::BIGINT,
# which is what makes those operators fully oracle-checkable.
HASH_PRIME = 1073741789  # 30-bit prime: a*b below stays under 2^60


def md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative long (engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _hash_const(s: str) -> int:
    """Python twin of md5_long for baking literal hash-family seeds."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# Affine universal-hash family h_i(b) = (A_i*b + B_i) mod HASH_PRIME over
# the 30-bit base hash: one md5 per shingle total, 64 cheap integer ops —
# the seeds are literals, identical in the Spark plan and the SQL oracle.
MINHASH_A = [(_hash_const(f"A{i}") % (HASH_PRIME - 1)) + 1 for i in range(64)]
MINHASH_B = [_hash_const(f"B{i}") % HASH_PRIME for i in range(64)]


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> — the MinHash input.
    Pure expression: transform over token index positions."""
    toks = tokens(F.lower(col))
    k = F.size(toks) - (n - 1)
    idx = F.sequence(F.lit(1), F.greatest(k, F.lit(0)))
    return F.when(F.size(toks) < n,
                  F.array(F.array_join(toks, " "))
                  ).otherwise(F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " ")))


def _make_nfc_udf():
    @F.pandas_udf(T.StringType())
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda x: None if x is None
                     else unicodedata.normalize("NFC", x))

    return nfc


# one NFC kernel per session: a UDF kept past a session restart
# reports its accumulator updates to the dead context
_nfc_udf_memo = session_memo(1)


def nfc_normalize(col: Column) -> Column:
    """Unicode NFC normalization (compose combining sequences:
    'e' + U+0301 -> 'é'). Spark has no built-in normalizer, so this is
    an Arrow-batched pandas UDF — the one legitimately-Python stage of
    text normalization (per-codepoint tables), built once per session
    (decorating per call would re-inspect hints and re-pickle the
    closure for every plan built). ASCII-only batches pass through
    allocation-free in CPython (NFC of ASCII is identity)."""
    return _nfc_udf_memo(None, _make_nfc_udf)(col)


def normalize_text_for_training(col: Column) -> Column:
    """The standard pre-training text normalization pass: NFC compose,
    strip C0/C1 control characters (newlines survive; tabs become
    spaces), collapse horizontal whitespace runs, trim spaces around
    newlines and at the ends. Everything after the NFC UDF is JVM
    regexp_replace — order matters (NFC first, so composed characters
    are what the regexes see)."""
    out = nfc_normalize(col)
    # control chars minus \n -> space (tab included: horizontal layout
    # collapses to single spaces next)
    out = F.regexp_replace(
        out, "[\\x00-\\x09\\x0B-\\x1F\\x7F\\x{0080}-\\x{009F}]", " ")
    out = F.regexp_replace(out, " {2,}", " ")
    out = F.regexp_replace(out, " ?\\n ?", "\n")
    # full whitespace trim at both ends (F.trim strips spaces only)
    return F.regexp_replace(out, "^\\s+|\\s+$", "")
