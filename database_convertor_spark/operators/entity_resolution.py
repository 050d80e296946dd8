"""Entity resolution — SURVEY J5: the reference's fuzzy applicant ->
company similarity join (applicant_processor.py:200-266), the one
genuinely custom operator family.

The reference prunes candidates with a Companies House name search and
scores each (applicant, candidate) with a ladder:
  exact normalized match        -> 0.95+   'exact_name'
  suffix-stripped match         -> 0.9     'suffix_normalized'
  token-set Jaccard (+boost)    -> >=0.7   'token_match'
  difflib SequenceMatcher ratio -> >=0.8   'fuzzy_name'
then keeps matches >= 0.7, top-3 per applicant
(applicant_pipeline.py:39-41, 165-169).

Spark-first shape:
- candidate generation = a JOIN, never a cross product. Two paths:
  (a) broadcast join when the right side is a genuine dimension,
  (b) token-blocking join (explode distinct name tokens, equi-join on
      token, dedup pairs) — the general O(n) path at 100 TB; common
      tokens ("developments", "limited") are stopworded out before
      blocking, which is also the skew fix. Lefts with no token
      candidate fall through to ``fuzzy_join``'s size-gated rescue.
- scoring = pure column expressions: exact match -> 1.0, else the
  greater of boosted token-Jaccard (array algebra) and levenshtein
  similarity (a built-in), which stands in for the difflib rung
  ('fuzzy_name'). The exact rescue's levenshtein rung runs natively
  in DuckDB when the top-1 argmax is an aggregate.
- ranking = max(struct) argmax per left key for top-1 with a numeric
  right key (partial-aggregable), else a row_number window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cleaning import normalize_company_name
from ..session import collect_within_budget, persist_for_query
from ..functions.similarity import levenshtein_similarity, token_set

# Blocking stopwords: high-frequency name tokens that would create
# mega-blocks (the skew hazard called out in SURVEY §7.4).
BLOCKING_STOPWORDS = ["limited", "ltd", "plc", "llp", "the", "and", "of",
                      "co", "company", "group", "holdings", "developments",
                      "properties", "construction", "uk"]

MATCH_THRESHOLD = 0.7
TOP_K = 3

# fuzzy_join's rescue gates, read at each call: a dimension of at most
# EXACT_RESCUE_LIMIT rows whose |left| x |dimension| stays within
# MAX_RESCUE_PAIRS is rescued exactly; past either, each residual left
# meets only the rights sharing one of its RESCUE_RARE_GRAMS rarest
# 3-grams. EXACT_RESCUE_LIMIT = 0 forces the gram regime at any size.
EXACT_RESCUE_LIMIT = 100_000
MAX_RESCUE_PAIRS = 50_000_000
RESCUE_RARE_GRAMS = 6


def is_likely_individual(name: Column) -> Column:
    """SURVEY F6 (applicant_processor.py:104-125): personal-title prefix
    OR (no company suffix AND 2-3 words) — pure column expression."""
    lname = F.lower(F.trim(name))
    title_prefix = lname.rlike(r"^(mr|mrs|ms|miss|dr|prof)\b")
    suffix_words = ["limited", "ltd", "plc", "llp", "inc", "corp", "company"]
    has_suffix = F.lit(False)
    for w in suffix_words:
        has_suffix = has_suffix | lname.rlike(rf"\b{w}\b")
    n_words = F.size(F.filter(F.split(lname, r"\s+"), lambda x: x != ""))
    return title_prefix | (~has_suffix & n_words.between(2, 3))


def _block_on_tokens(left: DataFrame, right: DataFrame, n_right: int,
                     df_frac: float = 0.05,
                     df_floor: int = 100,
                     max_token_pairs: float = 1_000_000) -> DataFrame:
    """Token-blocking candidate join: pair rows sharing any non-stopword,
    non-MEGA name token (expects precomputed _ltoks/_rtoks arrays).
    Returns the deduped (left x right) candidate pairs.

    Mega-token cap (the sf1 probe finding): a token carried by more
    than ``max(n_right * df_frac, df_floor)`` dimension rows is a
    de-facto stopword — "inc", "trading", a synthetic batch suffix —
    and every left holding it would pair with that whole slice of the
    dimension: DF_left(t) x DF_right(t) candidate pairs, the quadratic
    blow-up through the back door (measured: one 10%-DF token at sf1
    produced 135M of 135M candidates and a >3-minute ladder pass; the
    static stopword list cannot know corpus-specific megas). Such
    tokens are excluded from BLOCKING ONLY — scoring still sees the
    full arrays — and a left whose every token is capped simply has
    zero candidates here, so it falls through to fuzzy_join's rescue
    rung, which is EXACT within ``EXACT_RESCUE_LIMIT`` and
    ``MAX_RESCUE_PAIRS`` (strictly better than ranking only its
    mega-token pairs) and blocked on ``RESCUE_RARE_GRAMS`` rarest
    grams past them. ``df_floor`` keeps small dimensions entirely
    uncapped. The cap is safe only because fuzzy_join always has that
    rescue rung: without it, a left whose every token is capped would
    silently lose all candidates instead of falling through.

    Per-token PAIR budget (the r7 sf10 probe finding): the df cap is
    PROPORTIONAL to the dimension (``n_right * df_frac``), so the
    worst token's candidate mass DF_left(t) x DF_right(t) grows as
    0.05 * n_left * n_right — quadratic BY CONSTRUCTION once both
    sides scale together (measured: every certified scale tops out at
    100 pairs/token, sf10 reached 15M pairs on one token and 1.5B
    total, 26x on 10x data). ``max_token_pairs`` bounds the actual
    product: both sides' token DF tables (small, map-side-combining
    aggregates, broadcast) join once, and a token whose DF product
    exceeds the budget is excluded from blocking exactly like a mega
    token — its lefts either pair through their rarer tokens or fall
    through to the rescue rung. Total candidate mass is then bounded
    by n_tokens x budget — linear in vocabulary, never quadratic in
    rows.

    Plan shape (also learned at the sf1 probe): Catalyst pushes the
    caller's ladder filter below the dedup into the join condition.
    That is the shape we WANT — the ladder evaluates per shared-token
    occurrence (post-cap fan-out is small), survivors are pruned
    before the dedup aggregate buffers them, and the dedup stays a
    HashAggregate. (The tempting alternative — group on scalar keys
    and carry the arrays via first() — blocks the pushdown AND falls
    back to a SortAggregate over every candidate pair; measured
    strictly worse.) The conditional repartition spreads the exploded
    probe side only when the source arrives with fewer partitions
    than the cluster has cores — a many-split 100-TB scan keeps its
    natural partitioning and pays no extra shuffle."""
    # probe the SOURCE's partition count before any join is attached:
    # .rdd on a frame containing a broadcast join would eagerly
    # materialize the broadcast build (running the DF aggregate once
    # for the probe and again for the real execution)
    par = left.sparkSession.sparkContext.defaultParallelism
    few_splits = left.rdd.getNumPartitions() < par
    sw = F.array(*[F.lit(w) for w in BLOCKING_STOPWORDS])
    # explode_OUTER: a non-outer Generate lets the optimizer infer
    # `size(array_except(_ltoks, sw)) > 0` and substitute the whole
    # normalize+tokenize expression into a Filter at the SCAN — one
    # full extra pass per side, on the pre-spread (often single-task)
    # stage. Outer emits a NULL _tok for empty/all-stopword names
    # instead, and every downstream join is an inner equi-join on
    # _tok, which drops NULL keys — candidate set identical, and the
    # no-token lefts still fall through to the rescue rung
    lt = left.withColumn(
        "_tok", F.explode_outer(F.array_except(F.col("_ltoks"), sw)))
    rt = right.withColumn(
        "_tok", F.explode_outer(F.array_except(F.col("_rtoks"), sw)))
    cap = max(int(n_right * df_frac), df_floor)
    # dimension-side token DF table: <= |right| x avg_tokens rows,
    # broadcast-joined as a semi-filter on BOTH exploded sides (a
    # capped token can be dropped from the left too — it can never
    # produce a candidate)
    ldf = lt.groupBy("_tok").agg(F.count(F.lit(1)).alias("_ldf"))
    tok_ok = (rt.groupBy("_tok").agg(F.count(F.lit(1)).alias("_tdf"))
              .filter(F.col("_tdf") <= cap)
              .join(ldf, "_tok", "left")
              .filter(F.coalesce(F.col("_ldf"), F.lit(0)).cast("double")
                      * F.col("_tdf") <= max_token_pairs)
              .select("_tok"))
    lt = lt.join(F.broadcast(tok_ok), "_tok")
    rt = rt.join(F.broadcast(tok_ok), "_tok")
    if few_splits:
        lt = lt.repartition(par)
    return lt.join(rt, "_tok").drop("_tok").dropDuplicates()


def _qgrams(colname: str, q: int = 3) -> Column:
    """Distinct character q-grams of a string column (whole string when
    shorter than q). expr-string form on purpose: pyspark HOF lambdas
    bind every python-level default as a lambda variable."""
    return F.expr(
        f"array_distinct(transform("
        f"sequence(1, greatest(length({colname}) - {q - 1}, 1)),"
        f" i -> substr({colname}, i, {q})))")


def _block_on_qgrams(left: DataFrame, right: DataFrame,
                     left_key: str, right_key: str, n_right: int,
                     q: int = 3, rare_k: int = 6,
                     df_frac: float = 0.2, df_floor: int = 20,
                     dedup_pairs: bool = True,
                     broadcast_limit: int = 2_000_000,
                     max_df_cap: int | None = None,
                     right_fallback: bool = True,
                     max_rank1_pairs: int | None = None) -> DataFrame:
    """Rarest-q-gram candidate blocking for the levenshtein rescue rung
    (the de-quadratic fix for the round-2 scale-killer).

    Pairs each left row with every right row sharing at least one of the
    left's ``rare_k`` RAREST q-grams (ranked by right-side gram document
    frequency). Rarest-first is the standard prefix-filtering move from
    the string-similarity-join literature: frequent grams ("000", "er#")
    are exactly the ones that recreate the quadratic blow-up through a
    skewed equi-join, while an edit-similar pair shares its long common
    substrings -- and therefore the left's *rare* grams.

    Recall contract — this rung is APPROXIMATE, and provably cannot be
    otherwise at loose thresholds: candidates ⊇ pairs sharing ≥1 of the
    left's rare_k rarest grams. A pair with edit distance d is
    guaranteed a shared q-gram only when d < ceil(max_len/q)
    (pigeonhole); an argmax pair at or beyond that bound may share only
    ubiquitous grams (DF ≈ |right|), which the mega-gram cap excludes —
    exactly the round-3 driver failure, where uniform-length
    token-disjoint names sat at d = ceil(18/3) = 6 and 1,144/1,500
    lefts got a worse-than-argmax answer. ``fuzzy_join`` therefore uses
    this rung ONLY above ``EXACT_RESCUE_LIMIT``, where exhaustive
    scoring is genuinely unaffordable, and documents that regime as
    recall-bounded — the same contract as the reference's search-API
    candidate pruning (applicant_processor.py:200-241).

    Cost: |left| x rare_k x avg_gram_df candidate rows through a hash
    equi-join -- never a nested loop, never |left| x |right|.

    ``max_rank1_pairs`` (the r8 sf100 finding): rank 1's cap EXEMPTION
    is the one remaining unbudgeted mass — its cost is the sum of
    per-left rarest PRESENT gram DFs, which the docstring below calls
    "similarity-structure-bounded", and usually is; but on a corpus
    where every gram is frequent (the sf100 fixture: every supplier
    digit pattern repeats per copy, so min present DF ~10^3-10^5) that
    sum hit ~15M x 10^3+ pairs CONCENTRATED ON A FEW GRAM KEYS — a
    single-task straggler that ran >20 min and filled 77 GB of shuffle.
    When set, one aggregate (sum over lefts of min _gdf — the exact
    rank-1 join mass) checks the exemption against the budget; past it,
    rank 1 loses its exemption (lefts whose EVERY present gram is
    over-cap become rescue-unreachable at this scale — the same
    documented recall trade as the capped ranks and the dropped
    unreachable-right fallback), with a warning.

    ``max_df_cap`` (the r7 sf10 finding): the proportional cap
    (``n_right * df_frac``) lets per-left candidate mass grow linearly
    with the dimension — |L| x rare_k x 0.2|R| is quadratic once both
    sides scale together (the sf10 probe spilled out of memory on
    exactly this). The caller passes an ABSOLUTE cap sized to its pair
    budget; grams above it are excluded from ranks 2..k (rank 1 stays
    exempt for left-reachability — its mass is sum of per-left rarest
    DFs, similarity-structure-bounded). ``right_fallback=False``
    additionally drops the unreachable-right rung, whose mass is
    unbounded under a tight cap (a right reachable only through
    above-budget grams is indistinguishable from noise at that scale —
    the documented recall trade of the budgeted regime).
    """
    # The right side of the rescue is a dimension by this operator's
    # contract (the big side is always the left); its row count (the
    # fuzzy_join gate's, paid once) is used twice: (a) the mega-gram
    # frequency cap below, (b) the broadcast auto-degrade guard — above
    # ``broadcast_limit`` rows the gram table stops being broadcast and
    # the join degrades to a shuffle hash join instead of OOMing.
    maybe_broadcast = F.broadcast if n_right <= broadcast_limit else (lambda d: d)
    # explode_OUTER for the same reason as _block_on_tokens: the
    # inferred size()>0 constraint would re-run the q-gram transform
    # in a scan-side Filter; NULL _g rows die at the inner joins
    rg = right.withColumn("_g", F.explode_outer(_qgrams("_rnorm", q)))
    gdf = (rg.filter(F.col("_g").isNotNull())
           .groupBy("_g").agg(F.count(F.lit(1)).alias("_gdf")))
    lg = left.withColumn("_g", F.explode_outer(_qgrams("_lnorm", q)))
    # grams absent from the right side can never produce a candidate --
    # the inner join drops them before the rarity ranking
    lg = lg.join(maybe_broadcast(gdf), "_g")
    # mega-gram guard: a gram shared by (almost) every right row pairs
    # each left with the WHOLE right side -- the quadratic blow-up
    # through the back door. Megas rank LAST under rarest-first
    # ordering, so the cap only needs to stop them from padding the
    # top-k of lefts with few rare grams. Two calibration lessons,
    # both measured against the all-pairs oracle at sf0.1:
    #   - the cap must stay loose (20%%): at 5%% it dropped DF~0.11*|R|
    #     digit grams and lost true argmax candidates;
    #   - rank 1 is exempt on BOTH sides: a row whose every gram is
    #     above the cap (e.g. the all-zeros key "supplier#000000000")
    #     would otherwise become unreachable, and it was precisely the
    #     argmax for 14 lefts. Keeping one gram per degenerate row
    #     bounds its candidates by that gram's frequency.
    # Worst-case per-left candidates: rare_k * cap + (degenerate rows).
    cap = max(int(n_right * df_frac), df_floor)
    if max_df_cap is not None:
        cap = min(cap, max(1, max_df_cap))
    rank1_exempt = True
    if max_rank1_pairs is not None:
        # EXACT mass of the rank-1 exemption's join: each left's rank-1
        # gram meets exactly min(_gdf) right rows. One aggregate over
        # the gram frame (map-side combining min, then a one-row sum).
        r1mass = (lg.groupBy(left_key).agg(F.min("_gdf").alias("_m"))
                  .agg(F.sum("_m").alias("s")).collect()[0]["s"]) or 0
        if r1mass > max_rank1_pairs:
            import warnings

            rank1_exempt = False
            warnings.warn(
                f"fuzzy_join gram rescue: rank-1 cap-exemption mass "
                f"{r1mass:,.0f} pairs exceeds the {max_rank1_pairs:,} "
                f"budget (every gram is frequent on this corpus) — "
                f"dropping the exemption; lefts whose every present "
                f"gram is over-cap become rescue-unreachable at this "
                f"scale (raise MAX_RESCUE_PAIRS to loosen)",
                stacklevel=3)
    wr = Window.partitionBy(left_key).orderBy(F.asc("_gdf"), F.asc("_g"))
    keep = (F.col("_grn") <= rare_k) & (F.col("_gdf") <= cap)
    if rank1_exempt:
        keep = (F.col("_grn") == 1) | keep
    rare = (lg.withColumn("_grn", F.row_number().over(wr))
            .filter(keep)
            .select(left_key, "_lnorm", "_g"))
    par = left.sparkSession.sparkContext.defaultParallelism
    # single-file dimension inputs arrive as one partition; spread the
    # probe side so the per-candidate levenshtein work parallelizes
    cand = (rare.repartition(par)
            .join(maybe_broadcast(rg.select(right_key, "_rnorm", "_g")), "_g")
            .drop("_g"))
    # right-side reachability fallback: a right row with NO sub-cap
    # gram is invisible to the capped join above — pair it with every
    # left sharing its rarest gram (rank-1 row with _gdf > cap is
    # exactly "rarest gram of an unreachable right")
    if right_fallback:
        wrr = Window.partitionBy(right_key).orderBy(F.asc("_gdf"),
                                                    F.asc("_g"))
        r_unreach = (rg.join(maybe_broadcast(gdf), "_g")
                     .withColumn("_rrn", F.row_number().over(wrr))
                     .filter((F.col("_rrn") == 1) & (F.col("_gdf") > cap))
                     .select(right_key, "_rnorm", "_g"))
        cand_fallback = (lg.select(left_key, "_lnorm", "_g")
                         .repartition(par)
                         .join(maybe_broadcast(r_unreach), "_g")
                         .drop("_g"))
        cand = cand.unionByName(cand_fallback)
    # a pair sharing several rare grams appears once per shared gram;
    # callers whose downstream is a max()-style aggregate (top-1 path)
    # are duplicate-insensitive and skip this shuffle
    return cand.dropDuplicates([left_key, right_key]) if dedup_pairs else cand


_NUMERIC_TYPES = {"tinyint", "smallint", "int", "bigint", "float",
                  "double", "long", "integer", "short", "byte"}


def _ladder_score(pairs: DataFrame, left_key: str,
                  right_key: str) -> DataFrame:
    """Full scoring ladder over a candidate-pair frame carrying
    _lnorm/_rnorm/_ltoks/_rtoks, as (left_key, right_key, confidence,
    match_method) rows. One intersect per pair;
    |A∪B| = |A|+|B|-|A∩B|, subset ⇔ |A∩B|=|A| (token arrays are
    distinct by construction)."""
    i = F.size(F.array_intersect(F.col("_ltoks"), F.col("_rtoks"))).cast("double")
    na = F.size(F.col("_ltoks")).cast("double")
    nb = F.size(F.col("_rtoks")).cast("double")
    union = na + nb - i
    jac = F.when(union == 0, F.lit(0.0)).otherwise(i / union)
    subset = ((i == na) | (i == nb)) & (na > 0) & (nb > 0)
    jac_boosted = F.least(jac + F.when(subset, 0.2).otherwise(0.0), F.lit(1.0))
    lev = levenshtein_similarity(F.col("_lnorm"), F.col("_rnorm"))
    exact = F.col("_lnorm") == F.col("_rnorm")
    confidence = F.round(
        F.when(exact, F.lit(1.0)).otherwise(F.greatest(jac_boosted, lev)), 4)
    method = (F.when(exact, F.lit("exact_name"))
              .when(jac_boosted >= lev, F.lit("token_match"))
              .otherwise(F.lit("fuzzy_name")))
    return pairs.select(left_key, right_key, confidence.alias("confidence"),
                        method.alias("match_method"))


def _duckdb_lev_rung(residual: DataFrame, rnorm: DataFrame, rights_pdf,
                     left_key: str, right_key: str,
                     threshold: float, par: int) -> DataFrame:
    """Exact nested-loop levenshtein rescue executed NATIVELY inside
    Arrow-batched tasks (guide §4.2: hand whole batches to vectorized
    native code): each task cross-joins its residual-left batch against
    the broadcast dimension in an embedded DuckDB and returns ONLY the
    per-left argmax row (confidence desc, right_key asc — the same
    ordering the caller's max-struct aggregate applies), already
    filtered to ``confidence >= threshold``.

    Pre-aggregation is exact by algebra: max is associative, and within
    this rung a left never meets the same right twice, so the rung's
    struct-max equals its row_number()=1 row; unioning that single row
    with the other rungs before the final argmax is identical to
    unioning every pair. The JVM expression form of this rung (the
    tests keep it as the reference) computed the full ladder on
    |residual| x |dim| rows through codegen (measured 4.8 s on 14M
    pairs at sf0.1); the native cross join + early argmax returns
    |residual| rows instead and never materializes the pair frame
    outside the C++ engine (~0.5 s same data). The scoring SQL is
    copied verbatim from the catalog's DuckDB oracle ladder, so
    cross-engine rounding agreement is inherited, not re-derived.

    ``rights_pdf`` is the dimension's (right_key, _rnorm) rows as the
    caller's size gate collected them (<= EXACT_RESCUE_LIMIT rows);
    this rung never collects ``rnorm`` itself, which supplies only the
    key type. It is broadcast once; each task holds it plus one Arrow
    batch."""
    spark = residual.sparkSession
    b_rights = spark.sparkContext.broadcast(rights_pdf)
    lk_t = dict(residual.dtypes)[left_key]
    rk_t = dict(rnorm.dtypes)[right_key]
    sql = f'''
        SELECT "{left_key}", "{right_key}", confidence, match_method
        FROM (
          SELECT *, row_number() OVER (
                       PARTITION BY "{left_key}"
                       ORDER BY confidence DESC NULLS LAST,
                                "{right_key}") AS _rn
          FROM (
            SELECT l."{left_key}", r."{right_key}",
                   round(CASE WHEN l._lnorm = r._rnorm THEN 1.0
                         ELSE CASE WHEN greatest(length(l._lnorm),
                                                 length(r._rnorm)) = 0
                                   THEN 1.0
                              ELSE 1.0 - CAST(levenshtein(l._lnorm,
                                                          r._rnorm)
                                              AS DOUBLE)
                                         / greatest(length(l._lnorm),
                                                    length(r._rnorm))
                              END END, 4) AS confidence,
                   CASE WHEN l._lnorm = r._rnorm THEN 'exact_name'
                        ELSE 'fuzzy_name' END AS match_method
            FROM l CROSS JOIN r))
        WHERE _rn = 1 AND confidence >= {float(threshold)!r}
    '''

    def rung(batches):
        import duckdb

        con = duckdb.connect()
        # one thread per task: Spark already runs one task per core;
        # DuckDB's default (all cores) would oversubscribe 32x
        con.execute("SET threads TO 1")
        con.register("r", b_rights.value)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            con.register("l", pdf)
            yield con.execute(sql).df()

    return (residual.select(left_key, "_lnorm")
            .repartition(par)
            .mapInPandas(rung, f"{left_key} {lk_t}, {right_key} {rk_t}, "
                               f"confidence double, match_method string"))


def fuzzy_join(left: DataFrame, right: DataFrame,
               left_name: str, right_name: str,
               left_key: str, right_key: str,
               threshold: float = MATCH_THRESHOLD,
               top_k: int = TOP_K,
               broadcast_right: bool = False) -> DataFrame:
    """General fuzzy similarity join with blocking + ladder scoring +
    per-left-key top-k (SURVEY J5 -> W4).

    Output: (left_key, right_key, confidence, match_method, match_rank).

    Candidate semantics (the scale contract):
    - default path: candidates = token-sharing pairs (the O(n)
      equi-join on exploded non-stopword tokens), PLUS a rescue rung
      for left rows with NO token-sharing candidate at all. The rescue
      is SIZE-GATED on the right side's row count, by the module
      constants ``EXACT_RESCUE_LIMIT``, ``MAX_RESCUE_PAIRS`` and
      ``RESCUE_RARE_GRAMS`` (read at each call):
        * right <= ``EXACT_RESCUE_LIMIT`` (a genuine dimension) AND
          |left| x |right| <= ``MAX_RESCUE_PAIRS``: every residual
          left is scored against the WHOLE broadcast right — exact by
          construction, cost bounded by |residual| x |dim|, with the
          probe side spread across the cluster. The PAIR budget is the
          second gate (added after the first >sf0.1 run measured it):
          dimension row count alone does not bound the nested loop —
          150k residual lefts x a 10k dim is 1.5B levenshtein pairs,
          quadratic in the scale factor. |left| is the worst-case
          residual count (one cheap pruned-scan count; no extra
          execution of the blocking join), so the budget is a hard
          ceiling on rescue compute. Which exact rung runs follows
          from what the gate observed: when its probe returned the
          dimension (top-1 with a numeric right key, whose argmax is
          the max-struct aggregate), the levenshtein rung runs natively
          in DuckDB (``_duckdb_lev_rung``) and only token-sharing
          residual pairs pay the full ladder; in every other case
          (top_k > 1, string keys, a probe whose collect raised) each
          residual pair is scored with the full ladder through a
          broadcast cross join.
        * otherwise (right side too big, or the worst-case pair count
          beyond budget): residual lefts are paired
          via a rarest-q-gram equi-join (each left meets only rights
          sharing one of its ``RESCUE_RARE_GRAMS`` rarest 3-grams)
          and scored by edit distance. This regime is RECALL-BOUNDED
          (see ``_block_on_qgrams``): an argmax pair whose only
          shared grams are ubiquitous can be missed. At that scale an
          exact argmax would be a |left| x |right| nested loop — the
          same trade the reference's search-API pruning makes
          (applicant_processor.py:200-241).
    - ``broadcast_right=True``: the exhaustive quadratic ladder over
      all pairs, blocked lefts included. Keep for genuinely tiny
      right sides only — this is NOT the 100-TB path.

    The hybrid equals the exhaustive join whenever each blocked left's
    global argmax lies inside its token block (token sharing dominates
    the score) and — in the gram-blocked regime only — each residual
    left's argmax shares a sub-cap rare gram. The exact-rescue regime
    carries no recall caveat for residual lefts. Verified against the
    DuckDB all-pairs oracle on the driver schema at sf0.001 + sf0.01
    (tests/test_oracle_parity.py, tests/test_oracle_parity_medium.py —
    the latter runs at the scale where the gram cap is live) and
    one-off at sf0.1 (round 4, 15,000 rows hash-identical); round 3's
    driver failure — gram blocking dropping the true argmax at
    d = ceil(len/q) — is exactly what the size gate removes.

    Performance shape: normalization and tokenization are projected
    BELOW the join (once per input row, not once per candidate pair);
    the per-pair expression is one array_intersect + size algebra + one
    levenshtein. The right side is persisted for the query
    before the gate's probe so the probe and the join read ONE scan of
    the dimension, not two.
    """
    lnorm = (left.select(F.col(left_key),
                         normalize_company_name(F.col(left_name)).alias("_lnorm"))
             .withColumn("_ltoks", token_set(F.col("_lnorm"))))
    rnorm = (right.select(F.col(right_key),
                          normalize_company_name(F.col(right_name)).alias("_rnorm"))
             .withColumn("_rtoks", token_set(F.col("_rnorm"))))
    par = lnorm.sparkSession.sparkContext.defaultParallelism
    right_key_numeric = dict(rnorm.dtypes).get(right_key) in _NUMERIC_TYPES
    agg_top1 = top_k == 1 and right_key_numeric
    if broadcast_right:
        # the probe side usually arrives as a handful of file-splits;
        # spread it across the cluster so the nested-loop join
        # parallelizes (1 task x 15M pairs -> 32 tasks x 500k pairs)
        scored = _ladder_score(
            lnorm.repartition(par).crossJoin(F.broadcast(rnorm)),
            left_key, right_key)
    else:
        # Size gate (the round-4 fix for the r3 driver regression):
        # persist the normalized dimension BEFORE probing so the gate,
        # the token join, and the rescue join all read ONE
        # materialization of the right side (the verdict's double-scan
        # note); the next query releases it, bounding footprint across
        # catalog sweeps.
        rnorm = persist_for_query(rnorm)
        # Under the max-struct argmax the gate's probe doubles as the
        # native rung's collect (r11, guide §1.2 — count-then-toPandas
        # was two sequential jobs over the same persisted dimension):
        # it returns the WHOLE dimension (len IS the exact count) or
        # None (over the limit, or the collect raised), and then the
        # gate counts. The probe also materializes the persist, exactly
        # as the count does.
        rights_pdf = None
        if agg_top1 and EXACT_RESCUE_LIMIT:
            rights_pdf = collect_within_budget(
                rnorm.select(right_key, "_rnorm"), EXACT_RESCUE_LIMIT)
        n_right = (len(rights_pdf) if rights_pdf is not None
                   else rnorm.count())
        # worst-case residual count for the pair budget: a count
        # over the bare left (column-pruned scan — the normalize/
        # tokenize projections are dropped by the optimizer), so
        # the gate never executes the blocking join early
        n_left = left.count()
        # the candidate set is consumed twice (the scored rung AND the
        # residual anti-join's build side); it is pair-budget capped and
        # its dropDuplicates already shuffles the full candidate set, so
        # a disk-backed persist adds no asymptotic cost while halving
        # the blocking work
        pairs = persist_for_query(_block_on_tokens(lnorm, rnorm, n_right))
        scored = _ladder_score(pairs, left_key, right_key)
        # rescue rung: only lefts with ZERO token candidates enter.
        blocked_lefts = pairs.select(left_key).distinct()
        residual = lnorm.join(blocked_lefts, left_key, "left_anti")
        # The residual subtree embeds the whole blocking join (the
        # anti-join's build side); every rescue rung consuming it
        # re-executes that chain from the scan (measured: 3 token
        # blocking passes per fuzzy_match_customers run). Persist
        # once for the query, <= |left| rows of (key, name,
        # tokens), same discipline as the dimension persist above.
        residual = persist_for_query(residual)
        if (EXACT_RESCUE_LIMIT and n_right <= EXACT_RESCUE_LIMIT
                and n_left * n_right <= MAX_RESCUE_PAIRS):
            # exact regime: every residual left against the whole
            # broadcast dimension. The probe side usually arrives
            # as a handful of file-splits — spread it so the
            # per-pair levenshtein parallelizes across the
            # cluster. This nested loop is |residual| x |dim|
            # BOUNDED BY THE GATE, the one place plan aesthetics
            # yield to exactness: rarest-gram blocking provably
            # drops argmax pairs whose only shared grams are
            # ubiquitous (round 3: 1,144/1,500 wrong rows at
            # sf0.01).
            if rights_pdf is not None:
                # native split-rung evaluation (guide §4.2), exact by
                # algebra: a residual pair sharing NO token (stopwords
                # included) has jaccard 0 and subset false, so its full
                # ladder collapses to levenshtein — that rung runs as a
                # DuckDB cross join + per-left argmax inside
                # Arrow-batched tasks (_duckdb_lev_rung), while the
                # jaccard rung rides a separate equi-join on exploded
                # FULL tokens (tiny: only token-sharing pairs) scored
                # with the complete ladder. The downstream max-struct
                # argmax unions both rungs; for a pair present in both,
                # the correction row's confidence is >= the lev row's
                # (greatest includes lev), and on an exact tie the
                # method string 'token_match' > 'fuzzy_name' — the
                # oracle's jac >= lev rule. Outer explodes: the
                # inferred size(_ltoks) > 0 constraint would
                # re-tokenize at the scan; NULL _tok rows die at the
                # inner equi-join.
                lev_rung = _duckdb_lev_rung(
                    residual, rnorm, rights_pdf, left_key, right_key,
                    threshold, par)
                ltok = residual.select(
                    left_key, "_lnorm", "_ltoks",
                    F.explode_outer("_ltoks").alias("_tok"))
                rtok = rnorm.select(
                    right_key, "_rnorm", "_rtoks",
                    F.explode_outer("_rtoks").alias("_tok"))
                corr = ltok.join(F.broadcast(rtok), "_tok").drop("_tok")
                rescue_scored = lev_rung.unionByName(
                    _ladder_score(corr, left_key, right_key))
            else:
                # one full-ladder pass, so each pair appears exactly
                # once for the row_number window (and for the
                # max-struct argmax when the probe's collect raised)
                rescue_scored = _ladder_score(
                    residual.repartition(par).crossJoin(F.broadcast(rnorm)),
                    left_key, right_key)
        else:
            # scale regime (right side beyond any sane broadcast):
            # rarest-q-gram equi-join, recall-bounded by contract —
            # never a nested loop, never |left| x |right|. The lev
            # rung never touches token arrays, so candidate rows
            # carry two strings, not two strings + two arrays.
            #
            # Budget-adaptive gram cap (the r7 sf10 finding): the
            # rung's upper-bound mass |residual| x rare_k x cap is
            # quadratic when the gram cap rides n_right; bound
            # |residual| by the already-counted n_left (no extra
            # job) and when the bound exceeds MAX_RESCUE_PAIRS,
            # shrink the cap to fit and drop the unreachable-right
            # fallback (its mass is cap-inverse). The sf10 probe
            # measured the unbudgeted rung spilling out of memory
            # at 1.5M x 6 x 20k; certified scales sit far under
            # the budget and are untouched.
            natural_cap = max(int(n_right * 0.2), 20)
            rung_ub = n_left * RESCUE_RARE_GRAMS * natural_cap
            budget_cap = None
            if rung_ub > MAX_RESCUE_PAIRS:
                budget_cap = max(1, int(
                    MAX_RESCUE_PAIRS / (n_left * RESCUE_RARE_GRAMS)))
                import warnings
                warnings.warn(
                    f"fuzzy_join: gram-rescue upper bound "
                    f"{rung_ub:,.0f} pairs exceeds MAX_RESCUE_PAIRS="
                    f"{MAX_RESCUE_PAIRS:,}; capping blocking-gram "
                    f"document frequency at {budget_cap} (from "
                    f"{natural_cap}) and dropping the unreachable-"
                    f"right fallback — recall-bounded regime, "
                    f"raise MAX_RESCUE_PAIRS to loosen",
                    stacklevel=2)
            rescue = _block_on_qgrams(
                residual.select(left_key, "_lnorm"),
                rnorm.select(right_key, "_rnorm"),
                left_key, right_key, n_right, rare_k=RESCUE_RARE_GRAMS,
                dedup_pairs=not agg_top1,
                max_df_cap=budget_cap,
                right_fallback=budget_cap is None,
                # the r8 sf100 finding: once the budget regime is
                # live, rank 1's cap exemption must answer to the
                # same budget — on an all-grams-frequent corpus its
                # mass (sum of per-left min DF) is the last
                # unbounded term, and it lands on few gram keys
                # (single-task straggler + disk fill, measured)
                max_rank1_pairs=(MAX_RESCUE_PAIRS
                                 if budget_cap is not None else None))
            lev = levenshtein_similarity(F.col("_lnorm"), F.col("_rnorm"))
            r_exact = F.col("_lnorm") == F.col("_rnorm")
            r_conf = F.round(F.when(r_exact, F.lit(1.0)).otherwise(lev), 4)
            r_method = F.when(r_exact, F.lit("exact_name")).otherwise(
                F.lit("fuzzy_name"))
            rescue_scored = rescue.select(
                left_key, right_key, r_conf.alias("confidence"),
                r_method.alias("match_method"))
        scored = scored.unionByName(rescue_scored)
    survivors = scored.filter(F.col("confidence") >= threshold)
    if agg_top1:
        # argmax per left key as an aggregate, not a window: max(struct)
        # is partial-aggregable, so the map side combines candidate
        # pairs down to one row per left key BEFORE the shuffle —
        # a window would shuffle every surviving pair.
        # struct ordering = (confidence desc ≡ max, right_key asc ≡
        # max of negated key); negation is the tie-break inversion —
        # numeric keys only, hence the dtype guard (string keys fall
        # through to the window path below).
        best = survivors.groupBy(left_key).agg(
            F.max(F.struct(
                F.col("confidence"),
                (-F.col(right_key)).alias("_negk"),
                F.col(right_key).alias("_rk"),
                F.col("match_method").alias("_mm"))).alias("_b"))
        return best.select(
            left_key,
            F.col("_b._rk").alias(right_key),
            F.col("_b.confidence").alias("confidence"),
            F.col("_b._mm").alias("match_method"),
            F.lit(1).cast("int").alias("match_rank"))
    w = Window.partitionBy(left_key).orderBy(
        F.desc("confidence"), F.asc(right_key))
    return (survivors
            .withColumn("match_rank", F.row_number().over(w).cast("int"))
            .filter(F.col("match_rank") <= top_k))


def name_match_email_join(officers: DataFrame, emails: DataFrame,
                          officer_name: str = "officer_name",
                          domain_col: str = "company_domain") -> DataFrame:
    """SURVEY J8 — the reference's officer <-> email name-match lookup
    (api_clients.py:1909-1942, same ladder repeated 2025-2071): parse
    the officer name into first/last (skip single-token names), then
    against each email candidate at the SAME domain apply

      full match:  first <-> email_first containment either way AND
                   last <-> email_last containment either way  -> 0.9
      fallback:    first initial equals email_first's initial AND
                   officer last contained in email_last         -> 0.7

    and keep matched rows only.

    Spark-first shape: the reference calls find_emails_by_domain per
    officer (N API round-trips); here the domain IS the blocking key —
    one equi-join on domain with the containment ladder as the
    residual predicate. Cost is bounded by candidates-per-domain (the
    reference's same bound), never all-pairs; name parsing is
    projected below the join, once per row.

    ``emails`` columns: email, first_name, last_name, ``domain_col``.
    Output: officer columns' keys + email + name_match_confidence.
    """
    parts = F.filter(F.split(F.lower(F.trim(F.col(officer_name))), r"\s+"),
                     lambda x: x != "")
    offs = (officers
            .withColumn("_first", parts.getItem(0))
            .withColumn("_last", F.element_at(parts, -1))
            .filter(F.size(parts) >= 2))
    ems = emails.select(
        F.col(domain_col),
        F.col("email"),
        F.lower(F.coalesce(F.col("first_name"), F.lit(""))).alias("_ef"),
        F.lower(F.coalesce(F.col("last_name"), F.lit(""))).alias("_el"))
    joined = offs.join(ems, domain_col)
    # the reference's `a in b` ladder treats '' as contained in
    # everything, making a NULL-named email a 0.9 match against every
    # officer at the domain — a false-positive amplifier. The
    # non-empty guards depart from that quirk deliberately (and the
    # oracle SQL applies the same guards).
    full = ((F.col("_ef") != "") & (F.col("_el") != "")
            & (F.col("_ef").contains(F.col("_first"))
               | F.col("_first").contains(F.col("_ef")))
            & (F.col("_el").contains(F.col("_last"))
               | F.col("_last").contains(F.col("_el"))))
    initial = ((F.substring(F.col("_first"), 1, 1)
                == F.substring(F.col("_ef"), 1, 1))
               & (F.col("_ef") != "")
               & F.col("_el").contains(F.col("_last")))
    confidence = (F.when(full, F.lit(0.9))
                  .when(initial, F.lit(0.7)))
    return (joined
            .withColumn("name_match_confidence", confidence)
            .filter(F.col("name_match_confidence").isNotNull())
            .drop("_first", "_last", "_ef", "_el"))


# UK city alias table for the LinkedIn profile pick (SURVEY C32,
# api_clients.py:2462-2470).
CITY_ALIASES = {
    "london": ["london", "greater london"],
    "manchester": ["manchester", "greater manchester"],
    "birmingham": ["birmingham", "west midlands"],
    "leeds": ["leeds", "west yorkshire"],
    "glasgow": ["glasgow", "greater glasgow"],
    "edinburgh": ["edinburgh", "lothian"],
}


def select_gb_linkedin(profiles: DataFrame, key: str,
                       seq_col: str = "seq",
                       country_col: str = "country_code",
                       city_col: str = "city",
                       url_col: str = "url",
                       company_city_col: str = "company_city") -> DataFrame:
    """SURVEY C32 — the reference's LinkedIn profile pick
    (api_clients.py:2392-2445 + _find_best_city_match 2448-2483):
    filter candidate profiles to GB, then per entity pick, in order,

      1. the first (by original result order) profile whose city
         CONTAINS the company city,
      2. else the first profile matching a UK city-alias pair
         (e.g. company 'leeds' <-> profile 'West Yorkshire'),
      3. validate that pick's URL contains 'linkedin.com'; if the pick
         is missing or its URL invalid, fall back to the FIRST GB
         profile's URL (mirroring the reference's default), which must
         itself validate or the entity yields NULL.

    The reference loops profiles per officer in Python; here the whole
    pick is ONE partial-aggregable groupBy with three conditional
    min(struct(seq, url)) aggregates — no loop, no window, one shuffle.
    Output: (key, linkedin_url) with NULL for entities with no valid
    pick (caller filters).
    """
    gb = profiles.filter(F.col(country_col) == "GB")
    cc = F.lower(F.trim(F.col(company_city_col)))
    pc = F.lower(F.col(city_col))
    direct = (F.col(company_city_col).isNotNull()
              & F.col(city_col).isNotNull() & pc.contains(cc))
    alias_match = F.lit(False)
    for aliases in CITY_ALIASES.values():
        cc_in = cc.isin(*aliases)
        pc_contains = F.lit(False)
        for a in aliases:
            pc_contains = pc_contains | pc.contains(a)
        alias_match = alias_match | (
            F.col(company_city_col).isNotNull()
            & F.col(city_col).isNotNull() & cc_in & pc_contains)

    pick = F.struct(F.col(seq_col).alias("s"), F.col(url_col).alias("u"))
    agg = gb.groupBy(key).agg(
        F.min(F.when(direct, pick)).alias("_direct"),
        F.min(F.when(alias_match, pick)).alias("_alias"),
        F.min(pick).alias("_first"))

    def _valid(u: Column) -> Column:
        return u.isNotNull() & u.contains("linkedin.com")

    best = F.coalesce(F.col("_direct.u"), F.col("_alias.u"))
    fallback = F.col("_first.u")
    url = (F.when(_valid(best), best)
           .when(_valid(fallback), fallback))
    return agg.select(key, url.alias("linkedin_url"))


def match_customers_to_suppliers(customer: DataFrame, supplier: DataFrame,
                                 threshold: float = 0.5,
                                 top_k: int = 1) -> DataFrame:
    """Driver-schema instantiation of J5: resolve customer names against
    the supplier dimension — token-blocking candidate join + the
    size-gated rescue for unblocked lefts. The supplier table is a
    dimension at every scale factor (sf1 ≈ 10k rows << the 100k gate),
    so up to the 50M pair budget (sf0.1: 15k x 1k = 15M) the rescue
    runs in its EXACT regime: every residual left against the whole
    dimension (top-1 with a numeric key: the native DuckDB levenshtein
    rung plus the token-sharing correction rung). Beyond the budget
    (sf1: 150k x 10k = 1.5B pairs — measured quadratic, not argued) it
    degrades to the documented recall-bounded rarest-q-gram regime. The fully-quadratic broadcast_right path
    (which would nested-loop the blocked lefts too) stays off: at 100x
    data the token block is what keeps the big side linear."""
    return fuzzy_join(customer, supplier, "c_name", "s_name",
                      "c_custkey", "s_suppkey",
                      threshold=threshold, top_k=top_k)
