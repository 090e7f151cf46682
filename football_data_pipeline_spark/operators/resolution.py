"""F12-F14: the 7-strategy entity-resolution cascade, set-oriented.

The reference resolves one name at a time with per-row early exit
(/root/reference/enhanced_mapping.py:325-392): try exact (conf 1.0),
manual table (0.95), learned table (0.9), normalized equality (0.85),
substring (≥0.75), word-Jaccard (≥0.7), fuzzy ratio (≥0.6), else fall
back to the fuzzy attempt (match if conf ≥ 0.3).

Spark re-architecture — pairs instead of per-row control flow:
candidates are broadcast on a blocking key (the reference prunes them
to ≤~40 names per league, enhanced_mapping.py:846-851 — the key keeps
this tiny at any scale), and the early exit becomes: per api name,
the chosen strategy is the FIRST (by priority) whose
best-over-candidates confidence clears its threshold. Two plans
compute it, one per output shape:

- with alternatives (the reference's full MappingResult): ONE SQL
  statement over the blocked pairs, scored in a single pass — per-name
  windows over one partitioning pick the first passing equality tier,
  run the Jaccard/edit-distance kernels only for names no equality
  tier resolved, then rank the candidates once for the winner and the
  top-3 runners-up (plan notes on ``resolve_names``);
- without (the fast path): equality tiers as broadcast equi-joins and
  one packed-key hash aggregate over the fuzzy remainder
  (``resolve_agg``) — nothing pair-sized sorts.

Neither scores strategy 5 (substring): its confidence is
(min(len)/max(len))·0.75, so it clears its 0.75 gate only on
equal-length containment, i.e. normalized equality, which strategy 4
resolves first at higher priority — it can never be chosen
(tests/test_resolution.py::test_substring_tier_provably_dead).

Determinism note: the reference breaks confidence ties by candidate
list order; this engine uses candidate name ascending — deterministic
under any partitioning, which list order is not (documented
divergence, encoded in the oracle).

Learning (F13) runs between batches, not within one — the reference
learns row-N's mapping in time for row-N+1; a set-oriented pass
converges after one extra batch (SURVEY.md §7 risk register).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.normalize import normalize_name, sql_normalize
from ..functions.similarity import (
    difflib_ratio,
    jaccard_from_words,
    levenshtein_ratio,
    sql_jaccard_from_words,
    sql_levenshtein_ratio,
    sql_word_set,
    substring_confidence,
    word_set,
)
from ..functions.stable import oracle_rnd, rnd
from .upsert import upsert_replace

#: (index, strategy name, early-exit threshold) — enhanced_mapping.py:340-392
STRATEGIES = (
    (1, "exact_match", 1.0),
    (2, "manual_mapping", 0.95),
    (3, "learned_mapping", 0.9),
    (4, "normalized_matching", 0.85),
    (5, "substring_matching", 0.75),
    (6, "word_based_matching", 0.7),
    (7, "fuzzy_matching", 0.6),
    # fallback: the fuzzy attempt is returned anyway; it counts as a
    # match at conf ≥ 0.3 (enhanced_mapping.py:594-601)
    (8, "fuzzy_matching", 0.3),
)


#: strategies 1-5 are O(1)-per-pair comparisons; 6 (array Jaccard)
#: and 7/8 (edit-distance DP) dominate per-pair cost by ~20×
CHEAP_STRATEGIES = STRATEGIES[:5]

#: strategy 5's early-exit gate. Note it EQUALS the kernel's 0.75
#: multiplier cap: substring_confidence = (min/max)·0.75 ≤ 0.75, so
#: the gate passes only at ratio 1 — equal-length containment, i.e.
#: string equality — which strategy 4 already resolves at higher
#: priority. The fast path exploits this (no substring tier).
SUBSTRING_THRESHOLD = 0.75


def reduce_and(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def score_pairs(
    pairs: DataFrame,
    api_col: str = "api_name",
    cand_col: str = "odds_name",
    manual_col: str | None = None,
    learned_col: str | None = None,
    use_difflib: bool = False,
) -> DataFrame:
    """Add normalized names + per-strategy confidence columns to an
    (api, candidate) pair DataFrame.

    ``manual_col``/``learned_col`` are optional columns carrying the
    manual/learned target name for the api side (joined in by the
    caller from the mapping dims, F7).

    Hot-path note: the normalization chain (~12 regexes + translate)
    and the word-set split depend on ONE side each, so they belong on
    the join INPUTS, not on the pair stream — Catalyst evaluates
    projection expressions where they appear, i.e. after the join, so
    hoisting is the caller's job (``resolve_names`` does it). When
    ``__api_norm``/``__cand_norm``/``__api_words``/``__cand_words``
    are already present they are reused; per-pair work is then only
    equality/containment/levenshtein/array-intersect on short
    strings — ~25× faster at 9M pairs than normalizing per pair."""
    api, cand = F.col(api_col), F.col(cand_col)
    out = pairs
    if "__api_norm" not in out.columns:
        out = out.withColumn("__api_norm", normalize_name(api))
    if "__cand_norm" not in out.columns:
        out = out.withColumn("__cand_norm", normalize_name(cand))
    an, cn = F.col("__api_norm"), F.col("__cand_norm")
    aw = (
        F.col("__api_words") if "__api_words" in out.columns else word_set(an)
    )
    cw = (
        F.col("__cand_words") if "__cand_words" in out.columns else word_set(cn)
    )
    fuzzy_sim = (
        difflib_ratio(an, cn) if use_difflib else levenshtein_ratio(an, cn)
    )
    conf = {
        1: F.when(api == cand, 1.0).otherwise(0.0),
        2: (
            F.when(cand == F.col(manual_col), 0.95).otherwise(0.0)
            if manual_col
            else F.lit(0.0)
        ),
        3: (
            F.when(cand == F.col(learned_col), 0.9).otherwise(0.0)
            if learned_col
            else F.lit(0.0)
        ),
        4: F.when(an == cn, 0.85).otherwise(0.0),
        5: substring_confidence(an, cn),
        6: jaccard_from_words(aw, cw),
        # fuzzy: similarity must clear 0.4 before scaling ×0.6
        # (enhanced_mapping.py:580-583)
        7: F.when(fuzzy_sim > 0.4, fuzzy_sim * 0.6).otherwise(0.0),
    }
    for idx in sorted(conf):
        out = out.withColumn(f"__conf_{idx}", conf[idx].cast("double"))
    return out.withColumn("__conf_8", F.col("__conf_7"))


#: packed-key layout: pass_idx (high) | quantized 1−conf | name rank
RANK_BITS = 30
CONF_BITS = 20
CONF_SCALE = (1 << CONF_BITS) - 1

#: hard cap on the candidate universe rank_candidates will globally
#: sort and the ranked cascade will broadcast. Far above any real
#: bookmaker/team dim (the reference's whole teams table is tens of
#: rows) yet small enough that the deliberate single-partition window
#: stays trivially cheap. Also the RANK_BITS packing bound: 2^30 ranks.
MAX_RANK_CANDIDATES = 1_000_000


def _over_cap_error(n: str, cap: int) -> str:
    """Spark SQL ``raise_error`` for a candidate universe of ``n``
    distinct values over ``cap`` — the one message both cascade
    paths fail with."""
    return (
        "raise_error(concat('rank_candidates: candidate universe has ', "
        f"CAST({n} AS STRING), ' distinct values, over the {cap} cap — "
        "the cascade broadcasts and ranks a dim-sized candidate side only; "
        "a fact-side column does not belong here'))"
    )


def rank_candidates(
    candidates_df: DataFrame,
    cand_col: str,
    max_candidates: int = MAX_RANK_CANDIDATES,
) -> DataFrame:
    """Dense rank of the candidate universe by name ascending —
    the tie-break order of the resolution argmin, precomputed ONCE
    on the small (broadcast-by-design) candidate side so the
    per-pair aggregation key can be a single BIGINT. The global
    window is a deliberate single-partition sort of a dim-sized
    input, never of the pair stream (expect a benign ``WindowExec:
    No Partition Defined`` warning from exactly this plan).

    The dim-sized contract is ENFORCED, not assumed: a 1-row count
    aggregate is cross-joined in with a ``raise_error`` check, so a
    caller that passes a fact-side column fails the job with a
    descriptive error instead of silently single-partition-sorting
    terabytes. The guard is lazy (plan-embedded, no driver count)
    and costs one map-side-combined count over the dim.
    """
    distinct = candidates_df.select(cand_col).distinct()
    guard = distinct.agg(F.count("*").alias("__n_cand")).select(
        F.expr(
            f"IF(__n_cand <= {max_candidates}, 1, "
            f"{_over_cap_error('__n_cand', max_candidates)})"
        ).alias("__guard_ok")
    )
    # the guard folds INTO the rank (+ 0 * guard) rather than being a
    # dropped column: Catalyst prunes unused columns, which would
    # optimize an unreferenced raise_error away, and 0 * col cannot
    # constant-fold because of null semantics
    return (
        distinct.withColumn(
            "__rank_raw", F.dense_rank().over(Window.orderBy(cand_col))
        )
        .crossJoin(F.broadcast(guard))
        .select(
            cand_col,
            (F.col("__rank_raw") + F.lit(0) * F.col("__guard_ok")).alias(
                "__cand_rank"
            ),
        )
    )


def resolve_agg(
    scored: DataFrame,
    ranks: DataFrame,
    api_col: str = "api_name",
    cand_col: str = "odds_name",
    strategies: tuple = STRATEGIES,
) -> DataFrame:
    """Sort-free collapse of scored pairs: ONE numeric hash
    aggregation.

    Equivalent to the ranked statement's winner (minus
    alternatives) by this invariant: the winning pair always has
    ``pass_idx == s_star``. Proof: the winner maximizes
    conf_{s_star}; any pair whose conf_{s_star} ≥ the group max ≥
    threshold_{s_star} passes strategy s_star, so its pass_idx ≤
    s_star — and no pair's pass_idx is < s_star by minimality.

    Physical-plan constraints that shape this code: ``min_by`` over
    a struct ordering, ``min`` over a string — any variable-width
    aggregation buffer — silently falls back to SortAggregate, whose
    partial phase SORTS the whole pair stream inside each task
    (measured ~40% of the cascade at sf0.1). So the argmin ordering
    (pass_idx asc, conf desc, name asc) is packed into one BIGINT:
    pass_idx ≪ 50 | floor((1−conf)·(2²⁰−1)) ≪ 30 | name_rank —
    ``min(long)`` is a fixed-width hash aggregate with map-side
    combine; nothing pair-sized ever sorts or shuffles.

    Quantization is exact for this cascade: distinct confidences are
    ratios of small integers (lengths ≤ ~100, word counts ≤ ~50), so
    distinct values differ by ≥ ~1/10⁴ ≫ 2⁻²⁰; equal doubles
    quantize equal and the tie falls to name rank, exactly the
    ranked statement's ordering. Winner identity is decoded by joining
    the rank back to ``ranks`` (broadcast dim); confidences are
    carried by per-strategy max() doubles, never decoded from the
    key. ``ranks`` comes from :func:`rank_candidates`; ``scored``
    must already carry ``__cand_rank``.

    Callers should pre-filter to pairs whose ``pass_idx`` is
    non-null: only a passing pair can win, so the filter never
    changes the result, and names with no passing pair drop out (the
    caller reinstates them as no_match).
    """
    pass_idx = F.least(
        *[
            F.when(F.col(f"__conf_{i}") >= F.lit(t), F.lit(i))
            for i, _, t in strategies
        ]
    )
    idxs = sorted({i for i, _, _ in strategies})
    conf_at = F.coalesce(
        *[F.when(pass_idx == i, F.col(f"__conf_{i}")) for i in idxs]
    )
    qconf = F.floor((F.lit(1.0) - conf_at) * CONF_SCALE).cast("long")
    key = (
        F.shiftleft(pass_idx.cast("long"), CONF_BITS + RANK_BITS)
        + F.shiftleft(qconf, RANK_BITS)
        + F.col("__cand_rank")
    )
    agg = scored.groupBy(api_col).agg(
        F.min(pass_idx).alias("__s_star"),
        F.min(key).alias("__key"),
        *[F.max(F.col(f"__conf_{i}")).alias(f"__mc_{i}") for i in idxs],
    )
    matched = F.col("__s_star").isNotNull()
    conf_star = F.coalesce(
        *[F.when(F.col("__s_star") == i, F.col(f"__mc_{i}")) for i in idxs]
    )
    strategy_star = F.coalesce(
        *[F.when(F.col("__s_star") == i, F.lit(name)) for i, name, _ in strategies]
    )
    winner_rank = F.col("__key").bitwiseAND(F.lit((1 << RANK_BITS) - 1))
    return (
        agg.withColumn("__cand_rank", winner_rank)
        .join(F.broadcast(ranks), "__cand_rank", "left")
        .select(
            F.col(api_col),
            F.when(matched, F.col(cand_col)).alias("matched_name"),
            F.when(matched, rnd(conf_star, 4)).alias("confidence"),
            F.when(matched, strategy_star)
            .otherwise(F.lit("no_match"))
            .alias("strategy"),
        )
    )


def _resolve_ranked(
    api_df: DataFrame,
    candidates_df: DataFrame,
    block_key: str | None,
    manual: DataFrame | None,
    learned: DataFrame | None,
    use_difflib: bool,
    api_col: str,
    cand_col: str,
) -> DataFrame:
    """The ``with_alternatives=True`` cascade as ONE planned statement
    over the blocked pairs; the plan is described on
    ``resolve_names``."""
    spark = api_df.sparkSession
    views = {"api": api_df, "cands": candidates_df}
    # equality tiers: the confidence is the constant threshold, so a
    # pair passes exactly when its condition holds
    eq = {1: "api = cand", 4: "an = cn"}
    dim_cols, dim_joins, hints = "", "", ["c"]
    for i, dim, alias in ((2, manual, "m"), (3, learned, "l")):
        if dim is not None:
            target = [c for c in dim.columns if c != api_col][0]
            views[alias] = dim
            hints.append(alias)
            dim_cols += f", {alias}.tgt AS {alias}t"
            dim_joins += (
                f" LEFT JOIN (SELECT `{api_col}` AS api, `{target}` AS tgt "
                f"FROM {{{alias}}}) {alias} ON a.api = {alias}.api"
            )
            eq[i] = f"cand = {alias}t"
    thresh = {i: t for i, _, t in STRATEGIES}
    conf = {i: f"IF({eq[i]}, {thresh[i]}D, 0.0D)" for i in eq}
    # strategy 5 is not scored (proof in the module docstring)
    conf.update({6: "c6", 7: "c7", 8: "c7"})
    cheap = " ".join(f"WHEN {eq[i]} THEN {i}" for i in sorted(eq))
    hard = " ".join(f"WHEN {conf[i]} >= {thresh[i]}D THEN {i}" for i in (6, 7, 8))
    conf_star = " ".join(f"WHEN {i} THEN {conf[i]}" for i in sorted(conf))
    strategy = " ".join(
        f"WHEN {i} THEN '{name}'" for i, name, _ in STRATEGIES if i in conf
    )
    if use_difflib:
        spark.udf.register("difflib_ratio", difflib_ratio)
        sim = "difflib_ratio(an, cn)"
    else:
        sim = sql_levenshtein_ratio("an", "cn")
    blk = blk_out = on_blk = ""
    if block_key:
        blk, blk_out = f", `{block_key}` AS blk", ", blk"
        on_blk = "a.blk = c.blk AND "
    parts = spark.sparkContext.defaultParallelism
    cap = MAX_RANK_CANDIDATES
    order = "PARTITION BY api ORDER BY conf_star DESC, cand ASC"
    sql = f"""
    WITH a AS (
      SELECT /*+ REPARTITION({parts}, api) */ *, {sql_word_set("an")} AS aw
      FROM (SELECT `{api_col}` AS api{blk}, {sql_normalize(f"`{api_col}`")} AS an
            FROM {{api}})
    ),
    c AS (
      -- the cap check folds into cand itself: a separate guard column
      -- nothing reads would be pruned, and its raise_error with it
      SELECT IF(n_cand <= {cap}, cand, {_over_cap_error("n_cand", cap)}) AS cand,
             cn, {sql_word_set("cn")} AS cw, TRUE AS hit{blk_out}
      FROM (SELECT *, max(dr) OVER () AS n_cand
            FROM (SELECT *, dense_rank() OVER (ORDER BY cand) AS dr
                  FROM (SELECT `{cand_col}` AS cand{blk},
                               {sql_normalize(f"`{cand_col}`")} AS cn
                        FROM {{cands}})))
    ),
    p AS (
      SELECT /*+ BROADCAST({', '.join(hints)}) */
             a.api, c.cand, c.hit, a.an, c.cn, a.aw, c.cw{dim_cols}
      -- a NULL api name pairs with nothing and comes out no_match
      FROM a{dim_joins} LEFT JOIN c ON {on_blk}a.api IS NOT NULL
    ),
    -- hit is NULL only on a name's padding row; it is dropped when
    -- the name also has real pairs (a name repeated across blocks)
    e AS (
      SELECT *, min(cheap) OVER (PARTITION BY api) AS easy,
             count(hit) OVER (PARTITION BY api) AS n_hit
      FROM (SELECT *, CASE {cheap} END AS cheap FROM p)
    ),
    k AS (
      SELECT *, CASE WHEN sim > 0.4D THEN sim * 0.6D ELSE 0.0D END AS c7
      FROM (SELECT *,
                   CASE WHEN easy IS NULL THEN {sql_jaccard_from_words("aw", "cw")} END AS c6,
                   CASE WHEN easy IS NULL THEN {sim} END AS sim
            FROM e WHERE hit OR n_hit = 0)
    ),
    s AS (
      SELECT *, coalesce(easy, min(hard) OVER (PARTITION BY api)) AS s_star
      FROM (SELECT *, CASE {hard} END AS hard FROM k)
    ),
    r AS (
      SELECT api, cand, s_star, CASE s_star {conf_star} ELSE 0.0D END AS conf_star FROM s
    )
    -- struct(cand) keeps NULL candidate names, which collect_list skips
    SELECT api AS `{api_col}`,
           IF(s_star IS NULL, NULL, cand) AS matched_name,
           IF(s_star IS NULL, NULL, {oracle_rnd("conf_star", 4)}) AS confidence,
           CASE s_star {strategy} ELSE 'no_match' END AS strategy,
           alternatives
    FROM (SELECT *, row_number() OVER ({order}) AS rn,
                 transform(collect_list(struct(cand)) OVER (
                     {order} ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING),
                   x -> x.cand) AS alternatives
          FROM r)
    WHERE rn = 1
    """
    return spark.sql(sql, **views)


def resolve_names(
    api_df: DataFrame,
    candidates_df: DataFrame,
    block_key: str | None = None,
    manual: DataFrame | None = None,
    learned: DataFrame | None = None,
    use_difflib: bool = False,
    api_col: str = "api_name",
    cand_col: str = "odds_name",
    with_alternatives: bool = True,
) -> DataFrame:
    """End-to-end cascade: pair generation (blocked, candidates
    broadcast) → scoring → one row per distinct api name.

    ``manual``/``learned`` are mapping dims with columns
    (api_col, target name) — F7's dictionary strategies
    (/root/reference/enhanced_mapping.py:111-179,194-214).

    Plan shape with alternatives — one ``spark.sql`` statement over
    the inputs as temp views, so the driver parses and analyses ONE
    plan per batch instead of growing it column by column:
    1. each side is normalized and word-split ONCE per input row. The
       api side is hash-repartitioned by name (rationale at the fast
       path's repartition below: per-row materialization, and every
       per-name window then runs in that partitioning — the pair
       stream never shuffles). Manual/learned targets LEFT-join onto
       the api side, then the candidates broadcast-LEFT-join on the
       block key: a name with no candidates keeps one padding row and
       comes out ``no_match`` with ``[]`` alternatives.
    2. the equality tiers 1-4 give each pair its first passing index;
       ``easy`` is the per-name minimum.
    3. Jaccard and Levenshtein run under ``CASE WHEN easy IS NULL`` —
       codegen evaluates only the taken branch, so the kernels run
       only for names no equality tier resolved (exact: a never-chosen
       strategy cannot change the outcome). ``s_star`` =
       coalesce(easy, per-name minimum of the 6-8 pass index): the
       NAME-level choice, and every pair is ranked by its confidence
       under that one strategy.
    4. one ordered window (confidence desc, name asc): row 1 is the
       winner, its next three rows the alternatives.
    The candidate-cap guard is folded into the broadcast candidate
    side (one single-partition window over the dim), so an over-cap
    universe fails the job with the ``rank_candidates`` error.
    Strategy 5 is not scored (module docstring).

    (The r13 ``hard_fallback`` seam — reuse a prior batch's rows for
    equality-unresolved names — was removed in r14: its one shipped
    caller, the learned-mapping second batch, collapsed further into
    a pure projection of batch 1; the equivalence proof lives on
    er_queries.q_learned_mapping.)
    """
    if with_alternatives:
        return _resolve_ranked(
            api_df, candidates_df, block_key, manual, learned,
            use_difflib, api_col, cand_col,
        )
    # The repartition is load-bearing twice over: (a) whole-stage
    # codegen evaluates ProjectExec output lazily at first USE site,
    # which for these columns would be inside the pair-join's match
    # loop — i.e. the 12-regex chain would still run per PAIR; the
    # exchange forces materialization per input ROW (measured 12×
    # on the probe pass at sf0.1). (b) hash-partitioning by api name
    # pre-aligns the stream side with every downstream
    # groupBy/window on api name, so the PAIR stream never shuffles
    # — only the 1-row-per-name aggregates do. The candidate side
    # needs no forcing: the broadcast exchange materializes it.
    # explicit partition count: api_df is small pre-join (names), so
    # AQE would coalesce a bare repartition(col) to ONE partition —
    # and the broadcast join downstream explodes each input row into
    # |candidates| pairs, so the expensive kernels would then run
    # single-threaded. Pinning to defaultParallelism keeps the pair
    # explosion spread across every core (at cluster scale the same
    # holds: partition count must be sized to the POST-join stream).
    num_parts = api_df.sparkSession.sparkContext.defaultParallelism
    api_df = (
        api_df.withColumn("__api_norm", normalize_name(F.col(api_col)))
        .withColumn("__api_words", word_set(F.col("__api_norm")))
        .repartition(num_parts, F.col(api_col))
    )
    candidates_df = candidates_df.withColumn(
        "__cand_norm", normalize_name(F.col(cand_col))
    ).withColumn("__cand_words", word_set(F.col("__cand_norm")))
    ranks = rank_candidates(candidates_df, cand_col)
    candidates_df = candidates_df.join(F.broadcast(ranks), cand_col)
    # mapping dims attach to the API side BEFORE the pair join — one
    # hash probe per input row, not per pair
    manual_col = learned_col = None
    if manual is not None:
        manual = manual.withColumnRenamed(
            [c for c in manual.columns if c != api_col][0], "__manual_target"
        )
        api_df = api_df.join(F.broadcast(manual), on=api_col, how="left")
        manual_col = "__manual_target"
    if learned is not None:
        learned = learned.withColumnRenamed(
            [c for c in learned.columns if c != api_col][0], "__learned_target"
        )
        api_df = api_df.join(F.broadcast(learned), on=api_col, how="left")
        learned_col = "__learned_target"
    if block_key:
        pairs = api_df.join(F.broadcast(candidates_df), on=block_key)
    else:
        pairs = api_df.crossJoin(F.broadcast(candidates_df))

    # fast path — two tiers, each scanning only the remainder:
    #
    # Tier A: strategies 1-4 are pure EQUALITY conditions (exact
    # name, manual target, learned target, normalized name), so
    # they are broadcast equi-JOINS against the candidate dim —
    # one hash probe per input row, and the pair stream for these
    # strategies is never materialized at all. Confidence is a
    # constant per strategy, so the argmin key needs no conf
    # field: min(strategy_idx ≪ RANK_BITS | name_rank) IS the
    # cascade order (priority, then name asc).
    #
    # Tier B: substring/Jaccard/Levenshtein kernels in ONE pair
    # pass over the remainder (strategy 5 provably never fires —
    # see the note at the hard tier below — so there is no
    # separate substring tier; r13 opt round removed it).
    #
    # At sf0.1 (600-candidate blocks) tier A measures even with
    # a flat cheap-scan — the fuzzy remainder dominates. The tier
    # structure is kept for its asymptotics: dictionary strategies
    # cost one probe per input ROW, not |block| comparisons per
    # row, which is the difference that matters when blocks are
    # thousands wide.
    # r14 probe, REVERTED: a single-pass tier A (pre-aggregate the
    # candidate dim to per-key min ranks, LEFT-probe all four
    # strategy keys on one stream, least() the packed keys, derive
    # the remainder from the same pass's NULL keys) produced a
    # structurally smaller plan (q_fuzzy_join 248 → 150 Exchange
    # prints, 110 → 62 scans) but LOST wall-clock in every leg of
    # a 3-leg stash-toggled ABAB at sf0.1 (medians 6.65/3.87/4.26
    # vs 4.25/3.20/3.38 s) — the four independent inner-join
    # subtrees overlap on idle cores while the chained left-probes
    # serialize one stream behind two dim aggregates (the same
    # overlap-beats-fewer-passes lesson as the r13 bm25
    # postings-cache and wider-minhash-cache A/Bs).
    a, c = api_df.alias("A"), candidates_df.alias("C")
    blk = (
        [F.col(f"A.{block_key}") == F.col(f"C.{block_key}")] if block_key else []
    )
    equi_specs = [(1, F.col(f"A.{api_col}"), F.col(f"C.{cand_col}"))]
    if manual_col:
        equi_specs.append((2, F.col(f"A.{manual_col}"), F.col(f"C.{cand_col}")))
    if learned_col:
        equi_specs.append((3, F.col(f"A.{learned_col}"), F.col(f"C.{cand_col}")))
    equi_specs.append((4, F.col("A.__api_norm"), F.col("C.__cand_norm")))
    tiers = [
        a.join(
            F.broadcast(c),
            reduce_and(blk + [left == right]),
            "inner",
        ).select(
            F.col(f"A.{api_col}").alias(api_col),
            (
                F.shiftleft(F.lit(i).cast("long"), RANK_BITS)
                + F.col("C.__cand_rank")
            ).alias("__key"),
        )
        for i, left, right in equi_specs
    ]
    equi_all = tiers[0]
    for t in tiers[1:]:
        equi_all = equi_all.unionByName(t)
    eq_agg = equi_all.groupBy(api_col).agg(F.min("__key").alias("__key"))
    s_star = F.shiftright(F.col("__key"), RANK_BITS).cast("int")
    conf_of = {i: conf for i, _, conf in STRATEGIES}
    easy_a = (
        eq_agg.withColumn(
            "__cand_rank", F.col("__key").bitwiseAND(F.lit((1 << RANK_BITS) - 1))
        )
        .join(F.broadcast(ranks), "__cand_rank")
        .select(
            F.col(api_col),
            F.col(cand_col).alias("matched_name"),
            rnd(
                F.coalesce(
                    *[
                        F.when(s_star == i, F.lit(conf_of[i]))
                        for i, _, _ in equi_specs
                    ]
                ),
                4,
            ).alias("confidence"),
            F.coalesce(
                *[
                    F.when(s_star == i, F.lit(name))
                    for i, name, _ in STRATEGIES
                    if i in {j for j, _, _ in equi_specs}
                ]
            ).alias("strategy"),
        )
    )
    # cache the per-name verdicts (dim-sized): the two consumers
    # (the union output and the remainder anti-join) would
    # otherwise re-run the tier's whole subtree per reference.
    # Lifecycle: the returned plan references these cached
    # frames, so they stay pinned for the session (a dim-sized
    # cost) — a long-lived driver running the cascade repeatedly
    # should spark.catalog.clearCache() between corpora or
    # materialize the result and unpersist (the phash_near_dup
    # pattern)
    easy_a = easy_a.cache()
    all_names = api_df.select(api_col).distinct()
    rest_a = all_names.join(
        F.broadcast(easy_a.select(api_col)), api_col, "left_anti"
    )
    # There is deliberately NO separate substring tier (r13 opt
    # round removed it as provably dead work): strategy 5's
    # confidence is (min(len)/max(len))·0.75 ≤ 0.75 with equality
    # iff the lengths match, and containment of equal-length
    # strings IS string equality — so a pair can clear the 0.75
    # gate only when __api_norm == __cand_norm, which strategy 4
    # (normalized equality, higher priority, threshold 0.85 = its
    # own constant confidence) already resolved in tier A. The old
    # tier A' therefore always produced an EMPTY verdict set while
    # paying a full pair-stream pass + cache + anti-join
    # (tests/test_resolution.py::test_substring_tier_provably_dead
    # pins the arithmetic fact; the fast-vs-window parity test
    # pins end-to-end equality).
    #
    # The same tier-A-completeness argument bounds the remainder's
    # pass_idx to {6, 7, 8, NULL} — a rest_a pair passing 1-4
    # would have resolved its name in tier A, and 5 is impossible
    # as above — so the aggregate runs over STRATEGIES[5:] only
    # and Catalyst prunes the never-read cheap confidence columns
    # out of the pair projection.
    #
    # No pass_idx pre-filter here, deliberately: the 0.3 fallback
    # admits nearly every pair, so a filter would drop nothing
    # while inlining the Levenshtein/Jaccard kernels a second
    # time into the Filter node (measured 2× kernel cost in the
    # physical plan). resolve_agg yields null-key groups →
    # 'no_match' rows for names nothing matches.
    hard_names = rest_a
    hard_pairs = pairs.join(F.broadcast(hard_names), api_col, "inner")
    hard_agg = resolve_agg(
        score_pairs(
            hard_pairs,
            api_col=api_col,
            cand_col=cand_col,
            manual_col=manual_col,
            learned_col=learned_col,
            use_difflib=use_difflib,
        ),
        ranks,
        api_col=api_col,
        cand_col=cand_col,
        strategies=STRATEGIES[5:],
    )
    hard_out = hard_names.join(hard_agg, api_col, "left").select(
        F.col(api_col),
        F.col("matched_name"),
        F.col("confidence"),
        F.coalesce(F.col("strategy"), F.lit("no_match")).alias("strategy"),
    )
    return easy_a.unionByName(hard_out)


def learn_mappings(
    resolved: DataFrame,
    existing: DataFrame,
    min_confidence: float = 0.8,
    api_col: str = "api_name",
) -> DataFrame:
    """F13: write back high-confidence resolutions as learned
    mappings (MERGE semantics; enhanced_mapping.py:632-649).

    ``existing`` schema: (api_col, learned_name, confidence,
    strategy, verified)."""
    new = (
        resolved.filter(
            F.col("matched_name").isNotNull() & (F.col("confidence") >= min_confidence)
        )
        .select(
            F.col(api_col),
            F.col("matched_name").alias("learned_name"),
            F.col("confidence"),
            F.col("strategy"),
            F.lit(False).alias("verified"),
        )
    )
    return upsert_replace(existing, new, keys=[api_col], order_cols=["confidence"])


def attempt_log(
    resolved: DataFrame, api_col: str = "api_name", now: Column | None = None
) -> DataFrame:
    """F14: the append-only mapping_attempts side output, with the
    alternatives list JSON-serialized (N6;
    enhanced_mapping.py:612-630). Pass ``now`` to stamp
    ``attempted_at`` (the reference's insertion timestamp, which its
    mapping report orders by); omitted, the column is absent and
    recency-ordered consumers fall back as they document."""
    cols = [
        F.col(api_col),
        F.col("matched_name"),
        F.col("confidence"),
        F.col("strategy"),
        F.col("matched_name").isNotNull().alias("success"),
        F.to_json(F.col("alternatives")).alias("alternatives"),
    ]
    if now is not None:
        cols.append(now.alias("attempted_at"))
    return resolved.select(*cols)
