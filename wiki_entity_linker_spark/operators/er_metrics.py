"""ER evaluation metrics and probabilistic record-linkage scoring.

The reference evaluates LINKING quality with ELEVANT-style per-mention
cases (eval/elevant_cases.py); classic ER literature additionally evaluates
the RESOLUTION side and scores pairs probabilistically. Everything here is
aggregation-shaped — nothing materializes an items² or pairs-sized
intermediate beyond its input:

- :func:`bcubed` / :func:`pairwise_clustering` — clustering quality vs a
  gold partition (Bagga & Baldwin 1998; pairwise F1), both in contingency
  form: per-item/per-pair sums collapse to Σ over (c, g) cells, so three
  groupBys replace any join back to the item table.
- :func:`blocking_quality` — pairs completeness / reduction ratio
  (Christen 2012 ch. 7) as counted set operations over canonical pair
  keys; the quadratic sides stay inside whatever generated the pair
  tables (banded/capped upstream).
- :func:`fellegi_sunter_weights` / :func:`fs_multilevel_weights` /
  :func:`fs_em_estimate` — the Fellegi & Sunter (1969) model: supervised
  m/u estimation (boolean or Splink-style multi-level comparisons) and
  unsupervised lazy-EM estimation; output is feature-count rows however
  many pairs went in.
- :func:`fellegi_sunter_score` — applies the published (rounded) weights
  back to pairs via one broadcast join; threshold selection runs as the
  fs_threshold_sweep query over the per-score summary frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wiki_entity_linker_spark.session import cut

# decimal places every published metric, probability and weight rounds to
_DIGITS = 6
# EM iterations of fs_em_estimate, and the iterations between cuts of its
# parameter lineage
_EM_ITERS = 2
_EM_CUT_EVERY = 1


def bcubed(items: DataFrame, sys_col: str, gold_col: str) -> DataFrame:
    """B-cubed precision / recall / F1 of a system clustering vs a gold one.

    ``items``: one row per item carrying ``sys_col`` (system cluster label)
    and ``gold_col`` (gold cluster label). Returns a single row
    ``(n_items, bcubed_precision, bcubed_recall, bcubed_f1)``.

    Scale shape: three hash aggregations (over (c,g), c, g) and two joins of
    the contingency table against the marginal size tables — each at most
    #clusters rows, never #items² — then a 1-row global rollup. No per-item
    state survives the first aggregation.

    Items with a NULL label on either side are excluded up front (both this
    metric and :func:`pairwise_clustering` apply the same filter, so their
    ``n_items`` always agree on the same frame).
    """
    it = items.select(
        F.col(sys_col).alias("__c"), F.col(gold_col).alias("__g")
    ).filter(F.col("__c").isNotNull() & F.col("__g").isNotNull())
    cg = it.groupBy("__c", "__g").agg(F.count("*").alias("n_cg"))
    cs = it.groupBy("__c").agg(F.count("*").alias("n_c"))
    gs = it.groupBy("__g").agg(F.count("*").alias("n_g"))
    joined = cg.join(cs, "__c").join(gs, "__g")
    agg = joined.agg(
        F.sum("n_cg").cast("long").alias("n_items"),
        F.sum(
            F.col("n_cg").cast("double") * F.col("n_cg") / F.col("n_c")
        ).alias("__sp"),
        F.sum(
            F.col("n_cg").cast("double") * F.col("n_cg") / F.col("n_g")
        ).alias("__sr"),
    )
    p = F.col("__sp") / F.col("n_items")
    r = F.col("__sr") / F.col("n_items")
    return agg.select(
        "n_items",
        F.round(p, _DIGITS).alias("bcubed_precision"),
        F.round(r, _DIGITS).alias("bcubed_recall"),
        F.round(2 * p * r / (p + r), _DIGITS).alias("bcubed_f1"),
    )


def pairwise_clustering(items: DataFrame, sys_col: str, gold_col: str) -> DataFrame:
    """Pairwise precision / recall / F1 of a system clustering vs gold —
    the ER-literature companion to :func:`bcubed` (B-cubed weights items,
    pairwise weights co-reference DECISIONS, so the two disagree exactly
    when cluster sizes are skewed; reporting both is standard practice).

    Entirely integer until the final ratios: TP = Σ_{c,g} C(n_cg, 2),
    system pairs = Σ_c C(n_c, 2), gold pairs = Σ_g C(n_g, 2) — three hash
    aggregations over the item table, a 1-row rollup, and never a pair
    table (the n² pair space is summarized by the contingency counts).
    NULL-labeled items are excluded, matching :func:`bcubed`.
    """
    it = items.select(
        F.col(sys_col).alias("__c"), F.col(gold_col).alias("__g")
    ).filter(F.col("__c").isNotNull() & F.col("__g").isNotNull())

    def c2(col):
        # integer `div`, not float `/`-then-cast: n(n−1)/2 above 2^53
        # (n ≈ 1.35e8 — inside the advertised regime) would lose low bits
        # in the double before truncation
        return F.sum(F.expr(f"{col} * ({col} - 1) div 2")).cast("long")

    tp = (
        it.groupBy("__c", "__g")
        .agg(F.count("*").alias("n_cg"))
        .agg(c2("n_cg").alias("tp"), F.sum("n_cg").cast("long").alias("n_items"))
    )
    sys_p = (
        it.groupBy("__c")
        .agg(F.count("*").alias("n_c"))
        .agg(c2("n_c").alias("sys_pairs"))
    )
    gold_p = (
        it.groupBy("__g")
        .agg(F.count("*").alias("n_g"))
        .agg(c2("n_g").alias("gold_pairs"))
    )
    joined = tp.crossJoin(sys_p).crossJoin(gold_p)
    p = F.col("tp") / F.col("sys_pairs")
    r = F.col("tp") / F.col("gold_pairs")
    return joined.select(
        "n_items",
        "tp",
        "sys_pairs",
        "gold_pairs",
        F.round(p, _DIGITS).alias("pair_precision"),
        F.round(r, _DIGITS).alias("pair_recall"),
        F.round(2 * p * r / (p + r), _DIGITS).alias("pair_f1"),
    )


def blocking_quality(
    candidate_pairs: DataFrame,
    truth_pairs: DataFrame,
    n_items: int,
) -> DataFrame:
    """Pairs completeness + reduction ratio of a blocking scheme.

    ``candidate_pairs`` / ``truth_pairs``: ``(id_a, id_b)`` canonical
    (``id_a < id_b``) pair tables — candidates from the blocker under test
    (pre-verification), truth from an exact similarity join. ``n_items`` is
    the corpus size (drives the ``n·(n-1)/2`` reduction-ratio denominator —
    a count, not data, so a plain int is the honest signature).

    PC = |truth ∩ candidates| / |truth| (blocking recall);
    RR = 1 − |candidates| / (n·(n-1)/2) (how much of the quadratic
    comparison space the blocker prunes). Counts are exact integers; only
    the two ratios are rounded floats.
    """
    cand = candidate_pairs.select("id_a", "id_b").dropDuplicates(
        ["id_a", "id_b"]
    )
    truth = truth_pairs.select("id_a", "id_b").dropDuplicates(
        ["id_a", "id_b"]
    )
    # one pass over the (usually expensive) truth side: a left join marks
    # coverage, so n_truth and n_covered come from the SAME aggregation —
    # a semi-join + separate counts would evaluate the truth subtree twice
    marked = truth.join(
        cand.withColumn("__hit", F.lit(1)), ["id_a", "id_b"], "left"
    )
    n_tc = marked.agg(
        F.count("*").cast("long").alias("n_truth"),
        F.count("__hit").cast("long").alias("n_covered"),
    )
    n_cand = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    total_pairs = n_items * (n_items - 1) // 2
    return (
        n_cand.crossJoin(n_tc)
        .select(
            F.lit(n_items).cast("long").alias("n_items"),
            "n_candidates",
            "n_truth",
            "n_covered",
            F.round(
                F.col("n_covered").cast("double") / F.col("n_truth"),
                _DIGITS,
            ).alias("pairs_completeness"),
            F.round(
                F.lit(1.0)
                - F.col("n_candidates").cast("double") / F.lit(float(total_pairs)),
                _DIGITS,
            ).alias("reduction_ratio"),
        )
    )


def fellegi_sunter_weights(
    labeled_pairs: DataFrame,
    feature_cols: list[str],
) -> DataFrame:
    """Fellegi–Sunter (1969) match/non-match weights per agreement feature
    — THE classical probabilistic record-linkage scoring model: for each
    comparison feature i, m_i = P(agree | match), u_i = P(agree | unmatch),
    and a pair's score is Σ log2(m/u) over agreeing features plus
    Σ log2((1−m)/(1−u)) over disagreeing ones. This estimates the weights
    from a labeled (or pseudo-labeled) pair table.

    ``labeled_pairs``: one row per candidate pair with boolean
    ``feature_cols`` (agreement indicators) and boolean ``is_match``.
    Returns one row per feature with counts, Laplace-smoothed m/u
    probabilities ((a+1)/(n+2) — never 0 or 1, so the log weights are
    always finite) and the agree/disagree log2 weights.

    Scale shape: one explode to (feature, agree, is_match) triples and one
    combinable groupBy(feature) — #features output rows regardless of how
    many pairs were labeled; nothing pair-sized survives the aggregation.
    """
    stacked = labeled_pairs.select(
        F.col("is_match").alias("__m"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("feature"),
                        F.col(name).alias("agree"),
                    )
                    for name in feature_cols
                ]
            )
        ).alias("f"),
    ).select("__m", F.col("f.feature").alias("feature"), F.col("f.agree").alias("agree"))
    agg = stacked.groupBy("feature").agg(
        F.sum(F.when(F.col("__m") & F.col("agree"), 1).otherwise(0))
        .cast("long")
        .alias("n_match_agree"),
        F.sum(F.when(F.col("__m"), 1).otherwise(0)).cast("long").alias("n_match"),
        F.sum(F.when(~F.col("__m") & F.col("agree"), 1).otherwise(0))
        .cast("long")
        .alias("n_unmatch_agree"),
        F.sum(F.when(~F.col("__m"), 1).otherwise(0))
        .cast("long")
        .alias("n_unmatch"),
    )
    m = (F.col("n_match_agree") + 1) / (F.col("n_match") + 2).cast("double")
    u = (F.col("n_unmatch_agree") + 1) / (F.col("n_unmatch") + 2).cast("double")
    return agg.select(
        "feature",
        "n_match_agree",
        "n_match",
        "n_unmatch_agree",
        "n_unmatch",
        F.round(m, _DIGITS).alias("m_prob"),
        F.round(u, _DIGITS).alias("u_prob"),
        F.round(F.log2(m / u), _DIGITS).alias("agree_weight"),
        F.round(F.log2((1 - m) / (1 - u)), _DIGITS).alias(
            "disagree_weight"
        ),
    )


def fellegi_sunter_score(
    pairs: DataFrame,
    weights: DataFrame,
    feature_cols: list[str],
    pair_cols: list[str],
) -> DataFrame:
    """Apply estimated Fellegi–Sunter weights to candidate pairs: each
    pair's score is the sum over features of the agree weight when the
    feature agrees, else the disagree weight; match iff score > 0 (the
    decision-rule threshold at even prior odds).

    ``weights``: the frame produced by :func:`fellegi_sunter_weights`
    (feature-count rows). The weight table is PIVOTED to one row (a
    #features-sized aggregation) and cross-joined as a broadcast literal,
    so the per-pair score is pure row-local arithmetic — no explode (3×
    the pair rows), no broadcast hash join, and no pair-keyed shuffle for
    the re-aggregation (the old explode+groupBy shape shuffled the whole
    pair table; at the sf1 bench that was ~2.5M rows through an exchange
    for a value each row already determines). The summed terms are the
    ROUNDED weights added in ``feature_cols`` order — the same
    within-group order the exploded form aggregated in (array order) and
    the same order the oracle's LATERAL VALUES emits, so scores are
    bit-identical.
    """
    wrow = F.broadcast(
        weights.agg(
            *[
                F.max(
                    F.when(F.col("feature") == name, F.col("agree_weight"))
                ).alias(f"__aw_{name}")
                for name in feature_cols
            ],
            *[
                F.max(
                    F.when(F.col("feature") == name, F.col("disagree_weight"))
                ).alias(f"__dw_{name}")
                for name in feature_cols
            ],
        )
    )
    score = None
    for name in feature_cols:
        term = F.when(F.col(name), F.col(f"__aw_{name}")).otherwise(
            F.col(f"__dw_{name}")
        )
        score = term if score is None else score + term
    return (
        pairs.crossJoin(wrow)
        .select(
            *pair_cols,
            F.round(score, _DIGITS).alias("fs_score"),
        )
        .select(
            *pair_cols,
            "fs_score",
            (F.col("fs_score") > 0).alias("fs_match"),
        )
    )


def fs_em_estimate(pairs: DataFrame, feature_cols: list[str]) -> DataFrame:
    """UNSUPERVISED Fellegi–Sunter parameter estimation via EM (the
    Splink-style path — real deployments rarely have labeled pairs):
    starting from fixed literals (λ, m, u) = (0.5, 0.8, 0.2), each of
    ``_EM_ITERS`` iterations computes every pair's match responsibility
    w = λ·Πm / (λ·Πm + (1−λ)·Πu) (E-step, pure row-local math against a
    broadcast 1-row parameter frame) and
    re-estimates m_i = Σ w·aᵢ / Σ w, u_i = Σ (1−w)·aᵢ / Σ (1−w),
    λ = Σ w / n (M-step, ONE combinable aggregation). No labels touched.

    Plan-depth bound (``_EM_CUT_EVERY``): iteration i's broadcast executes
    its whole lineage, so a fully lazy n-iteration composition re-runs
    every prior E-step — O(n²) passes over the pair table and a Catalyst
    plan that deepens per iteration. Each E-step is a full pass anyway, so
    the parameter frame (1 row) is cut (``session.cut``) every
    ``_EM_CUT_EVERY`` iterations (1 = every iteration: exactly n passes,
    so Splink-typical 10–20 iterations stay flat). The cuts never
    change values. Returns one row
    per feature ``(feature, m_prob, u_prob, match_prior)``.
    """
    spark = pairs.sparkSession
    params = spark.range(1).select(
        F.lit(0.5).alias("lam"),
        *[F.lit(0.8).alias(f"m_{f}") for f in feature_cols],
        *[F.lit(0.2).alias(f"u_{f}") for f in feature_cols],
    )
    for it in range(1, _EM_ITERS + 1):
        j = pairs.crossJoin(F.broadcast(params))
        pm = None
        pu = None
        for f in feature_cols:
            tm = F.when(F.col(f), F.col(f"m_{f}")).otherwise(1 - F.col(f"m_{f}"))
            tu = F.when(F.col(f), F.col(f"u_{f}")).otherwise(1 - F.col(f"u_{f}"))
            pm = tm if pm is None else pm * tm
            pu = tu if pu is None else pu * tu
        lam = F.col("lam")
        w = (lam * pm) / (lam * pm + (1 - lam) * pu)
        e = j.select(*feature_cols, w.alias("w"))
        params = e.agg(
            (F.sum("w") / F.count("*")).alias("lam"),
            *[
                (
                    F.sum(F.when(F.col(f), F.col("w")).otherwise(0.0))
                    / F.sum("w")
                ).alias(f"m_{f}")
                for f in feature_cols
            ],
            *[
                (
                    F.sum(F.when(F.col(f), 1 - F.col("w")).otherwise(0.0))
                    / F.sum(1 - F.col("w"))
                ).alias(f"u_{f}")
                for f in feature_cols
            ],
        )
        if it % _EM_CUT_EVERY == 0 and it < _EM_ITERS:
            params = cut(params)
    return params.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("feature"),
                        F.round(F.col(f"m_{f}"), _DIGITS).alias("m_prob"),
                        F.round(F.col(f"u_{f}"), _DIGITS).alias("u_prob"),
                        F.round(F.col("lam"), _DIGITS).alias(
                            "match_prior"
                        ),
                    )
                    for f in feature_cols
                ]
            )
        ).alias("p")
    ).select("p.feature", "p.m_prob", "p.u_prob", "p.match_prior")


def fs_multilevel_weights(pairs: DataFrame, level_cols: dict[str, int]) -> DataFrame:
    """Splink-style MULTI-LEVEL Fellegi–Sunter weights: comparisons are
    categorical levels (exact / close / else), not booleans — m_l =
    P(level | match) and u_l = P(level | unmatch) per (feature, level),
    Laplace-smoothed over the level count so absent levels stay finite.
    Graded levels expose structure booleans flatten: an adjacent length
    bucket scores very differently from a far one.

    ``level_cols`` maps a level column (integer 0..n−1) to its level
    count. The full (feature, level) domain is generated from literals and
    LEFT-joined onto the observed counts, so zero-count levels still get
    (smoothed) rows. One explode + one groupBy + a broadcast domain join —
    Σ n_levels output rows regardless of pair count.
    """
    spark = pairs.sparkSession
    stacked = pairs.select(
        F.col("is_match").alias("__m"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("feature"),
                        F.col(name).cast("long").alias("level"),
                    )
                    for name in level_cols
                ]
            )
        ).alias("f"),
    ).select("__m", "f.feature", "f.level")
    cnt = stacked.groupBy("feature", "level").agg(
        F.sum(F.when(F.col("__m"), 1).otherwise(0))
        .cast("long")
        .alias("n_m"),
        F.sum(F.when(~F.col("__m"), 1).otherwise(0))
        .cast("long")
        .alias("n_u"),
    )
    dom = spark.createDataFrame(
        [
            (name, lvl, n)
            for name, n in level_cols.items()
            for lvl in range(n)
        ],
        "feature string, level long, n_levels long",
    )
    tot = pairs.agg(
        F.sum(F.when(F.col("is_match"), 1).otherwise(0))
        .cast("long")
        .alias("nm"),
        F.sum(F.when(~F.col("is_match"), 1).otherwise(0))
        .cast("long")
        .alias("nu"),
    )
    j = (
        F.broadcast(dom)
        .join(cnt, ["feature", "level"], "left")
        .crossJoin(F.broadcast(tot))
    )
    m = (F.coalesce(F.col("n_m"), F.lit(0)) + 1) / (
        F.col("nm") + F.col("n_levels")
    ).cast("double")
    u = (F.coalesce(F.col("n_u"), F.lit(0)) + 1) / (
        F.col("nu") + F.col("n_levels")
    ).cast("double")
    return j.select(
        "feature",
        "level",
        F.coalesce(F.col("n_m"), F.lit(0)).cast("long").alias("n_match_level"),
        F.col("nm").alias("n_match"),
        F.coalesce(F.col("n_u"), F.lit(0)).cast("long").alias("n_unmatch_level"),
        F.col("nu").alias("n_unmatch"),
        F.round(m, _DIGITS).alias("m_prob"),
        F.round(u, _DIGITS).alias("u_prob"),
        F.round(F.log2(m / u), _DIGITS).alias("level_weight"),
    )
