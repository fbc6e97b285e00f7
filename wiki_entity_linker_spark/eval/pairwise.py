"""Pairwise cluster evaluation — the reference's P/R/F1 harness recast.

The reference classifies per-mention TP/FP/FN cases then rolls them up to
precision/recall/F1 per mention type (evaluate.py:117-127; result shape
evaluation-results/*/…eval_results.json with keys ``{true_positives,
false_positives, false_negatives, ground_truth, precision, recall, f1}``).

The graft's unit is the labeled pair at a blocking key (FIXTURES.md §3): a
pair is TP when both files land in the same predicted cluster and the label
says match; the oracle self-test (gold in → F1 = 1.0) mirrors
link_benchmark.py:80-81 + evaluation-results/oracle/*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pair_predictions(
    assignment: DataFrame,
    labeled_pairs: DataFrame,
    id_col: str = "id",
    cluster_col: str = "component",
) -> DataFrame:
    """Join a cluster assignment onto labeled pairs →
    ``(file_id_a, file_id_b, block_key, is_match, predicted_match)``.

    A pair with either side missing from the assignment is predicted
    non-match (the reference's <NIL> semantics, evaluate.py:99)."""
    a = assignment.select(
        F.col(id_col).alias("file_id_a"), F.col(cluster_col).alias("ca")
    )
    b = assignment.select(
        F.col(id_col).alias("file_id_b"), F.col(cluster_col).alias("cb")
    )
    return (
        labeled_pairs.join(a, "file_id_a", "left")
        .join(b, "file_id_b", "left")
        .select(
            "file_id_a",
            "file_id_b",
            "block_key",
            "is_match",
            (
                F.col("ca").isNotNull()
                & F.col("cb").isNotNull()
                & (F.col("ca") == F.col("cb"))
            ).alias("predicted_match"),
        )
    )


def pairwise_metrics(cases: DataFrame) -> DataFrame:
    """TP/FP/FN → P/R/F1 over all cases, one row with ``slice='all'`` —
    the reference's metric family shape (A7)."""
    def _lsum(c):
        return F.coalesce(F.sum(c.cast("long")), F.lit(0))

    tp = _lsum(F.col("is_match") & F.col("predicted_match")).alias("tp")
    fp = _lsum(~F.col("is_match") & F.col("predicted_match")).alias("fp")
    fn = _lsum(F.col("is_match") & ~F.col("predicted_match")).alias("fn")
    gt = _lsum(F.col("is_match")).alias("ground_truth")

    overall = cases.agg(tp, fp, fn, gt).select(
        F.lit("all").alias("slice"), "tp", "fp", "fn", "ground_truth"
    )
    p = F.when(F.col("tp") + F.col("fp") > 0,
               F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(F.lit(0.0))
    r = F.when(F.col("tp") + F.col("fn") > 0,
               F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(F.lit(0.0))
    f1 = F.when((F.col("precision") + F.col("recall")) > 0,
                2 * F.col("precision") * F.col("recall")
                / (F.col("precision") + F.col("recall"))).otherwise(F.lit(0.0))
    return (
        overall.withColumn("precision", F.round(p, 6))
        .withColumn("recall", F.round(r, 6))
        .withColumn("f1", F.round(f1, 6))
    )


def evaluate_against_labeled_pairs(
    assignment: DataFrame,
    labeled_pairs: DataFrame,
    id_col: str = "id",
    cluster_col: str = "component",
) -> DataFrame:
    cases = pair_predictions(assignment, labeled_pairs, id_col, cluster_col)
    return pairwise_metrics(cases)
