"""Span operators: overlap suppression + interval join.

* :func:`suppress_overlaps` — the reference's longest-match-first mention
  claiming (hyperlink_reference_linker.py:160-215, overlap test :23-34):
  per document, candidates are ranked ``(length desc, start asc, key asc)``
  and greedily claim char ranges; later overlapping candidates are dropped.
  Inherently sequential per document → ``applyInPandas`` per doc group
  (SURVEY.md §2.5 W1), vectorized numpy inside the batch.

* :func:`bucketed_interval_join` — the token-within-span assignment
  (create_qlever_text_files.py:48-72, J5). The naive plan is a non-equi join
  (broadcast nested loop — fine for a broadcastable side, quadratic
  otherwise); the scale path buckets positions so the join is an equi-join on
  ``(doc, bucket)`` plus a range filter.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# positions per bucket of bucketed_interval_join: candidates per cell scale
# as points·intervals/cells, so a bucket ~5x the interval width keeps cells
# small (on the 3-wide intervals of the interval_join_events query, 16 beat
# 256 by >10x); the result does not depend on it
_INTERVAL_BUCKET = 16

def suppress_overlaps(df: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """Keep a maximal set of non-overlapping spans, longest-first.

    Spans are half-open ``[start, end)``. Deterministic total order:
    ``(end-start desc, start asc)``.
    """
    schema = df.schema

    def _claim(pdf: pd.DataFrame) -> pd.DataFrame:
        return claim_longest_first(pdf)

    return df.groupBy(doc_col).applyInPandas(_claim, schema=schema)


def claim_longest_first(pdf: pd.DataFrame) -> pd.DataFrame:
    """Single-doc greedy kernel behind :func:`suppress_overlaps` (exposed so
    tests can property-check it directly against an independent reference)."""
    pdf = pdf.sort_values(
        by=["start", "end"], kind="mergesort"
    )  # stable base order
    pdf = pdf.assign(__len=pdf["end"] - pdf["start"]).sort_values(
        by=["__len", "start"], ascending=[False, True], kind="mergesort"
    )
    taken: list[tuple[int, int]] = []
    keep = []
    for s, e in zip(pdf["start"], pdf["end"]):
        ok = all(e <= ts or s >= te for ts, te in taken)
        keep.append(ok)
        if ok:
            taken.append((s, e))
    # np.array mask: a plain empty list would select COLUMNS, not rows
    return pdf[np.array(keep, dtype=bool)].drop(columns="__len")


def bucketed_interval_join(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """Equi-join points to covering half-open intervals via position buckets
    of ``_INTERVAL_BUCKET`` positions, keyed by the ``doc`` column.

    Each interval explodes into the buckets it touches (intervals are
    typically short — mention spans — so the fan-out is 1-2); the join is
    then a plain shuffle equi-join on ``(doc, bucket)`` that scales linearly,
    not the O(|points|·|intervals|) nested loop a raw range join would pick.
    """
    p = points.withColumn("__bkt", (F.col("pos") / _INTERVAL_BUCKET).cast("long"))
    iv = intervals.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                (F.col("start") / _INTERVAL_BUCKET).cast("long"),
                (F.greatest(F.col("end") - 1, F.col("start")) / _INTERVAL_BUCKET).cast(
                    "long"
                ),
            )
        ),
    )
    return (
        p.join(iv, ["doc", "__bkt"])
        .filter((F.col("pos") >= F.col("start")) & (F.col("pos") < F.col("end")))
        .drop("__bkt")
    )
