"""Distributed as-of join (nearest-preceding match), union-merge form.

For each left row, attach the single right row with the greatest
``right_ts <= left_ts`` within the same key — the temporal join kdb/pandas
call ``aj`` / ``merge_asof``. Spark has no built-in; the naive encoding
(range join + per-left argmax) shuffles twice and explodes on wide
intervals. This is the scalable union-merge form instead:

  tag both streams → union → ONE window pass per key ordered by
  ``(ts, side, tie)`` carrying the last non-null right payload forward →
  keep the left rows.

One hash shuffle on the key for both inputs combined, zero join-row
amplification (the merged stream is |L| + |R| rows regardless of how far
back matches reach), and the per-key window is a single sorted scan — the
same plan shape at 10⁶ or 10¹² rows. Rights at a left row's exact
timestamp sort BEFORE it (side 0 < 1), so the match is inclusive; equal-ts
rights tie-break by the caller's ``right_tie`` column (max wins),
making the result deterministic. A hot key serializes its own window
partition only — same discipline as plans/coref.py, which is this
operator specialized to one self-joined table.

``TOLERANCE_SECONDS`` bounds the lookback like ``merge_asof(tolerance=…)``:
a carried match older than the bound is nulled out AFTER the window pass
(the nearest right row is the only possible candidate, so post-filtering
is exact, not an approximation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# oldest match, in seconds before the left row, that asof_join keeps
TOLERANCE_SECONDS = 48 * 3600


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_tie: str,
    payload: dict[str, str],
) -> DataFrame:
    """Left rows + nearest-preceding right payload.

    ``on``: equality key columns (same names both sides). ``payload`` maps
    output column name → right column carried from the matched row.
    ``right_tie``: right-side column ordering equal-timestamp rights (the
    largest value wins). Returns every ``left`` column plus ``payload``
    keys and ``matched_ts`` (all null when no right row precedes within
    ``TOLERANCE_SECONDS``).
    """
    out_cols = list(payload.keys())
    left_extra = [c for c in left.columns if c not in on and c != left_ts]
    # the matched right row travels as ONE struct carried by ONE
    # last(ignorenulls): per-column carries would let a NULL payload field
    # inherit a value from an OLDER right row — a frankenrow mixing two
    # matches (and leaking values past the tolerance gate)
    # a right row with NULL timestamp can never be "the nearest preceding
    # row": its struct stays NULL so the ignorenulls carry skips it (the
    # struct itself is non-null even when its fields are, so the gate must
    # be here, not on the carried value)
    rstruct = F.when(
        F.col(right_ts).isNotNull(),
        F.struct(
            F.col(right_ts).alias("__rts"),
            *[F.col(src).alias(f"__p_{dst}") for dst, src in payload.items()],
        ),
    )
    rhs = right.select(
        *[F.col(c) for c in on],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(right_tie).alias("__tie"),
        rstruct.alias("__r"),
    )
    lhs = left.select(
        *[F.col(c) for c in on],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(right.schema[right_tie].dataType).alias("__tie"),
        F.lit(None).cast(rhs.schema["__r"].dataType).alias("__r"),
        F.struct(
            *([F.col(c) for c in left_extra] or [F.lit(0).alias("__none")])
        ).alias("__l"),
    )
    rhs = rhs.select(
        "*", F.lit(None).cast(lhs.schema["__l"].dataType).alias("__l")
    )
    win = (
        Window.partitionBy(*on)
        .orderBy("__ts", "__side", "__tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = lhs.unionByName(rhs).select(
        "*", F.last("__r", ignorenulls=True).over(win).alias("__m")
    )
    # interval arithmetic, not epoch-double subtraction: timestamp
    # microseconds stay exact integers, so the boundary is crisp
    # (:f formatting — scientific notation does not parse as INTERVAL)
    in_window = F.col("__m").isNotNull() & (
        F.col("__m.__rts")
        >= F.col("__ts") - F.expr(f"INTERVAL '{float(TOLERANCE_SECONDS):f}' SECOND")
    )
    return merged.filter(F.col("__side") == 1).select(
        *on,
        F.col("__ts").alias(left_ts),
        *[F.col(f"__l.{c}").alias(c) for c in left_extra],
        F.when(in_window, F.col("__m.__rts")).alias("matched_ts"),
        *[
            F.when(in_window, F.col(f"__m.__p_{dst}")).alias(dst)
            for dst in out_cols
        ],
    )
