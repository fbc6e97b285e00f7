"""Distributed global prefix-sum and GPT-style sequence packing.

Training-data pipelines pack tokenized documents into fixed-size context
windows by concatenating them in a canonical order and splitting every
``window`` tokens. The core primitive is an EXCLUSIVE GLOBAL PREFIX SUM of
token counts in that order — trivially a SQL window function, but the naive
``Window.orderBy(id)`` with no partition key funnels the entire table
through ONE task (Spark plans a global window as a single partition), which
is exactly the kind of operator that works at sf0.1 and dies at 100 TB.

This module computes the same prefix sum with bounded partitions:

1. bucket each row by an explicit, deterministic range over the order
   column's bounds (one metadata-scale min/max aggregation — no sampling,
   unlike ``repartitionByRange``, so the bucketing is reproducible);
2. aggregate per-bucket totals (``n_buckets`` rows), turn them into
   per-bucket starting offsets with a window over that TINY frame (the only
   single-partition window in the plan runs over ~thousands of rows);
3. broadcast the offsets back and finish with a per-bucket window — each
   window partition holds ~1/n_buckets of the data.

The result is bit-equal to the naive global window (pinned by the
``sequence_packing`` oracle query and tests) with a plan whose widest
window partition is corpus/n_buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# range buckets of the prefix sum: this many per session core, at least
# _MIN_BUCKETS
_BUCKETS_PER_CORE = 4
_MIN_BUCKETS = 8


def global_prefix_sum(df: DataFrame, order_col: str, value_col: str) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` over the GLOBAL ``order_col``
    order, as the ``seq_start`` column, without a single-partition global
    window.

    ``order_col`` must be numeric with distinct values (the canonical
    packing order — a dense doc id, a zip-index, a sortable hash cast to
    long). Ties would make the prefix ill-defined; ordering inside each
    bucket is by ``order_col`` alone.
    """
    n_buckets = max(
        df.sparkSession.sparkContext.defaultParallelism * _BUCKETS_PER_CORE,
        _MIN_BUCKETS,
    )

    dt = df.schema[order_col].dataType.simpleString()
    if dt not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"global_prefix_sum: order column {order_col!r} must be an "
            f"integer type (got {dt}) — range-bucketing does arithmetic on "
            "it; hash or zip-index string ids to long first"
        )
    lo, hi = df.agg(F.min(order_col), F.max(order_col)).first()
    if lo is None:
        return df.withColumn("seq_start", F.lit(0).cast("long"))
    span = (int(hi) - int(lo)) + 1
    if span >= 1 << 62:
        # `id - lo` would overflow int64 in the bucket expression and wrap
        # SILENTLY (non-ANSI mode) into wrong buckets — refuse instead.
        raise ValueError(
            "global_prefix_sum: order-column span exceeds 2^62 "
            f"(lo={lo}, hi={hi}) — the bucket arithmetic would overflow. "
            "Compress the order first (e.g. xxhash64(...) with a >> 2, or a "
            "zip-index)."
        )
    width = max((span + n_buckets - 1) // n_buckets, 1)
    # integral `div`, NOT `/` + cast: float division loses precision above
    # 2^53 and would misbucket large ids (xxhash64-derived orders)
    bucketed = df.withColumn(
        "__bkt",
        F.expr(f"(cast(`{order_col}` as bigint) - {int(lo)}L) div {width}L"),
    )

    # per-bucket totals → exclusive bucket offsets. n_buckets rows: the one
    # global window in the plan runs over this metadata-scale frame only.
    totals = bucketed.groupBy("__bkt").agg(
        F.sum(F.col(value_col).cast("long")).alias("__tot")
    )
    w_b = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__bkt", F.coalesce(F.sum("__tot").over(w_b), F.lit(0)).alias("__off")
    )

    w_in = (
        Window.partitionBy("__bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        bucketed.join(F.broadcast(offsets), "__bkt")
        .withColumn(
            "seq_start",
            F.col("__off")
            + F.coalesce(F.sum(F.col(value_col).cast("long")).over(w_in), F.lit(0)),
        )
        .drop("__bkt", "__off")
    )


def packed_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    window: int,
) -> DataFrame:
    """Assign each document its position in the concatenate-then-split
    packing: ``seq_start`` (global exclusive token prefix in ``id_col``
    order), the context-window ``bin`` the document starts in, and its
    ``bin_offset`` inside that window. Documents longer than ``window``
    simply span multiple bins, exactly as the concatenation semantics
    dictate."""
    out = global_prefix_sum(df, id_col, token_count_col)
    # integral div (not floor of a float quotient): double division loses
    # precision above 2^53 total tokens and can place seq_start in the
    # wrong bin while bin_offset (exact %) contradicts it
    return out.select(
        id_col,
        F.col(token_count_col).cast("long").alias("n_tokens"),
        "seq_start",
        F.expr(f"seq_start div {int(window)}L").alias("bin"),
        (F.col("seq_start") % window).alias("bin_offset"),
    )
