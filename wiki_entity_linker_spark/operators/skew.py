"""Explicit skew handling for hot blocking keys (north_rule mandate).

The reference's analogue of a hot key is a hyper-ambiguous alias (one alias →
thousands of candidate entities) or the vendored-file block; its answer is an
in-RAM dict so skew is invisible. At 10^12 files a single hot block key would
produce O(n²) candidate pairs on one reducer. The answer here is applied
*before* the pair self-join (AQE skew-join splitting alone cannot fix a
quadratic pair blow-up — it only rebalances, so we reshape the workload):

* :func:`cap_and_salt_blocks` — drop blocks over a hard cap (the reference
  drops stopword aliases the same way, prefix_trie_linker.py:180-183), then
  deterministically split each remaining oversized block into
  ``ceil(n/cap)`` chained sub-blocks that overlap by one member, so
  transitive clustering still connects the block while pair counts stay
  O(n·cap) instead of O(n²);
* :func:`skew_report` — the one-row diagnostic that decides whether a key
  needs salting at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# blocks with more members than this are stopwords and dropped; survivors
# are salted into chained chunks of ``SALT_CAP`` members. The ER pipeline
# (plans/er_pipeline.py) folds both into its resume key.
STOPWORD_BLOCK_MAX = 20000
SALT_CAP = 64


def _salted_keys(cap: int):
    """Per-row array of output block keys given ``__rn``/``__n`` columns:
    small blocks keep their key; oversized blocks are cut into chunks of
    ``cap`` ordered by id, and each chunk's last member also joins the next
    chunk ("chain link") so connected components still merges the block
    while pair counts stay O(n·cap) instead of O(n²)."""
    chunk = (F.col("__rn") / cap).cast("long")
    own = F.concat(F.col("block_key"), F.lit("~s"), chunk)
    is_link = ((F.col("__rn") + 1) % cap == 0) & (F.col("__rn") + 1 < F.col("__n"))
    link = F.concat(F.col("block_key"), F.lit("~s"), chunk + 1)
    return F.when(F.col("__n") <= cap, F.array(F.col("block_key"))).otherwise(
        F.when(is_link, F.array(own, link)).otherwise(F.array(own))
    )


def cap_and_salt_blocks(block_df: DataFrame) -> DataFrame:
    """Drop blocks over ``STOPWORD_BLOCK_MAX`` members, then rewrite the
    keys of the survivors so no block exceeds ``SALT_CAP + 1`` members
    (chained salting). Deterministic: a pure function of the ids.

    Stopword-drop and salting are fused into ONE evaluation of the input:
    two windows over the same partition key (unordered count, then ordered
    row_number on survivors) share one exchange, so the upstream subtree —
    in the ER pipeline that subtree includes the full MinHash computation —
    is scanned exactly once, where a drop pass followed by a salt pass
    scans it once per branch (measured 98 s → ~25 s for the blocks stage
    at 32 cores on the benchxl corpus).
    """
    w_count = Window.partitionBy("block_key")
    w_rank = Window.partitionBy("block_key").orderBy("file_id")
    survivors = block_df.withColumn("__n", F.count("*").over(w_count)).filter(
        F.col("__n") <= STOPWORD_BLOCK_MAX
    )
    sized = survivors.withColumn("__rn", F.row_number().over(w_rank) - 1)
    return sized.select(
        "file_id", F.explode(_salted_keys(SALT_CAP)).alias("block_key")
    )


def spread_small_input(
    df: DataFrame, min_factor: float = 0.5, target_factor: int = 1
) -> DataFrame:
    """Repartition an under-partitioned source across the session's cores.

    Small parquet files read as ONE split (everything under
    ``spark.sql.files.maxPartitionBytes``), which serializes every
    CPU-heavy expression downstream — tokenize/shingle scans showed 3×
    wall-time regressions from this at bench scale. A well-split source is
    returned untouched: at 100 TB the scan is already parallel and a
    full-content repartition would move every byte for nothing (same guard
    as the ER pipeline ingest, plans/er_pipeline.py).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, int(n * min_factor)):
        return df.repartition(n * target_factor)
    return df


def skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """One-row skew diagnostic for a prospective join/agg key — the
    measurement that decides between plain shuffle, AQE skew-join, and
    :func:`cap_and_salt_blocks`: ``(n_rows, n_keys, max_per_key, p50_per_key,
    p99_per_key, skew_ratio, top_key, recommended_salt)``.

    ``recommended_salt`` = ceil(max_per_key / p99_per_key) in exact integer
    arithmetic — the split factor that brings the hottest key's partition
    share down to a typical heavy key's (p99) size; 1 means no salting
    needed. ``skew_ratio`` = max/p50. ``top_key`` is the hottest key
    (min key string on ties — deterministic).

    Scale shape: one map-side-combinable groupBy(key) over the data, then
    a second combinable groupBy collapsing per-key counts to a
    (count → n_keys) HISTOGRAM; quantiles, max, and totals are windows/
    aggregates over that summary frame only (distinct-count-sized, tiny),
    so the single-partition window never sees corpus-sized data — the same
    discipline as the length_quantiles histogram-quantile plan.
    """
    counts = (
        df.select(F.col(key_col).cast("string").alias("k"))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("c"))
    )
    hist = counts.groupBy("c").agg(F.count("*").cast("long").alias("nk"))
    w_all = Window.partitionBy()
    cum = (
        hist.withColumn(
            "cum",
            F.sum("nk").over(
                Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("n_keys", F.sum("nk").over(w_all))
        .withColumn("n_rows", F.sum(F.col("c") * F.col("nk")).over(w_all))
    )

    def _p(q: float):
        return F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n_keys")), F.col("c"))
        ).cast("long")

    stats = cum.agg(
        F.max("n_rows").cast("long").alias("n_rows"),
        F.max("n_keys").cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_per_key"),
        _p(0.5).alias("p50_per_key"),
        _p(0.99).alias("p99_per_key"),
    )
    top = (
        counts.join(counts.agg(F.max("c").alias("mx")), F.col("c") == F.col("mx"))
        .agg(F.min("k").alias("top_key"))
    )
    return stats.crossJoin(top).select(
        "n_rows",
        "n_keys",
        "max_per_key",
        "p50_per_key",
        "p99_per_key",
        F.round(F.col("max_per_key") / F.col("p50_per_key"), 6).alias("skew_ratio"),
        "top_key",
        F.expr("(max_per_key + p99_per_key - 1) div p99_per_key").alias(
            "recommended_salt"
        ),
    )
