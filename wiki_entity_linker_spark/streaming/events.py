"""Structured Streaming operators.

The reference is batch-only (SURVEY.md §2.9) — its "incremental" story is
resumable Make targets. The rebuild adds genuine streaming equivalents for
the two shapes a continuously-ingesting corpus needs:

* :func:`windowed_event_counts` / :func:`session_event_counts` —
  watermarked window aggregations over the ``events`` table shape (late data
  handled by the watermark);
* :func:`streaming_first_seen` — a stateful first-seen filter, the streaming
  form of exact dedup.

The streaming ER path is ``streaming/appends.streaming_er_append``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Counts/sums per event_type in 5-minute tumbling windows under a
    10-minute watermark (works on both batch and streaming DataFrames with
    the same plan)."""
    # watermarks require TIMESTAMP (ltz); parquet often yields TIMESTAMP_NTZ.
    # The session timezone is pinned UTC so the cast is value-preserving.
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_event_counts(events: DataFrame) -> DataFrame:
    """Per-user SESSION windows (gap-based, not fixed-width): Spark's
    native ``session_window`` merges events into a session while gaps stay
    under 30 minutes (1-hour watermark) — the streaming-capable form of the
    batch ``sessionize`` query (lag + cumulative-gap window), and the state
    the engine keeps is per-OPEN-session, bounded by the watermark, not
    per-event. Works on batch and streaming frames with the same plan.
    """
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def streaming_first_seen(files: DataFrame) -> DataFrame:
    """Custom stateful operator: per-key FIRST-SEEN filter over a stream
    (``applyInPandasWithState``) — the streaming form of exact dedup (the
    reference's batch first-writer-wins mapping,
    create_abstracts_mapping.py:28-38, with the same min-id determinism as
    operators/dedup.exact_dedup).

    Each key (content hash) keeps one long of state: how many rows it has
    absorbed. The first micro-batch that carries a key emits that key's
    deterministic representative (min ``file_id`` within the batch — the
    same first-writer-wins tie-break as the batch ``exact_dedup``); every
    later occurrence is suppressed but counted, so the emitted
    ``n_dupes_prior`` records how much duplicate volume the stream had
    absorbed when the representative was chosen.

    State is O(distinct keys); at 10¹² files shard the stream by hash
    prefix and run one query per shard, or age keys out with an event-time
    timeout — the operator itself is shard-oblivious.
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("content_hash", T.StringType()),
            T.StructField("file_id", T.StringType()),
            T.StructField("n_dupes_prior", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("seen", T.LongType())])

    def first_seen(key, pdf_iter, state):
        n = 0
        best = None
        for pdf in pdf_iter:
            if not len(pdf):
                continue  # an empty chunk would yield a NaN min
            n += len(pdf)
            m = pdf["file_id"].min()
            if best is None or m < best:
                best = m
        if best is None:
            return iter(())
        if state.exists:
            (seen,) = state.get
            state.update((seen + n,))
            return iter(())
        state.update((n,))
        return iter(
            (
                pd.DataFrame(
                    {
                        "content_hash": [key[0]],
                        "file_id": [best],
                        "n_dupes_prior": [n - 1],
                    }
                ),
            )
        )

    return files.groupBy("content_hash").applyInPandasWithState(
        first_seen,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
