"""Streaming appends: ER and curation micro-batches chained onto a full run.

Completes the incremental stories (plans/er_incremental.py,
plans/curation_incremental.py) as Structured Streaming sinks: micro-batches
of newly-arrived source files or documents are absorbed via ``foreachBatch``,
each batch chaining a new workdir off the previous one. This is the
production shape of the reference's "new dump arrived, rebuild everything"
Makefile loop (Makefile:178-198), inverted: arrivals are absorbed
continuously, and a full rebuild becomes an optional compaction instead of
the only mechanism.

Durability/exactly-once: the chain head (``chain_head``/``advance_head`` in
plans/checkpoint.py) is advanced only AFTER an append's stage tables are
fully written, and written atomically, so a restarted query resumes
appending to the latest complete state. A micro-batch replayed by the stream
checkpoint (failure between absorb and commit) is harmless:

* ER file identity is content-addressed (``file_id =
  sha256(repo|path|commit)``), so the append's ingest anti-join drops every
  already-clustered row and the replay degenerates to the fixed per-append
  floor;
* the curation append is STRICT about id-monotonic batches
  (run_curation_increment raises on re-seen ids), so its absorb step
  pre-filters the batch against the head's verdict table (doc_id anti-join)
  and skips it when nothing new remains.

Auto-compaction: reads through a chain cost one union per un-compacted
level, so an unattended stream would degrade reads to O(epochs). Whenever
the chain depth reaches ``compact_every``, the epoch's append is followed by
a compaction into ``<epoch workdir>_compact`` and the head advances to that
self-contained workdir (depth resets to 0) — the LSM minor-compaction policy,
run inline because the next append must base on its output.
``compact_every=None`` disables it. A crash between the append's head commit
and the compaction is safe: the head already points at the complete appended
state, and the next epoch triggers the compaction again at the same depth.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from wiki_entity_linker_spark.plans.checkpoint import (
    ParquetStore,
    advance_head,
    chain_depth,
    chain_head,
)
from wiki_entity_linker_spark.session import cut

#: schema of source-file drops (FIXTURES.md §1 / BASELINE.json input_hint)
SOURCE_SCHEMA = "repo string, path string, commit string, lang string, content string"
#: schema of document drops (documents-table shape, TESTDATA.md)
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _stream_appends(
    spark: SparkSession,
    schema: str,
    source_dir: str,
    base_workdir: str,
    chain_root: str,
    checkpoint_dir: str,
    absorb: Callable[[SparkSession, str, DataFrame, str], bool],
    compact: Callable[[SparkSession, str, str], object],
    compact_every: int | None,
) -> StreamingQuery:
    """The one append loop: ``absorb(spark, base, batch, workdir)`` writes
    an append workdir onto ``base`` (returning False when nothing in the
    batch was new), ``compact(spark, workdir, out_workdir)`` makes a
    self-contained copy of a chain head."""
    os.makedirs(chain_root, exist_ok=True)

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        session = batch_df.sparkSession
        base = chain_head(chain_root, base_workdir)
        wd = os.path.join(chain_root, f"epoch_{epoch_id}")
        if base == wd:
            # exact replay of an epoch whose head update already committed
            return
        if not absorb(session, base, batch_df, wd):
            return
        depth = chain_depth(chain_root) + 1
        advance_head(chain_root, wd, epoch_id, depth)
        if compact_every is not None and depth >= compact_every:
            cwd = wd + "_compact"
            compact(session, wd, cwd)
            advance_head(chain_root, cwd, epoch_id, 0)

    return (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_er_append(
    spark: SparkSession,
    source_dir: str,
    base_workdir: str,
    chain_root: str,
    checkpoint_dir: str,
    compact_every: int | None = 8,
) -> StreamingQuery:
    """Stream parquet drops of new source files into the clustering rooted
    at ``base_workdir``; per-epoch workdirs chain under ``chain_root``.

    ``trigger(availableNow=True)``: drain everything currently visible and
    stop — the batch-job-shaped streaming trigger, so appends can run from
    cron/Airflow with streaming-checkpoint semantics. Re-invoke after new
    drops; the stream checkpoint skips files already processed and
    ``chain_head(chain_root)`` always points at the newest complete
    clustering (resolve its tables with ``read_canonical``). Each epoch
    writes O(batch); every ``compact_every`` epochs :func:`compact_chain`
    re-materializes the whole-corpus tables and bounds the resolve depth.
    """
    from wiki_entity_linker_spark.plans.er_incremental import (
        compact_chain,
        run_er_incremental,
    )

    def _absorb(session, base, batch, wd) -> bool:
        run_er_incremental(session, base, batch, wd)["_cleanup"]()
        return True

    return _stream_appends(
        spark, SOURCE_SCHEMA, source_dir, base_workdir, chain_root,
        checkpoint_dir, _absorb, compact_chain, compact_every,
    )


def streaming_curation_append(
    spark: SparkSession,
    source_dir: str,
    base_workdir: str,
    chain_root: str,
    checkpoint_dir: str,
    benchmark: DataFrame | None = None,
    compact_every: int | None = 8,
) -> StreamingQuery:
    """Stream parquet drops of new documents into the curated corpus rooted
    at ``base_workdir``; per-epoch workdirs chain under ``chain_root``.
    Same trigger and compaction policy as :func:`streaming_er_append`;
    :func:`compact_curation_chain` never re-reads a document (curation state
    is fully determined by the index + narrow tables)."""
    from wiki_entity_linker_spark.plans.curation_incremental import (
        compact_curation_chain,
        run_curation_increment,
    )

    def _absorb(session, base, batch, wd) -> bool:
        # replay filter: drop already-curated ids so a re-delivered batch
        # degenerates to its genuinely-new suffix (or a clean skip)
        seen = ParquetStore(base).read(session, "verdicts")
        fresh = cut(batch.join(seen.select("doc_id"), "doc_id", "left_anti"))
        if not fresh.take(1):
            return False
        run_curation_increment(session, base, fresh, wd, benchmark=benchmark)
        return True

    return _stream_appends(
        spark, DOC_SCHEMA, source_dir, base_workdir, chain_root,
        checkpoint_dir, _absorb, compact_curation_chain, compact_every,
    )
