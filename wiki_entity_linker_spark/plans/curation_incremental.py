"""Incremental curation: absorb a batch of new documents into an already-
curated corpus in O(batch + touched) heavy work.

The reference rebuilds its corpus-derived tables from scratch per dump
(Makefile:178-198); a daily crawl append at 100 TB cannot re-read the
corpus. :func:`run_curation_pipeline`'s checkpointed stage tables double as
the incremental probe index:

* ``exact_hashes``          (doc_id, content_hash)        — exact-dup tier
* ``exact_substring_grams`` (doc_id, pos, g)              — ExactSubstr tier
* ``segment_dedup_seg``     (doc_id, n_tokens, seg_idx, seg_tokens, h)
                                                          — CCNet tier

Append semantics (full-recompute parity, pinned by tests):

1. **id-monotonic guard**: every batch doc_id must exceed the base's max —
   first-writer-wins canonical ids and segment winners stay stable, so no
   OLD document's exact/segment verdict can change. A violating batch
   raises LOUDLY rather than silently diverging.
2. **exact tier**: a batch doc whose content_hash exists in the chain joins
   the old canonical immediately (min doc_id over chain ∪ batch per hash).
3. **substring tier**: duplicate coverage is count-based and direction-free,
   so an append CAN flip old positions — exactly the grams whose corpus
   count crosses 1→≥2. Touched old docs (the ones holding those grams) are
   re-covered from the chained gram index; every other old doc keeps its
   verdict row verbatim. Coverage only grows, so a kept doc can flip to
   drop_boilerplate but never the reverse — which is why the keep-side
   source map below suffices.
4. **segment tier**: batch segments lose to any chained occurrence of the
   same hash and to earlier batch occurrences — old winners never move
   (guard 1), so only batch rows are computed.
5. downstream summaries (kept / mixture / sample / eval_slice) recompute
   over the combined NARROW verdict table — corpus-row but fixed-width;
   the content/gram bytes, which dominate at scale, are written O(batch).

Index I/O per append: the bulky gram/segment/hash tables are DELTA-CHAINED —
the append writes only ``batch_grams`` / ``batch_segs`` / ``batch_hashes``
plus a base pointer (``write_chain_base`` in plans/checkpoint.py — the same
manifest-over-appends pattern as plans/er_incremental.py; on Iceberg these
become real table appends).
``gram_counts`` (distinct-gram rows) and ``verdicts`` / ``contamination`` /
``doc_sources`` (doc rows) are narrow and materialized per append. Old-side
lookups are broadcast-filtered SCANS of the chained index — the batch's
hash/gram/segment key sets broadcast, the chain filters to matches, and
only matching slivers shuffle. The one corpus-narrow shuffle is the
gram-keyed semi of ``gram_counts`` against the touched/batch position set
(duplicate flags need counts for every gram of a touched doc, not just the
flipped ones).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wiki_entity_linker_spark.functions.text import tokenize
from wiki_entity_linker_spark.operators.dedup import (
    segment_rows,
    segment_stats,
    substring_coverage_from_positions,
    substring_gram_rows,
)
from wiki_entity_linker_spark.plans.checkpoint import (
    ParquetStore,
    StageManager,
    chain_base,
    write_chain_base,
    write_json_atomic,
)
# the curation constants are read as cur.<NAME> at call time, so a patched
# constant reaches the full run and the append alike
from wiki_entity_linker_spark.plans import curation as cur
from wiki_entity_linker_spark.plans.curation import (
    assemble_verdicts,
    budget_sample,
    contamination_flags,
    exact_hash_table,
    kept_table,
    mixture_table,
    resume_params,
    stratified_eval_slice,
    verdict_expr,
)
from wiki_entity_linker_spark.plans.er_pipeline import _input_fingerprint

#: chained index tables: full-run stage name → per-append delta stage name
_DELTA_STAGES = {
    "exact_hashes": "batch_hashes",
    "exact_substring_grams": "batch_grams",
    "segment_dedup_seg": "batch_segs",
}


def _meta_path(workdir: str) -> str:
    return os.path.join(workdir, "curation_meta.json")


def read_chained_index(
    spark: SparkSession, workdir: str, name: str, store_factory=ParquetStore
) -> DataFrame:
    """Resolve a chained index table (full-run stage name) as the union of
    per-append deltas down to the full-run base. ``store_factory(workdir)
    -> store`` picks the store of every level."""
    store = store_factory(workdir)
    base = chain_base(workdir)
    if base is None:
        return store.read(spark, name)
    delta = store.read(spark, _DELTA_STAGES[name])
    return delta.unionByName(read_chained_index(spark, base, name, store_factory))


def _load_cfg(workdir: str) -> dict:
    with open(_meta_path(workdir)) as f:
        return json.load(f)["cfg"]


def run_curation_increment(
    spark: SparkSession,
    base_workdir: str,
    new_docs: DataFrame,
    out_workdir: str,
    benchmark: DataFrame | None = None,
    store_factory=ParquetStore,
) -> dict[str, DataFrame]:
    """Absorb ``new_docs`` into the curated corpus at ``base_workdir``,
    writing a new chained workdir whose outputs equal a full
    :func:`run_curation_pipeline` over old ∪ new (parity pinned by
    tests/test_curation_incremental.py). See the module docstring for the
    per-tier reasoning and cost model. ``store_factory(workdir) -> store``
    picks the store of ``out_workdir`` and of every base chain level."""
    params = resume_params()
    base_cfg = _load_cfg(base_workdir)
    if base_cfg != params:
        raise ValueError(
            "curation increment config differs from the base run's — a "
            "chained append with different thresholds silently diverges "
            f"from full-recompute parity (base={base_cfg}, got={params})"
        )

    mgr = StageManager(
        spark,
        out_workdir,
        params
        | {
            "base": base_workdir,
            "batch": _input_fingerprint(new_docs),
            "benchmark": None if benchmark is None else _input_fingerprint(benchmark),
        },
        store=store_factory(out_workdir),
    )

    sf = store_factory
    old_store = sf(base_workdir)
    old_verdicts = old_store.read(spark, "verdicts")
    old_hashes = read_chained_index(spark, base_workdir, "exact_hashes", sf)
    old_grams = read_chained_index(spark, base_workdir, "exact_substring_grams", sf)
    old_segs = read_chained_index(spark, base_workdir, "segment_dedup_seg", sf)

    batch = new_docs.select("doc_id", "source", "text")

    # id-monotonic guard (module docstring #1) — two 1-row probes
    max_old = old_verdicts.agg(F.max("doc_id")).first()[0]
    min_new = batch.agg(F.min("doc_id")).first()[0]
    if min_new is None:
        raise ValueError("curation increment: empty batch")
    if max_old is not None and min_new <= max_old:
        raise ValueError(
            f"curation increment requires id-monotonic appends: batch min "
            f"doc_id {min_new} <= base max {max_old} (first-writer-wins "
            "canonical ids / segment winners would be unstable)"
        )

    k, seg_len = cur.SUBSTR_K, cur.SEG_LEN

    # --- batch-side index deltas (the only bulky writes) --------------------
    b_hashes = mgr.stage("batch_hashes", lambda: exact_hash_table(batch))

    b_tok = batch.select("doc_id", tokenize("text").alias("t"))
    b_grams = mgr.stage("batch_grams", lambda: substring_gram_rows(b_tok, k))
    b_segs = mgr.stage("batch_segs", lambda: segment_rows(b_tok, seg_len))

    # batch gram counts — reused by gram_counts AND the flip detection
    b_counts = mgr.stage(
        "batch_gram_counts",
        lambda: b_grams.groupBy("g").agg(F.count("*").cast("long").alias("bc")),
    )

    # --- gram counts: maintained narrow table --------------------------------
    def _counts() -> DataFrame:
        if old_store.exists(spark, "gram_counts"):
            oc = old_store.read(spark, "gram_counts")
        else:
            # full-run base has no counts table yet: one count-only
            # aggregation over the chained gram index (map-side combined),
            # paid once — every later append reads the maintained table
            oc = old_grams.groupBy("g").agg(
                F.count("*").cast("long").alias("c")
            )
        # unchanged rows pass through a broadcast anti-filter (scan, no
        # corpus shuffle); only the batch-touched sliver joins
        bset = b_counts.select("g")
        unchanged = oc.join(F.broadcast(bset), "g", "left_anti")
        touched = (
            oc.join(F.broadcast(bset), "g", "left_semi")
            .join(b_counts, "g", "full")
            .select(
                "g",
                (F.coalesce("c", F.lit(0)) + F.coalesce("bc", F.lit(0)))
                .cast("long")
                .alias("c"),
            )
        )
        return unchanged.unionByName(touched)

    counts = mgr.stage("gram_counts", _counts)

    # --- exact tier for the batch --------------------------------------------
    def _ex() -> DataFrame:
        bset = b_hashes.select("content_hash").dropDuplicates()
        old_match = old_hashes.join(
            F.broadcast(bset), "content_hash", "left_semi"
        )
        allh = b_hashes.unionByName(old_match)
        w = Window.partitionBy("content_hash")
        return (
            allh.withColumn("canonical_id", F.min("doc_id").over(w))
            .join(b_hashes.select("doc_id"), "doc_id", "left_semi")
            .select("doc_id", "canonical_id")
        )

    batch_exact = mgr.stage("batch_exact", _ex)

    # --- substring tier: batch docs + touched old docs ------------------------
    def _sub() -> DataFrame:
        # grams whose corpus count crosses 1 -> >=2 flip OLD positions
        flipped = (
            counts.join(F.broadcast(b_counts.select("g")), "g", "left_semi")
            .join(F.broadcast(b_counts), "g")
            .filter((F.col("c") - F.col("bc")) == 1)
            .select("g")
        )
        touched = (
            old_grams.join(F.broadcast(flipped), "g", "left_semi")
            .select("doc_id")
            .dropDuplicates()
        )
        # positions to re-cover: all grams of touched old docs + the batch;
        # their duplicate flags need counts for EVERY gram they hold — the
        # one corpus-narrow gram-keyed shuffle of the append
        pos = old_grams.join(touched, "doc_id", "left_semi").unionByName(b_grams)
        dup_pos = pos.join(
            counts.filter(F.col("c") > 1).select("g"), "g", "left_semi"
        ).select("doc_id", "pos")
        lengths = (
            old_verdicts.join(touched, "doc_id", "left_semi")
            .select("doc_id", "n_tokens")
            .unionByName(
                b_tok.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
            )
        )
        return substring_coverage_from_positions(dup_pos, lengths, k).select(
            "doc_id", "n_tokens", F.col("covered_frac").alias("substr_dup_frac")
        )

    sub_cover = mgr.stage("sub_cover", _sub)

    # --- segment tier for the batch --------------------------------------------
    def _segstats() -> DataFrame:
        bset = b_segs.select("h").dropDuplicates()
        old_match = old_segs.join(F.broadcast(bset), "h", "left_semi").select(
            "doc_id", "seg_idx", "h"
        )
        return segment_stats(
            b_segs, b_segs.select("doc_id", "seg_idx", "h").unionByName(old_match)
        )

    batch_segstats = mgr.stage("batch_segstats", _segstats)

    # --- combined verdict table (narrow, materialized) -------------------------
    def _verdicts() -> DataFrame:
        batch_ids = b_hashes.select("doc_id")
        # touched OLD rows: new substring coverage, everything else verbatim
        touched_rows = (
            old_verdicts.drop("substr_dup_frac", "verdict")
            .join(
                sub_cover.select("doc_id", "substr_dup_frac"),
                "doc_id",
            )
            .select(
                "doc_id",
                "n_tokens",
                "canonical_id",
                "substr_dup_frac",
                "seg_dup_frac",
                verdict_expr().alias("verdict"),
            )
        )
        # batch rows: all three tiers fresh
        batch_rows = assemble_verdicts(
            batch_exact,
            sub_cover.join(batch_ids, "doc_id", "left_semi"),
            batch_segstats,
        )
        changed = sub_cover.select("doc_id")
        return (
            old_verdicts.join(changed, "doc_id", "left_anti")
            .unionByName(touched_rows)
            .unionByName(batch_rows)
        )

    verdicts = mgr.stage("verdicts", _verdicts)

    # --- contamination: old flags verbatim + batch flags -------------------------
    contaminated = None
    if benchmark is not None:
        def _cont() -> DataFrame:
            old_cont = old_store.read(spark, "contamination")
            return old_cont.unionByName(
                contamination_flags(batch, benchmark, cur.DECONTAM_K)
            )

        contaminated = mgr.stage("contamination", _cont)

    # --- doc_id -> source map (narrow, materialized; keep-side suffices,
    # see module docstring #3) ----------------------------------------------------
    def _sources() -> DataFrame:
        if old_store.exists(spark, "doc_sources"):
            old_src = old_store.read(spark, "doc_sources")
        else:  # a full-run base
            old_src = old_store.read(spark, "kept").select("doc_id", "source")
        return old_src.unionByName(batch.select("doc_id", "source"))

    sources = mgr.stage("doc_sources", _sources)

    # --- downstream summaries over the combined narrow tables --------------------
    kept = mgr.stage(
        "kept", lambda: kept_table(verdicts, sources, contaminated)
    )
    mixture = mgr.stage("mixture", lambda: mixture_table(kept))
    sample = mgr.stage("sample", lambda: budget_sample(kept, mixture))
    eval_slice = mgr.stage(
        "eval_slice", lambda: stratified_eval_slice(kept, cur.EVAL_PER_STRATUM)
    )

    write_chain_base(out_workdir, base_workdir)
    write_json_atomic(_meta_path(out_workdir), {"cfg": params})

    out: dict[str, DataFrame] = {
        "verdicts": verdicts,
        "kept": kept,
        "mixture": mixture,
        "sample": sample,
        "eval_slice": eval_slice,
    }
    if contaminated is not None:
        out["contamination"] = contaminated
    out["_counters"] = mgr.counters  # type: ignore[assignment]
    return out


#: narrow tables an increment materializes per level (copied verbatim by a
#: compaction; the chained bulky indexes are resolved over the chain).
#: ``contamination`` exists only when the chain runs with a benchmark.
_MATERIALIZED_STAGES = ("verdicts", "gram_counts", "doc_sources", "contamination")


def compact_curation_chain(
    spark: SparkSession,
    workdir: str,
    out_workdir: str,
    store_factory=ParquetStore,
) -> dict[str, DataFrame]:
    """Materialize a curation chain head into a self-contained workdir —
    the LSM compaction step, analogous to er_incremental.compact_chain.
    Unlike the ER compaction (which re-solves components), curation state
    is FULLY determined by the index + narrow tables, so compaction never
    re-reads a document: the chained gram/segment/hash indexes are resolved
    once into full-run-named stage tables, the materialized narrow tables
    copy verbatim, and the output carries curation_meta.json but no base
    pointer — subsequent appends based on it read a single level again.
    ``store_factory`` picks the store of every chain level and of
    ``out_workdir``.
    """
    if os.path.abspath(workdir) == os.path.abspath(out_workdir):
        raise ValueError("compact_curation_chain: out_workdir must differ")
    st = store_factory(out_workdir)
    src_store = store_factory(workdir)
    os.makedirs(out_workdir, exist_ok=True)
    out: dict[str, DataFrame] = {}
    for name in _DELTA_STAGES:  # full-run stage names
        out[name] = st.write(
            spark,
            name,
            read_chained_index(spark, workdir, name, store_factory),
        )
    for name in _MATERIALIZED_STAGES:
        # a full-run workdir (depth-0 "chain") lacks gram_counts /
        # doc_sources — the next append re-derives them as usual
        if src_store.exists(spark, name):
            out[name] = st.write(spark, name, src_store.read(spark, name))
    write_json_atomic(_meta_path(out_workdir), {"cfg": _load_cfg(workdir)})
    return out
