"""Incremental entity resolution: absorb a new batch of files into an
already-clustered corpus in O(batch + touched) work.

The reference rebuilds its databases from scratch per Wikipedia dump
(Makefile:178-198 — every `make generate_databases` re-reads the whole dump);
at the graft's 10^12-file scale a daily append cannot re-read 100 TB. This
plan completes the StageManager story: :func:`run_er_pipeline`'s checkpointed
stage tables (``exact_groups``, ``features``, ``raw_blocks``, ``components``,
``assignment``) double as the incremental index, and each append writes a new
workdir from which the SAME canonical tables resolve, so appends chain
indefinitely (base → batch₁ → batch₂ → …) — the Iceberg-append pattern
expressed through the swappable stage store.

Work per append:

1. ingest the batch (drop files already clustered — idempotent re-delivery);
2. exact-dup split: a batch file whose ``content_hash`` already exists joins
   its old representative's cluster immediately — no features, no blocking,
   no scoring (the common case for vendored/boilerplate files);
3. features + raw block keys for genuinely-new representatives only
   (one content pass over the batch);
4. candidate pairs: batch block keys probe the base ``raw_blocks`` table
   (semi-joined down to the batch's keys — the base side is never scanned
   beyond one metadata-scale aggregation), plus batch-internal pairs via the
   same cap-and-salt used by the full run. The stopword cap applies to
   COMBINED (old + new) block sizes, matching what a full recompute sees;
5. scoring: the base ``features`` stage table is semi-joined to touched ids,
   so old content is never re-read;
6. merge: old edge endpoints are contracted to their transitively-closed
   component labels and a batch-sized mini graph is solved
   (operators/closure.merge_components) — untouched clusters keep their ids
   verbatim, touched clusters relabel to min member id exactly as a full
   recompute would.

Store note: an append's compute and write volume are O(batch + touched);
no canonical table is rewritten. Each append workdir stores batch deltas
plus a base pointer (``chain_base``/``write_chain_base`` in
plans/checkpoint.py), and :func:`read_canonical` resolves the whole-corpus
view over the chain — exactly the manifest-over-appended-files pattern
Iceberg implements natively (on the :class:`IcebergStore` the deltas become
real table appends):

* ``features``/``raw_blocks``/``exact_groups`` store the batch's rows and
  resolve as a union over the chain;
* ``components``/``assignment`` store the batch-sized relabel map
  (``relabel_map``) plus the batch's own rows
  (``batch_components``/``batch_assignment``) and resolve as the base view
  relabeled through the map, plus the batch rows.

Reads over a long chain pay one union (or map join) per level;
:func:`compact_chain` rewrites the resolved view into a self-contained
workdir and bounds the depth.

Fidelity note: inside blocks larger than ``skew.SALT_CAP`` the full
run salts into chained sub-blocks (operators/skew.py), scoring only
chunk-local pairs and relying on transitive closure; the incremental probe scores a new member
against ALL old members of the block. The incremental candidate set is
therefore a connectivity SUPERSET of the full run's inside salted blocks —
clusters are never less complete, and are identical whenever blocks stay
under the cap (pinned by tests/test_incremental.py against a 90/10 replay).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wiki_entity_linker_spark.eval.pairwise import evaluate_against_labeled_pairs
# the block caps are read as skew.<NAME> at call time, so a patched cap
# reaches the full run and the append alike
from wiki_entity_linker_spark.operators import skew
from wiki_entity_linker_spark.operators.blocking import (
    cross_block_pairs,
    pairs_from_blocks,
    with_file_id,
)
from wiki_entity_linker_spark.operators.closure import (
    merge_components,
    relabel_through_map,
)
from wiki_entity_linker_spark.operators.skew import (
    cap_and_salt_blocks,
    spread_small_input,
)
from wiki_entity_linker_spark.plans.checkpoint import (
    ParquetStore,
    StageManager,
    chain_base,
    write_chain_base,
)
from wiki_entity_linker_spark.plans.er_pipeline import (
    _input_fingerprint,
    build_features,
    ingest_projection,
    match_edges,
    raw_block_keys,
    resume_params,
    score_pairs,
)

#: canonical tables an incremental run resolves from its base chain; every
#: append stores only batch deltas of them (see the module docstring)
CANONICAL_STAGES = ("exact_groups", "features", "raw_blocks", "components", "assignment")

#: each canonical table's per-batch delta stage name inside an append workdir
_DELTA_STAGES = {
    "features": "batch_features",
    "raw_blocks": "batch_raw_blocks",
    "exact_groups": "batch_groups",
    "components": "batch_components",
    "assignment": "batch_assignment",
}


def read_canonical(
    spark: SparkSession, workdir: str, name: str, store_factory=ParquetStore
) -> DataFrame:
    """Resolve a canonical table for ``workdir``, walking the append chain.

    A full-pipeline or compacted workdir materializes every canonical table,
    so the walk terminates there. An append workdir stores batch deltas + a
    base pointer: ``features``/``raw_blocks`` resolve as union-over-chain,
    ``exact_groups`` re-aggregates group sizes (rep ids are
    first-writer-stable, so ``min`` over the chain is the original rep), and
    ``components``/``assignment`` relabel the resolved base view through the
    level's ``relabel_map`` and add the batch rows. Reads cost O(chain
    length) unions — :func:`compact_chain` bounds the depth.

    ``store_factory(workdir) -> store`` picks the stage store of every
    level, so a chain whose levels live in a non-default store (e.g.
    :class:`IcebergStore` per-workdir namespaces) resolves through it all
    the way down.
    """
    st = store_factory(workdir)
    base_workdir = chain_base(workdir)
    if (
        name in ("components", "assignment")
        and base_workdir is not None
        and st.exists(spark, "relabel_map")
    ):
        # level k relabels the RESOLVED level-(k-1) view, so maps compose
        # without any explicit composition step. No broadcast hint: the map
        # is a stage table whose size Catalyst knows — small maps
        # auto-broadcast, a pathological mass-merge map falls back to a
        # shuffle join on its own (the same guard merge_components applies).
        # Checked before any materialized table of the same name, so a
        # table an older append mode left in the workdir cannot shadow it.
        base = read_canonical(spark, base_workdir, name, store_factory)
        relabeled = relabel_through_map(base, st.read(spark, "relabel_map"))
        delta = st.read(spark, _DELTA_STAGES[name]).select("id", "component")
        return relabeled.unionByName(delta)
    if st.exists(spark, name):
        return st.read(spark, name)
    if name not in _DELTA_STAGES or base_workdir is None:
        raise ValueError(
            f"workdir {workdir!r} lacks the checkpointed stage tables "
            f"needed to resolve {name!r} (no materialized table, no chain)"
        )
    base = read_canonical(spark, base_workdir, name, store_factory)
    if name == "exact_groups":
        delta = st.read(spark, _DELTA_STAGES[name]).select(
            "content_hash", "rep_id", F.col("batch_size").alias("group_size")
        )
        return (
            base.unionByName(delta)
            .groupBy("content_hash")
            .agg(F.min("rep_id").alias("rep_id"), F.sum("group_size").alias("group_size"))
        )
    return base.unionByName(st.read(spark, _DELTA_STAGES[name]))


def compact_chain(
    spark: SparkSession, workdir: str, out_workdir: str, store_factory=ParquetStore
) -> dict[str, DataFrame]:
    """Materialize a chain head's canonical tables into a self-contained
    workdir — the LSM compaction step. After N appends, reads through
    :func:`read_canonical` pay N unions; compacting rewrites the resolved
    view once, and subsequent appends based on ``out_workdir`` read a single
    level again. (On Iceberg this is the table service's rewrite-data-files
    job; here it is one pass per canonical table.) ``store_factory`` picks
    the store of every chain level and of ``out_workdir``.
    """
    if os.path.abspath(workdir) == os.path.abspath(out_workdir):
        raise ValueError("compact_chain: out_workdir must differ from workdir")
    st = store_factory(out_workdir)
    os.makedirs(out_workdir, exist_ok=True)
    return {
        name: st.write(spark, name, read_canonical(spark, workdir, name, store_factory))
        for name in CANONICAL_STAGES
    }


def run_er_incremental(
    spark: SparkSession,
    base_workdir: str,
    new_files: DataFrame,
    workdir: str,
    labeled_pairs: DataFrame | None = None,
    alias_dict: DataFrame | None = None,
    store_factory=ParquetStore,
) -> dict[str, DataFrame]:
    """Append ``new_files`` to the clustering checkpointed at
    ``base_workdir``; write the merged canonical stage tables to ``workdir``.

    ``workdir`` must differ from ``base_workdir``: the base tables feed the
    merged ones lazily, and overwriting an input mid-plan corrupts it.

    ``store_factory(workdir) -> store`` picks the stage store of this
    append's workdir and of every level of the base chain.

    The append writes only batch deltas: for ``components``/``assignment``
    that is the batch-sized relabel map (``relabel_map``) plus the batch's
    own rows (``batch_components``/``batch_assignment``), so the whole
    append's write volume is O(batch + touched) — at 10^12 files a daily
    append must not write 10^12 assignment rows. The returned
    ``components``/``assignment`` are the whole-corpus views
    :func:`read_canonical` resolves from them (one map-side join per chain
    level — :func:`compact_chain` bounds the depth).
    """
    if os.path.abspath(workdir) == os.path.abspath(base_workdir):
        raise ValueError(
            "run_er_incremental: workdir must differ from base_workdir "
            "(merged stage tables are built FROM the base tables; writing "
            "over a lazily-read parquet input corrupts it)"
        )
    try:
        old_exact, old_feats, old_raw_blocks, old_comps, old_assign = (
            read_canonical(spark, base_workdir, name, store_factory)
            for name in CANONICAL_STAGES
        )
    except Exception as exc:  # noqa: BLE001 — surface an actionable message
        raise ValueError(
            f"base workdir {base_workdir!r} lacks the checkpointed stage "
            "tables an incremental append needs (run run_er_pipeline with "
            f"checkpoint=True first): {exc}"
        ) from exc

    mgr = StageManager(
        spark,
        workdir,
        resume_params()
        | {
            "base": os.path.abspath(base_workdir),
            "input": _input_fingerprint(new_files),
            "alias_dict": None if alias_dict is None else _input_fingerprint(alias_dict),
        },
        enabled=True,
        store=store_factory(workdir),
    )
    n_part = spark.sparkContext.defaultParallelism
    raw = with_file_id(
        spread_small_input(new_files, min_factor=1.0, target_factor=2)
    )

    # 1. batch ingest; idempotent on re-delivered files (anti-join on the
    # base assignment — file_id is sha256(repo|path|commit), so the same
    # logical file always re-derives the same id) AND on duplicate rows
    # inside one delivery (dropDuplicates on the id; without it a twice-
    # delivered row would appear twice in the final assignment)
    def _ingest() -> DataFrame:
        return (
            ingest_projection(raw)
            .dropDuplicates(["file_id"])
            .join(
                old_assign.select(F.col("id").alias("file_id")),
                "file_id",
                "left_anti",
            )
        )

    new_ing = mgr.stage("batch_ingest", _ingest)

    # 2. exact-dup split: hash hits inherit the OLD representative
    # (first-writer-wins — the rep and its path-derived blocking keys never
    # change retroactively, which is what keeps cluster ids append-stable)
    def _groups() -> DataFrame:
        batch = new_ing.groupBy("content_hash").agg(
            F.min("file_id").alias("batch_rep"),
            F.count("*").alias("batch_size"),
        )
        old = old_exact.select("content_hash", "rep_id")
        hit = batch.join(old, "content_hash", "inner").select(
            "content_hash", "rep_id", "batch_size", F.lit(False).alias("is_new")
        )
        new = batch.join(old, "content_hash", "left_anti").select(
            "content_hash",
            F.col("batch_rep").alias("rep_id"),
            "batch_size",
            F.lit(True).alias("is_new"),
        )
        return hit.unionByName(new)

    batch_groups = mgr.stage("batch_groups", _groups)

    # 3. features + raw block keys for genuinely-new reps only
    new_rep_ids = batch_groups.filter("is_new").select(
        F.col("rep_id").alias("file_id")
    )
    # derive rep rows from the UN-deduplicated raw batch but drop duplicate
    # deliveries of the same file_id here too — new_ing deduped for the
    # assignment path, and without the same dedup a twice-delivered row would
    # write two identical rep rows into the delta-chained batch_features /
    # batch_raw_blocks, inflating block sizes and duplicating scored pairs in
    # every later append
    new_rep_rows = (
        raw.select("file_id", "path", "lang", "content")
        .join(new_rep_ids, "file_id", "left_semi")
        .dropDuplicates(["file_id"])
        .repartition(n_part, "file_id")
    )
    new_feats = mgr.stage(
        "batch_features", lambda: build_features(new_rep_rows)
    ).persist()
    new_raw_blocks = mgr.stage(
        "batch_raw_blocks",
        lambda: raw_block_keys(new_feats, reps=new_rep_rows, alias_dict=alias_dict),
    )

    # 4. candidate pairs: probe base blocks with batch keys + batch-internal
    # pairs. The base table contributes one semi-join (pushdown-friendly on a
    # bucketed/Iceberg block index) and one size aggregation over the probed
    # keys only.
    def _pairs() -> DataFrame:
        new_keys = new_raw_blocks.select("block_key").dropDuplicates(["block_key"])
        old_probe = old_raw_blocks.join(F.broadcast(new_keys), "block_key", "left_semi")
        o_sizes = old_probe.groupBy("block_key").agg(F.count("*").alias("__on"))
        n_sizes = new_raw_blocks.groupBy("block_key").agg(F.count("*").alias("__nn"))
        # stopword rule on COMBINED sizes — what a full recompute would see
        hot = (
            n_sizes.join(o_sizes, "block_key", "left")
            .filter(
                F.col("__nn") + F.coalesce(F.col("__on"), F.lit(0))
                > skew.STOPWORD_BLOCK_MAX
            )
            .select("block_key")
        )
        probe_new = new_raw_blocks.join(F.broadcast(hot), "block_key", "left_anti")
        probe_old = old_probe.join(F.broadcast(hot), "block_key", "left_anti")
        cross = cross_block_pairs(probe_new, probe_old, "file_id")
        # batch-internal pairs come from probe_new (already anti-joined
        # against `hot`), so the stopword rule applies to COMBINED old+new
        # block sizes on this leg too — a block over the cap contributes
        # neither cross nor intra pairs, exactly as a full recompute drops it
        intra = pairs_from_blocks(cap_and_salt_blocks(probe_new))
        return cross.unionByName(intra).dropDuplicates(["id_a", "id_b"])

    pairs = mgr.stage("batch_pairs", _pairs)

    # 5. scoring: base features semi-joined to touched ids — old content is
    # never re-read, old features only for block-sharing reps
    def _scores() -> DataFrame:
        touched = (
            pairs.select(F.col("id_a").alias("file_id"))
            .unionByName(pairs.select(F.col("id_b").alias("file_id")))
            .dropDuplicates(["file_id"])
        )
        feats_all = old_feats.join(touched, "file_id", "left_semi").unionByName(
            new_feats
        )
        return score_pairs(pairs, feats_all)

    scores = mgr.stage("batch_scores", _scores)
    edges = mgr.stage("batch_edges", lambda: match_edges(scores))

    # 6. merge into the existing labeling (batch-sized mini graph). Lazy AND
    # memoized: on a fully-resumed re-run every consumer stage below loads
    # from disk without invoking its thunk, so the merge itself must not run
    # eagerly here (it costs several jobs, including joins against the
    # corpus-sized old components view).
    _merged: list = []
    new_rep_nodes = new_rep_ids.select(F.col("file_id").alias("id"))

    def _merge():
        if not _merged:
            _merged.append(
                merge_components(
                    old_comps,
                    edges,
                    new_rep_nodes,
                    # the batch-sized relabel map is stored verbatim as the
                    # relabel_map delta — re-deriving it from the merged
                    # output would cost a corpus-scale semi-join
                    return_map=True,
                )
            )
        return _merged[0]

    # 7. write ONLY the batch-sized pieces; the whole-corpus
    # components/assignment views resolve through read_canonical (base
    # relabeled through the map ∪ batch rows, nesting across the chain)
    def _batch_assignment() -> DataFrame:
        # every batch file's row: hash hits via their old rep, new files via
        # their batch rep. The merged view covers old reps ∪ new reps.
        rep_comp = _merge()[0].join(
            batch_groups.select(F.col("rep_id").alias("id")), "id", "left_semi"
        ).select(F.col("id").alias("rep_id"), "component")
        return (
            new_ing.select("file_id", "content_hash")
            .join(batch_groups.select("content_hash", "rep_id"), "content_hash")
            .join(rep_comp, "rep_id")
            .select(F.col("file_id").alias("id"), "component")
        )

    mgr.stage("relabel_map", lambda: _merge()[1])
    mgr.stage(
        "batch_components", lambda: _merge()[0].join(new_rep_nodes, "id", "left_semi")
    )
    mgr.stage("batch_assignment", _batch_assignment)

    # 8. chain pointer: with the batch delta stage tables above it lets
    # read_canonical resolve every canonical table over the chain, keeping
    # each append's I/O O(batch + touched)
    write_chain_base(workdir, base_workdir)

    out: dict[str, DataFrame] = {
        # batch-scoped artifacts
        "ingested": new_ing,
        "batch_groups": batch_groups,
        "batch_features": new_feats,
        "batch_raw_blocks": new_raw_blocks,
        "pairs": pairs,
        "scores": scores,
        "edges": edges,
    }
    # canonical (whole-corpus) views, resolved over the chain
    for name in CANONICAL_STAGES:
        out[name] = read_canonical(spark, workdir, name, store_factory)
    if labeled_pairs is not None:
        out["metrics"] = mgr.stage(
            "metrics",
            lambda: evaluate_against_labeled_pairs(
                out["assignment"], labeled_pairs, id_col="id", cluster_col="component"
            ),
        )
    out["_counters"] = mgr.counters  # type: ignore[assignment]
    out["_cleanup"] = lambda: new_feats.unpersist()  # type: ignore[assignment]
    return out
