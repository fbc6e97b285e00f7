"""Incremental entity resolution: absorb a new batch of files into an
already-clustered corpus in O(batch + touched) work.

The reference rebuilds its databases from scratch per Wikipedia dump
(Makefile:178-198 — every `make generate_databases` re-reads the whole dump);
at the graft's 10^12-file scale a daily append cannot re-read 100 TB. This
plan completes the StageManager story: :func:`run_er_pipeline`'s checkpointed
stage tables (``exact_groups``, ``features``, ``raw_blocks``, ``components``,
``assignment``) double as the incremental index, and each append writes a new
workdir carrying the SAME canonical tables, so appends chain indefinitely
(base → batch₁ → batch₂ → …) — the Iceberg-append pattern expressed through
the swappable stage store.

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

Store note: for the bulky INDEX tables, compute and I/O are O(batch +
touched). ``components``/``assignment`` are array-free relabel outputs that
by default ARE rewritten per append (O(corpus) rows, but tiny fixed-width
rows — the content/feature bytes, which dominate at 100 TB, are never
re-read or re-written); pass ``materialize_assignment=False`` to delta-chain
them too (batch-sized relabel map + batch rows per level, resolved by
:func:`read_canonical`), making the ENTIRE append's write volume
O(batch + touched). The bulky index tables
(``features``/``raw_blocks``/``exact_groups``) are delta-chained — each
append writes only its batch rows plus a base pointer, and
:func:`read_canonical` resolves the whole-corpus view as a union over the
chain (exactly the manifest-over-appended-files pattern Iceberg implements
natively; on the :class:`IcebergStore` the deltas become real table appends).
Only ``components``/``assignment`` (array-free relabel outputs) are
materialized per append; reads over a long chain amortize by re-running the
full pipeline as compaction.

Fidelity note: inside blocks larger than ``cfg.salt_cap`` the full run salts
into chained sub-blocks (operators/skew.py), scoring only chunk-local pairs
and relying on transitive closure; the incremental probe scores a new member
against ALL old members of the block. The incremental candidate set is
therefore a connectivity SUPERSET of the full run's inside salted blocks —
clusters are never less complete, and are identical whenever blocks stay
under the cap (pinned by tests/test_incremental.py against a 90/10 replay).
"""

from __future__ import annotations

import os
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wiki_entity_linker_spark.eval.pairwise import evaluate_against_labeled_pairs
from wiki_entity_linker_spark.operators.blocking import pairs_from_blocks, with_file_id
from wiki_entity_linker_spark.operators.closure import (
    broadcast_if_small,
    merge_components,
    relabel_through_map,
)
from wiki_entity_linker_spark.operators.skew import (
    cap_and_salt_blocks,
    spread_small_input,
)
from wiki_entity_linker_spark.plans.checkpoint import ParquetStore, StageManager
from wiki_entity_linker_spark.plans.er_pipeline import (
    ERConfig,
    _input_fingerprint,
    build_features,
    ingest_projection,
    match_edges,
    raw_block_keys,
    score_pairs,
)

#: canonical tables an incremental run resolves from its base chain; the
#: bulky index tables (exact_groups/features/raw_blocks) are DELTA-CHAINED —
#: each append stores only its batch rows plus a base pointer (chain.json),
#: the manifest-over-appends pattern Iceberg implements natively — while
#: components/assignment (array-free, relabeled per append) are materialized
CANONICAL_STAGES = ("exact_groups", "features", "raw_blocks", "components", "assignment")

#: delta-chained subset of CANONICAL_STAGES and each one's per-batch delta
#: stage name inside an incremental workdir
_DELTA_STAGES = {
    "features": "batch_features",
    "raw_blocks": "batch_raw_blocks",
    "exact_groups": "batch_groups",
}


def _chain_path(workdir: str) -> str:
    return os.path.join(workdir, "chain.json")


def read_canonical(
    spark: SparkSession, workdir: str, name: str, store=None, store_factory=None
) -> DataFrame:
    """Resolve a canonical table for ``workdir``, walking the append chain.

    A full-pipeline workdir materializes every canonical table, so the walk
    terminates there. An incremental workdir materializes
    components/assignment but stores the bulky index tables as batch deltas
    + a base pointer; ``features``/``raw_blocks`` resolve as union-over-chain
    and ``exact_groups`` re-aggregates group sizes (rep ids are
    first-writer-stable, so ``min`` over the chain is the original rep).
    Reads cost O(chain length) unions — compact by re-running the full
    pipeline (or, on Iceberg, letting the table service compact).

    ``store`` applies to THIS level only; deeper chain levels resolve their
    store via ``store_factory(workdir) -> store`` when given, else default
    to :class:`ParquetStore`. A chain whose levels live in a non-default
    store (e.g. :class:`IcebergStore` per-workdir namespaces) must pass the
    factory, otherwise the walk silently falls back to parquet one level
    down — exactly the trap this parameter closes.
    """
    import json

    st = store or (store_factory(workdir) if store_factory else ParquetStore(workdir))
    if st.exists(spark, name):
        return st.read(spark, name)
    cp = _chain_path(workdir)
    if (
        name in ("components", "assignment")
        and os.path.exists(cp)
        and st.exists(spark, "relabel_map")
    ):
        # delta-assignment workdir (run_er_incremental with
        # materialize_assignment=False): the level stores only its
        # batch-sized relabel map + batch rows, and the whole-corpus view is
        # base-relabeled-through-the-map ∪ batch rows. Chaining nests
        # naturally: level k relabels the RESOLVED level-(k-1) view, so maps
        # compose without any explicit composition step. No broadcast hint:
        # the map is a parquet stage table whose size Catalyst knows — small
        # maps auto-broadcast, a pathological mass-merge map falls back to a
        # shuffle join on its own (the same guard merge_components applies).
        with open(cp) as f:
            base_workdir = json.load(f)["base"]
        base = read_canonical(spark, base_workdir, name, store_factory=store_factory)
        relabeled = relabel_through_map(base, st.read(spark, "relabel_map"))
        delta = "batch_components" if name == "components" else "batch_assignment"
        return relabeled.unionByName(st.read(spark, delta).select("id", "component"))
    if name not in _DELTA_STAGES or not os.path.exists(cp):
        raise ValueError(
            f"workdir {workdir!r} lacks the checkpointed stage tables "
            f"needed to resolve {name!r} (no materialized table, no chain)"
        )
    with open(cp) as f:
        base_workdir = json.load(f)["base"]
    base = read_canonical(spark, base_workdir, name, store_factory=store_factory)
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
    spark: SparkSession, workdir: str, out_workdir: str, store=None,
    store_factory=None,
) -> dict[str, DataFrame]:
    """Materialize a chain head's canonical tables into a self-contained
    workdir — the LSM compaction step. After N appends, reads through
    :func:`read_canonical` pay N unions; compacting rewrites the resolved
    view once, and subsequent appends based on ``out_workdir`` read a single
    level again. (On Iceberg this is the table service's rewrite-data-files
    job; here it is one pass per canonical table.)
    """
    if os.path.abspath(workdir) == os.path.abspath(out_workdir):
        raise ValueError("compact_chain: out_workdir must differ from workdir")
    st = store or ParquetStore(out_workdir)
    os.makedirs(out_workdir, exist_ok=True)
    out: dict[str, DataFrame] = {}
    for name in CANONICAL_STAGES:
        out[name] = st.write(
            spark,
            name,
            read_canonical(spark, workdir, name, store_factory=store_factory),
        )
    return out


def run_er_incremental(
    spark: SparkSession,
    base_workdir: str,
    new_files: DataFrame,
    workdir: str,
    cfg: ERConfig | None = None,
    labeled_pairs: DataFrame | None = None,
    alias_dict: DataFrame | None = None,
    store=None,
    base_store=None,
    store_factory=None,
    materialize_assignment: bool = True,
) -> dict[str, DataFrame]:
    """Append ``new_files`` to the clustering checkpointed at
    ``base_workdir``; write the merged canonical stage tables to ``workdir``.

    ``workdir`` must differ from ``base_workdir``: the base tables feed the
    merged ones lazily, and overwriting an input mid-plan corrupts it.

    ``store``/``base_store`` pick the stage store for this append's workdir
    and the immediate base; ``store_factory(workdir) -> store`` covers
    DEEPER chain levels when base_workdir is itself an append over a
    non-default store (without it, levels below the base resolve as
    :class:`ParquetStore` — see :func:`read_canonical`).

    ``materialize_assignment=True`` (default) rewrites the full
    ``components``/``assignment`` tables per append — array-free fixed-width
    rows, but still O(corpus) rows of write. ``False`` delta-chains them
    like the index tables: the level stores only its batch-sized relabel map
    (``relabel_map``) plus the batch's own rows
    (``batch_components``/``batch_assignment``), making the ENTIRE append's
    write volume O(batch + touched); :func:`read_canonical` resolves the
    whole-corpus view by relabeling the base through the map (one map-side
    join per chain level — compaction bounds the depth). At 10^12 files a
    daily append must not write 10^12 assignment rows; this is the mode a
    real deployment runs, with the materialized default kept for
    self-contained workdirs and short-lived chains.
    """
    cfg = cfg or ERConfig()
    if cfg.snm_window:
        raise ValueError(
            "run_er_incremental: cfg.snm_window is full-recompute-only — "
            "sorted-neighborhood positions shift with every append, so an "
            "incremental SNM union would silently diverge from the full "
            "run's candidate set. Re-cluster with run_er_pipeline (or "
            "compact_chain) when SNM blocking is on."
        )
    if os.path.abspath(workdir) == os.path.abspath(base_workdir):
        raise ValueError(
            "run_er_incremental: workdir must differ from base_workdir "
            "(merged stage tables are built FROM the base tables; writing "
            "over a lazily-read parquet input corrupts it)"
        )
    try:
        old_exact = read_canonical(spark, base_workdir, "exact_groups", base_store, store_factory)
        old_feats = read_canonical(spark, base_workdir, "features", base_store, store_factory)
        old_raw_blocks = read_canonical(spark, base_workdir, "raw_blocks", base_store, store_factory)
        old_comps = read_canonical(spark, base_workdir, "components", base_store, store_factory)
        old_assign = read_canonical(spark, base_workdir, "assignment", base_store, store_factory)
    except Exception as exc:  # noqa: BLE001 — surface an actionable message
        raise ValueError(
            f"base workdir {base_workdir!r} lacks the checkpointed stage "
            "tables an incremental append needs (run run_er_pipeline with "
            f"checkpoint=True first): {exc}"
        ) from exc

    mgr = StageManager(
        spark,
        workdir,
        asdict(cfg)
        | {
            "base": os.path.abspath(base_workdir),
            "input": _input_fingerprint(new_files),
            "alias_dict": None if alias_dict is None else _input_fingerprint(alias_dict),
            # mode changes the stage-table set — must invalidate, not resume
            "materialize_assignment": materialize_assignment,
        },
        enabled=True,
        store=store,
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
        "batch_features", lambda: build_features(new_rep_rows, cfg)
    ).persist()
    new_raw_blocks = mgr.stage(
        "batch_raw_blocks",
        lambda: raw_block_keys(new_feats, cfg, reps=new_rep_rows, alias_dict=alias_dict),
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
                > cfg.stopword_block_max
            )
            .select("block_key")
        )
        probe_new = new_raw_blocks.join(F.broadcast(hot), "block_key", "left_anti")
        probe_old = old_probe.join(F.broadcast(hot), "block_key", "left_anti")
        cross = (
            probe_new.select("block_key", F.col("file_id").alias("__n"))
            .join(probe_old.select("block_key", F.col("file_id").alias("__b")), "block_key")
            .select(
                F.least("__n", "__b").alias("id_a"),
                F.greatest("__n", "__b").alias("id_b"),
            )
            .filter(F.col("id_a") != F.col("id_b"))
        )
        # batch-internal pairs come from probe_new (already anti-joined
        # against `hot`), so the stopword rule applies to COMBINED old+new
        # block sizes on this leg too — a block over the cap contributes
        # neither cross nor intra pairs, exactly as a full recompute drops it
        intra = pairs_from_blocks(
            cap_and_salt_blocks(
                probe_new, max_size=cfg.stopword_block_max, cap=cfg.salt_cap
            )
        )
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
    edges = mgr.stage("batch_edges", lambda: match_edges(scores, cfg))

    # 6. merge into the existing labeling (batch-sized mini graph). Lazy AND
    # memoized: on a fully-resumed re-run every consumer stage below loads
    # from disk without invoking its thunk, so the merge itself must not run
    # eagerly here (it costs several jobs, including joins against the
    # corpus-sized old components view).
    _merged: list = []

    def _merge():
        if not _merged:
            _merged.append(
                merge_components(
                    old_comps,
                    edges,
                    new_rep_ids.select(F.col("file_id").alias("id")),
                    id_col="id",
                    comp_col="component",
                    max_iter=cfg.max_cc_iter,
                    # the batch-sized relabel map is reused verbatim by the
                    # assignment/delta stages — re-deriving it from the merged
                    # output would cost a corpus-scale semi-join per stage
                    return_map=True,
                )
            )
        return _merged[0]

    comps: DataFrame
    if materialize_assignment:
        comps = mgr.stage("components", lambda: _merge()[0])
    else:
        # delta mode materializes only the batch-sized stages below; the
        # merged view stays lazy (its expensive inner pieces are cut inside
        # merge_components when it actually runs)
        comps = None  # type: ignore[assignment]

    def _changed_from(comps_df: DataFrame) -> DataFrame:
        # fallback derivation when the components stage RESUMED from disk
        # (so merge_components never ran this invocation): an old label x is
        # its own component in old_comps, so x is touched iff comps[x] != x
        old_label_rows = old_comps.filter(
            F.col("id") == F.col("component")
        ).select("id")
        return (
            comps_df.join(old_label_rows, "id", "left_semi")
            .filter(F.col("component") != F.col("id"))
            .select(F.col("id").alias("__old_c"), F.col("component").alias("__new_c"))
        )

    def _batch_members(comps_src: DataFrame) -> DataFrame:
        # every batch file's row: hash hits via their old rep, new files via
        # their batch rep. comps covers old reps ∪ new reps by construction.
        rep_comp = comps_src.join(
            batch_groups.select(F.col("rep_id").alias("id")), "id", "left_semi"
        ).select(F.col("id").alias("rep_id"), "component")
        return (
            new_ing.select("file_id", "content_hash")
            .join(batch_groups.select("content_hash", "rep_id"), "content_hash")
            .join(rep_comp, "rep_id")
            .select(F.col("file_id").alias("id"), "component")
        )

    if materialize_assignment:
        # 7. full assignment: every base file (relabeled where its cluster
        # was touched) + every batch file. The base side is relabeled through
        # the BATCH-SIZED map — broadcast when it fits (one map-side pass
        # over the old assignment, no shuffle), size-guarded shuffle join
        # when a pathological batch bridges too many base clusters
        # (broadcast_if_small).
        def _assign() -> DataFrame:
            if _merged:  # merge ran this invocation: its map is already cut
                changed = _merged[0][1]
            else:  # components stage resumed: derive the map from the table
                changed = _changed_from(comps).localCheckpoint(eager=True)
            relabeled_old = relabel_through_map(
                old_assign, broadcast_if_small(changed)
            )
            return relabeled_old.unionByName(_batch_members(comps))

        assignment = mgr.stage("assignment", _assign)
    else:
        # 7 (delta mode). write ONLY the batch-sized pieces; the whole-corpus
        # components/assignment views resolve through read_canonical (base
        # relabeled through the map ∪ batch rows, nesting across the chain).
        # A stale materialized components/assignment table from an earlier
        # materialized-mode run of this workdir would SHADOW the delta
        # resolution (read_canonical returns any existing table first), so
        # delete them before the chain pointer lands.
        for stale in ("components", "assignment"):
            if mgr.store.exists(spark, stale):
                mgr.store.delete(spark, stale)
            stale_meta = os.path.join(workdir, f"{stale}.meta.json")
            if os.path.exists(stale_meta):
                os.remove(stale_meta)
        mgr.stage("relabel_map", lambda: _merge()[1])
        mgr.stage(
            "batch_components",
            lambda: _merge()[0].join(
                new_rep_ids.select(F.col("file_id").alias("id")), "id", "left_semi"
            ),
        )
        mgr.stage("batch_assignment", lambda: _batch_members(_merge()[0]))

    # 8. chain pointer: the bulky index tables (features/raw_blocks/
    # exact_groups) are NOT re-written — the batch delta stage tables above
    # plus this pointer let read_canonical resolve them as union-over-chain,
    # keeping each append's I/O O(batch). components/assignment are
    # materialized above in the default mode (array-free fixed-width
    # relabels) and delta-chained in materialize_assignment=False mode.
    import json

    with open(_chain_path(workdir), "w") as f:
        json.dump({"base": os.path.abspath(base_workdir)}, f)

    out: dict[str, DataFrame] = {
        # batch-scoped artifacts
        "ingested": new_ing,
        "batch_groups": batch_groups,
        "batch_features": new_feats,
        "batch_raw_blocks": new_raw_blocks,
        "pairs": pairs,
        "scores": scores,
        "edges": edges,
        # canonical (whole-corpus) views — chain-resolved where delta-stored
        "exact_groups": read_canonical(spark, workdir, "exact_groups", store, store_factory),
        "features": read_canonical(spark, workdir, "features", store, store_factory),
        "raw_blocks": read_canonical(spark, workdir, "raw_blocks", store, store_factory),
    }
    if materialize_assignment:
        out["components"] = comps
        out["assignment"] = assignment
    else:
        out["components"] = read_canonical(
            spark, workdir, "components", store, store_factory
        )
        out["assignment"] = assignment = read_canonical(
            spark, workdir, "assignment", store, store_factory
        )
    if labeled_pairs is not None:
        out["metrics"] = mgr.stage(
            "metrics",
            lambda: evaluate_against_labeled_pairs(
                assignment, labeled_pairs, id_col="id", cluster_col="component"
            ),
            collect_lineage=False,
        )
    out["_counters"] = mgr.counters  # type: ignore[assignment]
    out["_cleanup"] = lambda: new_feats.unpersist()  # type: ignore[assignment]
    return out
