"""Incremental ER append (plans/er_incremental.py) vs full-recompute replay
on the deterministic fixture corpus."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from wiki_entity_linker_spark.operators.blocking import with_file_id
from wiki_entity_linker_spark.plans.checkpoint import (
    ParquetStore,
    chain_base,
    chain_depth,
    chain_head,
    write_chain_base,
)
from wiki_entity_linker_spark.plans.er_incremental import (
    read_canonical,
    run_er_incremental,
)
from wiki_entity_linker_spark.plans.er_pipeline import run_er_pipeline
from wiki_entity_linker_spark.streaming import streaming_er_append


def _assign_map(df) -> dict:
    return {r["id"]: r["component"] for r in df.collect()}


def _normalized(assign: dict) -> dict:
    """id → min member id of its cluster (label-independent partition)."""
    from collections import defaultdict

    members = defaultdict(list)
    for i, c in assign.items():
        members[c].append(i)
    return {i: min(v) for v in members.values() for i in v}


def _split_by_file_id(spark, corpus_dir, frac=0.9):
    """base = smallest `frac` of file_ids, batch = rest. Batch ids sorting
    AFTER every base id keeps exact-dup representatives first-writer-stable
    across the replay (the incremental contract), so labels stay comparable
    to the one-shot run."""
    src = spark.read.parquet(f"{corpus_dir}/source_files.parquet")
    ids = sorted(r["file_id"] for r in with_file_id(src).select("file_id").collect())
    cutoff = ids[int(len(ids) * frac)]
    tagged = with_file_id(src)
    base = tagged.filter(F.col("file_id") < cutoff).drop("file_id")
    batch = tagged.filter(F.col("file_id") >= cutoff).drop("file_id")
    return src, base, batch


def _drop(df, tmp_path, name) -> str:
    """Land ``df`` as one flat parquet file in ``tmp_path/drops`` (the file
    stream source wants flat files, not directory datasets); returns the
    drops directory."""
    stage = tmp_path / f"stage_{name}"
    df.coalesce(1).write.parquet(str(stage))
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    drops = tmp_path / "drops"
    os.makedirs(drops, exist_ok=True)
    shutil.copy(stage / part, drops / f"{name}.parquet")
    return str(drops)


def _halves(batch):
    """Split a batch at its median file_id (both halves keep id order)."""
    tagged = with_file_id(batch)
    ids = sorted(r["file_id"] for r in tagged.select("file_id").collect())
    mid = ids[len(ids) // 2]
    return (
        tagged.filter(F.col("file_id") < mid).drop("file_id"),
        tagged.filter(F.col("file_id") >= mid).drop("file_id"),
    )


def test_incremental_matches_full_run(spark, tiny_corpus_dir, tmp_path):
    src, base, batch = _split_by_file_id(spark, tiny_corpus_dir)
    labeled = spark.read.parquet(f"{tiny_corpus_dir}/labeled_pairs.parquet")

    full = run_er_pipeline(spark, src, None, str(tmp_path / "full"))
    base_out = run_er_pipeline(spark, base, None, str(tmp_path / "base"))
    inc = run_er_incremental(
        spark, str(tmp_path / "base"), batch, str(tmp_path / "inc"),
        labeled_pairs=labeled,
    )

    got = _assign_map(inc["assignment"])
    want = _assign_map(full["assignment"])
    assert set(got) == set(want)
    assert _normalized(got) == _normalized(want)  # identical partitions
    # the incremental labeling still matches the fixture's gold pairs
    m = {r["slice"]: r for r in inc["metrics"].collect()}
    assert m["all"]["f1"] == 1.0
    # untouched base clusters keep their component ids verbatim
    base_assign = _assign_map(base_out["assignment"])
    touched_labels = {
        c for i, c in got.items() if i not in base_assign or base_assign[i] != c
    }
    stable = {i: c for i, c in base_assign.items() if c not in touched_labels}
    assert stable  # the split leaves most clusters untouched
    assert all(got[i] == c for i, c in stable.items())
    for o in (full, base_out, inc):
        o["_cleanup"]()


def test_incremental_hash_hit_fast_path(spark, tiny_corpus_dir, tmp_path):
    """A batch of pure exact duplicates joins existing clusters through the
    content-hash index alone: no new representatives, no features, no
    candidate pairs, no scoring."""
    src = with_file_id(
        spark.read.parquet(f"{tiny_corpus_dir}/source_files.parquet")
    ).drop("file_id")
    base_out = run_er_pipeline(spark, src, None, str(tmp_path / "base"))
    dup_batch = (
        src.orderBy("repo", "path", "commit")
        .limit(5)
        .withColumn("repo", F.concat(F.lit("mirror/"), F.col("repo")))
    )
    inc = run_er_incremental(
        spark, str(tmp_path / "base"), dup_batch, str(tmp_path / "inc")
    )
    groups = inc["batch_groups"].collect()
    assert groups and all(not r["is_new"] for r in groups)
    assert inc["batch_features"].count() == 0  # nothing new to featurize
    assert inc["pairs"].count() == 0
    # every mirrored file landed in its content-twin's cluster
    base_assign = _assign_map(base_out["assignment"])
    got = _assign_map(inc["assignment"])
    twins = {
        r["file_id"]: r["twin"]
        for r in with_file_id(dup_batch)
        .select("file_id", "path", "commit")
        .join(
            with_file_id(src).select(
                F.col("file_id").alias("twin"), "path", "commit"
            ),
            ["path", "commit"],
        )
        .collect()
    }
    assert twins and all(got[m] == base_assign[t] for m, t in twins.items())
    base_out["_cleanup"]()
    inc["_cleanup"]()


def test_incremental_chains_across_batches(spark, tiny_corpus_dir, tmp_path):
    """Append twice (base → b1 → b2): the merged canonical stage tables of
    one append serve as the base of the next, and the final partition equals
    the one-shot run over everything."""
    src, base, batch = _split_by_file_id(spark, tiny_corpus_dir, frac=0.8)
    b1, b2 = _halves(batch)

    run_er_pipeline(spark, base, None, str(tmp_path / "base"))
    inc1 = run_er_incremental(spark, str(tmp_path / "base"), b1, str(tmp_path / "i1"))
    inc2 = run_er_incremental(spark, str(tmp_path / "i1"), b2, str(tmp_path / "i2"))
    full = run_er_pipeline(spark, src, None, str(tmp_path / "full"))

    assert _normalized(_assign_map(inc2["assignment"])) == _normalized(
        _assign_map(full["assignment"])
    )
    # canonical chain resolution: two-level delta chain equals the one-shot
    # run's materialized tables (sizes summed across batches, first-writer
    # reps == global-min reps under the id-ordered split)
    full_exact = {
        r["content_hash"]: (r["rep_id"], r["group_size"])
        for r in full["exact_groups"].collect()
    }
    inc_exact = {
        r["content_hash"]: (r["rep_id"], r["group_size"])
        for r in inc2["exact_groups"].collect()
    }
    assert inc_exact == full_exact
    assert inc2["features"].count() == full["features"].count()
    inc1["_cleanup"](), inc2["_cleanup"](), full["_cleanup"]()


def test_incremental_guards(spark, tiny_corpus_dir, tmp_path):
    src = spark.read.parquet(f"{tiny_corpus_dir}/source_files.parquet")
    with pytest.raises(ValueError, match="must differ"):
        run_er_incremental(spark, str(tmp_path / "x"), src, str(tmp_path / "x"))
    with pytest.raises(ValueError, match="checkpointed stage tables"):
        run_er_incremental(spark, str(tmp_path / "missing"), src, str(tmp_path / "y"))


def test_streaming_er_append_chains_drops(spark, tiny_corpus_dir, tmp_path):
    """Two streamed drops chain onto a batch base and reach the one-shot
    partition; re-running the drained stream (restart, no new files) leaves
    the chain head untouched."""
    src, base, batch = _split_by_file_id(spark, tiny_corpus_dir, frac=0.8)
    b1, b2 = _halves(batch)

    run_er_pipeline(spark, base, None, str(tmp_path / "base"))
    full = run_er_pipeline(spark, src, None, str(tmp_path / "full"))

    chain_root = str(tmp_path / "chain")
    ckpt = str(tmp_path / "stream_ckpt")

    drops = _drop(b1, tmp_path, "b1")
    q = streaming_er_append(
        spark, drops, str(tmp_path / "base"), chain_root, ckpt
    )
    q.awaitTermination(300)
    head1 = chain_head(chain_root)
    assert head1 is not None

    _drop(b2, tmp_path, "b2")
    q = streaming_er_append(
        spark, drops, str(tmp_path / "base"), chain_root, ckpt
    )
    q.awaitTermination(300)
    head2 = chain_head(chain_root)
    assert head2 != head1

    got = _assign_map(read_canonical(spark, head2, "assignment"))
    want = _assign_map(full["assignment"])
    assert _normalized(got) == _normalized(want)

    # drained restart: no new files → no new epoch, head unchanged
    q = streaming_er_append(
        spark, drops, str(tmp_path / "base"), chain_root, ckpt
    )
    q.awaitTermination(300)
    assert chain_head(chain_root) == head2
    full["_cleanup"]()


def test_stream_head_survives_failed_advance(
    spark, tiny_corpus_dir, tmp_path, monkeypatch
):
    """A crash while the chain head is being written must leave the previous
    head readable (temp file + atomic rename, never truncate-then-write), so
    the restarted stream resumes from it and then advances normally."""
    import json

    src, base, batch = _split_by_file_id(spark, tiny_corpus_dir, frac=0.8)
    b1, b2 = _halves(batch)
    base_wd = str(tmp_path / "base")
    run_er_pipeline(spark, base, None, base_wd)
    chain_root = str(tmp_path / "chain")
    ckpt = str(tmp_path / "stream_ckpt")

    drops = _drop(b1, tmp_path, "b1")
    streaming_er_append(spark, drops, base_wd, chain_root, ckpt).awaitTermination(300)
    head1 = chain_head(chain_root)
    assert head1 is not None

    real_dump = json.dump

    def crash_on_head(obj, fp, *args, **kwargs):
        if "head.json" in getattr(fp, "name", ""):
            raise OSError("simulated crash while writing the chain head")
        return real_dump(obj, fp, *args, **kwargs)

    monkeypatch.setattr(json, "dump", crash_on_head)
    _drop(b2, tmp_path, "b2")
    with pytest.raises(Exception, match="simulated crash"):
        streaming_er_append(spark, drops, base_wd, chain_root, ckpt).awaitTermination(300)
    assert chain_head(chain_root) == head1

    # restart: the un-committed epoch re-runs onto head1 and commits
    monkeypatch.undo()
    streaming_er_append(spark, drops, base_wd, chain_root, ckpt).awaitTermination(300)
    assert chain_head(chain_root) not in (None, head1)
    assert chain_depth(chain_root) == 2


def test_incremental_intra_batch_duplicate_rows(spark, tiny_corpus_dir, tmp_path):
    """The same physical row delivered twice in ONE batch must appear once
    in the assignment (dedup by content-addressed file_id at ingest)."""
    src = spark.read.parquet(f"{tiny_corpus_dir}/source_files.parquet")
    run_er_pipeline(spark, src, None, str(tmp_path / "base"))
    one = (
        src.orderBy("repo", "path", "commit")
        .limit(1)
        .withColumn("repo", F.concat(F.lit("dup/"), F.col("repo")))
        # genuinely-new content (not a hash hit) so the duplicate delivery
        # exercises the new-representative path end to end
        .withColumn(
            "content", F.concat(F.col("content"), F.lit("\n# fresh marker zz"))
        )
    )
    inc = run_er_incremental(
        spark, str(tmp_path / "base"), one.unionAll(one), str(tmp_path / "inc")
    )
    fid = with_file_id(one).select("file_id").first()["file_id"]
    rows = inc["assignment"].filter(F.col("id") == fid).collect()
    assert len(rows) == 1
    # the delta-chained index tables must ALSO carry one row per rep — a
    # duplicate here would inflate block sizes and duplicate scored pairs
    # in every later append, forever
    assert inc["batch_features"].count() == 1
    brb = inc["batch_raw_blocks"]
    assert brb.count() == brb.dropDuplicates(["file_id", "block_key"]).count()
    inc["_cleanup"]()


def test_compact_chain_then_append(spark, tiny_corpus_dir, tmp_path):
    """Compacting a chain head yields a self-contained base (no chain.json
    walk) that further appends build on, with the final partition still
    equal to the one-shot run."""
    from wiki_entity_linker_spark.plans.er_incremental import compact_chain

    src, base, batch = _split_by_file_id(spark, tiny_corpus_dir, frac=0.8)
    b1, b2 = _halves(batch)

    run_er_pipeline(spark, base, None, str(tmp_path / "base"))
    inc1 = run_er_incremental(spark, str(tmp_path / "base"), b1, str(tmp_path / "i1"))
    compact_chain(spark, str(tmp_path / "i1"), str(tmp_path / "c1"))
    # compacted dir resolves every canonical table WITHOUT a chain pointer
    assert chain_base(str(tmp_path / "c1")) is None
    inc2 = run_er_incremental(spark, str(tmp_path / "c1"), b2, str(tmp_path / "i2"))
    full = run_er_pipeline(spark, src, None, str(tmp_path / "full"))
    assert _normalized(_assign_map(inc2["assignment"])) == _normalized(
        _assign_map(full["assignment"])
    )
    inc1["_cleanup"](), inc2["_cleanup"](), full["_cleanup"]()


def test_incremental_combined_stopword_cap_on_intra_pairs(
    spark, tmp_path, monkeypatch
):
    """The stopword cap must gate batch-internal pairs on COMBINED old+new
    block sizes, not batch-only sizes: a block over the cap contributes no
    pairs at all in a full recompute, so the incremental append must not
    mint batch-internal pairs from its batch slice either (over-merge).

    Fixture: three files sharing only a path-stem/fname block (pairwise
    disjoint token sets, distinct def names). JACCARD_THRESHOLD=0 turns ANY
    generated pair into an edge, so the partitions diverge iff the cap leaks.
    """
    from wiki_entity_linker_spark.operators import skew
    from wiki_entity_linker_spark.plans import er_pipeline

    rows = [
        ("r1", "a/util.py", "c1", "python",
         "def alpha_one():\n    aa bb cc dd ee ff gg hh\n"),
        ("r2", "b/util.py", "c1", "python",
         "def beta_two():\n    ii jj kk ll mm nn oo pp\n"),
        ("r3", "c/util.py", "c1", "python",
         "def gamma_three():\n    qq rr ss tt uu vv ww xx\n"),
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    src = spark.createDataFrame(rows, schema)
    base = src.filter(F.col("repo") == "r1")
    batch = src.filter(F.col("repo") != "r1")
    monkeypatch.setattr(er_pipeline, "JACCARD_THRESHOLD", 0.0)
    monkeypatch.setattr(skew, "STOPWORD_BLOCK_MAX", 2)
    monkeypatch.setattr(skew, "SALT_CAP", 2)

    full = run_er_pipeline(spark, src, None, str(tmp_path / "full"))
    want = _normalized(_assign_map(full["assignment"]))
    # the shared stem/fname blocks hold all 3 files (over the cap of 2) and
    # are the ONLY shared blocks, so the full run keeps everything singleton
    assert len(set(want.values())) == 3

    run_er_pipeline(spark, base, None, str(tmp_path / "base"))
    inc = run_er_incremental(
        spark, str(tmp_path / "base"), batch, str(tmp_path / "inc")
    )
    # pre-fix: the batch slice of the stem block (2 files ≤ cap) minted an
    # intra pair and JACCARD_THRESHOLD=0 merged r2/r3 — an over-merge no
    # full recompute produces
    assert inc["pairs"].count() == 0
    assert _normalized(_assign_map(inc["assignment"])) == want
    full["_cleanup"](), inc["_cleanup"]()


def test_streaming_auto_compaction_bounds_chain_depth(
    spark, tiny_corpus_dir, tmp_path
):
    """Six streamed drops with compact_every=2: the chain depth never
    exceeds 2, the head after a compaction epoch is self-contained (no
    chain.json walk), and the final clustering equals the one-shot run.
    Every epoch writes only O(batch) (no corpus-sized assignment table in
    any epoch workdir): compaction is the only place the whole-corpus
    tables materialize."""
    src, base, batch = _split_by_file_id(spark, tiny_corpus_dir, frac=0.7)
    ids = sorted(r["file_id"] for r in with_file_id(batch).select("file_id").collect())
    n_drops = 6
    cuts = [ids[(len(ids) * i) // n_drops] for i in range(1, n_drops)] + [None]
    tagged = with_file_id(batch)
    slices, lo = [], None
    for hi in cuts:
        sl = tagged
        if lo is not None:
            sl = sl.filter(F.col("file_id") >= lo)
        if hi is not None:
            sl = sl.filter(F.col("file_id") < hi)
        slices.append(sl.drop("file_id"))
        lo = hi

    run_er_pipeline(spark, base, None, str(tmp_path / "base"))
    full = run_er_pipeline(spark, src, None, str(tmp_path / "full"))

    chain_root = str(tmp_path / "chain")
    ckpt = str(tmp_path / "stream_ckpt")

    for i, sl in enumerate(slices):
        drops = _drop(sl, tmp_path, f"d{i}")
        q = streaming_er_append(
            spark, drops, str(tmp_path / "base"), chain_root, ckpt,
            compact_every=2,
        )
        q.awaitTermination(300)
        assert chain_depth(chain_root) <= 2
        head_now = chain_head(chain_root)
        if not head_now.endswith("_compact"):
            # epoch workdirs never carry the corpus-sized table
            assert not os.path.exists(
                os.path.join(head_now, "assignment.parquet"))
            assert os.path.exists(
                os.path.join(head_now, "relabel_map.parquet"))

    head = chain_head(chain_root)
    # 6 appends at compact_every=2 → the last epoch compacted: head is a
    # self-contained workdir and depth reset to 0
    assert chain_depth(chain_root) == 0
    assert head.endswith("_compact")
    assert chain_base(head) is None

    got = _assign_map(spark.read.parquet(os.path.join(head, "assignment.parquet")))
    want = _assign_map(full["assignment"])
    assert _normalized(got) == _normalized(want)
    full["_cleanup"]()


def test_read_canonical_store_factory_threads_through_chain(spark, tmp_path):
    """ADVICE r4: the chain walk must resolve DEEPER levels through the
    caller's store, not silently fall back to ParquetStore(workdir). Here
    every level's tables live in a parquet store rooted AWAY from its
    workdir, so resolution succeeds only if store_factory is consulted at
    each level."""
    base_wd = str(tmp_path / "base_wd")
    inc_wd = str(tmp_path / "inc_wd")
    stores_root = tmp_path / "stores"
    os.makedirs(base_wd), os.makedirs(inc_wd)

    def factory(workdir):
        return ParquetStore(str(stores_root / os.path.basename(workdir)))

    base_feats = spark.createDataFrame(
        [("f1", 1.0), ("f2", 2.0)], "file_id string, score double")
    delta_feats = spark.createDataFrame(
        [("f3", 3.0)], "file_id string, score double")
    factory(base_wd).write(spark, "features", base_feats)
    factory(inc_wd).write(spark, "batch_features", delta_feats)
    write_chain_base(inc_wd, base_wd)

    got = read_canonical(spark, inc_wd, "features", store_factory=factory)
    assert {r["file_id"] for r in got.collect()} == {"f1", "f2", "f3"}

    # without the factory, the levels resolve as ParquetStore(workdir) —
    # empty — and must fail loudly, not silently
    with pytest.raises(ValueError, match="lacks the checkpointed"):
        read_canonical(spark, inc_wd, "features").collect()


def test_incremental_delta_assignment_matches_materialized(spark, tiny_corpus_dir, tmp_path):
    """Appends write only the batch-sized relabel map + batch rows, yet the
    resolved components/assignment views across a two-batch chain equal the
    one-shot run, and compaction re-materializes exactly those views."""
    from wiki_entity_linker_spark.plans.er_incremental import compact_chain

    src, base, batch = _split_by_file_id(spark, tiny_corpus_dir, frac=0.8)
    b1, b2 = _halves(batch)

    run_er_pipeline(spark, base, None, str(tmp_path / "base"))
    full = run_er_pipeline(spark, src, None, str(tmp_path / "full"))

    d1 = run_er_incremental(spark, str(tmp_path / "base"), b1, str(tmp_path / "d1"))
    d2 = run_er_incremental(spark, str(tmp_path / "d1"), b2, str(tmp_path / "d2"))

    # O(batch) write: no corpus-sized tables in the append workdirs
    for wd in ("d1", "d2"):
        assert not os.path.exists(tmp_path / wd / "assignment.parquet")
        assert not os.path.exists(tmp_path / wd / "components.parquet")
        assert os.path.exists(tmp_path / wd / "relabel_map.parquet")
        assert os.path.exists(tmp_path / wd / "batch_assignment.parquet")

    # resolved views: same partition as the one-shot run
    got = _assign_map(d2["assignment"])
    assert _normalized(got) == _normalized(_assign_map(full["assignment"]))

    # per-level delta sizes are batch-bounded
    n_b2 = b2.count()
    assert spark.read.parquet(str(tmp_path / "d2" / "batch_assignment.parquet")).count() == n_b2

    # compaction resolves the relabel chain into self-contained tables
    compact_chain(spark, str(tmp_path / "d2"), str(tmp_path / "c"))
    assert os.path.exists(tmp_path / "c" / "assignment.parquet")
    got_c = _assign_map(spark.read.parquet(str(tmp_path / "c" / "assignment.parquet")))
    assert got_c == got
    c_comps = _assign_map(spark.read.parquet(str(tmp_path / "c" / "components.parquet")))
    assert c_comps == _assign_map(d2["components"])
    for o in (full, d1, d2):
        o["_cleanup"]()


def test_delta_assignment_resolution_plan_is_broadcast(spark, tmp_path):
    """The resolved assignment view over a delta chain must relabel the base
    through BROADCAST joins (the maps are tiny parquet stage tables whose
    size Catalyst knows) — no sort-merge shuffle of the corpus-sized base,
    no cartesian product."""
    base_wd, l1, l2 = (str(tmp_path / d) for d in ("b", "l1", "l2"))
    st_b, st_1, st_2 = (ParquetStore(d) for d in (base_wd, l1, l2))
    for d in (base_wd, l1, l2):
        os.makedirs(d)
    st_b.write(spark, "assignment", spark.createDataFrame(
        [(f"f{i}", f"f{i - i % 2}") for i in range(10)], "id string, component string"))
    st_1.write(spark, "relabel_map", spark.createDataFrame(
        [("f0", "a0")], "__old_c string, __new_c string"))
    st_1.write(spark, "batch_assignment", spark.createDataFrame(
        [("a0", "a0")], "id string, component string"))
    st_2.write(spark, "relabel_map", spark.createDataFrame(
        [("f2", "a1")], "__old_c string, __new_c string"))
    st_2.write(spark, "batch_assignment", spark.createDataFrame(
        [("a1", "a1")], "id string, component string"))
    write_chain_base(l1, base_wd)
    write_chain_base(l2, l1)

    resolved = read_canonical(spark, l2, "assignment")
    got = {r["id"]: r["component"] for r in resolved.collect()}
    # both levels' maps applied, batch rows present, untouched rows verbatim
    assert got["f0"] == got["f1"] == "a0" and got["a0"] == "a0"
    assert got["f2"] == got["f3"] == "a1" and got["a1"] == "a1"
    assert got["f4"] == "f4" and got["f5"] == "f4"

    plan = resolved._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # one map join per chain level (Catalyst may push a level's join through
    # the lower union, cloning it per branch — still all broadcast)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_delta_mode_rerun_resumes_and_clears_stale_materialized(spark, tiny_corpus_dir, tmp_path):
    """Two review-pinned behaviors of the append workdir: (1) a stale
    materialized components/assignment table left in it (e.g. by an older
    append mode) must not shadow the delta resolution; (2) re-running a
    completed append resumes every stage from disk — including never
    re-running the merge."""
    src, base, batch = _split_by_file_id(spark, tiny_corpus_dir, frac=0.8)
    base_out = run_er_pipeline(spark, base, None, str(tmp_path / "base"))
    wd = str(tmp_path / "inc")

    d = run_er_incremental(spark, str(tmp_path / "base"), batch, wd)
    want = _assign_map(d["assignment"])
    assert not os.path.exists(tmp_path / "inc" / "assignment.parquet")
    d["_cleanup"]()

    # plant stale whole-corpus tables: the BASE labeling, which lacks every
    # batch row and every relabel the append made
    for name in ("components", "assignment"):
        ParquetStore(wd).write(spark, name, base_out[name])
    assert _assign_map(read_canonical(spark, wd, "assignment")) == want

    # re-run: every stage resumes (nothing recomputed, merge included) and
    # the resolved view still ignores the stale tables
    d2 = run_er_incremental(spark, str(tmp_path / "base"), batch, wd)
    staged = {
        k: v for k, v in d2["_counters"].items()
        if k not in ("metrics",)
    }
    assert staged and all(v.get("resumed") for v in staged.values()), {
        k: v.get("resumed") for k, v in staged.items()
    }
    assert _assign_map(d2["assignment"]) == want
    assert _assign_map(d2["components"]) != _assign_map(base_out["components"])
    d2["_cleanup"]()
    base_out["_cleanup"]()
