"""Incremental curation append (plans/curation_incremental.py): exact
full-recompute parity over a 70/30 replay, two-level chains, and the loud
guards (id monotonicity, config drift)."""

import pytest
from pyspark.sql import functions as F

from wiki_entity_linker_spark.plans import curation
from wiki_entity_linker_spark.plans.curation import run_curation_pipeline
from wiki_entity_linker_spark.plans.checkpoint import (
    ParquetStore,
    chain_base,
    chain_depth,
    chain_head,
)
from wiki_entity_linker_spark.plans.curation_incremental import (
    compact_curation_chain,
    read_chained_index,
    run_curation_increment,
)
from wiki_entity_linker_spark.streaming import streaming_curation_append

SF = "/root/testdata/sf0.001"


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def replay(spark, tmp_path_factory):
    """70/30 split by doc_id with a benchmark slice; full run over ALL docs
    plus base(70) -> increment(30) chain."""
    root = tmp_path_factory.mktemp("cur_inc")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    cut = 350
    base_docs = train.filter(F.col("doc_id") < cut)
    batch = train.filter(F.col("doc_id") >= cut)

    full = run_curation_pipeline(
        spark, train, str(root / "full"), benchmark=bench
    )
    base = run_curation_pipeline(
        spark, base_docs, str(root / "base"), benchmark=bench
    )
    inc = run_curation_increment(
        spark, str(root / "base"), batch, str(root / "inc"), benchmark=bench
    )
    return full, base, inc, root, train, batch, bench


def test_increment_matches_full_recompute(replay):
    full, _, inc, *_ = replay
    for name in ["verdicts", "kept", "mixture", "sample", "eval_slice"]:
        f, i = full[name], inc[name]
        assert _rows(f) == _rows(i), name


def test_increment_touches_old_docs(replay):
    # the batch must actually flip at least one OLD doc's substring coverage
    # (otherwise the parity test proves nothing about the touched path)
    full, base, inc, *_ = replay
    base_v = {r["doc_id"]: r["substr_dup_frac"] for r in base["verdicts"].collect()}
    inc_v = {r["doc_id"]: r["substr_dup_frac"] for r in inc["verdicts"].collect()}
    changed = [d for d in base_v if inc_v[d] != base_v[d]]
    assert changed, "fixture split produced no touched old docs"


def test_two_level_chain(spark, replay):
    full, _, _, root, train, batch, bench = replay
    b1 = batch.filter(F.col("doc_id") < 430)
    b2 = batch.filter(F.col("doc_id") >= 430)
    inc1 = run_curation_increment(
        spark, str(root / "base"), b1, str(root / "inc1"), benchmark=bench
    )
    inc2 = run_curation_increment(
        spark, str(root / "inc1"), b2, str(root / "inc2"), benchmark=bench
    )
    assert _rows(full["verdicts"]) == _rows(inc2["verdicts"])
    assert _rows(full["sample"]) == _rows(inc2["sample"])
    # each chained index resolves to the full run's rows
    for name in ["exact_hashes", "exact_substring_grams", "segment_dedup_seg"]:
        full_rows = read_chained_index(spark, str(root / "full"), name)
        chained = read_chained_index(spark, str(root / "inc2"), name)
        assert _rows(full_rows) == _rows(chained, full_rows.columns), name


def test_guards(spark, replay, monkeypatch):
    _, _, _, root, train, batch, bench = replay
    # id-monotonicity: re-appending already-seen ids must raise
    with pytest.raises(ValueError, match="id-monotonic"):
        run_curation_increment(
            spark, str(root / "base"), train.limit(5), str(root / "bad1"),
            benchmark=bench,
        )
    # config drift: a base built under other constants must raise, not
    # silently diverge
    monkeypatch.setattr(curation, "BOILERPLATE_FRAC", 0.5)
    with pytest.raises(ValueError, match="config differs"):
        run_curation_increment(
            spark, str(root / "base"), batch, str(root / "bad2"),
            benchmark=bench,
        )


class _VerdictsWriteFails(ParquetStore):
    def write(self, spark, name, df):
        if name == "verdicts":
            raise OSError("verdicts write failed")
        return super().write(spark, name, df)


def test_compact_then_append(spark, replay, tmp_path):
    """Compacting a chain head yields a self-contained workdir (no
    chain.json walk) that further appends build on, with final verdicts
    still equal to the one-shot run. A failed write of a narrow table
    raises instead of leaving a compacted workdir without it."""
    full, _, _, root, train, batch, bench = replay
    b1 = batch.filter(F.col("doc_id") < 430)
    b2 = batch.filter(F.col("doc_id") >= 430)
    inc1 = run_curation_increment(
        spark, str(root / "base"), b1, str(root / "c_inc1"), benchmark=bench
    )
    with pytest.raises(OSError, match="verdicts write failed"):
        compact_curation_chain(
            spark, str(root / "c_inc1"), str(root / "c_fail"),
            store_factory=_VerdictsWriteFails,
        )
    cdir = str(root / "c_compact")
    compact_curation_chain(spark, str(root / "c_inc1"), cdir)
    assert chain_base(cdir) is None
    # chained index resolved into full-run names
    resolved = read_chained_index(spark, cdir, "exact_substring_grams")
    chained = read_chained_index(spark, str(root / "c_inc1"),
                                 "exact_substring_grams")
    assert resolved.count() == chained.count()
    inc2 = run_curation_increment(
        spark, cdir, b2, str(root / "c_inc2"), benchmark=bench
    )
    assert _rows(full["verdicts"]) == _rows(inc2["verdicts"])


def test_streaming_curation_append(spark, replay, tmp_path):
    """availableNow drops absorb through the chain head; a replayed drop
    is filtered to a no-op; compact_every=1 exercises inline compaction;
    final verdicts equal the one-shot run."""
    import os

    full, _, _, root, train, batch, bench = replay
    src = str(tmp_path / "drops")
    os.makedirs(src, exist_ok=True)
    chain_root = str(tmp_path / "chain")
    ckpt = str(tmp_path / "ckpt")

    def drop(df, name):
        # the file stream source wants flat files, not directory datasets
        import shutil

        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        shutil.copy(os.path.join(stage, part), os.path.join(src, f"{name}.parquet"))

    b1 = batch.filter(F.col("doc_id") < 430)
    b2 = batch.filter(F.col("doc_id") >= 430)
    drop(b1, "b1")
    q = streaming_curation_append(
        spark, src, str(root / "base"), chain_root, ckpt,
        benchmark=bench, compact_every=None,
    )
    q.awaitTermination()
    head1 = chain_head(chain_root)
    assert head1 and chain_depth(chain_root) == 1

    # replayed + new rows in one later drop: only the new suffix absorbs
    drop(b1.unionByName(b2), "b2")
    q = streaming_curation_append(
        spark, src, str(root / "base"), chain_root, ckpt,
        benchmark=bench, compact_every=2,
    )
    q.awaitTermination()
    head2 = chain_head(chain_root)
    assert head2.endswith("_compact"), head2  # depth hit compact_every
    assert chain_depth(chain_root) == 0

    got = ParquetStore(head2).read(spark, "verdicts")
    assert _rows(full["verdicts"]) == _rows(got)
