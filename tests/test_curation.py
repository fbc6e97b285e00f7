"""End-to-end curation pipeline (plans/curation.py): composition parity
with the oracle-checked component queries, stage invariants, and the
StageManager resume/invalidate contract (including nested stages inside a
stage build)."""

import pytest
from pyspark.sql import functions as F

from wiki_entity_linker_spark.plans import curation
from wiki_entity_linker_spark.plans.curation import (
    dedup_verdict_table,
    run_curation_pipeline,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def curation_out(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("curation_run"))
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    out = run_curation_pipeline(
        spark, docs.filter(F.col("doc_id") % 50 != 0), wd, benchmark=bench
    )
    return out, wd, docs


def test_verdict_parity_with_registered_query(spark, tmp_path):
    # the pipeline's verdict stage IS the oracle-checked dedup_verdicts
    # query (same constants), so their outputs must match row-for-row
    from wiki_entity_linker_spark import queries as q

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    mine = sorted(
        map(tuple, dedup_verdict_table(docs).collect())
    )
    reg = sorted(map(tuple, q.queries()["dedup_verdicts"](spark, SF).collect()))
    assert mine == reg


def test_verdict_table_nested_stages_resume(spark, tmp_path):
    # with a StageManager the verdict table's cuts are durable nested
    # stages in a fixed order (their hashes chain); a fresh manager over
    # the same root and params resumes every one with the same verdicts
    from wiki_entity_linker_spark.plans.checkpoint import StageManager

    docs = spark.read.parquet(f"{SF}/documents.parquet").filter("doc_id < 60")
    nested = [
        "exact_hashes", "verdict_toks", "exact_substring_grams",
        "segment_dedup_seg",
    ]

    def run(mgr=None):
        v = dedup_verdict_table(docs, mgr=mgr)
        return sorted(map(tuple, v.collect()))

    mgr = StageManager(spark, str(tmp_path / "nested"), {"op": "v"})
    first = run(mgr)
    assert list(mgr.counters) == nested
    assert not any(m["resumed"] for m in mgr.counters.values())
    mgr2 = StageManager(spark, str(tmp_path / "nested"), {"op": "v"})
    assert run(mgr2) == first == run()
    assert all(mgr2.counters[n]["resumed"] for n in nested)


def test_stage_invariants(curation_out):
    out, _, docs = curation_out
    n_train = docs.filter(F.col("doc_id") % 50 != 0).count()
    assert out["verdicts"].count() == n_train

    # kept = verdict 'keep' minus contaminated
    kept_ids = {r["doc_id"] for r in out["kept"].collect()}
    keep_ids = {
        r["doc_id"]
        for r in out["verdicts"].filter("verdict = 'keep'").collect()
    }
    dirty = {
        r["doc_id"]
        for r in out["contamination"].filter("is_contaminated").collect()
    }
    assert kept_ids == keep_ids - dirty
    assert dirty, "fixture benchmark should contaminate at least one doc"

    # sample: within every source the kept prefix respects the allocation
    alloc = {r["source"]: r["alloc_tokens"] for r in out["mixture"].collect()}
    kept_sum = {
        r["source"]: r["s"]
        for r in out["sample"]
        .filter("kept")
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("s"))
        .collect()
    }
    for src, s in kept_sum.items():
        assert s <= alloc[src], (src, s, alloc[src])

    # mixture: largest-remainder rounding is exact
    assert sum(alloc.values()) == curation.TOKEN_BUDGET

    # eval slice: at most per_stratum docs per (source, stratum), all kept
    per = out["eval_slice"].groupBy("source", "stratum").count().collect()
    assert all(r["count"] <= curation.EVAL_PER_STRATUM for r in per)
    eval_ids = {r["doc_id"] for r in out["eval_slice"].collect()}
    assert eval_ids <= kept_ids

    # report: per-source verdict counts add up to the corpus
    rep = out["report"].collect()
    assert sum(
        r["keep"] + r["drop_exact_dup"] + r["drop_boilerplate"] for r in rep
    ) == n_train


def test_resume_and_invalidation(spark, curation_out, tmp_path, monkeypatch):
    out, wd, docs = curation_out
    train = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")

    # identical rerun: every top-level stage resumes (nested stages inside
    # the verdicts build are invisible to the downstream chain hash)
    again = run_curation_pipeline(spark, train, wd, benchmark=bench)
    for name in ["verdicts", "contamination", "kept", "mixture", "sample",
                 "eval_slice", "report"]:
        assert again["_counters"][name]["resumed"], name
    assert again["sample"].count() == out["sample"].count()

    # edited constant: recompute (a fresh workdir keys off the constants
    # too, but the contract under test is same-workdir invalidation)
    monkeypatch.setattr(curation, "BOILERPLATE_FRAC", 0.9)
    changed = run_curation_pipeline(spark, train, wd, benchmark=bench)
    assert not changed["_counters"]["verdicts"]["resumed"]


def test_no_benchmark_skips_contamination(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(100)
    out = run_curation_pipeline(spark, docs, str(tmp_path / "nob"))
    assert "contamination" not in out
    assert out["kept"].count() == out["verdicts"].filter(
        "verdict = 'keep'"
    ).count()
