"""Resumable training-data curation pipeline.

Composes the oracle-checked curation operators into ONE StageManager plan —
the chain a pretraining-data team actually runs over a crawl snapshot:

    verdicts (exact sha + ExactSubstr coverage + CCNet segment dedup)
      → contamination (benchmark n-gram overlap, broadcast probe)
      → kept corpus
      → mixture allocation (temperature-weighted per-source token budget)
      → token-budget sample (per-source hash-order walk against the
        ALLOCATED budget — the mixture stage decides how many tokens per
        source, this stage decides which documents)
      → stratified eval slice (per source × length-quartile stratum)

Every stage is a checkpointed stage table with lineage counters (the
er_pipeline.py discipline: re-running the same workdir resumes instantly,
editing any curation constant or the input invalidates downstream).
Each component keeps its documented scale shape — nothing here adds a
shuffle beyond what the operators already do; the assembly is doc_id /
source equi-joins and broadcast summary frames.

Mirrors the reference's batch-pipeline structure (Makefile targets chaining
getlinks → frequencies → databases, wiki_entity_linker scripts/), recast as
resumable Spark stage tables over a documents corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import os

from wiki_entity_linker_spark.functions.hashing import h64
from wiki_entity_linker_spark.functions.text import (
    normalize_content,
    shingles,
    tokenize,
)
from wiki_entity_linker_spark.operators.dedup import (
    SEG_LEN,
    SUBSTR_K,
    segment_rows,
    segment_stats,
    substring_coverage,
    substring_gram_rows,
)
from wiki_entity_linker_spark.plans.checkpoint import StageManager, write_json_atomic
from wiki_entity_linker_spark.plans.er_pipeline import _input_fingerprint
from wiki_entity_linker_spark.session import cut


#: the pipeline's thresholds and budgets. Every stage reads these and the
#: dedup operators' ``SUBSTR_K`` and ``SEG_LEN``, and :func:`resume_params`
#: folds them all into the resume key and into ``curation_meta.json``, so
#: editing one invalidates an old workdir and makes an append onto it raise.
BOILERPLATE_FRAC = 0.25  # drop docs above this dup coverage
DECONTAM_K = 3  # benchmark-overlap n-gram length
TOKEN_BUDGET = 1_000_000  # total training-token budget
TEMPERATURE = 0.5  # mixture weight ∝ tokens^temperature (α<1)
EVAL_PER_STRATUM = 3  # eval docs per (source, length-quartile)


def resume_params() -> dict:
    """The constants above, with the dedup operators' gram and segment
    lengths, as the StageManager params of a full run and of an append
    (plans/curation_incremental.py)."""
    return {
        "substr_k": SUBSTR_K,
        "seg_len": SEG_LEN,
        "boilerplate_frac": BOILERPLATE_FRAC,
        "decontam_k": DECONTAM_K,
        "token_budget": TOKEN_BUDGET,
        "temperature": TEMPERATURE,
        "eval_per_stratum": EVAL_PER_STRATUM,
    }


def exact_hash_table(docs: DataFrame) -> DataFrame:
    """(id, content_hash) — sha256 of whitespace-normalized content, the
    exact-dup identity shared by the full run and the incremental append
    (its chained probe index)."""
    return docs.select(
        F.col("doc_id"),
        F.sha2(normalize_content("text"), 256).alias("content_hash"),
    )


def verdict_expr():
    """The verdict decision column over (doc_id, canonical_id,
    substr_dup_frac, seg_dup_frac) — shared by the full run and the
    incremental append so both label identically."""
    return (
        F.when(F.col("canonical_id") != F.col("doc_id"), "drop_exact_dup")
        .when(
            (F.col("substr_dup_frac") > BOILERPLATE_FRAC)
            | (F.col("seg_dup_frac") > BOILERPLATE_FRAC),
            "drop_boilerplate",
        )
        .otherwise("keep")
    )


def assemble_verdicts(ex: DataFrame, sub: DataFrame, seg: DataFrame) -> DataFrame:
    """Final verdict assembly from the three tier frames — shared by the
    full run and the incremental append so both label identically.
    ``ex``: (doc_id, canonical_id); ``sub``: (doc_id, n_tokens,
    substr_dup_frac); ``seg``: segment stats rows (doc_id, dup_tokens, …),
    absent for documents without tokens."""
    j = (
        sub.join(ex, "doc_id")
        .join(seg.select("doc_id", "dup_tokens"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "canonical_id",
            "substr_dup_frac",
            F.round(
                F.coalesce("dup_tokens", F.lit(0).cast("long"))
                / F.greatest("n_tokens", F.lit(1).cast("long")),
                6,
            ).alias("seg_dup_frac"),
        )
    )
    return j.select(
        "doc_id",
        "n_tokens",
        "canonical_id",
        "substr_dup_frac",
        "seg_dup_frac",
        verdict_expr().alias("verdict"),
    )


def _cut(df: DataFrame, mgr, name: str) -> DataFrame:
    """Materialize a multiply-consumed intermediate exactly once.

    With a :class:`~wiki_entity_linker_spark.plans.checkpoint.StageManager`
    the cut is a durable stage table: executor failure replays from the
    stage table, and re-runs resume it. With ``mgr=None`` it is
    :func:`~wiki_entity_linker_spark.session.cut`, whose medium follows the
    session's checkpoint directory."""
    if mgr is None:
        return cut(df)
    return mgr.stage(name, lambda: df)


def dedup_verdict_table(docs: DataFrame, mgr=None) -> DataFrame:
    """One verdict per document from the three exact-dedup tiers (the
    registered ``dedup_verdicts`` query runs it too):
    'drop_exact_dup' for a later copy of an identical doc,
    'drop_boilerplate' above the duplicate-coverage threshold, else 'keep'.

    With a StageManager the per-doc hash table, the token frame and the
    gram and segment rows are cut as the nested stages ``exact_hashes``,
    ``verdict_toks``, ``exact_substring_grams`` and ``segment_dedup_seg``
    (in that order: their stage hashes chain). The hash, gram and segment
    tables form the probe index the incremental append
    (plans/curation_incremental.py) resolves against.
    """
    hashed = _cut(exact_hash_table(docs), mgr, "exact_hashes")
    w = Window.partitionBy("content_hash")
    ex = hashed.select(
        "doc_id", F.min("doc_id").over(w).alias("canonical_id")
    )
    # one corpus tokenization shared by both token tiers (the sha tier
    # hashes normalized text, not tokens)
    toks = _cut(
        docs.select("doc_id", tokenize("text").alias("t")), mgr, "verdict_toks"
    )
    grams = _cut(
        substring_gram_rows(toks, SUBSTR_K), mgr, "exact_substring_grams"
    )
    segs = _cut(segment_rows(toks, SEG_LEN), mgr, "segment_dedup_seg")
    sub = substring_coverage(grams, toks, SUBSTR_K).select(
        "doc_id", "n_tokens", F.col("covered_frac").alias("substr_dup_frac")
    )
    return assemble_verdicts(ex, sub, segment_stats(segs, segs))


def kept_table(
    verdicts: DataFrame, sources: DataFrame, contaminated: DataFrame | None
) -> DataFrame:
    """The kept corpus ``(doc_id, source, n_tokens)``: 'keep' verdicts with
    their ``(doc_id, source)`` rows, minus documents flagged in
    ``contaminated`` (none dropped when it is ``None``)."""
    kept = (
        verdicts.filter(F.col("verdict") == "keep")
        .join(sources, "doc_id")
        .select("doc_id", "source", "n_tokens")
    )
    if contaminated is None:
        return kept
    return (
        kept.join(contaminated, "doc_id", "left")
        .filter(~F.coalesce("is_contaminated", F.lit(False)))
        .select("doc_id", "source", "n_tokens")
    )


def contamination_counts(
    docs: DataFrame, benchmark: DataFrame, k: int
) -> DataFrame:
    """(doc_id, n_ngrams, contaminated_ngrams): per document, its k-gram
    count and how many of those grams occur in the benchmark (the
    registered ``decontamination_flags`` query reports these counts).
    Benchmark grams are the BROADCAST side (eval suites are tiny next to
    the corpus); corpus side is explode + broadcast left join + per-doc
    aggregation — no corpus-vs-corpus shuffle."""
    bench = (
        benchmark.select(F.explode(shingles(tokenize("text"), k)).alias("g"))
        .dropDuplicates(["g"])
        .withColumn("__hit", F.lit(1))
    )
    grams = docs.select(
        "doc_id", F.explode(shingles(tokenize("text"), k)).alias("g")
    )
    return (
        grams.join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ngrams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("contaminated_ngrams"),
        )
    )


def contamination_flags(
    docs: DataFrame, benchmark: DataFrame, k: int
) -> DataFrame:
    """(doc_id, is_contaminated): does the document share any k-gram with
    the benchmark? (:func:`contamination_counts` > 0)"""
    return contamination_counts(docs, benchmark, k).select(
        "doc_id", (F.col("contaminated_ngrams") > 0).alias("is_contaminated")
    )


def mixture_table(kept: DataFrame) -> DataFrame:
    """Temperature-weighted per-source token allocation with exact
    largest-remainder rounding over the KEPT corpus (the registered
    ``mixture_allocation`` query runs it over the whole corpus). All
    windows run over the #sources-row summary frame — metadata-scale by
    construction."""
    per = kept.groupBy("source").agg(F.sum("n_tokens").alias("n_tokens"))
    w_all = Window.partitionBy()
    wt = F.pow(F.col("n_tokens").cast("double"), TEMPERATURE)
    t = per.withColumn("target", F.lit(TOKEN_BUDGET) * wt / F.sum(wt).over(w_all))
    r = (
        t.withColumn("base", F.floor("target"))
        .withColumn(
            # rank on the ROUNDED fractional part: the raw doubles come from
            # independent Spark/DuckDB float pipelines, and a last-ulp
            # difference between two near-tied sources would flip the rank
            # (and the ±1 leftover token) between engines — rounding to 6dp
            # collapses near-ties into exact ties broken by source name
            "rk",
            F.row_number().over(
                Window.orderBy(
                    F.round(F.col("target") - F.floor("target"), 6).desc(),
                    F.col("source"),
                )
            ),
        )
        .withColumn(
            "leftover", F.lit(TOKEN_BUDGET) - F.sum(F.floor("target")).over(w_all)
        )
    )
    alloc = F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    return r.select(
        "source",
        "n_tokens",
        alloc.cast("long").alias("alloc_tokens"),
        F.round(alloc / F.col("n_tokens"), 6).alias("sampling_rate"),
    )


def budget_walk(rows: DataFrame, budget) -> DataFrame:
    """Walk each source's ``(doc_id, source, n_tokens)`` rows in
    reproducible portable-hash order and keep documents while the source's
    cumulative tokens stay within ``budget`` (a column) →
    ``(doc_id, source, n_tokens, cum_tokens, kept)``. One window
    partitioned BY SOURCE — the cumulative sum never funnels the corpus
    through a single partition (the registered ``token_budget_sample``
    query walks a flat budget)."""
    w = (
        Window.partitionBy("source")
        .orderBy(h64(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w).cast("long")
    return rows.select(
        "doc_id",
        "source",
        "n_tokens",
        cum.alias("cum_tokens"),
        (cum <= budget).alias("kept"),
    )


def budget_sample(kept: DataFrame, mixture: DataFrame) -> DataFrame:
    """Realize the mixture: :func:`budget_walk` over the kept documents
    against each source's ALLOCATED budget; the allocation joins in
    broadcast (source-cardinality frame)."""
    return budget_walk(
        kept.join(F.broadcast(mixture.select("source", "alloc_tokens")), "source"),
        F.col("alloc_tokens"),
    )


def stratified_eval_slice(kept: DataFrame, per_stratum: int) -> DataFrame:
    """Stratified eval-set construction over the kept corpus:
    ``per_stratum`` docs per (source, length-quartile), picked in
    reproducible portable-hash order (the registered ``stratified_sample``
    query runs it over the whole corpus with 3 per stratum). Quartile
    thresholds come from the (source, length) histogram; the only
    corpus-wide window partitions by (source, stratum)."""
    hist = kept.groupBy("source", "n_tokens").agg(
        F.count("*").cast("long").alias("c")
    )
    ws = Window.partitionBy("source")
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            ws.orderBy("n_tokens").rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("n_docs", F.sum("c").over(ws))

    def _p(q: float):
        return F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(q) * F.col("n_docs")),
                F.col("n_tokens"),
            )
        ).cast("long")

    thr = cum.groupBy("source").agg(
        _p(0.25).alias("q25"), _p(0.50).alias("q50"), _p(0.75).alias("q75")
    )
    s = kept.join(F.broadcast(thr), "source").select(
        "doc_id",
        "source",
        "n_tokens",
        F.when(F.col("n_tokens") <= F.col("q25"), 0)
        .when(F.col("n_tokens") <= F.col("q50"), 1)
        .when(F.col("n_tokens") <= F.col("q75"), 2)
        .otherwise(3)
        .cast("long")
        .alias("stratum"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source", "stratum").orderBy(
            h64(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    return (
        s.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= per_stratum)
        .select("source", "stratum", "doc_id", "n_tokens", "rk")
    )


def run_curation_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    workdir: str,
    benchmark: DataFrame | None = None,
    store=None,
) -> dict[str, DataFrame]:
    """End-to-end curation over a ``(doc_id, source, text)`` corpus.

    Returns stage tables: ``verdicts``, ``contamination`` (when a benchmark
    is given), ``kept``, ``mixture``, ``sample``, ``eval_slice``,
    ``report`` (per-source accounting), plus ``_counters`` with per-stage
    lineage (rows_out, partitions, resumed) — the same resume/invalidate
    contract as run_er_pipeline: identical workdir + constants + input
    resumes every stage; changing any of them recomputes from the changed
    stage on.
    """
    mgr = StageManager(
        spark,
        workdir,
        resume_params()
        | {
            "input": _input_fingerprint(documents),
            "benchmark": None if benchmark is None else _input_fingerprint(benchmark),
        },
        store=store,
    )
    # the incremental append checks its constants against the base run's
    write_json_atomic(
        os.path.join(workdir, "curation_meta.json"), {"cfg": resume_params()}
    )

    docs = documents.select("doc_id", "source", "text")

    verdicts = mgr.stage(
        "verdicts", lambda: dedup_verdict_table(docs, mgr=mgr)
    )

    contaminated = None
    if benchmark is not None:
        contaminated = mgr.stage(
            "contamination",
            lambda: contamination_flags(docs, benchmark, DECONTAM_K),
        )

    kept = mgr.stage(
        "kept",
        lambda: kept_table(
            verdicts, docs.select("doc_id", "source"), contaminated
        ),
    )

    mixture = mgr.stage("mixture", lambda: mixture_table(kept))
    sample = mgr.stage("sample", lambda: budget_sample(kept, mixture))
    eval_slice = mgr.stage(
        "eval_slice",
        lambda: stratified_eval_slice(kept, EVAL_PER_STRATUM),
    )

    def _report() -> DataFrame:
        v = (
            verdicts.join(docs.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .pivot("verdict", ["keep", "drop_exact_dup", "drop_boilerplate"])
            .agg(F.count(F.lit(1)))
            .na.fill(0)
        )
        s = sample.filter("kept").groupBy("source").agg(
            F.count("*").alias("sampled_docs"),
            F.sum("n_tokens").alias("sampled_tokens"),
        )
        return (
            v.join(mixture.select("source", "alloc_tokens"), "source", "left")
            .join(s, "source", "left")
            .na.fill(0, ["sampled_docs", "sampled_tokens", "alloc_tokens"])
            .orderBy("source")
        )

    report = mgr.stage("report", _report)

    out: dict[str, DataFrame] = {
        "verdicts": verdicts,
        "kept": kept,
        "mixture": mixture,
        "sample": sample,
        "eval_slice": eval_slice,
        "report": report,
    }
    if contaminated is not None:
        out["contamination"] = contaminated
    out["_counters"] = mgr.counters  # type: ignore[assignment]
    return out
