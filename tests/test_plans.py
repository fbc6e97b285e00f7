"""Physical-plan assertions: the optimizations the engine relies on must
actually appear in the plan (SURVEY.md §4), not just be hoped for.

* filters/projections reach the parquet scan (PushedFilters / ReadSchema);
* small dimension joins go broadcast;
* the pair self-join keys partition the shuffle;
* hot-path expressions stay inside WholeStageCodegen (no Python in scans).
"""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_pushdown(spark, sf001):
    df = (
        spark.read.parquet(f"{sf001}/lineitem.parquet")
        .filter(F.col("l_shipdate") < "1996-01-01")
        .select("l_orderkey", "l_extendedprice")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: the scan must read only the 3 needed columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read_schema and "l_quantity" not in read_schema


def test_dim_join_is_broadcast(spark, sf001):
    from wiki_entity_linker_spark.queries import dim_join_rollup

    plan = _plan(dim_join_rollup(spark, sf001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_alias_dict_join_is_broadcast(spark, sf001):
    """J2 candidate generation: the alias-dictionary side must broadcast
    (the Spark analogue of the reference's COW-shared dicts,
    link_text.py:91-92)."""
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    alias_df = docs.select(F.col("source").alias("alias_key")).distinct().limit(100)
    joined = docs.join(F.broadcast(alias_df), docs.source == F.col("alias_key"))
    assert "BroadcastHashJoin" in _plan(joined)


def test_scan_stays_jvm_side(spark, sf001):
    """Scalar pipeline expressions must stay JVM-side: plain expressions in
    WholeStageCodegen, higher-order functions interpreted but never a
    BatchEvalPython (row-at-a-time Python) node in the scan path."""
    from wiki_entity_linker_spark.functions.text import token_count

    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    plain = docs.select(F.length(F.regexp_replace("text", "a", "b")).alias("n"))
    agg_plan = _plan(plain.groupBy().sum("n"))
    # map-side partial aggregation before the exchange, all JVM-side
    assert agg_plan.index("HashAggregate") < agg_plan.index("Exchange")
    assert "EvalPython" not in agg_plan
    hof = docs.select(token_count("text").alias("n"))
    assert "EvalPython" not in _plan(hof)


def test_er_features_and_scores_start_no_python(spark):
    """The ER feature build and pair scoring are JVM expressions end to
    end: no (Arrow or batch) EvalPython node, so no Python worker starts
    in the ER pipeline."""
    from wiki_entity_linker_spark.plans.er_pipeline import build_features, score_pairs

    reps = spark.createDataFrame(
        [(1, "a/b.py", "python", "def f(x):\n    return x"),
         (2, "c/b.py", "python", "def f(y):\n    return y")],
        "file_id long, path string, lang string, content string",
    )
    feats = build_features(reps)
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    for df in (feats, score_pairs(pairs, feats)):
        assert "EvalPython" not in _plan(df)


def test_minhash_single_shuffle(spark, sf001):
    """The signature groupBy must be the ONLY exchange, with partial
    (map-side) aggregation before it."""
    from wiki_entity_linker_spark.operators.blocking import minhash_signatures

    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    sigs = minhash_signatures(docs)
    plan = _plan(sigs)
    # one repartition exchange (explicit spread) + one hash agg exchange
    assert plan.count("Exchange") <= 2
    assert "HashAggregate" in plan


def test_embedding_neardup_plan_is_bucketed(spark, sf001):
    """The registered embedding_neardup must be the LSH-blocked path: no
    cartesian/nested-loop join anywhere in the physical plan (the round-2
    brute-force registration was the repo's last O(n²) scale-killer)."""
    from wiki_entity_linker_spark.queries import embedding_neardup

    plan = _plan(embedding_neardup(spark, sf001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_plans_are_bucketed(spark, sf001):
    """Both approximate-NN paths must block before scoring: the only
    cross join allowed is the broadcast of the tiny query side onto its
    candidate set — never corpus × corpus."""
    from wiki_entity_linker_spark.queries import ann_ivf_topk, ann_lsh_topk

    for fn in (ann_ivf_topk, ann_lsh_topk):
        plan = _plan(fn(spark, sf001))
        assert "CartesianProduct" not in plan, fn.__name__


def test_coref_window_single_exchange(spark, sf001):
    """The antecedent-resolution window is ONE hash exchange + ONE window —
    no join, no extra shuffle (the coref stage's scale property)."""
    from wiki_entity_linker_spark.queries import coref_antecedent_window

    plan = _plan(coref_antecedent_window(spark, sf001))
    assert plan.count("Exchange") <= 2  # partition-by-user + final agg-less
    assert "Window" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_elevant_cases_single_groupby_shuffle(spark):
    """evaluate_cases: articles group-evaluate independently — the plan
    carries the applyInPandas stage keyed by article_id with no cartesian
    and no Python in the article scan itself."""
    import os

    from wiki_entity_linker_spark.eval.elevant_spark import evaluate_cases
    from wiki_entity_linker_spark.sources.tables import read_articles_jsonl

    bench = "/root/reference/benchmarks/wiki-fair-v2.benchmark.jsonl"
    if not os.path.exists(bench):
        import pytest
        pytest.skip("reference benchmark not present")
    arts = read_articles_jsonl(spark, bench)
    preds = spark.createDataFrame(
        [(1, 0, 5, "Q1")], "article_id long, start long, end long, entity_id string")
    plan = _plan(evaluate_cases(arts, preds))
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_neardup_operators_scan_once(spark, sf001):
    """The r4 shared-subtree fix: ngram/minhash near-dup plans must read
    the documents table zero times in the FINAL plan (the one scan happens
    at the eager checkpoint; every consumer then reads cached blocks).
    A reappearing 'Scan parquet' means Catalyst is re-running the
    tokenize/shingle subtree per consumer again."""
    from wiki_entity_linker_spark.queries import minhash_neardup, ngram_jaccard

    for q in (ngram_jaccard, minhash_neardup):
        plan = _plan(q(spark, sf001))
        assert plan.count("Scan parquet") == 0, q.__name__
        assert "ExistingRDD" in plan, q.__name__


def test_round5_text_ops_plan_shapes(spark, sf001):
    """The round-5 pipeline ops keep their documented scale shapes:
    pii_redaction and doc_chunks are shuffle-FREE (scan → project /
    scan → generate); token_budget_sample's only exchange is the
    partition-by-source window (no single-partition funnel); bm25_topk's
    single SinglePartition exchange is the candidate-only top-k window."""
    from wiki_entity_linker_spark.queries import (
        bm25_topk,
        doc_chunks,
        pii_redaction,
        token_budget_sample,
    )

    for q in (pii_redaction, doc_chunks):
        plan = _plan(q(spark, sf001))
        assert "Exchange" not in plan, q.__name__
        assert "Join" not in plan, q.__name__

    plan = _plan(token_budget_sample(spark, sf001))
    # formatted explain names each node in the tree and once more in the
    # details section — one physical Exchange ⇒ ≤2 mentions
    assert plan.count("Exchange") <= 2
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan

    plan = _plan(bm25_topk(spark, sf001))
    assert plan.count("SinglePartition") == 1  # the top-k window only
    assert "CartesianProduct" not in plan
    # r7 single-pass shape: per-doc dl + per-term tf come from ONE
    # conditional aggregation (no term-join, no df re-join — the old shape
    # broadcast-joined terms and df back into the token stream); the only
    # join left is the 1-row stats broadcast into the per-doc summary
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "hashpartitioning(doc_id" in plan  # the one data-sized exchange


def test_segment_dedup_plan_shape(spark, sf001):
    """segment_dedup scans/tokenizes the corpus once (the eager cut), never
    goes corpus x corpus, and keeps the winner agg partial (map-side
    combine before the hash shuffle)."""
    from wiki_entity_linker_spark.queries import segment_dedup

    plan = _plan(segment_dedup(spark, sf001))
    assert plan.count("Scan parquet") == 0
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan  # map-side combine on the winner agg


def test_length_quantiles_plan_shape(spark, sf001):
    """Exact quantiles via the histogram: the corpus-sized aggregation is
    map-side partial; every window runs partitioned by source over the
    summary frame (no single-partition funnel, no joins)."""
    from wiki_entity_linker_spark.queries import length_quantiles

    plan = _plan(length_quantiles(spark, sf001))
    assert "partial_count" in plan
    assert "SinglePartition" not in plan
    assert "Join" not in plan
    assert "hashpartitioning(source" in plan


def test_round5_dedup_graph_ops_plan_shapes(spark, sf001):
    """This session's operators keep their documented scale shapes:
    winnowing fingerprint SELECTION is shuffle-free row-local array math;
    exact_substring_dup's duplicate-gram aggregate and skew_report's
    key-count aggregate are map-side partial; nothing goes corpus ×
    corpus (the only nested-loop joins allowed are 1-row / source-
    cardinality broadcasts in pagerank and source_overlap)."""
    from wiki_entity_linker_spark.operators.dedup import winnowing_fingerprints
    from wiki_entity_linker_spark.queries import (
        allpairs_jaccard,
        dup_graph_pagerank,
        exact_substring_dup,
        skew_report,
        source_overlap,
        winnowing_pairs,
    )

    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    assert "Exchange" not in _plan(winnowing_fingerprints(docs))

    plan = _plan(exact_substring_dup(spark, sf001))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan

    assert "partial_count" in _plan(skew_report(spark, sf001))

    for q in (winnowing_pairs, dup_graph_pagerank, source_overlap,
              allpairs_jaccard):
        p = _plan(q(spark, sf001))
        assert "CartesianProduct" not in p, q.__name__


def test_collocation_lift_topk_plan(spark, sf001):
    """The global top-50 compiles to TakeOrderedAndProject (per-partition
    heaps), never a full global sort of the bigram table."""
    from wiki_entity_linker_spark.queries import collocation_lift

    plan = _plan(collocation_lift(spark, sf001))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_fellegi_sunter_pairs_score_each_pair_once(spark, sf001):
    """The Fellegi–Sunter pairs come from minhash_neardup_pairs at
    threshold 0, which adds no Jaccard filter: Catalyst would push one
    below the projection, and one plan node more would compute every
    pair's Jaccard."""
    from wiki_entity_linker_spark.queries import _fs_labeled_feature_pairs

    plan = _fs_labeled_feature_pairs(spark, sf001)._jdf.queryExecution()
    lines = plan.optimizedPlan().toString().splitlines()
    assert sum(l.count("array_intersect") > 0 for l in lines) == 1


def test_minhash_neardup_scores_each_pair_once(spark, sf001):
    """Above threshold 0 the Jaccard verify keeps its threshold out of
    Catalyst's reach (no Filter to push below the projection) and binds the
    intersection size once inside the interpreted filter: one
    ``array_intersect`` in the whole optimized plan, where a pushed-down
    Filter would add a second plan node computing the Jaccard."""
    from wiki_entity_linker_spark.queries import minhash_neardup

    plan = minhash_neardup(spark, sf001)._jdf.queryExecution().optimizedPlan()
    assert plan.toString().count("array_intersect") == 1


def test_embedding_quantization_plan_shape(spark, sf001):
    """ONE aggregate pass computes the bounds (map-side partial → single
    final row), the bounds broadcast back, and the fact side is never
    shuffled — codes/error are row-local inside whole-stage codegen."""
    from wiki_entity_linker_spark.queries import embedding_quantization

    plan = _plan(embedding_quantization(spark, sf001))
    # the only exchanges: the bounds' SinglePartition funnel (1 row) and
    # the broadcast back; no hash shuffle of the vectors
    assert "hashpartitioning" not in plan
    assert "BroadcastExchange" in plan
    # bounds pass + fact pass (operator lines; details repeat the name)
    assert sum(
        1 for l in plan.splitlines() if l.startswith("(") and "Scan parquet" in l
    ) == 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # codegen check needs the non-adaptive plan (AQE's formatted explain
    # hides codegen ids until stages materialize): every operator above
    # the scans must carry the whole-stage-codegen star
    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        static = embedding_quantization(spark, sf001)
        tree = static._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert "*(3) Project" in tree and "*(3) BroadcastNestedLoopJoin" in tree


def test_bcubed_metric_is_aggregate_only(spark):
    """The metric never joins back to the item table: after the first
    groupBy everything is cluster-cardinality-sized."""
    from wiki_entity_linker_spark.operators.er_metrics import bcubed

    items = spark.range(1000).select(
        (F.col("id") % 7).alias("sys"), (F.col("id") % 13).alias("gold")
    )
    plan = _plan(bcubed(items, "sys", "gold"))
    # one scan of the items feeding one partial aggregate; the (c,g)
    # contingency table is then the ONLY descendant of the joins
    assert plan.count("Scan ") <= 1
    assert "partial_count" in plan
