"""Hand-computed semantics for the ER evaluation metrics + quantization."""

import pytest
from pyspark.sql import functions as F

from wiki_entity_linker_spark.operators.er_metrics import bcubed, blocking_quality
from wiki_entity_linker_spark.operators.quantize import quantize_embeddings


def test_bcubed_hand_example(spark):
    # Classic example: system merges gold clusters {1,2} and splits {3}.
    # items: (id, sys, gold)
    rows = [
        (1, "A", "x"), (2, "A", "x"), (3, "A", "y"),
        (4, "B", "y"), (5, "B", "y"),
    ]
    items = spark.createDataFrame(rows, ["id", "sys", "gold"])
    out = bcubed(items, "sys", "gold").collect()[0]
    # precision per item: A∩x=2/3, 2/3, A∩y=1/3 ; B∩y=2/2, 2/2 → avg = (2/3+2/3+1/3+1+1)/5
    exp_p = (2 / 3 + 2 / 3 + 1 / 3 + 1 + 1) / 5
    # recall per item: 2/2, 2/2, 1/3, 2/3, 2/3 → avg
    exp_r = (1 + 1 + 1 / 3 + 2 / 3 + 2 / 3) / 5
    assert out["n_items"] == 5
    assert out["bcubed_precision"] == pytest.approx(exp_p, abs=1e-6)
    assert out["bcubed_recall"] == pytest.approx(exp_r, abs=1e-6)
    exp_f = 2 * exp_p * exp_r / (exp_p + exp_r)
    assert out["bcubed_f1"] == pytest.approx(exp_f, abs=1e-6)


def test_bcubed_perfect_clustering(spark):
    items = spark.createDataFrame(
        [(i, i % 3, i % 3) for i in range(30)], ["id", "sys", "gold"]
    )
    out = bcubed(items, "sys", "gold").collect()[0]
    assert out["bcubed_precision"] == 1.0
    assert out["bcubed_recall"] == 1.0
    assert out["bcubed_f1"] == 1.0


def test_blocking_quality_hand_example(spark):
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5)], ["id_a", "id_b"]
    )
    truth = spark.createDataFrame([(1, 2), (4, 5), (5, 6)], ["id_a", "id_b"])
    out = blocking_quality(cand, truth, n_items=6).collect()[0]
    assert out["n_candidates"] == 4
    assert out["n_truth"] == 3
    assert out["n_covered"] == 2  # (1,2) and (4,5); (5,6) missed
    assert out["pairs_completeness"] == pytest.approx(2 / 3, abs=1e-6)
    # 6 items → 15 possible pairs; 4 candidates → RR = 1 - 4/15
    assert out["reduction_ratio"] == pytest.approx(1 - 4 / 15, abs=1e-6)


def test_blocking_quality_dedups_input_pairs(spark):
    cand = spark.createDataFrame([(1, 2), (1, 2)], ["id_a", "id_b"])
    truth = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    out = blocking_quality(cand, truth, n_items=3).collect()[0]
    assert out["n_candidates"] == 1
    assert out["pairs_completeness"] == 1.0


def test_quantization_roundtrip_invariants(spark):
    dim = 8
    rows = [
        (i, [float((i * 7 + j * 13) % 29) / 29.0 for j in range(dim)])
        for i in range(50)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = quantize_embeddings(emb, "vec_id", "embedding", dim=dim)
    got = {r["vec_id"]: r for r in out.collect()}
    assert len(got) == 50
    # codes are bounded: sum of dim uint8 codes ∈ [0, 255*dim]
    for r in got.values():
        assert 0 <= r["code_sum"] <= 255 * dim
        # 255-level quantization of [0,1)-range data: per-dim error ≤
        # (range/255)/2 → mse well under (1/255)² ≈ 1.5e-5
        assert 0.0 <= r["mse"] <= (1.0 / 255) ** 2


def test_quantization_constant_dim_exact(spark):
    # a constant dimension must quantize to code 0 and reconstruct exactly
    dim = 4
    rows = [(i, [5.0, float(i), 5.0, float(dim - i)]) for i in range(10)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = quantize_embeddings(emb, "vec_id", "embedding", dim=dim).collect()
    # constant dims (0 and 2) contribute code 0 / error 0; extremes of the
    # varying dims hit their bounds exactly → vec 0: codes (0,0,0,255)
    by_id = {r["vec_id"]: r for r in out}
    assert by_id[0]["code_sum"] == 255
    assert by_id[9]["code_sum"] == 255
    assert by_id[0]["mse"] == 0.0


def test_triangle_counts_hand_graphs(spark):
    from wiki_entity_linker_spark.operators.graph import triangle_counts

    # K4: every node has degree 3 and sits in 3 triangles, coeff = 1.0
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    out = {r["node"]: r for r in triangle_counts(
        spark.createDataFrame(k4, ["id_a", "id_b"])).collect()}
    assert all(out[n]["triangles"] == 3 and out[n]["degree"] == 3 for n in range(4))
    assert all(out[n]["clustering_coeff"] == 1.0 for n in range(4))

    # path 0-1-2: no triangles; middle node coeff 0, endpoints degree 1
    path = [(0, 1), (1, 2)]
    out = {r["node"]: r for r in triangle_counts(
        spark.createDataFrame(path, ["id_a", "id_b"])).collect()}
    assert all(r["triangles"] == 0 for r in out.values())
    assert out[1]["degree"] == 2 and out[1]["clustering_coeff"] == 0.0

    # triangle + pendant: node 0 in 1 triangle with degree 3 → coeff 1/3
    g = [(0, 1), (0, 2), (1, 2), (0, 3)]
    out = {r["node"]: r for r in triangle_counts(
        spark.createDataFrame(g, ["id_a", "id_b"])).collect()}
    assert out[0]["triangles"] == 1 and out[0]["degree"] == 3
    assert out[0]["clustering_coeff"] == pytest.approx(1 / 3, abs=1e-6)
    assert out[3] ["triangles"] == 0 and out[3]["degree"] == 1


def test_triangle_counts_skew_star_plus_clique(spark):
    from wiki_entity_linker_spark.operators.graph import triangle_counts

    # hub star (no triangles) + separate K5: the degree-ordered orientation
    # must not fan wedges out of the hub
    star = [(100, i) for i in range(50)]
    k5 = [(200 + a, 200 + b) for a in range(5) for b in range(a + 1, 5)]
    out = {r["node"]: r for r in triangle_counts(
        spark.createDataFrame(star + k5, ["id_a", "id_b"])).collect()}
    assert out[100]["triangles"] == 0 and out[100]["degree"] == 50
    assert all(out[200 + n]["triangles"] == 6 for n in range(5))


def test_pairwise_clustering_hand_example(spark):
    from wiki_entity_linker_spark.operators.er_metrics import pairwise_clustering

    rows = [
        (1, "A", "x"), (2, "A", "x"), (3, "A", "y"),
        (4, "B", "y"), (5, "B", "y"),
    ]
    items = spark.createDataFrame(rows, ["id", "sys", "gold"])
    out = pairwise_clustering(items, "sys", "gold").collect()[0]
    # sys pairs: C(3,2)+C(2,2) = 3+1 = 4 ; gold pairs: C(2,2)+C(3,2) = 4
    # TP: cells (A,x)=2 → 1 pair, (A,y)=1 → 0, (B,y)=2 → 1 ⇒ TP=2
    assert out["tp"] == 2 and out["sys_pairs"] == 4 and out["gold_pairs"] == 4
    assert out["pair_precision"] == pytest.approx(0.5, abs=1e-9)
    assert out["pair_recall"] == pytest.approx(0.5, abs=1e-9)
    assert out["pair_f1"] == pytest.approx(0.5, abs=1e-9)


def test_pairwise_vs_bcubed_divergence_on_skew(spark):
    # one giant cluster that wrongly absorbs 10 singletons: pairwise counts
    # wrong PAIRS (10 intruders x 100 + C(10,2) of 5995), B-cubed averages
    # per-ITEM precision — deterministic values pin that the two metrics
    # genuinely differ (the reason ER reports carry both)
    from wiki_entity_linker_spark.operators.er_metrics import (
        bcubed,
        pairwise_clustering,
    )

    rows = [(i, "BIG", "BIG") for i in range(100)] + [
        (100 + i, "BIG", f"s{i}") for i in range(10)
    ]
    items = spark.createDataFrame(rows, ["id", "sys", "gold"])
    pw = pairwise_clustering(items, "sys", "gold").collect()[0]
    bc = bcubed(items, "sys", "gold").collect()[0]
    assert pw["tp"] == 4950 and pw["sys_pairs"] == 5995
    assert pw["pair_precision"] == pytest.approx(4950 / 5995, abs=1e-6)
    # b3 precision: 100 items at 100/110 + 10 items at 1/110, averaged
    exp_b3 = (100 * (100 / 110) + 10 * (1 / 110)) / 110
    assert bc["bcubed_precision"] == pytest.approx(exp_b3, abs=1e-6)
    assert pw["pair_precision"] != bc["bcubed_precision"]
    assert pw["pair_recall"] == 1.0 and bc["bcubed_recall"] == 1.0


def test_kcore_hand_graphs(spark):
    from wiki_entity_linker_spark.operators.graph import k_core

    # triangle + tail: 2-core = the triangle, each with in-core degree 2
    g = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)]
    out = {r["node"]: r["degree_in_core"] for r in k_core(
        spark.createDataFrame(g, ["id_a", "id_b"]), k=2).collect()}
    assert out == {0: 2, 1: 2, 2: 2}

    # pure path: 2-core is empty (peels one end per round — exercises
    # multi-round convergence)
    path = [(i, i + 1) for i in range(8)]
    assert k_core(spark.createDataFrame(path, ["id_a", "id_b"]), k=2).count() == 0

    # K5: 4-core keeps everything, 5-core empties
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    k5df = spark.createDataFrame(k5, ["id_a", "id_b"])
    assert k_core(k5df, k=4).count() == 5
    assert k_core(k5df, k=5).count() == 0


def test_kcore_nonconvergence_raises(spark, monkeypatch):
    import pytest as _pytest

    from wiki_entity_linker_spark.operators import graph
    from wiki_entity_linker_spark.operators.graph import k_core

    monkeypatch.setattr(graph, "_KCORE_MAX_ROUNDS", 2)
    path = [(i, i + 1) for i in range(12)]
    with _pytest.raises(RuntimeError, match="did not converge"):
        k_core(spark.createDataFrame(path, ["id_a", "id_b"]), k=2)


@pytest.mark.parametrize("sf_fixture", ["sf0001", "sf001"])
def test_kcore_convergence_rounds(spark, request, sf_fixture, monkeypatch):
    # the oracle unrolls 8 peel rounds; pin that the registered graph
    # converges inside that at BOTH the test SF and the driver's sf0.01,
    # so the unroll bound can never silently under-peel where it counts
    from wiki_entity_linker_spark.operators import graph
    from wiki_entity_linker_spark.operators.graph import k_core
    from wiki_entity_linker_spark.operators.dedup import embedding_neardup_lsh_pairs

    emb = spark.read.parquet(f"{request.getfixturevalue(sf_fixture)}/embeddings.parquet")
    edges = embedding_neardup_lsh_pairs(emb, dim=64, threshold=0.2).select(
        "id_a", "id_b"
    )
    monkeypatch.setattr(graph, "_KCORE_MAX_ROUNDS", 8)
    out = k_core(edges, k=2)
    assert out.count() > 0  # non-trivial core, converged within the bound


@pytest.fixture
def distributed_matching(monkeypatch):
    """Lower the matching's tail-solve cut-over to 0 so the locally-dominant
    rounds run distributed until the edge set drains."""
    from wiki_entity_linker_spark.operators import graph

    monkeypatch.setattr(graph, "_MATCHING_LOCAL_SOLVE_EDGES", 0)


def _greedy_matching_ref(edges):
    """Sequential greedy: scan edges by (score desc, ea, eb); take a pair
    iff both endpoints are still free."""
    taken, out = set(), []
    for ea, eb, s in sorted(edges, key=lambda e: (-e[2], e[0], e[1])):
        if ea not in taken and eb not in taken:
            taken.update((ea, eb))
            out.append((ea, eb, s))
    return sorted(out)


def test_locally_dominant_matching_equals_greedy(spark, monkeypatch):
    from wiki_entity_linker_spark.operators import graph
    from wiki_entity_linker_spark.operators.graph import locally_dominant_matching

    # chain with descending scores forces multiple rounds; add ties to
    # exercise the deterministic (ea, eb) tie order
    edges = [
        (0, 1, 0.9), (1, 2, 0.8), (2, 3, 0.7), (3, 4, 0.6), (4, 5, 0.5),
        (10, 11, 0.4), (10, 12, 0.4), (11, 12, 0.4),
        (20, 21, 1.0), (21, 22, 1.0),
    ]
    df = spark.createDataFrame(edges, ["id_a", "id_b", "score"])
    # distributed rounds, then the driver-side sequential greedy
    for cut_over in (0, 500_000):
        monkeypatch.setattr(graph, "_MATCHING_LOCAL_SOLVE_EDGES", cut_over)
        got = sorted(
            (r["id_a"], r["id_b"], r["score"])
            for r in locally_dominant_matching(df).collect()
        )
        assert got == _greedy_matching_ref(edges)
        # one-to-one: no node appears twice
        nodes = [n for ea, eb, _ in got for n in (ea, eb)]
        assert len(nodes) == len(set(nodes))


def test_locally_dominant_matching_string_ids(spark, distributed_matching):
    # the ER pipeline's canonical file_id is a sha256 STRING: the tie-break
    # must be order-based, not numeric negation. Same chain/tie shape as the
    # numeric test, under the lexicographic id order the greedy ref uses.
    from wiki_entity_linker_spark.operators.graph import locally_dominant_matching

    edges = [
        ("a0", "a1", 0.9), ("a1", "a2", 0.8), ("a2", "a3", 0.7),
        ("a3", "a4", 0.6), ("a4", "a5", 0.5),
        ("b0", "b1", 0.4), ("b0", "b2", 0.4), ("b1", "b2", 0.4),
        ("c0", "c1", 1.0), ("c1", "c2", 1.0),
    ]
    df = spark.createDataFrame(edges, ["id_a", "id_b", "score"])
    got = sorted(
        (r["id_a"], r["id_b"], r["score"])
        for r in locally_dominant_matching(df).collect()
    )
    assert got == _greedy_matching_ref(edges)
    nodes = [n for ea, eb, _ in got for n in (ea, eb)]
    assert len(nodes) == len(set(nodes))


def test_matching_disabled_manager_cuts_lineage(spark, distributed_matching):
    """Every round's lineage is cut: the result plan holds one checkpointed
    leg per round, never the rounds' joins (routing the cuts through a
    passthrough StageManager once kept them, and a 6-edge chain exhausted
    a 3 GB driver heap)."""
    from wiki_entity_linker_spark.operators.graph import locally_dominant_matching

    chain = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (3, 4, 0.7)],
        "id_a long, id_b long, score double",
    )
    out = locally_dominant_matching(chain)
    assert sorted((r["id_a"], r["id_b"]) for r in out.collect()) == [
        (1, 2), (3, 4),
    ]
    plan = out._jdf.queryExecution().analyzed().treeString()
    # two rounds: output projection, union, and one LogicalRDD leg per round
    assert len(plan.splitlines()) == 5
    assert plan.count("LogicalRDD") == 2


def test_locally_dominant_matching_empty_and_bound(
    spark, distributed_matching, monkeypatch
):
    import pytest as _pytest

    from wiki_entity_linker_spark.operators import graph
    from wiki_entity_linker_spark.operators.graph import locally_dominant_matching

    empty = spark.createDataFrame([], "id_a long, id_b long, score double")
    assert locally_dominant_matching(empty).count() == 0

    chain = spark.createDataFrame(
        [(i, i + 1, 1.0 - i / 100) for i in range(10)],
        ["id_a", "id_b", "score"],
    )
    monkeypatch.setattr(graph, "_MATCHING_MAX_ROUNDS", 1)
    with _pytest.raises(RuntimeError, match="did not drain"):
        locally_dominant_matching(chain)


@pytest.mark.parametrize("sf_fixture", ["sf0001", "sf001"])
def test_matching_convergence_rounds(
    spark, request, sf_fixture, distributed_matching, monkeypatch
):
    # the onetoone_matching oracle unrolls 5 rounds; pin that the pair
    # graph drains within that bound at BOTH the test SF and the driver's
    from wiki_entity_linker_spark.operators import graph
    from wiki_entity_linker_spark.operators.dedup import minhash_neardup_pairs
    from wiki_entity_linker_spark.operators.graph import locally_dominant_matching
    from pyspark.sql import functions as _F

    d = spark.read.parquet(f"{request.getfixturevalue(sf_fixture)}/documents.parquet")
    pairs = minhash_neardup_pairs(d, "doc_id", jaccard_threshold=0.3).select(
        "id_a", "id_b", _F.col("jaccard").alias("score")
    )
    monkeypatch.setattr(graph, "_MATCHING_MAX_ROUNDS", 5)
    out = locally_dominant_matching(pairs)
    assert out.count() > 0


def test_graph_ops_accept_symmetrized_edge_lists(spark):
    # an input carrying BOTH orientations of each edge must not
    # double-count degrees (dedup runs after the union)
    from wiki_entity_linker_spark.operators.graph import k_core, triangle_counts

    sym = spark.createDataFrame([(1, 2), (2, 1)], ["id_a", "id_b"])
    assert k_core(sym, k=2).count() == 0  # a single edge has no 2-core
    tc = {r["node"]: r for r in triangle_counts(sym).collect()}
    assert tc[1]["degree"] == 1 and tc[2]["degree"] == 1


def test_matching_drains_exactly_at_bound_and_max_score_dedup(
    spark, distributed_matching, monkeypatch
):
    from wiki_entity_linker_spark.operators import graph
    from wiki_entity_linker_spark.operators.graph import locally_dominant_matching

    # drains in exactly 1 round with a 1-round bound: must SUCCEED (the
    # bound is loud PAST _MATCHING_MAX_ROUNDS, not at it)
    monkeypatch.setattr(graph, "_MATCHING_MAX_ROUNDS", 1)
    one = spark.createDataFrame([(0, 1, 1.0)], ["id_a", "id_b", "score"])
    assert locally_dominant_matching(one).count() == 1

    # duplicate pair rows with different scores: the MAX must win so the
    # greedy equivalence holds regardless of partitioning
    dup = spark.createDataFrame(
        [(0, 1, 0.9), (0, 1, 0.5), (1, 2, 0.7)], ["id_a", "id_b", "score"]
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["score"])
        for r in locally_dominant_matching(dup).collect()
    )
    assert got == [(0, 1, 0.9)]


def test_fs_em_cut_parity_and_deep_iterations(spark, monkeypatch):
    """_EM_CUT_EVERY materializes the 1-row parameter frame between EM
    iterations: values are identical to the fully lazy composition, and a
    Splink-typical 12-iteration run keeps a bounded plan (the lazy form's
    plan deepens per iteration and re-executes every prior E-step per
    broadcast)."""
    from wiki_entity_linker_spark.operators import er_metrics
    from wiki_entity_linker_spark.operators.er_metrics import fs_em_estimate

    rows = []
    for i in range(120):
        match = i % 3 == 0
        rows.append((
            i,
            match or i % 7 == 0,           # f1: mostly fires on matches
            match and i % 2 == 0,          # f2: fires on half the matches
        ))
    pairs = spark.createDataFrame(rows, ["pid", "f1", "f2"])

    monkeypatch.setattr(er_metrics, "_EM_ITERS", 3)
    # a cut every 3 iterations never fires before the third, last one
    monkeypatch.setattr(er_metrics, "_EM_CUT_EVERY", 3)
    lazy = sorted(map(tuple, fs_em_estimate(pairs, ["f1", "f2"]).collect()))
    monkeypatch.setattr(er_metrics, "_EM_CUT_EVERY", 1)
    cut = sorted(map(tuple, fs_em_estimate(pairs, ["f1", "f2"]).collect()))
    assert lazy == cut

    monkeypatch.setattr(er_metrics, "_EM_ITERS", 12)
    deep = fs_em_estimate(pairs, ["f1", "f2"])
    monkeypatch.setattr(er_metrics, "_EM_ITERS", 2)
    shallow = fs_em_estimate(pairs, ["f1", "f2"])
    assert deep.count() == 2
    # lineage is truncated at the last cut, so plan size must NOT grow
    # with iteration count
    d_plan = deep._jdf.queryExecution().optimizedPlan().toString()
    s_plan = shallow._jdf.queryExecution().optimizedPlan().toString()
    assert len(d_plan) <= 2 * len(s_plan), (len(d_plan), len(s_plan))
