"""Connected components + transitive closure vs Python references
(closure_edges micro-fixture, FIXTURES.md §6)."""

import pytest
from pyspark.sql import functions as F

from wiki_entity_linker_spark.operators import closure
from wiki_entity_linker_spark.operators.closure import (
    components_with_singletons,
    connected_components,
    transitive_closure,
)


@pytest.fixture
def distributed(monkeypatch):
    """Lower both tail-solve cut-overs to 0 so the star-contraction and
    doubling loops run distributed to convergence (only an empty edge set
    still goes to the driver)."""
    monkeypatch.setattr(closure, "_CC_LOCAL_SOLVE_EDGES", 0)
    monkeypatch.setattr(closure, "_CLOSURE_LOCAL_SOLVE_EDGES", 0)


def _py_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    import itertools

    nodes = sorted(set(itertools.chain.from_iterable(edges)))
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_cc_matches_union_find(spark, distributed):
    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p"),
             ("m", "n"), ("n", "o"), ("o", "m")]  # chain + pair + loop + cycle
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    want = _py_components([e for e in edges if e[0] != e[1]])
    assert got == want


def test_cc_long_chain(spark, distributed):
    """Chains are label propagation's worst case; alternating stars must
    converge within the iteration budget."""
    n = 200
    edges = [(f"n{i:04d}", f"n{i+1:04d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    out = connected_components(df).collect()
    assert len(out) == n
    assert {r["component"] for r in out} == {"n0000"}


def test_cc_singletons(spark, distributed):
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "file_id string")
    edges = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    got = {r["id"]: r["component"] for r in
           components_with_singletons(nodes, edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_transitive_closure_cycle_and_chain(spark, distributed):
    """create_all_types_mapping.py:20-49 semantics: cycle-safe, full
    reachability over a 4-deep chain."""
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),  # 4-deep chain
             ("x", "y"), ("y", "x")]  # cycle
    df = spark.createDataFrame(edges, "child string, parent string")
    got = {(r["child"], r["parent"]) for r in transitive_closure(df).collect()}
    want = {("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"),
            ("b", "c"), ("b", "d"), ("b", "e"),
            ("c", "d"), ("c", "e"), ("d", "e"),
            ("x", "y"), ("y", "x")}
    assert got == want


def test_cc_local_solve_matches_distributed(spark, monkeypatch):
    """The CC-MR hybrid (driver union-find under the edge threshold) must
    produce byte-identical labels to the fully distributed loop, on string
    and long ids, including the mid-loop cutover."""
    cases = [
        ("id_a string, id_b string",
         [("a", "b"), ("b", "c"), ("x", "y"), ("m", "n"), ("n", "o"), ("o", "m")]),
        ("id_a bigint, id_b bigint",
         [(i + 1, i) for i in range(60)] + [(100, 200), (201, 200)]),
    ]

    def labels(df, cut_over):
        monkeypatch.setattr(closure, "_CC_LOCAL_SOLVE_EDGES", cut_over)
        return {(r["id"], r["component"])
                for r in connected_components(df).collect()}

    for schema, edges in cases:
        df = spark.createDataFrame(edges, schema)
        dist = labels(df, 0)
        # cut-over larger than the edge set → immediate local solve
        local = labels(df, 10_000)
        assert local == dist, schema
        # cut-over hit only after contraction rounds (mid-loop cutover):
        # the 60-edge chain shrinks below 30 edges after a round or two
        if "bigint" in schema:
            mid = labels(df, 30)
            assert mid == dist


def test_transitive_closure_raises_on_depth_overflow(spark, distributed, monkeypatch):
    """VERDICT r3 #3: a graph deeper than the depth bound must fail loudly,
    not return a silently partial closure; a sufficient bound succeeds."""
    edges = [(f"n{i}", f"n{i+1}") for i in range(60)]  # 60-deep chain
    df = spark.createDataFrame(edges, "child string, parent string")
    with pytest.raises(RuntimeError, match="did not converge"):
        transitive_closure(df)
    monkeypatch.setattr(closure, "_CLOSURE_MAX_DEPTH", 64)
    got = transitive_closure(df)
    assert got.count() == 61 * 60 // 2  # full reachability of the chain


def test_transitive_closure_local_solve_matches_distributed(spark, monkeypatch):
    """r7: the driver-side BFS tail-solve must be row-identical to the
    doubling loop, including the depth-overflow raise (its cap is the
    loop's convergence bound, not _CLOSURE_MAX_DEPTH itself)."""
    # branching DAG with a diamond + a cycle: a->b->c->a, c->d, b->d, d->e
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("b", "d"),
             ("d", "e")] + [(f"m{i}", f"m{i+1}") for i in range(9)]
    df = spark.createDataFrame(edges, "child string, parent string")
    monkeypatch.setattr(closure, "_CLOSURE_LOCAL_SOLVE_EDGES", 0)
    dist = {(r["child"], r["parent"])
            for r in transitive_closure(df).collect()}
    monkeypatch.setattr(closure, "_CLOSURE_LOCAL_SOLVE_EDGES", 10_000)
    loc = {(r["child"], r["parent"])
           for r in transitive_closure(df).collect()}
    assert loc == dist
    # overflow parity: 60-deep chain raises under the same bound
    deep = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(60)], "child string, parent string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        transitive_closure(deep)
    monkeypatch.setattr(closure, "_CLOSURE_MAX_DEPTH", 64)
    ok = transitive_closure(deep)
    assert ok.count() == 61 * 60 // 2


def test_transitive_closure_plan_does_not_grow_with_rounds(
    spark, distributed, monkeypatch
):
    """Each doubling round references the closure three times, so an uncut
    loop's plan triples per round (a 60-edge chain once grew the driver to
    15 GB). With the per-round cut the
    returned frame's analyzed plan has the same node count whether the loop
    ran two rounds or six."""
    monkeypatch.setattr(closure, "_CLOSURE_MAX_DEPTH", 32)

    def plan_nodes(depth):
        df = spark.createDataFrame(
            [(f"n{i}", f"n{i+1}") for i in range(depth)],
            "child string, parent string",
        )
        out = transitive_closure(df)
        assert out.count() == (depth + 1) * depth // 2
        return len(out._jdf.queryExecution().analyzed().treeString().splitlines())

    # depth 2 converges in 2 doubling rounds, depth 30 needs 6
    assert plan_nodes(30) == plan_nodes(2)


def _cluster_sets(rows) -> set[frozenset]:
    from collections import defaultdict

    d = defaultdict(set)
    for r in rows:
        d[r["component"]].add(r["id"])
    return {frozenset(v) for v in d.values()}


def test_merge_components_equals_full_recompute(spark, distributed):
    """Incremental absorb (base comps + new edges) must equal one CC over
    the union — clusters AND labels (labels are min member id in both)."""
    from wiki_entity_linker_spark.operators.closure import merge_components

    old_edges = [("a", "b"), ("c", "d"), ("e", "f")]
    # batch: n1 joins {a,b}; n2 bridges {c,d} and {e,f}; n3 singleton;
    # A0 sorts BEFORE every old id → merged cluster relabels to A0
    new_edges = [("n1", "a"), ("n2", "d"), ("n2", "e"), ("A0", "b")]
    new_nodes = ["A0", "n1", "n2", "n3"]

    olddf = spark.createDataFrame(old_edges, "id_a string, id_b string")
    nodes_old = spark.createDataFrame(
        [(x,) for x in "abcdefg"], "file_id string"  # g: untouched singleton
    )
    old_comps = components_with_singletons(nodes_old, olddf, id_col="file_id")

    merged = merge_components(
        old_comps,
        spark.createDataFrame(new_edges, "id_a string, id_b string"),
        spark.createDataFrame([(n,) for n in new_nodes], "id string"),
    ).collect()

    full = components_with_singletons(
        spark.createDataFrame(
            [(x,) for x in list("abcdefg") + new_nodes], "file_id string"
        ),
        spark.createDataFrame(old_edges + new_edges, "id_a string, id_b string"),
        id_col="file_id",
    ).collect()

    got = {r["id"]: r["component"] for r in merged}
    want = {r["id"]: r["component"] for r in full}
    assert got == want  # exact label parity, not just partition parity
    # untouched cluster keeps its label verbatim
    assert got["g"] == "g"
    # bridge: one cluster {c,d,e,f,n2} labeled "c"
    assert {got[x] for x in "cdef"} == {"c"} and got["n2"] == "c"
    # new-min relabel: {a,b,A0,n1} labeled "A0" (full recompute agrees)
    assert got["a"] == "A0" == want["a"]


def test_merge_components_empty_batch(spark, distributed):
    from wiki_entity_linker_spark.operators.closure import merge_components

    old = components_with_singletons(
        spark.createDataFrame([("a",), ("b",)], "file_id string"),
        spark.createDataFrame([("a", "b")], "id_a string, id_b string"),
        id_col="file_id",
    )
    out = merge_components(
        old,
        spark.createDataFrame([], "id_a string, id_b string"),
        spark.createDataFrame([], "id string"),
    ).collect()
    assert {r["id"]: r["component"] for r in out} == {"a": "a", "b": "a"}


def test_merge_components_shuffle_fallback_matches_broadcast(
    spark, monkeypatch, distributed
):
    """A pathological batch whose edges bridge more base clusters than the
    broadcast threshold must take the shuffle-join relabel path and produce
    EXACTLY the broadcast path's (and a full recompute's) output."""
    from wiki_entity_linker_spark.operators.closure import merge_components

    # 30 two-node base clusters p{i}a—p{i}b ...
    old_edges = [(f"p{i:02d}a", f"p{i:02d}b") for i in range(30)]
    old_nodes = [x for e in old_edges for x in e]
    # ... all bridged by ONE new hub node (every cluster relabels)
    new_edges = [("hub", f"p{i:02d}a") for i in range(30)]

    olddf = spark.createDataFrame(old_edges, "id_a string, id_b string")
    old_comps = components_with_singletons(
        spark.createDataFrame([(n,) for n in old_nodes], "file_id string"),
        olddf,
        id_col="file_id",
    )
    edges = spark.createDataFrame(new_edges, "id_a string, id_b string")
    new_nodes = spark.createDataFrame([("hub",)], "id string")

    outs = []
    for thr in (0, 500_000):  # forced shuffle path vs broadcast path
        monkeypatch.setattr(closure, "_BROADCAST_MAP_ROWS", thr)
        got = merge_components(old_comps, edges, new_nodes).collect()
        outs.append({r["id"]: r["component"] for r in got})
    assert outs[0] == outs[1]

    full = components_with_singletons(
        spark.createDataFrame(
            [(n,) for n in old_nodes + ["hub"]], "file_id string"
        ),
        olddf.unionByName(edges),
        id_col="file_id",
    ).collect()
    assert outs[0] == {r["id"]: r["component"] for r in full}
    # the whole graph collapsed into one cluster labeled min member id
    assert set(outs[0].values()) == {"hub"}


def test_pagerank_fixed_point_path_graph(spark, monkeypatch):
    from wiki_entity_linker_spark.operators import graph
    from wiki_entity_linker_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    # N=3, base=333333333333; contribs it1: 1->2 full, 2->{1,3} half, 3->2
    # new = (15*base)//100 + (85*s)//100
    monkeypatch.setattr(graph, "_PR_ITERS", 1)
    got = {r["node"]: (r["degree"], r["pr_fp"])
           for r in pagerank_fixed_point(edges).collect()}
    assert got == {
        1: (1, 191_666_666_665),
        2: (2, 616_666_666_665),
        3: (1, 191_666_666_665),
    }
    # mass stays ~conserved over the product's iteration count
    monkeypatch.setattr(graph, "_PR_ITERS", 3)
    a = {r["node"]: r["pr_fp"] for r in pagerank_fixed_point(edges).collect()}
    assert 0 <= 10**12 - sum(a.values()) < 3 * 10  # flooring loss only
