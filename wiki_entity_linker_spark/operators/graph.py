"""Iterative graph algorithms over edge DataFrames.

The reference ranks entities by a static link-frequency prior
(get_link_frequencies.py); PageRank over the link/duplicate graph is that
prior's natural iterative extension, and the canonical "loop of shuffle
joins" workload a DataFrame engine must handle without driver-side
collection. Connected components / transitive closure live in
operators/closure.py; this module holds numeric fixpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wiki_entity_linker_spark.session import cut


# Matching tail-solve cut-over, in deduped edges: at or under this the
# sequential greedy runs on the driver (one Arrow transfer + one sorted scan)
# instead of O(log) barrier rounds. Sized like closure._CC_LOCAL_SOLVE_EDGES.
_MATCHING_LOCAL_SOLVE_EDGES = 500_000

# PageRank fixed-point unit: scores are int64 multiples of 1/_PR_SCALE
_PR_SCALE = 10**12
# PageRank power iterations
_PR_ITERS = 3
# peel rounds of k_core and matching rounds of locally_dominant_matching
# before each raises
_KCORE_MAX_ROUNDS = 200
_MATCHING_MAX_ROUNDS = 100


def pagerank_fixed_point(edges: DataFrame) -> DataFrame:
    """PageRank on the UNDIRECTED graph of ``edges`` in fixed-point integer
    arithmetic — ``(node, degree, pr_fp, pr)`` after ``_PR_ITERS`` power
    iterations with damping 85/100 over the nodes that appear in the edge
    set.

    Why fixed-point: float PageRank sums neighbor contributions in
    partition order, so two runs (or two engines) disagree in the last
    ulps and no bit-exact oracle exists. Here scores are int64 multiples
    of ``1/scale`` (``scale`` = ``_PR_SCALE`` = 10¹²): contributions are
    integral divisions ``pr div deg``, the update is
    ``(15·(scale div N)) div 100 + (85·Σ) div 100``
    — order-independent integer sums, bit-identical on any partitioning,
    any engine. Mass lost to flooring is deterministic and bounded by one
    unit per node per term. Total mass ≤ scale=1e12 keeps every
    intermediate < 2^50 — no overflow headroom issues.

    Scale shape: the classic Pregel-lite DataFrame loop — per iteration
    one shuffle join (messages = edges ⋈ scores on src) and one
    map-side-combinable groupBy(dst) sum; edge and degree frames are
    materialized ONCE up front (``session.cut``) so iterations re-scan
    nothing upstream. Undirected expansion means every node has
    out-degree ≥ 1 — no dangling-mass special case. Hot nodes (celebrity
    entities) are single groupBy keys: partial aggregation bounds them; AQE
    skew-join handles the join side.
    """
    und = cut(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    )
    deg = cut(
        und.groupBy("src")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    n_nodes = deg.select(F.count("*").alias("n"))  # 1 row, broadcast below
    base = F.expr(f"{_PR_SCALE} div n")
    pr = deg.crossJoin(F.broadcast(n_nodes)).select(
        "src", "deg", "n", base.alias("pr")
    )
    for _ in range(_PR_ITERS):
        msgs = (
            und.join(pr.select("src", F.expr("pr div deg").alias("c")), "src")
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        pr = (
            pr.drop("pr")
            .join(msgs, pr["src"] == msgs["dst"], "left")
            .select(
                "src",
                "deg",
                "n",
                (
                    F.expr(f"(15 * ({_PR_SCALE} div n)) div 100")
                    + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")
                ).alias("pr"),
            )
        )
    return pr.select(
        F.col("src").alias("node"),
        F.col("deg").alias("degree"),
        F.col("pr").alias("pr_fp"),
        F.round(F.col("pr") / F.lit(float(_PR_SCALE)), 6).alias("pr"),
    )


def _undirected(edges):
    """Both orientations of the edge list, deduplicated AFTER the union —
    an input that already carries (a,b) AND (b,a) must not double-count
    degrees (per-side dedup would let both survive)."""
    return (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(
            edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient over
    the undirected graph of canonical (``id_a < id_b``) edges — the cluster
    cohesion diagnostic for a dup/kNN graph (a near-dup cluster whose nodes
    share no triangles is a chain of borderline matches, not a clique).

    Degree-ordered orientation (the classic O(m^{3/2}) bound): every edge
    is directed from its lower endpoint to its higher endpoint under the
    (degree, id) total order, so wedges fan out only from each edge's
    LOW-degree side — a hub of degree d contributes wedges only through its
    (rare) higher-ordered neighbors instead of d² pairs. Each triangle is
    enumerated exactly once (its vertices form a chain in the order), and
    the wedge→closing-edge check is two self-joins on the oriented edge
    list. Returns ``(node, degree, triangles, clustering_coeff)`` for every
    node in the edge set, coefficient = 2T / (d·(d−1)) (0.0 when d < 2).
    """
    und = cut(_undirected(edges))
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    # orient u→v iff (deg_u, u) < (deg_v, v): joins deg twice (node-sized
    # dimension; AQE broadcasts it when small, shuffles when not)
    ranked = (
        und.join(deg.withColumnRenamed("deg", "du"), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("dv")), "v"
        )
        .filter(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
    )
    ori = cut(ranked.select("u", "v", "dv"))
    # wedges from the low vertex; order the two high endpoints so the
    # closing edge's orientation is known (v before w in the total order)
    w1 = ori.select(F.col("u"), F.col("v").alias("x"), F.col("dv").alias("dx"))
    w2 = ori.select(F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedges = w1.join(w2, "u").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = ori.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closing, ["x", "y"], "left_semi").select(
        "u", "x", "y"
    )
    per_node = (
        tris.select(F.col("u").alias("node"))
        .unionByName(tris.select(F.col("x").alias("node")))
        .unionByName(tris.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    out = deg.withColumnRenamed("u", "node").join(per_node, "node", "left")
    t = F.coalesce(F.col("triangles"), F.lit(0)).cast("long")
    d = F.col("deg")
    coeff = F.when(
        d >= 2, F.round(2.0 * t / (d * (d - 1)), 6)
    ).otherwise(F.lit(0.0))
    return out.select(
        "node",
        d.alias("degree"),
        t.alias("triangles"),
        coeff.alias("clustering_coeff"),
    )


def k_core(edges: DataFrame, k: int) -> DataFrame:
    """Nodes of the k-core (maximal subgraph with min induced degree ≥ k)
    of the undirected graph of canonical edges, with their in-core degree —
    the density primitive that separates a cluster's cohesive core from
    peeled-off periphery (Seidman 1983), complementing triangle_counts.

    Iterative peeling as a DataFrame fixpoint (same loop discipline as
    connected_components): each round semi-joins the surviving edge set
    against the surviving node set, recomputes induced degrees, and drops
    nodes under k; convergence is an exact count comparison, and exceeding
    ``_KCORE_MAX_ROUNDS`` raises LOUDLY rather than returning a half-peeled set (a
    path graph peels one node per round, so adversarial chains need the
    bound).

    Scan discipline: the base edge set never gets re-scanned at full size
    round after round — whenever the alive set has HALVED since the last
    materialization, the induced survivor edges are re-materialized (with
    partitions coalesced to the shrunken size) and become the new base, so
    total materialized bytes are a geometric series ≤ 2× the input and
    every round's scan is proportional to the CURRENT graph, not the
    original. (Cutting unconditionally per round was measured slower: an
    extra eager job per round outweighs the avoided scan on shallow
    shrink steps.)
    """
    n_part = max(edges.sparkSession.sparkContext.defaultParallelism, 1)
    und = cut(_undirected(edges))
    alive = und.select(F.col("u").alias("id")).distinct()
    alive = cut(alive)
    n_alive = alive.count()
    n_at_cut = n_alive
    for r in range(1, _KCORE_MAX_ROUNDS + 1):
        surv = (
            und.join(alive.withColumnRenamed("id", "u"), "u", "left_semi")
            .join(alive.withColumnRenamed("id", "v"), "v", "left_semi")
        )
        nxt = (
            surv.groupBy("u")
            .agg(F.count("*").alias("__d"))
            .filter(F.col("__d") >= k)
            .select(F.col("u").alias("id"))
        )
        nxt = cut(nxt)
        n_next = nxt.count()
        if n_next == n_alive:
            alive = nxt
            break
        alive, n_alive = nxt, n_next
        if n_alive == 0:
            break
        if n_alive < n_at_cut // 2:
            # graph halved since the last base: re-materialize the induced
            # survivor edges (still vs the PREVIOUS alive set — a superset
            # of the current induced graph, so correctness is unaffected)
            # at a partition count matched to the shrunken size
            parts = max(1, min(n_part, n_alive // 50_000 + 1))
            und = cut(surv.coalesce(parts))
            n_at_cut = n_alive
    else:
        raise RuntimeError(
            f"k_core did not converge within {_KCORE_MAX_ROUNDS} peel rounds "
            f"({n_alive} nodes still alive) — raise _KCORE_MAX_ROUNDS"
        )
    core_edges = (
        und.join(alive.withColumnRenamed("id", "u"), "u", "left_semi")
        .join(alive.withColumnRenamed("id", "v"), "v", "left_semi")
    )
    return core_edges.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("degree_in_core")
    )


def _local_greedy_matching(spark, edges: DataFrame) -> DataFrame:
    """Finish a (bounded) deduped edge set on the driver with the SEQUENTIAL
    greedy matching under (score DESC, ea ASC, eb ASC) — the exact result
    the distributed locally-dominant rounds are proven to compute, in one
    Arrow transfer instead of O(log) barrier rounds."""
    import pandas as pd

    pdf = edges.select("ea", "eb", "s").toPandas()
    rows = sorted(zip(pdf["ea"], pdf["eb"], pdf["s"]), key=lambda r: (r[0], r[1]))
    rows.sort(key=lambda r: r[2], reverse=True)  # stable → s desc, ea, eb
    taken: set = set()
    out = []
    for ea, eb, s in rows:
        if ea not in taken and eb not in taken:
            taken.add(ea)
            taken.add(eb)
            out.append((ea, eb, s))
    out_schema = (
        "ea " + edges.schema["ea"].dataType.simpleString()
        + ", eb " + edges.schema["eb"].dataType.simpleString()
        + ", s " + edges.schema["s"].dataType.simpleString()
    )
    return spark.createDataFrame(
        pd.DataFrame(out, columns=["ea", "eb", "s"]), out_schema
    )


def locally_dominant_matching(scored_pairs: DataFrame) -> DataFrame:
    """Distributed greedy one-to-one matching (Preis 1999 / locally
    dominant edges): the assignment step of cross-database record linkage
    — each record pairs with at most ONE partner, highest scores first.

    Under the total order (score DESC, id_a ASC, id_b ASC) the result
    equals the sequential greedy matching, computed in O(log) parallel
    rounds instead of one driver-side sorted scan: per round every node
    picks its best incident edge (one groupBy-argmax), an edge is matched
    iff it is the best of BOTH endpoints (two semi-joins), matched nodes'
    remaining edges drop (two anti-joins), repeat until no edges remain —
    LOUD raise past ``_MATCHING_MAX_ROUNDS``. Returns the matched canonical pairs
    with their score.

    When the deduped edge set fits under ``_MATCHING_LOCAL_SOLVE_EDGES``
    the sequential greedy itself runs on the driver — result-identical by
    the equivalence above, and it skips the per-round barrier latency (each
    distributed round is ~5 shuffles + 3 lineage cuts). The CC-MR-hybrid
    discipline of connected_components applied to matching.
    """
    edges = (
        scored_pairs.select(
            F.col("id_a").alias("ea"), F.col("id_b").alias("eb"),
            F.col("score").alias("s"),
        )
        .filter(F.col("ea") != F.col("eb"))
        # duplicate (ea, eb) rows keep their MAX score: dropDuplicates
        # would keep an arbitrary one, making the result partitioning-
        # dependent and breaking the sequential-greedy equivalence
        .groupBy("ea", "eb")
        .agg(F.max("s").alias("s"))
    )
    edges = cut(edges)
    if edges.count() <= _MATCHING_LOCAL_SOLVE_EDGES:
        return _local_greedy_matching(
            scored_pairs.sparkSession, edges
        ).select(
            F.col("ea").alias("id_a"), F.col("eb").alias("id_b"),
            F.col("s").alias("score"),
        )
    matched = None
    for r in range(1, _MATCHING_MAX_ROUNDS + 1):
        if edges.isEmpty():
            break
        und = edges.select(
            F.col("ea").alias("node"), "ea", "eb", "s"
        ).unionByName(edges.select(F.col("eb").alias("node"), "ea", "eb", "s"))
        # deterministic per-node argmax: max score, then min (ea, eb) —
        # row_number over an explicit sort so ids of ANY orderable type
        # (the ER pipeline's sha256-string file_ids included) work; the
        # ordering is total because (ea, eb) is unique after the groupBy
        wnd = Window.partitionBy("node").orderBy(
            F.col("s").desc(), F.col("ea").asc(), F.col("eb").asc()
        )
        best = (
            und.withColumn("__rn", F.row_number().over(wnd))
            .filter(F.col("__rn") == 1)
            .select("node", "s", "ea", "eb")
        )
        # best feeds BOTH semi-joins: cut so the union+argmax runs once
        best = cut(best)
        won = (
            edges.join(
                best.select(F.col("node").alias("ea"), "eb"), ["ea", "eb"],
                "left_semi",
            )
            .join(
                best.select("ea", F.col("node").alias("eb")), ["ea", "eb"],
                "left_semi",
            )
        )
        won = cut(won)
        if won.isEmpty():
            # no locally dominant edge can only mean no edges remain;
            # guarded by the isEmpty() check above, but stay loud
            raise RuntimeError("locally_dominant_matching: stalled round")
        matched = won if matched is None else matched.unionByName(won)
        taken = won.select(F.col("ea").alias("node")).unionByName(
            won.select(F.col("eb").alias("node"))
        )
        edges = (
            edges.join(taken.withColumnRenamed("node", "ea"), "ea", "left_anti")
            .join(taken.withColumnRenamed("node", "eb"), "eb", "left_anti")
        )
        edges = cut(edges)
    # the bound is "LOUD past _MATCHING_MAX_ROUNDS", not at it: a graph that drains
    # exactly on the final round must succeed, so test emptiness once more
    # after the loop instead of relying on the next iteration's check
    if not edges.isEmpty():
        raise RuntimeError(
            "locally_dominant_matching did not drain within "
            f"{_MATCHING_MAX_ROUNDS} rounds — raise _MATCHING_MAX_ROUNDS"
        )
    if matched is None:
        return scored_pairs.select(
            F.col("id_a"), F.col("id_b"), F.col("score")
        ).limit(0)
    return matched.select(
        F.col("ea").alias("id_a"), F.col("eb").alias("id_b"),
        F.col("s").alias("score"),
    )
