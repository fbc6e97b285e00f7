"""Iterative graph operators: connected components + transitive closure.

The reference's only iterative dataflow is the Wikidata type closure
(`P31 ∪ P31/P279+`, wikidata-types/Makefile:293-301; recursive superclass walk
with a cycle set, scripts/create_all_types_mapping.py:20-49). The graft needs
the same skeleton twice:

* :func:`connected_components` — alternating **large-star / small-star**
  (Kiveris et al., "Connected Components in MapReduce and Beyond"): O(log n)
  rounds, each round two groupBy-min shuffles; a per-round lineage cut
  keeps plans from growing (the driver-loop is control flow only — all data
  stays distributed).
* :func:`transitive_closure` — iterative-doubling reachability (R := R ∪ R.R)
  with a depth cap; cycle safety via per-round ``dropDuplicates``, and the
  same per-round cut.

Every cut is :func:`~wiki_entity_linker_spark.session.cut`: a reliable
``checkpoint`` under the session's checkpoint directory when one is set (a
lost executor costs a re-read), else a ``localCheckpoint`` (no write, but a
lost executor fails the job).

Each loop picks its own tail-solve cut-over (finish a small residual graph on
the driver, result-identically) from the module constants below; shuffle
width is the session's ``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wiki_entity_linker_spark.session import cut

# Tail-solve cut-overs, in canonical edges. Connected components (and the
# merge graph, which runs them): once star-contraction has shrunk the edge
# set to at most this, the driver finishes it with union-find. Sized for the ER
# pipeline's 64-char sha256 string ids (~300 B of driver RSS per edge, so
# ~150 MB; int64-id graphs could afford 10x); each avoided round saves 2
# shuffles + a checkpoint + a stats job.
_CC_LOCAL_SOLVE_EDGES = 500_000
# Transitive closure: the driver BFS costs O(V·E) and holds every output
# pair (≤ nodes × reachable set), so only a few thousand edges pay off.
_CLOSURE_LOCAL_SOLVE_EDGES = 4_096
# Relabel maps at or under this many rows are broadcast (see
# :func:`broadcast_if_small`): ~150 B/row driver-side for sha256 labels.
_BROADCAST_MAP_ROWS = 500_000
# Star-contraction rounds before connected components gives up and raises;
# rounds needed ≈ log2(graph diameter).
_CC_MAX_ITER = 20
# longest path transitive_closure resolves before it raises
_CLOSURE_MAX_DEPTH = 20


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Direct every edge large→small, drop self-loops and duplicates."""
    return (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect all strictly-larger neighbors to
    min(Γ(u) ∪ {u})."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u over its ≤ neighbors: connect them (and u) to the min."""
    directed = _canonical_edges(e, "u", "v")
    m = directed.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        directed.join(m, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    kept = m.select(F.col("u"), F.col("m").alias("v"))
    return (
        moved.unionByName(kept)
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _local_union_find(spark, e: DataFrame) -> DataFrame:
    """Finish a (bounded) edge set on the driver: union-find with path
    compression, components labeled by min member — identical output
    contract to the distributed loop (members + roots, one row per node
    appearing in the edge set)."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    pdf = e.select("u", "v").toPandas()  # Arrow transfer, one job
    for u, v in zip(pdf["u"], pdf["v"]):
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min so the final find walk ends at the min id
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    rows = [(x, find(x)) for x in list(parent)] + [
        (r, r) for r in set(parent.values()) if parent.get(r, r) == r
    ]
    # roots that never appear as a key (only ever targets)
    all_nodes = set(parent)
    roots = {find(x) for x in parent}
    rows += [(r, r) for r in roots - all_nodes]
    rows = sorted(set(rows))
    out_schema = (
        "id " + e.schema["u"].dataType.simpleString()
        + ", component " + e.schema["v"].dataType.simpleString()
    )
    out = pd.DataFrame(rows, columns=["id", "component"])
    return spark.createDataFrame(out, out_schema)  # Arrow path back up


def connected_components(edges: DataFrame) -> DataFrame:
    """→ ``(id, component)`` where component = min node id of the component.

    Nodes appearing only as isolated vertices must be handled by the caller
    (left-join the result and coalesce to the node's own id).

    CC-MR hybrid: once the canonical edge set (checked before the loop and
    after every contraction round) fits under ``_CC_LOCAL_SOLVE_EDGES``, the
    remaining graph is finished on the driver with union-find —
    star-contraction shrinks the edge set geometrically, so the tail rounds
    are pure task-dispatch latency on data that fits in one process. Both
    paths return the same labels.
    """
    def _stats(d: DataFrame) -> tuple:
        """Cheap set fingerprint: (count, xors of two DISTINCT hash
        functions over each row) in ONE job — an exceptAll-based convergence
        test costs a full extra shuffle per round and dominated wall time at
        scale. xxhash64(u, v) and xxhash64(u, v, <const>) are the same seed
        over different column tuples — two distinct functions, not
        independent seeds — which still pushes the same-count collision odds
        from ~2^-64 toward ~2^-128: a set change only goes unnoticed if BOTH
        xors collide simultaneously."""
        r = d.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h1"),
            F.expr("bit_xor(xxhash64(u, v, 1658234568))").alias("h2"),
        ).collect()[0]
        return (r["n"], r["h1"], r["h2"])

    spark = edges.sparkSession
    converged = False
    e = cut(_canonical_edges(edges, "id_a", "id_b"))
    prev = _stats(e)
    if prev[0] <= _CC_LOCAL_SOLVE_EDGES:
        return _local_union_find(spark, e)
    for _ in range(_CC_MAX_ITER):
        e = cut(_small_star(_large_star(e)))
        cur = _stats(e)
        if cur[0] <= _CC_LOCAL_SOLVE_EDGES:
            return _local_union_find(spark, e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # A partially-converged edge set still contains conflicting
        # (id, component) rows; the dropDuplicates below would pick one
        # arbitrarily and return silently-wrong labels. Fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge within {_CC_MAX_ITER} "
            "rounds; raise _CC_MAX_ITER (rounds needed ≈ log2(graph diameter))."
        )
    # e is now (member, root≈min); close the one remaining level of
    # indirection (star edges may still point at a non-root after the last
    # small-star round), then add roots themselves
    roots = e.select(F.col("v").alias("id")).subtract(e.select(F.col("u").alias("id")))
    members = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return members.unionByName(
        roots.select("id", F.col("id").alias("component"))
    ).dropDuplicates(["id"])


def components_with_singletons(
    nodes: DataFrame, edges: DataFrame, id_col: str = "file_id"
) -> DataFrame:
    """All nodes labeled: edge components + singletons as their own id."""
    comp = connected_components(edges)
    return (
        nodes.select(F.col(id_col).alias("id"))
        .dropDuplicates(["id"])
        .join(comp, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def _local_closure(spark, base: DataFrame, depth_cap: int, rounds: int) -> DataFrame:
    """Finish a (bounded) edge set on the driver: BFS closure with min-depth
    tracking — identical output AND identical depth-overflow semantics to
    the distributed doubling loop (which converges iff every reachable
    pair's min path length is ≤ ``depth_cap`` = 2^(rounds-1))."""
    import pandas as pd

    pdf = base.select("a", "b").toPandas()  # Arrow transfer, one job
    adj: dict = {}
    for a, b in zip(pdf["a"], pdf["b"]):
        adj.setdefault(a, []).append(b)
    rows = []
    overflow = False
    from collections import deque

    for s in adj:
        depth = {s: 0}
        dq = deque([s])
        while dq:
            x = dq.popleft()
            d = depth[x] + 1
            for y in adj.get(x, ()):  # noqa: B905
                if y not in depth:
                    depth[y] = d
                    dq.append(y)
                    if y != s:
                        rows.append((s, y))
                        if d > depth_cap:
                            overflow = True
    if overflow:
        _raise_closure_depth(rounds)
    out_schema = (
        "a " + base.schema["a"].dataType.simpleString()
        + ", b " + base.schema["b"].dataType.simpleString()
    )
    out = pd.DataFrame(sorted(set(rows)), columns=["a", "b"])
    return spark.createDataFrame(out, out_schema)


def _raise_closure_depth(rounds: int):
    raise RuntimeError(
        f"transitive_closure did not converge within {rounds} doubling "
        f"rounds (_CLOSURE_MAX_DEPTH={_CLOSURE_MAX_DEPTH}): the graph has "
        "paths longer than _CLOSURE_MAX_DEPTH. Raise it (rounds grow only "
        "logarithmically) or break cycles upstream."
    )


def transitive_closure(edges: DataFrame) -> DataFrame:
    """All (src, ancestor) pairs reachable via directed edges — the Spark
    recast of create_all_types_mapping.py:20-49 (depth-capped, cycle-safe).

    Uses **iterative doubling** (R := R + R.R): reachable depth doubles per
    round, so ``ceil(log2(_CLOSURE_MAX_DEPTH))`` rounds suffice. Each round references
    the closure three times (both join sides and the union), so without a cut
    the *plan* triples per round and Catalyst analysis dominates the runtime
    long before the data does; every round therefore ends in a
    ``session.cut``, the same cut :func:`connected_components` uses, and
    the returned plan has a constant size whatever the round count.

    When the deduped edge set fits under ``_CLOSURE_LOCAL_SOLVE_EDGES`` the
    closure is finished on the driver with BFS instead (min-depth tracked, so
    the depth-overflow raise is bit-identical to the doubling loop's
    convergence bound): on a graph that fits in one process the doubling
    rounds are pure task-dispatch latency.
    """
    import math

    base = cut(
        edges.select(F.col("child").alias("a"), F.col("parent").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    closure = base
    prev = closure.count()
    # +1 confirmation round: a graph of depth exactly _CLOSURE_MAX_DEPTH
    # still grows in the final doubling round, so convergence needs one
    # extra no-growth round to be observable
    rounds = max(1, math.ceil(math.log2(max(2, _CLOSURE_MAX_DEPTH)))) + 1
    if prev <= _CLOSURE_LOCAL_SOLVE_EDGES:
        out = _local_closure(edges.sparkSession, base, 2 ** (rounds - 1), rounds)
        return out.select(F.col("a").alias("child"), F.col("b").alias("parent"))
    converged = False
    for _ in range(rounds):
        doubled = (
            closure.alias("l")
            .join(closure.alias("r"), F.col("l.b") == F.col("r.a"))
            .select(F.col("l.a").alias("a"), F.col("r.b").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        closure = cut(
            closure.unionByName(doubled)
            .dropDuplicates(["a", "b"])
        )
        n = closure.count()
        if n == prev:
            converged = True
            break
        prev = n
    if not converged:
        # mirror connected_components' loud non-convergence: a silently
        # partial closure corrupts every downstream join
        _raise_closure_depth(rounds)
    return closure.select(F.col("a").alias("child"), F.col("b").alias("parent"))


def relabel_through_map(df: DataFrame, relabel_map: DataFrame) -> DataFrame:
    """Apply a ``(__old_c, __new_c)`` relabel map to an ``(id, component)``
    table: rows whose component appears in the map take the new label,
    everything else passes through verbatim. The single relabel shape shared
    by :func:`merge_components` and ``read_canonical``'s delta resolution —
    pass ``relabel_map`` through :func:`broadcast_if_small` (or rely on
    Catalyst's size stats for parquet-backed maps) per call site."""
    return df.join(
        relabel_map, df["component"] == relabel_map["__old_c"], "left"
    ).select(
        df["id"].alias("id"),
        F.coalesce(relabel_map["__new_c"], df["component"]).alias("component"),
    )


def broadcast_if_small(relabel_map: DataFrame) -> DataFrame:
    """Hint a materialized relabel map for broadcast when it has at most
    ``_BROADCAST_MAP_ROWS`` rows. Maps are batch-sized by construction, but a
    pathological batch (one edge set bridging millions of base clusters)
    would blow a forced broadcast, so the size is probed (one count job) and
    a larger map falls back to a shuffle join."""
    if relabel_map.count() <= _BROADCAST_MAP_ROWS:
        return F.broadcast(relabel_map)
    return relabel_map


def merge_components(
    old_comps: DataFrame,
    edges: DataFrame,
    new_nodes: DataFrame,
    return_map: bool = False,
) -> DataFrame:
    """Absorb a batch of new nodes into an existing components labeling
    WITHOUT re-running connected components over the old graph.

    The incremental-append primitive (north-rule scale path): at 10^12 files
    a daily batch must not re-cluster the corpus, and it doesn't need to —
    ``old_comps`` is already transitively closed, so every old endpoint of a
    new edge can be CONTRACTED to its component label. The merge graph then
    contains only new nodes and touched old component labels: its size is
    O(batch), independent of the corpus.

    Inputs:

    * ``old_comps`` — ``(id, component)``, transitively closed (labels =
      min member id, as produced by :func:`components_with_singletons`);
    * ``edges`` — new match edges; endpoints may be new-node ids or old ids
      (old endpoints are contracted via ``old_comps``);
    * ``new_nodes`` — the batch's node ids, DISJOINT from ``old_comps``
      (unmatched ones become singleton clusters).

    Output ``(id, component)`` over old ∪ new nodes, with two guarantees:

    * clusters untouched by any new edge keep their component label
      verbatim (stable ids across appends);
    * touched clusters relabel to min(member id) over the merged cluster —
      exactly what a full recompute over old ∪ new would produce, so
      incremental == batch for any edge set (the label of a contracted old
      cluster IS its min member, so min over the mini graph's nodes equals
      min over the underlying members).
    """
    e = edges.select("id_a", "id_b")
    for side in ("id_a", "id_b"):
        e = (
            e.join(
                old_comps.select(
                    F.col("id").alias(side), F.col("component").alias("__c")
                ),
                side,
                "left",
            )
            .withColumn(side, F.coalesce("__c", F.col(side)))
            .drop("__c")
        )
    e = cut(
        e.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        # batch-sized by construction; materialize ONCE — the contraction
        # joins above are otherwise re-evaluated by every downstream action
        # (edge count, local-solve collect, mini-CC rounds, the caller's
        # stage write), measured as ~3× the merge stage's wall time
    )
    # node set of the mini graph: all new nodes (singleton guarantee) plus
    # every contracted endpoint, so touched old labels appear in the output
    # of the mini solve and feed the relabel map below
    nodes = (
        new_nodes.select(F.col("id").alias("id"))
        .unionByName(e.select(F.col("id_a").alias("id")))
        .unionByName(e.select(F.col("id_b").alias("id")))
    )
    # consumed 3×: merge map, relabel, new rows
    mini = cut(components_with_singletons(nodes, e, id_col="id"))
    # touched-cluster relabel map: rows of the mini solve whose node id IS an
    # old component label; batch-sized by construction → broadcast when it
    # actually fits (broadcast_if_small)
    old_labels = old_comps.select(F.col("component").alias("id")).dropDuplicates(["id"])
    merge_map = cut(
        mini.join(old_labels, "id", "left_semi")
        .select(F.col("id").alias("__old_c"), F.col("component").alias("__new_c"))
        .filter(F.col("__old_c") != F.col("__new_c"))
        # materialize once: consumed by the size probe AND the relabel join
        # (and the semi-join against corpus-sized old_labels must not rerun)
    )
    relabeled_old = relabel_through_map(
        old_comps, broadcast_if_small(merge_map)
    )
    new_assign = mini.join(
        new_nodes.select(F.col("id").alias("id")), "id", "left_semi"
    ).select("id", "component")
    out = relabeled_old.unionByName(new_assign)
    if return_map:
        # the batch-sized relabel map is a byproduct the incremental append
        # stores verbatim (read_canonical applies the SAME map to the
        # corpus-sized assignment) — returning it saves the caller a
        # corpus-scale re-derivation from the merged output
        return out, merge_map
    return out
