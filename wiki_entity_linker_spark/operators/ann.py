"""Similarity search over embedding columns.

* :func:`cosine_topk` — brute-force cosine top-k (correct baseline; cross
  join + window, all JVM-side).
* :func:`rhp_lsh_buckets` / :func:`lsh_topk` — the scale path: random-
  hyperplane LSH sign buckets (planes drawn from a seeded numpy RNG on the
  driver, embedded as literal arrays → deterministic, no UDF), candidates
  searched only within matching buckets (optionally multi-probe via several
  independent tables).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wiki_entity_linker_spark.functions.vectors import cosine_prenorm, dot, norm
from wiki_entity_linker_spark.session import cut

# neighbors kept per query by every top-k search here
_TOPK = 5
# random-hyperplane LSH shape: sign bits per bucket key, independent tables
# (shared with the embedding near-dup blocking, operators/dedup.py)
LSH_PLANES = 6
LSH_TABLES = 3
# table t draws its planes from RandomState(LSH_SEED * 1000 + t); the LSH
# oracles in queries.py draw the same literals
LSH_SEED = 42
# IVF cells each query probes
_IVF_NPROBE = 4
# integer-lattice k-means: cells and Lloyd iterations
_KMEANS_K = 4
_KMEANS_ITERS = 2


def cosine_topk(vectors: DataFrame, queries: DataFrame) -> DataFrame:
    """→ ``(query_id, vec_id, cos, rank)`` — exact top-``_TOPK`` per query.

    Broadcast the query side (queries ≪ corpus at scale); ties broken by
    ascending corpus id for determinism (the reference's sorted-qid
    tie-break, prefix_trie_linker.py:254-255).
    """
    return _exact_topk(vectors, queries, lambda v, q: v.crossJoin(F.broadcast(q)))


def _exact_topk(vectors: DataFrame, queries: DataFrame, pair) -> DataFrame:
    """Exact cosine top-``_TOPK`` over the ``(v, q)`` pairs ``pair(v, q)`` returns.

    ``v`` is ``(vec_id, vv, __nv)`` and ``q`` is ``(query_id, qv, __nq)``:
    norms are attached per VECTOR before the pair join (cosine_prenorm:
    bit-identical doubles, 1 higher-order aggregate per pair instead of 3).
    """
    q = queries.select(
        F.col("query_id").alias("query_id"), F.col("embedding").alias("qv"),
        norm("embedding").alias("__nq"),
    )
    v = vectors.select(
        F.col("vec_id"), F.col("embedding").alias("vv"), norm("embedding").alias("__nv")
    )
    # Rank by the RAW cosine (rounding only in the output projection) so
    # top-k membership matches an oracle that orders by the unrounded value;
    # ranking the rounded score can flip neighbors within 1e-6 across engines.
    scored = pair(v, q).select(
        "query_id", "vec_id",
        cosine_prenorm("qv", "vv", "__nq", "__nv").alias("__cos_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__cos_raw").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "vec_id", F.round("__cos_raw", 6).alias("cos"), "rank")
    )


def _rerank(cand: DataFrame, vectors: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact cosine top-k within candidate ``(query_id, vec_id)`` pairs."""
    return _exact_topk(
        vectors, queries,
        lambda v, q: cand.join(v, "vec_id").join(F.broadcast(q), "query_id"),
    )


def _plane_literals(dim: int, n_planes: int, seed: int) -> list:
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))
    return [
        F.array(*[F.lit(float(x)) for x in plane]) for plane in planes
    ]


def rhp_lsh_buckets(df: DataFrame, dim: int, id_col: str, table: int) -> DataFrame:
    """→ ``(id, bucket)`` — sign pattern of ``LSH_PLANES`` random
    projections of ``embedding``, drawn for LSH table ``table``."""
    bucket = None
    for i, plane in enumerate(_plane_literals(dim, LSH_PLANES, LSH_SEED * 1000 + table)):
        bit = F.when(dot(F.col("embedding"), plane) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        bucket = bit if bucket is None else bucket + bit
    return df.select(
        F.col(id_col),
        F.concat(F.lit(f"t{table}:"), bucket.cast("string")).alias("bucket"),
    )


def lsh_topk(vectors: DataFrame, queries: DataFrame, dim: int) -> DataFrame:
    """Approximate top-k: union of ``LSH_TABLES`` independent LSH tables;
    exact cosine re-rank within candidate buckets only."""
    cand = None
    for t in range(LSH_TABLES):
        vb = rhp_lsh_buckets(vectors, dim, "vec_id", t)
        # the same-name rename only adds a Project; it keeps the analyzed
        # plan byte-identical to the one the plan-digest invariant records
        qb = rhp_lsh_buckets(
            queries, dim, "query_id", t
        ).withColumnRenamed("query_id", "query_id")
        c = vb.join(qb, "bucket").select("query_id", "vec_id")
        cand = c if cand is None else cand.unionByName(c)
    return _rerank(cand.dropDuplicates(["query_id", "vec_id"]), vectors, queries)


def seeded_centroids(dim: int, n_centroids: int, seed: int) -> list[list[float]]:
    """Data-independent coarse-quantizer centroids from a seeded RNG.

    A random-center Voronoi partition is a legitimate IVF coarse quantizer
    (lower recall per probe than k-means-trained centers, same structure);
    because it is data-independent it can be embedded verbatim into the
    DuckDB oracle, making the whole IVF path deterministically checkable —
    the same trick as the RHP-LSH plane literals above.
    """
    rng = np.random.RandomState(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((n_centroids, dim))]


def _cell_structs(centroids: list[list[float]]) -> list:
    """(squared-L2-distance, centroid-index) structs of ``embedding``, all
    JVM-side column math: ``|v|² - 2·v·c + |c|²`` with |c|² folded to a
    literal."""
    vnorm = dot(F.col("embedding"), F.col("embedding"))
    out = []
    for j, c in enumerate(centroids):
        clit = F.array(*[F.lit(x) for x in c])
        cn = float(sum(x * x for x in c))
        d = vnorm - 2 * dot(F.col("embedding"), clit) + F.lit(cn)
        out.append(F.struct(d.alias("d"), F.lit(j).alias("j")))
    return out


def ivf_assign(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """→ ``(vec_id, cell)`` — each vector's nearest centroid (struct array_min:
    ties break to the lowest centroid index, deterministically)."""
    cells = _cell_structs(centroids)
    return df.select(
        F.col("vec_id"), F.array_min(F.array(*cells))["j"].alias("cell")
    )


def ivf_topk(
    vectors: DataFrame, queries: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """IVF approximate top-k: probe each query's ``_IVF_NPROBE`` nearest
    cells, exact-cosine re-rank only the vectors indexed there.

    Scale shape: assignment is one JVM-side pass over the corpus (shuffle on
    ``cell`` only at the candidate join); each cell holds ~n/n_centroids
    vectors, so per-query work drops by ``n_centroids / nprobe`` vs brute
    force. Skewed cells are the operator's known weakness: seeded random
    centroids (:func:`seeded_centroids`) don't balance the way k-means
    centers do, and a hot cell joins every vector it holds against every
    query probing it.
    """
    va = ivf_assign(vectors, centroids)
    qcells = _cell_structs(centroids)
    qa = queries.select(
        F.col("query_id").alias("query_id"),
        F.explode(
            F.slice(F.array_sort(F.array(*qcells)), 1, _IVF_NPROBE)
        ).alias("probe"),
    ).select("query_id", F.col("probe.j").alias("cell"))
    # each vector lives in exactly one cell → the probe join cannot duplicate
    cand = va.join(qa, "cell").select("query_id", "vec_id")
    return _rerank(cand, vectors, queries)


def kmeans_lattice_assign(df: DataFrame) -> DataFrame:
    """Distributed integer-lattice Lloyd k-means → ``(id, cell)`` with
    ``_KMEANS_K`` cells after ``_KMEANS_ITERS`` iterations.

    Every step is DataFrame ops with no driver-side training slice, so it
    survives corpora where no representative sample fits one machine.
    Made bit-portable the same way pagerank_fixed_point is — all arithmetic
    on int64: vectors land on a positive integer grid
    (``round((x + 1) * 1000)``, shift-invariant for L2), centroids are
    FLOORED back to the grid each M-step (quantized Lloyd; grid error
    ~1/1000 per dim), distances are exact integer sums, and argmin ties
    break to the lowest cell index. Init = the ``_KMEANS_K`` vectors with the
    smallest (portable-hash, id) key, cells numbered in that order; an
    emptied cell carries its previous centroid over.

    One iteration = assign + update; the returned frame is the assignment
    of the last iteration (computed against the update before it).

    Scale shape: the centroid frame is k rows and BROADCASTS into the
    assignment crossJoin (k·N intermediate, one groupBy-argmin); the
    M-step is a (cell, dim)-keyed aggregation of posexploded members with
    map-side combine. No driver collect anywhere; the only global sort is
    the k-row init (orderBy + limit k).
    """
    from wiki_entity_linker_spark.functions.hashing import h64

    q = cut(
        df.select(
            F.col("vec_id"),
            F.transform(
                "embedding",
                lambda x: F.round((x + F.lit(1.0)) * 1000, 0).cast("long"),
            ).alias("v"),
        )
    )

    key = h64(F.col("vec_id").cast("string"))
    cand = q.orderBy(key, "vec_id").limit(_KMEANS_K)
    w0 = Window.orderBy(h64(F.col("vec_id").cast("string")), "vec_id")
    cents = cut(
        cand.select(
            (F.row_number().over(w0) - 1).cast("long").alias("cell"),
            F.col("v").alias("c"),
        )
    )

    assign = None
    for it in range(1, _KMEANS_ITERS + 1):
        d = F.aggregate(
            F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        assign = (
            q.crossJoin(F.broadcast(cents))
            .select("vec_id", "v", "cell", d.alias("d"))
            .groupBy("vec_id")
            .agg(
                F.min(F.struct("d", "cell")).alias("m"),
                F.first("v").alias("v"),
            )
            .select("vec_id", F.col("m.cell").alias("cell"), "v")
        )
        if it == _KMEANS_ITERS:
            break
        assign = cut(assign)
        upd = (
            assign.select("cell", F.posexplode("v").alias("i", "x"))
            .groupBy("cell", "i")
            .agg(
                F.sum("x").cast("long").alias("s"),
                F.count("*").cast("long").alias("n"),
            )
            .withColumn("cv", F.expr("s div n").cast("long"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "cv"))),
                    lambda s: s["cv"],
                ).alias("c")
            )
        )
        carried = cents.join(upd.select("cell"), "cell", "left_anti")
        cents = cut(upd.unionByName(carried))
    return assign.select("vec_id", "cell")
