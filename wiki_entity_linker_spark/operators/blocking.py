"""Blocking / candidate-pair generation — the Spark recast of the reference's
alias-dictionary candidate lookup (entity_database.py:85-100,
prefix_trie_linker.py:150-159) plus the graft's MinHash/LSH shingle blocking.

Everything is JVM-side: shingling is higher-order array functions, the MinHash
family is the portable ``h64`` md5 hash (functions/hashing.py), band keys are
string concats, and pair generation is a self-equi-join on the block key. The
only shuffles are the per-file signature groupBy and the block self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wiki_entity_linker_spark.functions.hashing import h64, mh_family, mh_mix, stable_file_id
from wiki_entity_linker_spark.functions.text import shingles, tokenize
from wiki_entity_linker_spark.session import cut

DEFAULT_N_HASHES = 16
DEFAULT_BANDS = 8  # 8 bands × 2 rows: s-curve threshold ≈ (1/8)^(1/2) ≈ 0.35
# shingle length (tokens) and family size of minhash_signatures
_SIG_K_SHINGLE = 3
_SIG_N_HASHES = 4
# rows per sorted-neighborhood window
_SNM_WINDOW = 4


def with_file_id(df: DataFrame) -> DataFrame:
    """Attach the canonical string file id (sha256 of ``repo|path|commit``)."""
    return df.withColumn("file_id", stable_file_id("repo", "path", "commit"))


def minhash_signatures(df: DataFrame) -> DataFrame:
    """``(doc_id, minhash: array<long>)`` of the ``text`` column — one
    shuffle, no UDFs.

    Explode distinct ``_SIG_K_SHINGLE``-token shingles, hash each shingle
    ONCE (md5-based ``h64``), derive the ``_SIG_N_HASHES`` family members
    arithmetically (functions/hashing.mh_mix), then take the mins in a
    single groupBy (map-side partial aggregation makes this robust to huge
    docs).

    The shingle computation is spread over the session's cores before the
    explode: small upstream tables otherwise arrive in one partition and
    serialize the whole scan on one core.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    sh = df.repartition(n, "doc_id").select(
        F.col("doc_id"), shingles(tokenize("text"), _SIG_K_SHINGLE).alias("sh")
    )
    return minhash_from_shingles(sh, "doc_id", _SIG_N_HASHES)


def minhash_from_shingles(
    df: DataFrame,
    id_col: str = "file_id",
    n_hashes: int = DEFAULT_N_HASHES,
) -> DataFrame:
    """MinHash signatures from a precomputed shingle-array column (lets the
    pipeline reuse its checkpointed ``features`` stage instead of
    re-shingling)."""
    ex = df.select(F.col(id_col), F.explode("sh").alias("shingle")).select(
        id_col, h64("shingle").alias("hs")
    )
    return _minhash_from_hash_rows(ex, id_col, n_hashes)


def minhash_from_hashes(df: DataFrame) -> DataFrame:
    """MinHash signatures from a precomputed int64 shingle-HASH array.

    The ER pipeline hashes each doc's shingles exactly once (xxhash64, no
    md5, no string shuffles) and reuses that array for both LSH blocking and
    the pairwise Jaccard verify — this variant derives the signature family
    from those hashes directly. (Oracle-checked queries keep the portable
    md5-based ``h64`` path in :func:`minhash_from_shingles`.)
    """
    ex = df.select(F.col("file_id"), F.explode(F.col("hsh")).alias("h0")).select(
        "file_id",
        # keep the family arithmetic in non-negative 60-bit space like h64;
        # mask rather than abs (abs(Long.MIN_VALUE) stays negative on the JVM)
        F.col("h0").bitwiseAND(F.lit(0x0FFFFFFFFFFFFFFF)).alias("hs"),
    )
    return _minhash_from_hash_rows(ex, "file_id", DEFAULT_N_HASHES)


def _minhash_from_hash_rows(ex: DataFrame, id_col: str, n_hashes: int) -> DataFrame:
    aggs = [
        F.min(mh_mix(F.col("hs"), a, b)).alias(f"mh{i}")
        for i, (a, b) in enumerate(mh_family(n_hashes))
    ]
    per_doc = ex.groupBy(id_col).agg(*aggs)
    return per_doc.select(
        id_col, F.array(*[F.col(f"mh{i}") for i in range(n_hashes)]).alias("minhash")
    )


def lsh_band_blocks(sig_df: DataFrame, id_col: str = "file_id") -> DataFrame:
    """(id, block_key) — one row per band over ``DEFAULT_N_HASHES``-long
    signatures; identical band slice → same key."""
    bands = DEFAULT_BANDS
    rows = DEFAULT_N_HASHES // bands
    band_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(f"b{b}"),
                *[F.col("minhash").getItem(b * rows + r) for r in range(rows)],
            )
            for b in range(bands)
        ]
    )
    return sig_df.select(F.col(id_col), F.explode(band_keys).alias("block_key"))


def path_stem_key() -> "F.Column":
    """Normalized filename stem of ``path`` (no extension, no -/_,
    lowercased)."""
    stem = F.regexp_replace(
        F.element_at(F.split(F.col("path"), "/"), -1), "\\.[a-z]+$", ""
    )
    return F.lower(F.regexp_replace(stem, "[-_]", ""))


def def_name_keys() -> "F.Column":
    """Distinct top-level defined names in ``content`` (the link-anchor
    analogue)."""
    return F.array_distinct(
        F.expr(
            "regexp_extract_all(content, "
            r"'(?m)^(?:def|func|function|class|int|void|public) "
            r"([A-Za-z_][A-Za-z0-9_]*)\\(', 1)"
        )
    )


def alias_blocks_from_features(feats: DataFrame) -> DataFrame:
    """(file_id, block_key) from alias keys — the dictionary-blocking recast.

    Two alias sources, mirroring the reference's union of name/alias/synonym
    dictionaries (entity_database.py:85-100), read from precomputed feature
    columns so the ER pipeline derives ALL blocking keys from its one
    compact per-doc feature table instead of re-reading raw content:
    * ``stem``: the path stem (:func:`path_stem_key`), and
    * ``defs``: defined top-level names (:func:`def_name_keys`) — the
      link-anchor analogue.
    """
    stems = feats.select(
        F.col("file_id"), F.concat(F.lit("stem:"), F.col("stem")).alias("block_key")
    )
    defs = feats.select(F.col("file_id"), F.explode("defs").alias("name")).select(
        "file_id", F.concat(F.lit("def:"), F.lower(F.col("name"))).alias("block_key")
    )
    return stems.unionByName(defs)


def alias_dict_blocks(df: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """(id, block_key) from an external alias dictionary — the direct recast
    of J2 candidate generation: file tokens broadcast-joined against the
    ``(alias, entity_id, freq)`` table; every file sharing an alias's entity
    lands in that entity's block. Ambiguous aliases (one alias, several
    entities) put the file into ALL candidate blocks, mirroring
    ``get_candidates`` returning a set (entity_database.py:85-100).
    """
    toks = df.select(
        F.col("file_id"), F.explode(F.array_distinct(tokenize("content"))).alias("tok")
    )
    dic = alias_dict.select(
        F.lower(F.col("alias")).alias("tok"),
        F.concat(F.lit("dict:"), F.col("entity_id")).alias("block_key"),
    ).dropDuplicates(["tok", "block_key"])
    return toks.join(F.broadcast(dic), "tok").select("file_id", "block_key")


def pairs_from_blocks(block_df: DataFrame, id_col: str = "file_id") -> DataFrame:
    """Self-join within block key → canonical candidate pairs
    (``id_a < id_b``, deduped across blocks).

    Callers must cap/salt oversized blocks first (operators/skew.py) — a
    block of n members contributes n·(n-1)/2 pairs.
    """
    a = block_df.select(F.col("block_key"), F.col(id_col).alias("id_a"))
    b = block_df.select(F.col("block_key"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "block_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def cross_block_pairs(
    new_blocks: DataFrame, old_blocks: DataFrame, id_col: str
) -> DataFrame:
    """The cross leg of an append's candidate pairs: batch block members
    joined to base members of the same ``block_key`` → canonical
    ``(id_a, id_b)`` pairs (``id_a < id_b``, NOT deduped). ``old_blocks``
    is the base block table already probed down to the batch's keys."""
    return (
        new_blocks.select("block_key", F.col(id_col).alias("__n"))
        .join(old_blocks.select("block_key", F.col(id_col).alias("__b")), "block_key")
        .select(
            F.least("__n", "__b").alias("id_a"),
            F.greatest("__n", "__b").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )


def sorted_neighborhood_pairs(df: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): sort the
    corpus by ``key_col`` (ties broken by ``id_col`` — a strict total
    order) and emit every pair within ``_SNM_WINDOW`` consecutive rows:
    → ``(id_a, id_b, dist)`` with ``id_a`` earlier in sort order and
    ``dist`` in 1.._SNM_WINDOW-1. The classic complement to equality blocking:
    near-miss keys (typos, prefix drift) land adjacent after sorting even
    though they never collide on an exact block key.

    Scale shape: the global sort position is computed WITHOUT a
    single-partition corpus window, by the packing-operator discipline
    (operators/packing.global_prefix_sum, recast for string keys): rows
    bucket by the first character of the key — ranges
    CONTIGUOUS in lexicographic order, so bucket order = key order —
    bucket counts aggregate map-side into a bucket-cardinality summary
    frame whose offset window is the only single-partition step; each
    row's position is bucket offset + within-bucket row_number. Neighbor
    pairs are then one equi-join on position (uniform key, explode factor
    window-1). Bucket boundaries CANNOT drop pairs: positions are global,
    so a window spanning two (or ten) buckets joins exactly the same as
    one inside a bucket.
    """
    keyed = df.select(
        F.col(id_col), F.col(key_col).alias("__k")
    ).withColumn("__bkt", F.substring("__k", 1, 1))
    counts = keyed.groupBy("__bkt").agg(F.count("*").cast("long").alias("__n"))
    # offset window runs over the bucket-cardinality frame only (tiny)
    off = counts.withColumn(
        "__off",
        F.coalesce(
            F.sum("__n").over(
                Window.orderBy("__bkt").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0).cast("long"),
        ),
    ).select("__bkt", "__off")
    rn = F.row_number().over(
        Window.partitionBy("__bkt").orderBy("__k", id_col)
    )
    pos = (
        keyed.join(F.broadcast(off), "__bkt")
        .withColumn("__pos", F.col("__off") + rn - 1)
        .select(id_col, "__pos")
    )
    a = pos.select(
        F.col(id_col).alias("id_a"),
        "__pos",
        F.explode(F.sequence(F.lit(1), F.lit(_SNM_WINDOW - 1))).alias("dist"),
    ).withColumn("__pos_b", F.col("__pos") + F.col("dist"))
    b = pos.select(F.col(id_col).alias("id_b"), F.col("__pos").alias("__pos_b"))
    return a.join(b, "__pos_b").select(
        "id_a", "id_b", F.col("dist").cast("long").alias("dist")
    )


def meta_block_prune(blocks: DataFrame) -> DataFrame:
    """Meta-blocking with weight-edge pruning (Papadakis et al.,
    "Meta-Blocking: Taking Entity Resolution to the Next Level", TKDE
    2014): refine a redundancy-positive block collection by scoring each
    candidate pair on how MUCH blocking evidence supports it, then pruning
    the weak tail — the standard recall-preserving candidate cutter when
    token/shingle blocking mints too many pairs (the reference's alias
    dictionary has the same problem on popular aliases,
    entity_database.py:85-100; its fix is a hard frequency cut, this one
    is evidence-weighted). ``blocks`` holds ``(doc_id, g)`` rows, one per
    document and block key.

    Edge weights per pair (``id_a < id_b`` canonical order):

    * ``cbs``  — common-block scheme: number of blocks the pair co-occurs
      in;
    * ``js_w`` — Jaccard scheme, ``floor(10⁶·cbs / (nb_a+nb_b−cbs))``
      over the pair's block-set sizes, computed in EXACT integer
      arithmetic (bit-portable: the DuckDB oracle reproduces it with
      integer division — no float mean-threshold boundary flips);
    * ``kept`` — WEP verdict: ``js_w >=`` the integer mean weight
      ``sum(js_w) div n_edges`` over all edges.

    Scale shape: the caller caps block sizes FIRST (cap_and_salt_blocks /
    df-capped postings — same contract as pairs_from_blocks); after that
    this is one self-join on the block key, one pair-keyed groupBy, two
    id-keyed joins for the block-set sizes, and a 1-row broadcast for the
    global mean. Nothing here is ever pairs² and no driver collect.
    """
    # b feeds three consumers (both self-join sides + the block-set sizes)
    # and w two (global mean + final verdict) — cut each once so the
    # posting dedup and the pair aggregation run a single time
    b = cut(
        blocks.select(F.col("doc_id").alias("id"), F.col("g").alias("bk"))
        .dropDuplicates(["id", "bk"])
    )
    nb = b.groupBy("id").agg(F.count("*").cast("long").alias("nb"))
    pairs = (
        b.alias("x")
        .join(b.alias("y"), "bk")
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count("*").cast("long").alias("cbs"))
    )
    w = (
        pairs.join(
            nb.select(F.col("id").alias("id_a"), F.col("nb").alias("nb_a")),
            "id_a",
        )
        .join(
            nb.select(F.col("id").alias("id_b"), F.col("nb").alias("nb_b")),
            "id_b",
        )
        .withColumn(
            "js_w",
            F.expr("(1000000 * cbs) div (nb_a + nb_b - cbs)").cast("long"),
        )
    )
    w = cut(w)
    mean = w.agg(F.expr("sum(js_w) div count(*)").cast("long").alias("__mw"))
    return (
        w.crossJoin(F.broadcast(mean))
        .select(
            "id_a",
            "id_b",
            "cbs",
            "js_w",
            (F.col("js_w") >= F.col("__mw")).alias("kept"),
        )
    )
