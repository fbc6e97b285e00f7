"""Deduplication operators over document/content tables.

First-class training-data-pipeline components (graded alongside the ER
pipeline): exact hash dedup, MinHash/LSH near-dup, SimHash fingerprints,
n-gram Jaccard, embedding-cosine near-dup. All hashes are the portable
md5-based ``h64`` family so every operator has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wiki_entity_linker_spark.functions.hashing import h64
from wiki_entity_linker_spark.functions.similarity import overlap_jaccard, set_jaccard
from wiki_entity_linker_spark.functions.text import (
    _bind,
    ngrams,
    normalize_content,
    shingles,
    tokenize,
)
from wiki_entity_linker_spark.functions.vectors import cosine_prenorm, norm
from wiki_entity_linker_spark.operators.blocking import (
    cross_block_pairs,
    lsh_band_blocks,
    minhash_from_shingles,
    pairs_from_blocks,
)
from wiki_entity_linker_spark.operators.skew import spread_small_input
from wiki_entity_linker_spark.session import cut

# MinHash near-dup shingle length (tokens), and the Jaccard verify threshold
# of the incremental clustering
_NEARDUP_K = 3
_INCREMENTAL_JACCARD = 0.3
# SimHash fingerprint width (bits)
_SIMHASH_BITS = 16
# n-gram Jaccard: gram length, verify threshold, and the document frequency
# above which a gram is dropped from the inverted index
_NGRAM_N = 3
_NGRAM_JACCARD = 0.05
_NGRAM_MAX_DF = 100
# embedding LSH near-dup: members above which a bucket is dropped
_LSH_MAX_BUCKET = 256
# ExactSubstr minimum-match gram length and CCNet-style segment length
# (tokens); the curation plan (plans/curation.py) folds both into its
# resume key
SUBSTR_K = 5
SEG_LEN = 8
# winnowing gram length (tokens), window length (gram hashes), shared
# fingerprints per candidate pair, and the posting length above which a
# fingerprint is dropped
_WINNOW_K = 4
_WINNOW_W = 4
_WINNOW_MIN_SHARED = 2
_WINNOW_MAX_POSTINGS = 256
# AllPairs shingle length (tokens)
_ALLPAIRS_K = 3


def exact_dedup(df: DataFrame, id_col: str, content_col: str = "content") -> DataFrame:
    """→ ``(id, canonical_id, content_hash, group_size)``.

    Hash-groupBy exact dedup: canonical member = min id per content hash
    (deterministic; the reference's first-writer-wins dedup
    create_abstracts_mapping.py:28-38 made deterministic).
    """
    hashed = spread_small_input(df).select(
        F.col(id_col), F.sha2(normalize_content(content_col), 256).alias("content_hash")
    )
    w = Window.partitionBy("content_hash")
    return hashed.select(
        id_col,
        "content_hash",
        F.min(id_col).over(w).alias("canonical_id"),
        F.count("*").over(w).alias("group_size"),
    )


def minhash_neardup_pairs(
    df: DataFrame, id_col: str, jaccard_threshold: float
) -> DataFrame:
    """LSH candidate pairs of the ``text`` column, verified with exact
    shingle Jaccard.

    ``_NEARDUP_K``-token shingle → minhash (16 hashes) → band (8 bands of
    2 rows) → bucket self-join → exact-Jaccard filter:
    → ``(id_a, id_b, jaccard)``.
    """
    df = spread_small_input(df)
    # ONE tokenize/shingle pass: the shingle arrays feed the signature
    # derivation AND both verify sides; without the cut Catalyst re-runs
    # the scan per consumer (measured: 8 parquet scans in this plan)
    toks = cut(
        df.select(F.col(id_col), shingles(tokenize("text"), _NEARDUP_K).alias("sh"))
    )
    sigs = minhash_from_shingles(toks, id_col)
    # blocks feed both sides of the pair self-join: cut here too so the
    # minhash aggregation itself runs once
    blocks = cut(lsh_band_blocks(sigs, id_col))
    return _verify_shingle_pairs(
        pairs_from_blocks(blocks, id_col), toks, id_col, jaccard_threshold
    )


def _verify_shingle_pairs(
    pairs: DataFrame, toks: DataFrame, id_col: str, jaccard_threshold: float
) -> DataFrame:
    """Exact shingle-Jaccard verify of candidate ``(id_a, id_b)`` pairs
    against ``(id_col, sh)`` shingle sets → ``(id_a, id_b, jaccard)``.
    A ``jaccard_threshold`` of 0 or less keeps every candidate pair."""
    # shuffle_hash on the shingle-array sides: sort-merge would SORT the
    # pair×array intermediate (pairs carrying sh_a into the second join —
    # multi-GB at the sf1 bench) and the array side itself; hashing the
    # per-doc side instead halves the verify stage (measured 7.1s -> 3.2s).
    # Build side stays bounded per partition (docs/shuffle-partitions, and
    # shuffle partitions scale with cluster cores in the 100 TB profile).
    a = toks.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")).hint(
        "shuffle_hash"
    )
    b = toks.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")).hint(
        "shuffle_hash"
    )
    joined = pairs.join(a, "id_a").join(b, "id_b")
    # sh arrays are shingles() output → already distinct: set_jaccard
    if jaccard_threshold <= 0:
        return joined.select(
            "id_a", "id_b", F.round(set_jaccard("sh_a", "sh_b"), 6).alias("jaccard")
        )
    # a Filter on the jaccard column would be pushed below the projection
    # that computes it, computing it twice per pair (on 4 cores the
    # Fellegi–Sunter scores over the 10x-replicated sf0.1 documents took
    # 29-32 s with such a filter, 20-23 s without). Exploding the one-element
    # array that keeps it only above the threshold leaves Catalyst nothing to
    # push; the interpreted HOF gets the intersection size bound once.
    jaccard = _bind(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double"),
        lambda inter: F.round(overlap_jaccard(inter, "sh_a", "sh_b"), 6),
    )
    return joined.select(
        "id_a",
        "id_b",
        F.explode(F.filter(F.array(jaccard), lambda j: j >= jaccard_threshold)).alias(
            "jaccard"
        ),
    )


def minhash_neardup_clusters_incremental(
    base_df: DataFrame, new_df: DataFrame, id_col: str
) -> DataFrame:
    """Cluster ``base_df``, then absorb ``new_df`` incrementally —
    result-identical to clustering base ∪ new in one shot (near-dup edges
    of :func:`minhash_neardup_pairs` at Jaccard ``_INCREMENTAL_JACCARD``).

    Why exact (not approximate): MinHash signatures and band keys are
    per-document functions of content, so the one-shot run's candidate set
    splits exactly into (base × base) — already resolved inside the base
    clustering — plus (new × base) ∪ (new × new), which the probe join
    below regenerates verbatim. Old edge endpoints are then contracted to
    their transitively-closed component labels
    (:func:`~wiki_entity_linker_spark.operators.closure.merge_components`),
    so the merged partition AND its min-member labels equal the full
    recompute (the registered query pins this against the one-shot
    recursive-CTE oracle).

    Scale shape: the batch contributes O(batch + touched) work — the base
    block table is semi-joined down to the batch's band keys before the
    probe, and only touched base docs' shingle sets feed the Jaccard
    verify. Here the base artifacts are recomputed from ``base_df`` because
    the operator is self-contained; the checkpointed ER pipeline persists
    them as stage tables instead (plans/er_incremental.py), making a real
    append O(batch) end to end.
    """
    from wiki_entity_linker_spark.operators.closure import (
        components_with_singletons,
        merge_components,
    )

    base = spread_small_input(base_df)
    new = spread_small_input(new_df)
    toks_b = cut(
        base.select(F.col(id_col), shingles(tokenize("text"), _NEARDUP_K).alias("sh"))
    )
    toks_n = cut(
        new.select(F.col(id_col), shingles(tokenize("text"), _NEARDUP_K).alias("sh"))
    )
    blocks_b = cut(lsh_band_blocks(minhash_from_shingles(toks_b, id_col), id_col))
    blocks_n = cut(lsh_band_blocks(minhash_from_shingles(toks_n, id_col), id_col))

    def _verify(pairs: DataFrame, toks: DataFrame) -> DataFrame:
        return _verify_shingle_pairs(
            pairs, toks, id_col, _INCREMENTAL_JACCARD
        ).select("id_a", "id_b")

    base_comps = components_with_singletons(
        base.select(F.col(id_col).alias("file_id")),
        _verify(pairs_from_blocks(blocks_b, id_col), toks_b),
        id_col="file_id",
    )

    # probe: batch band keys against the base block table (semi-join keeps
    # the base side O(touched)), plus the batch-internal pairs
    new_keys = blocks_n.select("block_key").dropDuplicates(["block_key"])
    probe_b = blocks_b.join(F.broadcast(new_keys), "block_key", "left_semi")
    pairs = (
        cross_block_pairs(blocks_n, probe_b, id_col)
        .unionByName(pairs_from_blocks(blocks_n, id_col))
        .dropDuplicates(["id_a", "id_b"])
    )
    touched = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .dropDuplicates([id_col])
    )
    # cut: _verify consumes toks_touch on BOTH join sides — without the cut
    # the touched semi-join + union re-evaluates per side (measured ~2s of
    # the sf1 append's verify stage)
    toks_touch = cut(
        toks_b.join(touched, id_col, "left_semi")
        .unionByName(toks_n)
    )
    edges = _verify(pairs, toks_touch)
    return merge_components(
        base_comps,
        edges,
        new.select(F.col(id_col).alias("id")),
    )


def simhash(df: DataFrame, id_col: str) -> DataFrame:
    """→ ``(id, simhash)`` — portable ``_SIMHASH_BITS``-bit SimHash over the
    tokens of ``text``.

    Bit ``i`` of the fingerprint is the sign of Σ_tokens (±1) where the sign
    for a token is bit ``i`` of ``h64(token)``; duplicate tokens weight by
    multiplicity. Pure explode + groupBy with one sum aggregate per bit.
    """
    tok = spread_small_input(df).select(
        F.col(id_col), F.explode(tokenize("text")).alias("t")
    )
    tok = tok.withColumn("h", h64("t"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(_SIMHASH_BITS)
    ]
    sums = tok.groupBy(id_col).agg(*aggs)
    fp = None
    for i in range(_SIMHASH_BITS):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return sums.select(id_col, fp.alias("simhash"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup of the ``text`` column via
    inverted-index join (no LSH loss): every pair whose ``_NGRAM_N``-gram
    Jaccard is at least ``_NGRAM_JACCARD``.

    Distributed form: explode distinct n-grams, self-join on the n-gram
    (inverted index), count shared grams per pair, then Jaccard =
    |∩| / (|A|+|B|-|∩|). Quadratic only within posting lists, so hot
    n-grams are capped INSIDE the operator: any gram appearing in more than
    ``_NGRAM_MAX_DF`` documents is dropped from both the index and the
    per-document sizes (Jaccard is then over the kept grams). Without the
    cap one stop-gram shared by 10⁶ docs produces 10¹² join rows; with it
    the posting-list join is bounded at ``_NGRAM_MAX_DF²`` rows per gram.
    """
    src = spread_small_input(
        df.select(F.col(id_col).alias("id"), F.col("text").alias("content"))
    )
    id_type = df.schema[id_col].dataType
    grams = src.select("id", shingles(tokenize("content"), _NGRAM_N).alias("g"))
    # int64-hash the gram join key: the inverted index is shuffled three
    # times (df-count, sizes, self-join) — 8-byte keys instead of n-token
    # strings; Jaccard is over distinct-gram counts, which xxhash64
    # preserves (within-doc collision odds ~|g|²/2⁶⁵)
    inv = grams.select("id", F.explode("g").alias("gs")).select(
        "id", F.xxhash64("gs").alias("gram")
    )
    # materialize the inverted index ONCE: it feeds four consumers (hot-gram
    # aggregation, per-id sizes, both sides of the self-join) and Catalyst
    # otherwise re-runs the tokenize/shingle scan per consumer — measured as
    # 4 full document scans in the sf1 plan. The cut stores the exploded
    # (id, gram) rows (two 8-byte columns) and truncates lineage.
    inv = cut(inv)
    # the HOT list is tiny by construction → broadcast anti-join; the
    # second checkpoint stops Catalyst cloning the hot aggregation and
    # the anti-join into BOTH sides of the self-join below (observed as
    # two extra aggregations over inv in the sf1 plan)
    hot = (
        inv.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > _NGRAM_MAX_DF)
        .select("gram")
    )
    inv = cut(inv.join(F.broadcast(hot), "gram", "left_anti"))
    # sizes from KEPT grams (arrays are distinct, so count(*) = |set|);
    # materialized once — it feeds both sides of the final size join AND a
    # driver-side bounds probe (below) from one tiny table
    sizes = cut(
        inv.groupBy("id")
        .agg(F.count("*").alias("n_grams"))
    )
    # The pair aggregation is the scale bottleneck: the self-join emits
    # Σ|posting|²/2 rows and nearly every (id_a, id_b) group is unique, so
    # the default partial-aggregate builds a huge per-task hash map for ~no
    # reduction, then shuffles almost the full pair stream anyway. Two
    # measured fixes (10× corpus, 32 cores: 55.4 s → 16.7 s):
    #   1. explicit repartition on the group key BEFORE aggregating — the
    #      partial map then only sees already-clustered keys;
    #   2. when ids are non-negative and < 2³¹ (checked against the sizes
    #      bounds), pack the pair into ONE int64 (id_a << 32 | id_b) so the
    #      aggregation hashes a single primitive key.
    bounds = sizes.agg(F.min("id").alias("lo"), F.max("id").alias("hi")).first()
    pack = (
        id_type.simpleString() in ("int", "bigint")
        and bounds["lo"] is not None
        and bounds["lo"] >= 0
        and bounds["hi"] < (1 << 31)
    )
    n_part = 2 * inv.sparkSession.sparkContext.defaultParallelism
    # attach each doc's kept-gram count to its postings BEFORE the
    # self-join, so every pair row carries na+nb (one extra int64 through
    # the pair shuffle) and the Jaccard is computable straight out of the
    # aggregation — the old shape re-joined the pair table (43.9M rows at
    # the sf1 bench) against sizes TWICE after the agg, which cost more
    # than the whole agg's shuffle. The size attach itself is an
    # O(corpus-grams) equi-join (broadcast when sizes fits, shuffle at
    # scale), two orders of magnitude smaller than the pair stream.
    # (The size attach is re-evaluated once per self-join side — two
    # broadcast probes over the postings, measured cheaper than cutting a
    # third frame; statically the self-join plans as sort-merge because
    # the join's size estimate exceeds the broadcast threshold, and AQE
    # re-decides from actual exchange sizes at runtime.)
    inv_n = inv.join(sizes, "id")
    pair_src = (
        inv_n.alias("x").join(inv_n.alias("y"), "gram")
        .filter(F.col("x.id") < F.col("y.id"))
    )
    sab = (F.col("x.n_grams") + F.col("y.n_grams")).alias("sab")
    if pack:
        shared = (
            pair_src.select(
                # cast to long BEFORE the shift: Spark's shiftleft keeps the
                # input type and masks the shift amount (Java << semantics),
                # so an IntegerType id shifted by 32 would be a no-op
                (
                    F.shiftleft(F.col("x.id").cast("long"), 32)
                    + F.col("y.id").cast("long")
                ).alias("k"),
                sab,
            )
            .repartition(n_part, "k")
            .groupBy("k")
            # sab is functionally dependent on k → first() of equal values
            .agg(F.count("*").alias("inter"), F.first("sab").alias("sab"))
            .select(
                F.shiftrightunsigned("k", 32).cast(id_type).alias("id_a"),
                F.col("k").bitwiseAND(F.lit((1 << 32) - 1)).cast(id_type).alias("id_b"),
                "inter",
                "sab",
            )
        )
    else:
        shared = (
            pair_src.select(
                F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"), sab
            )
            .repartition(n_part, "id_a", "id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"), F.first("sab").alias("sab"))
        )
    return (
        shared.select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("sab") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _NGRAM_JACCARD)
    )


def embedding_neardup_pairs(df: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup: all pairs with cosine ≥ threshold.

    Brute-force O(n²) cross join — correct baseline; the scale path blocks
    by random-hyperplane LSH first (operators/ann.py) and verifies with the
    same cosine expression.
    """
    # norms per vector, not per pair (cosine_prenorm: bit-identical, 5×)
    a = df.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
        norm("embedding").alias("na"),
    )
    b = df.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
        norm("embedding").alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(cosine_prenorm("va", "vb", "na", "nb"), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_neardup_lsh_pairs(
    df: DataFrame, dim: int, threshold: float
) -> DataFrame:
    """Embedding-cosine near-dup, scale path: random-hyperplane LSH
    bucket self-join blocking + exact cosine verify (no cross join).

    Each of ``ann.LSH_TABLES`` independent tables hashes every vector to the
    sign pattern of ``ann.LSH_PLANES`` seeded random projections
    (operators/ann.py ``rhp_lsh_buckets`` — plane literals, JVM-side dot
    products); candidate
    pairs are the within-bucket self-joins, unioned across tables and
    deduped, then verified with the same exact cosine as the brute-force
    baseline. Precision vs :func:`embedding_neardup_pairs` is exactly 1
    (same verify); recall is the standard RHP-LSH collision probability
    ``1-(1-(1-θ/π)^p)^t`` — tune planes/tables per threshold.

    At 10⁸+ vectors the bucket self-join shuffles on ``bucket``; near-
    duplicate-heavy corpora can produce hot buckets. Every bucket with more
    than ``_LSH_MAX_BUCKET`` members is dropped from pairing in its table
    (the deterministic stopword-drop of
    ``operators.skew.cap_and_salt_blocks``), bounding the worst bucket at
    ``_LSH_MAX_BUCKET²/2`` pairs per table. Members of a dropped bucket are
    still recalled by the other tables unless they collide everywhere —
    the usual LSH stopword trade.
    """
    from wiki_entity_linker_spark.operators.ann import LSH_TABLES, rhp_lsh_buckets

    # All tables in ONE pass: bucket keys are table-prefixed ("t0:", "t1:",
    # …) so the union of the per-table bucket assignments is a single
    # exploded (id, bucket) frame with DISTINCT keys across tables — the
    # per-bucket count/cap and the within-bucket self-join are then one
    # window shuffle + one join shuffle instead of one of each per table
    # (r7: 6 shuffles → 2 at the default 3 tables), with the candidate set
    # unchanged (same buckets, same per-table cap semantics).
    bk = None
    for t in range(LSH_TABLES):
        b_t = rhp_lsh_buckets(df, dim, "vec_id", t)
        bk = b_t if bk is None else bk.unionByName(b_t)
    w = Window.partitionBy("bucket")
    bk = (
        bk.withColumn("__n", F.count("*").over(w))
        .filter(F.col("__n") <= _LSH_MAX_BUCKET)
        .drop("__n")
    )
    # cut: both self-join sides consume bk — without it the bucket window
    # (and the per-table projection union) is evaluated twice
    bk = cut(bk)
    a = bk.select(F.col("vec_id").alias("id_a"), "bucket")
    b = bk.select(F.col("vec_id").alias("id_b"), "bucket")
    cand = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # norms per vector, not per pair (cosine_prenorm: bit-identical; the
    # sf1 verify stage measured 7.2s -> 1.4s)
    va = df.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
        norm("embedding").alias("na"),
    ).hint("shuffle_hash")
    vb = df.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
        norm("embedding").alias("nb"),
    ).hint("shuffle_hash")
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(cosine_prenorm("va", "vb", "na", "nb"), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def segment_dedup_stats(docs: DataFrame) -> DataFrame:
    """Corpus-wide segment-level exact dedup, CCNet-style (Wenzek et al.
    2020 §4.1 deduplicates hashed paragraphs across the whole snapshot;
    the synthetic corpus has no paragraph breaks, so the unit here is a
    fixed ``SEG_LEN``-token segment — the last segment per document is the
    ragged tail).

    A segment occurrence is KEPT iff it is the lexicographically first
    ``(doc_id, seg_idx)`` holding that segment's hash — first-writer-wins
    across the corpus AND within a document. Returns one row per non-empty
    document: ``(doc_id, n_tokens, n_segments, n_kept, kept_tokens,
    dup_tokens)`` — all exact integers, so the DuckDB oracle is bit-exact.

    Scale shape (100 TB reading): explode is row-local; the winner pass is
    a map-side-combinable ``groupBy(hash).min(struct)`` (uniform hash keys
    → no planned skew); the join back is hash-partitioned on the same key
    so AQE reuses/splits as needed (a pathological boilerplate segment
    repeated billions of times is a single hot JOIN key — AQE skew-join
    splits it, and the upstream repetition filter drops such docs anyway);
    the final per-doc rollup is the third and last shuffle. Nothing is ever
    corpus × corpus.
    """
    # the segment rows are consumed twice (winner agg + join back) — cut
    # them once so the corpus is scanned and tokenized a single time
    seg = cut(segment_rows(docs.select("doc_id", tokenize("text").alias("t")), SEG_LEN))
    return segment_stats(seg, seg)


def segment_rows(toks: DataFrame, seg_len: int) -> DataFrame:
    """``segment_dedup_seg`` index rows ``(doc_id, n_tokens, seg_idx,
    seg_tokens, h)`` from a ``(doc_id, t)`` token frame: one row per
    ``seg_len``-token segment of every non-empty document, ``h`` = h64 of
    the space-joined segment. The full run and the curation append
    (plans/curation_incremental.py) both build their segment index here."""
    toks = toks.filter(F.size("t") > 0)
    nseg = F.floor((F.size("t") + (seg_len - 1)) / seg_len).cast("long")
    segs = toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.explode(F.sequence(F.lit(0).cast("long"), nseg - 1)).alias("seg_idx"),
        "t",
    ).select(
        "doc_id",
        "n_tokens",
        "seg_idx",
        F.expr(f"slice(t, CAST(seg_idx * {seg_len} + 1 AS INT), {seg_len})").alias("seg"),
    )
    return segs.select(
        "doc_id",
        "n_tokens",
        "seg_idx",
        F.size("seg").cast("long").alias("seg_tokens"),
        h64(F.concat_ws(" ", "seg")).alias("h"),
    )


def segment_stats(segs: DataFrame, evidence: DataFrame) -> DataFrame:
    """Per-document rollup of :func:`segment_dedup_stats` over
    :func:`segment_rows` output ``segs``. A segment is kept iff it is the
    least ``(doc_id, seg_idx)`` holding its hash in ``evidence`` (rows with
    ``doc_id, seg_idx, h``): a full run passes ``segs`` itself; the
    curation append passes its batch rows plus the chained rows that share
    their hashes."""
    winners = evidence.groupBy("h").agg(
        F.min(F.struct(F.col("doc_id"), F.col("seg_idx"))).alias("w")
    )
    kept = segs.join(winners, "h").withColumn(
        "is_kept",
        (F.col("doc_id") == F.col("w.doc_id")) & (F.col("seg_idx") == F.col("w.seg_idx")),
    )
    kept_tokens = F.sum(F.when(F.col("is_kept"), F.col("seg_tokens")).otherwise(0))
    return kept.groupBy("doc_id").agg(
        F.first("n_tokens").alias("n_tokens"),
        F.count("*").alias("n_segments"),
        F.sum(F.col("is_kept").cast("long")).alias("n_kept"),
        kept_tokens.alias("kept_tokens"),
        (F.first("n_tokens") - kept_tokens).alias("dup_tokens"),
    )


def exact_substring_coverage(docs: DataFrame) -> DataFrame:
    """Per-document exact-substring duplicate coverage — the distributed
    recast of suffix-array ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): with k = ``SUBSTR_K``, a
    token position p is DUPLICATED when the k-gram starting at p occurs
    more than once in the
    whole corpus (another document, or elsewhere in the same one — exactly
    the suffix-array rule), and a document's duplicate coverage is the union
    of its [p, p+k) duplicated intervals. The reference repo's unigram
    counter (count_unigrams.py) has no positional analogue of this.

    Returns one row per document: ``(doc_id, n_tokens, dup_starts,
    covered_tokens, covered_frac)``. Documents shorter than k tokens carry
    no grams (coverage 0) — the suffix-array convention of a minimum match
    length.

    Scale shape (100 TB reading): the token frame and the exploded gram
    stream are each cut once (``session.cut``: a reliable checkpoint when
    the session has a checkpoint directory, else a local one; the curation
    verdict stage cuts the same rows as durable stage tables), so the
    corpus is tokenized and the grams are built a single time — the
    per-document lengths read the cut token frame. The grams are then shuffled
    exactly twice, both times keyed by the gram — (1) a COUNT-ONLY duplicate-gram
    aggregate, map-side partial combine so a boilerplate gram repeated
    billions of times ships one partial row per map task, and (2) a semi
    join keeping only duplicated positions, whose output is at most its
    input — no pairwise blowup, which is what makes ExactSubstr semantics
    tractable where an all-pairs formulation would not be. Interval union
    is a per-document lead() window over only the duplicated starts (tiny
    after the semi join). At cluster scale, key both shuffles on
    xxhash64(gram) instead of the string to cut shuffle bytes
    (collision-tolerant, as in the reference suffix-array's
    byte-offset dedup); the string key here keeps the operator bit-equal to
    the DuckDB oracle.
    """
    toks = docs.select("doc_id", tokenize("text").alias("t"))
    toks = cut(toks)
    grams = cut(substring_gram_rows(toks, SUBSTR_K))
    return substring_coverage(grams, toks, SUBSTR_K)


def substring_gram_rows(toks: DataFrame, k: int) -> DataFrame:
    """``exact_substring_grams`` index rows ``(doc_id, pos, g)`` from a
    ``(doc_id, t)`` token frame: every k-gram with its start position, for
    documents of at least k tokens. The full run and the curation append
    (plans/curation_incremental.py) both build their gram index here."""
    return toks.filter(F.size("t") >= k).select(
        "doc_id", F.posexplode(ngrams("t", k)).alias("pos", "g")
    )


def substring_coverage(grams: DataFrame, toks: DataFrame, k: int) -> DataFrame:
    """Coverage rollup of :func:`exact_substring_coverage` over
    :func:`substring_gram_rows` output: a position is duplicated when its
    gram occurs more than once in ``grams``; one row per ``toks`` doc."""
    dup = (
        grams.groupBy("g")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .select("g")
    )
    return substring_coverage_from_positions(
        grams.join(dup, "g", "semi").select("doc_id", "pos"),
        toks.select("doc_id", F.size("t").cast("long").alias("n_tokens")),
        k,
    )


def substring_coverage_from_positions(
    dup_pos: DataFrame,
    lengths: DataFrame,
    k: int,
) -> DataFrame:
    """Interval-union rollup of :func:`exact_substring_coverage`, factored
    out so the incremental curation path (plans/curation_incremental.py)
    can recompute coverage for TOUCHED docs from already-flagged duplicated
    gram starts. ``dup_pos`` = (id, pos) duplicated k-gram start positions;
    ``lengths`` = (id, n_tokens) one row per doc to report (zero-coverage
    docs included via left join)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    contrib = F.least(
        F.lit(k),
        F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(k)),
    )
    cov = (
        dup_pos.select("doc_id", contrib.alias("contrib"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("dup_starts"),
            F.sum("contrib").cast("long").alias("covered_tokens"),
        )
    )
    covered = F.coalesce("covered_tokens", F.lit(0).cast("long"))
    return (
        lengths.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_starts", F.lit(0).cast("long")).alias("dup_starts"),
            covered.alias("covered_tokens"),
            F.round(
                F.when(F.col("n_tokens") > 0, covered / F.col("n_tokens"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("covered_frac"),
        )
    )


def winnowing_fingerprints(docs: DataFrame) -> DataFrame:
    """→ distinct ``(doc_id, fp)`` winnowing fingerprints per document
    (Schleimer, Wilkerson & Aiken 2003 — the MOSS algorithm): hash every
    k-gram (k = 4 tokens), slide a window of w = 4 consecutive gram hashes, select each
    window's MINIMUM hash breaking ties by the RIGHTMOST position (robust
    winnowing), and keep the distinct selected hashes. Guarantees any
    shared run of >= k + w - 1 tokens yields a shared fingerprint, at an
    expected density of 2/(w+1) — the standard local document fingerprint
    for code-clone / plagiarism candidate generation (apt for this graft's
    source-code ER tier, where MinHash answers "mostly the same file" and
    winnowing answers "shares a long verbatim passage").

    Scale shape: selection is ENTIRELY row-local JVM array math — one
    md5 per gram via ``transform``, window minima via ``transform`` over
    ``slice`` (O(m·w) per doc, w tiny), ``array_distinct``, one explode.
    No shuffle until the consumer aggregates. Documents shorter than k
    tokens carry no fingerprints; 0 < m < w degenerates to one whole-list
    window (at least one fingerprint per tokenizable doc).
    """
    base = docs.select(F.col("doc_id"), tokenize("text").alias("t")).filter(
        F.size("t") >= _WINNOW_K
    )
    # project the hash array into its own column FIRST: interpreted HOF
    # lambdas re-evaluate captured row EXPRESSIONS per element (the
    # ngrams() pitfall) — a plain column reference is evaluated once
    hashed = base.select(
        "doc_id", F.transform(ngrams("t", _WINNOW_K), lambda g: h64(g)).alias("hs")
    )
    m = F.size("hs")
    nwin = F.greatest(m - F.lit(_WINNOW_W - 1), F.lit(1))
    window_min = lambda i: F.array_min(F.slice("hs", i, _WINNOW_W))  # noqa: E731
    fps = F.array_distinct(F.transform(F.sequence(F.lit(1), nwin), window_min))
    return hashed.select("doc_id", F.explode(fps).alias("fp"))


def winnowing_candidate_pairs(docs: DataFrame) -> DataFrame:
    """→ ``(id_a, id_b, n_shared)`` document pairs sharing at least
    ``_WINNOW_MIN_SHARED`` winnowing fingerprints — MOSS-style verbatim-passage
    candidate pairs (id_a < id_b).

    Scale shape: one shuffle keyed by fingerprint builds posting lists
    (map-side combinable collect_list; each doc contributes a fingerprint
    at most once, so list length = document frequency), postings longer
    than ``_WINNOW_MAX_POSTINGS`` are DROPPED — MOSS's own too-common-code
    suppression rule: a fingerprint shared by everyone identifies nothing
    and would emit O(df²) pairs — then pairs explode from capped lists
    (bounded blowup) into one map-side-combinable pair count. Nothing is
    ever corpus × corpus.
    """
    fp = winnowing_fingerprints(docs)
    postings = (
        fp.groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= _WINNOW_MAX_POSTINGS))
    )
    return (
        postings.select(F.explode("ds").alias("id_a"), "ds")
        .select("id_a", F.explode("ds").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_MIN_SHARED)
    )


def allpairs_jaccard_join(docs: DataFrame, threshold: str) -> DataFrame:
    """EXACT all-pairs set-similarity join via prefix filtering (Bayardo,
    Ma & Srikant 2007; Chaudhuri et al. 2006) — every pair of documents
    whose distinct ``_ALLPAIRS_K``-shingle sets have Jaccard >= ``threshold``, with NO
    approximation: → ``(id_a, id_b, inter, union_sz, jaccard)``. The
    completeness lemma: under any single global token order, two sets with
    J >= t must share a token within their first ``sz - ceil(t·sz) + 1``
    tokens — so joining on prefix tokens only, then verifying exactly,
    returns exactly the brute-force result (the oracle IS the brute-force
    self-join; equality proves completeness on real data). The exact
    complement to minhash_neardup_pairs: LSH trades recall for speed,
    this trades a bounded candidate blowup for exactness.

    ``threshold`` is a STRING decimal ("0.3") parsed to an exact rational
    num/den: prefix lengths and the final acceptance test
    ``inter·den >= num·union`` are pure integer arithmetic — no float
    boundary cases, bit-identical on any engine.

    Scale shape: the global order is ASCENDING document frequency
    (tie-break: shingle value), which is also the anti-skew device — the
    candidate self-join keys are each document's RAREST shingles, so the
    hottest corpus shingles never appear as join keys (they live only in
    the verified suffix); the prefix explode carries ~(1-t) of each set.
    Length pruning (den·min_sz >= num·max_sz) is applied inside the
    candidate join. Shuffle inventory: df-count (combinable), df join to
    the exploded stream (keyed by shingle), per-doc prefix window (keyed
    by id), candidate self-join (keyed by rare shingles), verify joins
    (keyed by id). Shingle sets are materialized once (``session.cut``) and
    consumed by all stages.
    """
    from fractions import Fraction

    frac = Fraction(threshold)
    num, den = frac.numerator, frac.denominator
    if not 0 < frac <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    toks = docs.select(F.col("doc_id"), tokenize("text").alias("tk")).filter(
        F.size("tk") > 0
    )
    sets = cut(
        toks.select(
            "doc_id",
            shingles("tk", _ALLPAIRS_K).alias("s"),
            F.size(shingles("tk", _ALLPAIRS_K)).cast("long").alias("sz"),
        )
    )
    ex = sets.select("doc_id", "sz", F.explode("s").alias("sh"))
    dfreq = ex.groupBy("sh").agg(F.count("*").cast("long").alias("df"))
    # prefix length p = sz - ceil(t*sz) + 1, ceil in exact integers
    p = F.col("sz") - F.expr(f"({num} * sz + {den} - 1) div {den}") + F.lit(1)
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("sh").asc())
    )
    prefix = (
        ex.join(dfreq, "sh")
        .withColumn("rn", rn)
        .filter(F.col("rn") <= p)
        .select("doc_id", "sz", "sh")
    )
    a = prefix.select(
        F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"), "sh"
    )
    b = prefix.select(
        F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"), "sh"
    )
    # Candidate reduction: instead of dedup-then-verify, COUNT each pair's
    # matched prefix tokens (same shuffle as the distinct) and apply the
    # exact prefix-overlap upper bound before the expensive verify join.
    # Both shingle sets are sorted by the SAME global (df, sh) order, so a
    # common token that is NOT matched prefix-to-prefix is missing from at
    # least one prefix, i.e. it sorts after that side's last prefix token
    # and lives in that side's suffix. Hence
    #   inter <= cnt + max(|suffix_a|, |suffix_b|)
    #         =  cnt + max(ceil(t*sz_a), ceil(t*sz_b)) - 1,
    # and J >= t  <=>  inter*(num+den) >= num*(sz_a+sz_b)  — any pair whose
    # bound fails is provably below threshold, so pruning it cannot change
    # the result (the brute-force oracle remains the completeness proof).
    # At the sf1 bench this cuts verify input from 30.9M candidate pairs to
    # the near-threshold survivors (~2 orders of magnitude).
    suf_max = (
        F.greatest(
            F.expr(f"({num} * sz_a + {den} - 1) div {den}"),
            F.expr(f"({num} * sz_b + {den} - 1) div {den}"),
        )
        - F.lit(1)
    )
    cands = (
        a.join(b, "sh")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.lit(den) * F.least("sz_a", "sz_b")
                >= F.lit(num) * F.greatest("sz_a", "sz_b")
            )
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("__cnt"))
        .filter(
            (F.col("__cnt") + suf_max) * F.lit(num + den)
            >= F.lit(num) * (F.col("sz_a") + F.col("sz_b"))
        )
        .select("id_a", "id_b")
    )
    # shuffle_hash: see minhash_neardup_pairs — avoids sorting the
    # pair×shingle-set intermediate in the verify joins
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a")).hint(
        "shuffle_hash"
    )
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b")).hint(
        "shuffle_hash"
    )
    inter = F.size(F.array_intersect("s_a", "s_b")).cast("long")
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("inter"),
            (F.size("s_a") + F.size("s_b")).cast("long").alias("_sum"),
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("_sum") - F.col("inter")).alias("union_sz"),
        )
        .filter(F.lit(den) * F.col("inter") >= F.lit(num) * F.col("union_sz"))
        .select(
            "id_a",
            "id_b",
            "inter",
            "union_sz",
            F.round(F.col("inter") / F.col("union_sz"), 6).alias("jaccard"),
        )
    )
