"""End-to-end entity-resolution pipeline over source-code file tables.

Spark recast of the reference's full linking dataflow (SURVEY.md §3.2):
where wiki_entity_linker preloads 55 GB of alias dictionaries into a
forkserver and scans articles one at a time (link_text.py:89-97), this plan
is declarative end to end:

1. ``ingest``       — file ids + sha256 invariant column (input_hint);
2. ``exact_groups`` — hash-groupBy exact dedup; **every downstream stage
                      operates on canonical representatives only**, which is
                      what makes the vendored-file hot block (10% of repos →
                      one representative) cheap at any scale;
3. ``blocks``       — alias-dictionary blocks ∪ MinHash/LSH band blocks,
                      stopword-capped and salted (explicit skew handling);
4. ``pairs``        — block self-join → canonical candidate pairs;
5. ``scores``       — shingle Jaccard and hashed-TF cosine, both JVM
                      expressions over the per-doc int features (no Python
                      worker) — the batched-candidate-scoring pattern of
                      trained_entity_linker.py:124-142;
6. ``edges``        — threshold rule → match edges;
7. ``components``   — large-star/small-star connected components;
8. ``assignment``   — expand components back over exact-dup group members;
9. ``metrics``      — pairwise P/R/F1 vs labeled pairs (evaluate.py recast).

Every stage checkpoints through :class:`StageManager` (resume + lineage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wiki_entity_linker_spark.eval.pairwise import evaluate_against_labeled_pairs
from wiki_entity_linker_spark.functions.similarity import (
    hashed_tokens,
    set_jaccard,
    tf_compress,
    tf_dot,
)
from wiki_entity_linker_spark.functions.text import normalize_content, shingles, tokenize
from wiki_entity_linker_spark.operators.blocking import (
    DEFAULT_BANDS,
    DEFAULT_N_HASHES,
    alias_blocks_from_features,
    alias_dict_blocks,
    def_name_keys,
    lsh_band_blocks,
    minhash_from_hashes,
    pairs_from_blocks,
    path_stem_key,
    with_file_id,
)
from wiki_entity_linker_spark.operators.closure import (
    _CC_MAX_ITER,
    components_with_singletons,
)
from wiki_entity_linker_spark.operators.skew import (
    SALT_CAP,
    STOPWORD_BLOCK_MAX,
    cap_and_salt_blocks,
    spread_small_input,
)
from wiki_entity_linker_spark.plans.checkpoint import StageManager


def _input_fingerprint(df: DataFrame) -> str:
    """Cheap identity for a source DataFrame, folded into the resume key.

    Parquet/Iceberg-backed sources are identified by their file listing +
    schema (metadata-only — no scan); in-memory sources (test fixtures) fall
    back to schema + row count.
    """
    from wiki_entity_linker_spark.plans.checkpoint import params_hash

    files = sorted(df.inputFiles())
    ident: dict = {"schema": df.schema.json(), "files": files}
    if 0 < len(files) <= 1024:
        # Fold per-file (size, mtime) into the identity so a JSONL/TSV file
        # overwritten in place under the same name invalidates the resume key
        # (parquet writers randomize part names, but text sources don't).
        # Each status is a serial driver-side Py4J + FileSystem RPC, so this
        # is capped: beyond 1024 files the listing alone identifies the
        # input — at that scale the source is a managed parquet/Iceberg
        # table whose part names change on rewrite anyway.
        jvm = df.sparkSession._jvm
        jsc = df.sparkSession._jsc
        conf = jsc.hadoopConfiguration()
        stats = []
        for f in files:
            try:
                p = jvm.org.apache.hadoop.fs.Path(f)
                st = p.getFileSystem(conf).getFileStatus(p)
                stats.append((st.getLen(), st.getModificationTime()))
            except Exception:  # non-FS source (e.g. in-memory view path)
                stats.append(None)
        ident["stats"] = stats
    elif not files:
        ident["rows"] = df.count()
    return params_hash(ident)


#: the pipeline's decision rule. Every stage reads these, and
#: :func:`resume_params` folds them into the resume key, so editing one
#: invalidates an old workdir.
K_SHINGLE = 3
JACCARD_THRESHOLD = 0.16
COSINE_THRESHOLD = 0.996


def resume_params() -> dict:
    """The constants above, with the LSH shape, the block caps and the
    components round cap the operators own, as the StageManager params of a
    full run and of an append (plans/er_incremental.py)."""
    return {
        "k_shingle": K_SHINGLE,
        "n_hashes": DEFAULT_N_HASHES,
        "bands": DEFAULT_BANDS,
        "jaccard_threshold": JACCARD_THRESHOLD,
        "cosine_threshold": COSINE_THRESHOLD,
        "stopword_block_max": STOPWORD_BLOCK_MAX,
        "salt_cap": SALT_CAP,
        "max_cc_iter": _CC_MAX_ITER,
    }


def ingest_projection(raw: DataFrame) -> DataFrame:
    """Metadata + per-row invariant hashes ONLY — no content column (see the
    memory-contract note in :func:`run_er_pipeline`). Shared with the
    incremental append path (plans/er_incremental.py) so both compute
    identical content identities."""
    return raw.select(
        "file_id",
        "repo",
        "path",
        "commit",
        "lang",
        F.sha2("content", 256).alias("sha256"),
        F.sha2(normalize_content("content"), 256).alias("content_hash"),
    )


def build_features(rep_rows: DataFrame) -> DataFrame:
    """Per-doc feature table from ``(file_id, path, lang, content)`` rows —
    ONE pass over content, shared by blocking and scoring:

    * ``hsh``: xxhash64 of each distinct k-shingle (int64 array),
    * ``tfu``/``tfc``/``tfn``: compressed TF (sorted unique hashed tokens,
      counts, precomputed norm) so the pair cosine is one sorted merge,
    * ``stem``/``defs``: alias blocking keys,
    * ``fname``: the file name. No stage reads it; it stays because an
      append unions the base's feature table with its batch's, so
      dropping a column changes the schema every chain level shares.

    Int arrays are ~10× cheaper to intersect per pair than string shingle
    arrays; raw content is never cached or shuffled anywhere.
    """
    return (
        # tokens in a projection of their own: referenced twice above it,
        # they stay there (Catalyst collapses no projection that would copy
        # a non-trivial expression) and content is tokenized once per doc
        rep_rows.select(
            "file_id",
            F.element_at(F.split("path", "/"), -1).alias("fname"),
            path_stem_key().alias("stem"),
            def_name_keys().alias("defs"),
            tokenize("content").alias("toks"),
        )
        .select(
            "file_id",
            "fname",
            "stem",
            "defs",
            F.transform(shingles("toks", K_SHINGLE), lambda s: F.xxhash64(s)).alias("hsh"),
            tf_compress(hashed_tokens("toks")).alias("tf"),
        )
        .select(
            "file_id",
            "fname",
            "stem",
            "defs",
            "hsh",
            F.col("tf.u").alias("tfu"),
            F.col("tf.c").alias("tfc"),
        )
        .withColumn(
            "tfn",
            F.sqrt(
                F.aggregate(
                    "tfc",
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"),
                )
            ),
        )
    )


def raw_block_keys(
    feats: DataFrame,
    reps: DataFrame | None = None,
    alias_dict: DataFrame | None = None,
) -> DataFrame:
    """All blocking keys (alias-dictionary ∪ LSH bands) from the feature
    table — UNCAPPED and UNSALTED. The full pipeline caps+salts this before
    its pair self-join; the incremental path probes it directly (a new
    member must see every old member of a shared block, so the probe join
    works on raw keys and applies the stopword cap on combined sizes)."""
    ab = alias_blocks_from_features(feats)
    lb = lsh_band_blocks(minhash_from_hashes(feats))
    blocks = ab.unionByName(lb)
    if alias_dict is not None and reps is not None:
        blocks = blocks.unionByName(alias_dict_blocks(reps, alias_dict))
    return blocks


def score_pairs(pairs: DataFrame, feats: DataFrame) -> DataFrame:
    """Similarity scores for candidate pairs over the per-doc int features,
    all JVM expressions: no Python worker starts in this stage.

    ``shingle_jaccard`` is ``set_jaccard`` over the xxhash64 ``hsh``
    arrays, so it equals the Jaccard of the shingle sets only while no two
    distinct shingles hash alike: a collision merges two shingles and
    biases the score upward."""
    # shuffle_hash on the feature-array sides: sort-merge would sort the
    # pair×feature-array intermediate between the two joins (the arrays are
    # the payload); hashing the bounded per-doc side avoids both sorts
    # (same measured 2× as the dedup verify joins)
    a = feats.select(
        F.col("file_id").alias("id_a"),
        F.col("hsh").alias("hsh_a"),
        F.col("tfu").alias("tfu_a"),
        F.col("tfc").alias("tfc_a"),
        F.col("tfn").alias("tfn_a"),
    ).hint("shuffle_hash")
    b = feats.select(
        F.col("file_id").alias("id_b"),
        F.col("hsh").alias("hsh_b"),
        F.col("tfu").alias("tfu_b"),
        F.col("tfc").alias("tfc_b"),
        F.col("tfn").alias("tfn_b"),
    ).hint("shuffle_hash")
    # No repartition between the joins and the scorer projection: the
    # join output already moves every feature array once per side, and a
    # third array shuffle dominated the stage at larger corpora (the
    # joined arrays are the payload — ids are noise). Partition-count
    # floors are handled by spark.sql.shuffle.partitions = cores.
    dot = tf_dot("tfu_a", "tfc_a", "tfu_b", "tfc_b")
    tf_cos = (
        F.when((F.col("tfn_a") == 0) & (F.col("tfn_b") == 0), F.lit(1.0))
        .when((F.col("tfn_a") == 0) | (F.col("tfn_b") == 0), F.lit(0.0))
        .otherwise(dot / (F.col("tfn_a") * F.col("tfn_b")))
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            # hsh = xxhash64 of DISTINCT shingles → already element-distinct
            F.round(set_jaccard("hsh_a", "hsh_b"), 6).alias("shingle_jaccard"),
            F.round(tf_cos, 6).alias("tf_cosine"),
        )
    )


def match_edges(scores: DataFrame) -> DataFrame:
    """Deterministic decision rule → match edges. Content-only on purpose:
    no file-name score gates (a renamed exact near-copy must still
    match)."""
    is_match = (F.col("shingle_jaccard") >= JACCARD_THRESHOLD) | (
        F.col("tf_cosine") >= COSINE_THRESHOLD
    )
    return scores.filter(is_match).select("id_a", "id_b")


def run_er_pipeline(
    spark: SparkSession,
    source_files: DataFrame,
    labeled_pairs: DataFrame | None,
    workdir: str,
    checkpoint: bool = True,
    alias_dict: DataFrame | None = None,
    store=None,
) -> dict[str, DataFrame]:
    # The resume key must identify the INPUT, not just the constants: the same
    # workdir re-run against different source files (or with alias_dict
    # toggled) must invalidate, not silently resume stale stage tables.
    mgr = StageManager(
        spark,
        workdir,
        resume_params()
        | {
            "input": _input_fingerprint(source_files),
            "alias_dict": None if alias_dict is None else _input_fingerprint(alias_dict),
        },
        enabled=checkpoint,
        store=store,
    )

    # 1. ingest — canonical ids + per-row sha256 invariant; spread the raw
    # scan across cores immediately (upstream may be one parquet split).
    # MEMORY CONTRACT: the ingest table carries METADATA ONLY — no content
    # column. Caching bulk content (twice: ingest + reps) starved executor
    # storage at larger corpora and made the 32-core config SLOWER than the
    # 8-core one; content is scanned exactly once more, below, to build the
    # compact per-doc feature table, and never cached raw.
    # only SHUFFLE raw content when the source arrives under-partitioned
    # (in-memory test frames, a single parquet split); a well-split parquet
    # scan (spark.sql.files.maxPartitionBytes) is already parallel and a
    # full-content repartition would move every byte twice for nothing
    raw = with_file_id(
        spread_small_input(source_files, min_factor=1.0, target_factor=2)
    )

    # Metadata + invariants ONLY (ingest_projection). Do NOT fold the
    # feature expressions in here: one giant projection exceeds the
    # whole-stage-codegen method limit and Spark falls back to INTERPRETED
    # expression eval — observed as a single task pinning a core for 10+
    # minutes. Higher-order functions always run interpreted, so codegen's
    # common-subexpression elimination never dedupes a row expression
    # inside them; text.ngrams binds its token array as a lambda variable
    # (text._bind) so tokenize(content) runs once per row either way.
    ingested = mgr.stage("ingest", lambda: ingest_projection(raw))

    # 2. exact-duplicate groups; representatives carry all downstream cost.
    # Deliberately NO collect_list of member ids: a pathological duplicate
    # group (empty files, LICENSE boilerplate — guaranteed at 10^12 files)
    # would put millions of ids into one row's array and OOM the executor.
    # Membership stays flat in `ingested(file_id, content_hash)` and is
    # recovered by equi-join in the assignment stage.
    def _exact() -> DataFrame:
        return ingested.groupBy("content_hash").agg(
            F.min("file_id").alias("rep_id"),
            F.count("*").alias("group_size"),
        )

    exact_groups = mgr.stage("exact_groups", _exact)

    # Representatives' raw rows (NOT cached — consumed once, by the feature
    # projection), spread across cores for the CPU-heavy shingle expressions.
    n_part = spark.sparkContext.defaultParallelism
    rep_ids = exact_groups.select(F.col("rep_id").alias("file_id"))
    reps = (
        raw.select("file_id", "path", "lang", "content")
        .join(rep_ids, "file_id", "left_semi")
        .repartition(n_part, "file_id")
    )

    # 2b. per-doc features (build_features): ONE content pass, shared by
    # blocking and scoring. A checkpointed STAGE TABLE (not just a cache)
    # since round 4: the incremental append path (plans/er_incremental.py)
    # reads it back to score new-vs-old candidate pairs without touching old
    # content — the stage-table cost is the price of O(batch) appends.
    feats = mgr.stage("features", lambda: build_features(reps))
    if checkpoint:
        # stage tables are parquet-backed; keep the hot copy in memory too
        # (blocking + scoring both traverse it)
        feats = feats.persist()

    # 3. blocking: alias-dictionary ∪ LSH bands (raw_block_keys — also a
    # stage table, the incremental path's probe index), then fused
    # stopword-cap + salting for the pair self-join. Every key family
    # derives from the per-doc feature table (no second content pass).
    # cache=False: raw_blocks has exactly ONE in-pipeline consumer (the
    # cap+salt below evaluates it once through a shared window exchange), so
    # persisting it in passthrough/bench mode would only evict the feature
    # cache; checkpointed runs still write it as a stage table — that copy
    # is the incremental append's probe index (plans/er_incremental.py)
    raw_blocks = mgr.stage(
        "raw_blocks",
        lambda: raw_block_keys(feats, reps=reps, alias_dict=alias_dict),
        cache=False,
    )
    blocks = mgr.stage(
        "blocks",
        lambda: cap_and_salt_blocks(raw_blocks),
    )

    # 4. candidate pairs (canonical order, deduped across block types)
    pairs = mgr.stage("pairs", lambda: pairs_from_blocks(blocks))

    # 5. scoring over the per-doc int features (score_pairs), JVM-side
    scores = mgr.stage("scores", lambda: score_pairs(pairs, feats))

    # 6. decision rule → edges (deterministic thresholds)
    edges = mgr.stage("edges", lambda: match_edges(scores))

    # 7. large-star/small-star connected components over representatives
    # (node set from the small cached exact_groups table, not raw rows)
    comps = mgr.stage(
        "components",
        lambda: components_with_singletons(
            exact_groups.select(F.col("rep_id").alias("file_id")),
            edges,
            id_col="file_id",
        ),
    )

    # 8. expand: every member of an exact group inherits its rep's component.
    # Three flat equi-joins — (file_id, content_hash) ⋈ (content_hash, rep_id)
    # ⋈ (rep_id, component) — so no row ever carries a group-sized array.
    def _assign() -> DataFrame:
        members = ingested.select("file_id", "content_hash")
        rep_of = exact_groups.select("content_hash", "rep_id")
        return (
            members.join(rep_of, "content_hash")
            .join(comps.withColumnRenamed("id", "rep_id"), "rep_id")
            .select(F.col("file_id").alias("id"), "component")
        )

    assignment = mgr.stage("assignment", _assign)

    out: dict[str, DataFrame] = {
        "ingested": ingested,
        "exact_groups": exact_groups,
        "features": feats,
        "raw_blocks": raw_blocks,
        "blocks": blocks,
        "pairs": pairs,
        "scores": scores,
        "edges": edges,
        "components": comps,
        "assignment": assignment,
    }

    # 9. evaluation vs labeled pairs (optional at inference time)
    if labeled_pairs is not None:
        out["metrics"] = mgr.stage(
            "metrics",
            lambda: evaluate_against_labeled_pairs(
                assignment, labeled_pairs, id_col="id", cluster_col="component"
            ),
        )
    out["_counters"] = mgr.counters  # type: ignore[assignment]
    # feats is the pipeline's one deliberate bulk cache; hand the caller a
    # cleanup handle so repeated runs in one session (tests, notebooks,
    # benchmark loops) don't accumulate cached feature tables. assignment /
    # metrics are checkpointed stage tables, so unpersisting feats after
    # they materialize costs nothing on re-reads.
    out["_cleanup"] = lambda: feats.unpersist()  # type: ignore[assignment]
    return out
