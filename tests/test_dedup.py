"""Dedup / similarity-search operators on the fixture corpus and synthetic
vectors."""

import numpy as np
from pyspark.sql import functions as F

from wiki_entity_linker_spark.operators import ann, dedup
from wiki_entity_linker_spark.operators.ann import cosine_topk, lsh_topk
from wiki_entity_linker_spark.operators.blocking import with_file_id
from wiki_entity_linker_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
    simhash,
)


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [("a", "Hello  World"), ("b", "hello world"), ("c", "different")],
        "id string, content string",
    )
    out = {r["id"]: (r["canonical_id"], r["group_size"])
           for r in exact_dedup(df, "id").collect()}
    assert out["a"] == ("a", 2) and out["b"] == ("a", 2) and out["c"] == ("c", 1)


def test_minhash_neardup_finds_planted_dups(spark, tiny_corpus_dir):
    sf = with_file_id(spark.read.parquet(f"{tiny_corpus_dir}/source_files.parquet"))
    gold = with_file_id(spark.read.parquet(f"{tiny_corpus_dir}/gold_clusters.parquet"))
    pairs = minhash_neardup_pairs(
        sf.withColumnRenamed("content", "text"), "file_id", jaccard_threshold=0.16
    )
    ga = gold.select(F.col("file_id").alias("id_a"), F.col("entity_id").alias("ea"))
    gb = gold.select(F.col("file_id").alias("id_b"), F.col("entity_id").alias("eb"))
    tagged = pairs.join(ga, "id_a").join(gb, "id_b")
    n_pairs = tagged.count()
    n_same = tagged.filter(F.col("ea") == F.col("eb")).count()
    assert n_pairs > 0
    # adversarial same-vocab near-misses must not pass the Jaccard verify
    assert n_same == n_pairs


def test_simhash_close_for_near_dups(spark, monkeypatch):
    monkeypatch.setattr(dedup, "_SIMHASH_BITS", 32)
    base = "the quick brown fox jumps over the lazy dog " * 10
    edited = base.replace("lazy", "sleepy", 3)
    other = "completely unrelated words about spark catalyst optimizers " * 10
    df = spark.createDataFrame(
        [("a", base), ("b", edited), ("c", other)], "id string, text string"
    )
    fp = {r["id"]: r["simhash"] for r in simhash(df, "id").collect()}
    ham_ab = bin(fp["a"] ^ fp["b"]).count("1")
    ham_ac = bin(fp["a"] ^ fp["c"]).count("1")
    assert ham_ab < ham_ac


def test_ngram_jaccard_pairs(spark, monkeypatch):
    monkeypatch.setattr(dedup, "_NGRAM_N", 2)
    monkeypatch.setattr(dedup, "_NGRAM_JACCARD", 0.3)
    df = spark.createDataFrame(
        [("a", "one two three four five six"),
         ("b", "one two three four five seven"),
         ("c", "alpha beta gamma delta")],
        "id string, text string",
    )
    pairs = ngram_jaccard_pairs(df, "id").collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {("a", "b")}


def test_ngram_jaccard_packed_key_matches_unpacked(spark, monkeypatch):
    """The packed-int64 pair-key fast path (taken for non-negative int ids)
    must produce exactly the string-id (unpacked) result. Pins the
    shiftleft-on-IntegerType pitfall: Spark masks the shift amount to the
    input width, so ``int_col << 32`` is a no-op unless cast to long first —
    a collision bug this test would catch as merged pair counts."""
    monkeypatch.setattr(dedup, "_NGRAM_N", 2)
    monkeypatch.setattr(dedup, "_NGRAM_JACCARD", 0.1)
    texts = [
        "one two three four five six",
        "one two three four five seven",
        "alpha beta gamma delta epsilon",
        "alpha beta gamma delta zeta",
        "unrelated words entirely here now",
    ]
    ints = spark.createDataFrame(
        list(enumerate(texts)), "id int, text string"
    )
    strs = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "id string, text string"
    )
    got_int = {
        (str(r["id_a"]), str(r["id_b"]), r["jaccard"])
        for r in ngram_jaccard_pairs(ints, "id").collect()
    }
    got_str = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(strs, "id").collect()
    }
    assert got_int == got_str and len(got_int) >= 2


def _vec_df(spark, n=60, dim=8, seed=3):
    rng = np.random.RandomState(seed)
    base = rng.standard_normal((n, dim)).astype("float32")
    base[1] = base[0] + 0.01 * rng.standard_normal(dim).astype("float32")  # planted near-dup
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_neardup(spark):
    df = _vec_df(spark)
    got = {(r["id_a"], r["id_b"]) for r in
           embedding_neardup_pairs(df, threshold=0.99).collect()}
    assert (0, 1) in got


def test_lsh_topk_recall_vs_exact(spark, monkeypatch):
    monkeypatch.setattr(ann, "_TOPK", 3)
    monkeypatch.setattr(ann, "LSH_PLANES", 4)
    monkeypatch.setattr(ann, "LSH_TABLES", 6)
    df = _vec_df(spark, n=120)
    queries = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(df, queries)
    approx = lsh_topk(df, queries, dim=8)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # every query finds itself, and recall is non-trivial
    assert all((q, q) in a for q in range(8))
    assert len(e & a) / len(e) >= 0.5


def test_embedding_neardup_lsh_parity_vs_brute_force(spark, monkeypatch):
    """The LSH-blocked scale path must be a subset of the brute-force
    baseline (identical verify ⇒ precision 1.0) with high recall at this
    plane/table setting, and must find the planted near-dup (θ≈0 pairs
    collide in every table)."""
    from wiki_entity_linker_spark.operators.dedup import embedding_neardup_lsh_pairs

    monkeypatch.setattr(ann, "LSH_PLANES", 4)
    monkeypatch.setattr(ann, "LSH_TABLES", 6)
    df = _vec_df(spark, n=80, dim=8)
    brute = {(r["id_a"], r["id_b"]) for r in
             embedding_neardup_pairs(df, threshold=0.6).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           embedding_neardup_lsh_pairs(df, dim=8, threshold=0.6).collect()}
    assert lsh <= brute  # exact verify ⇒ no false positives
    assert (0, 1) in lsh  # planted near-identical pair always collides
    assert len(lsh) / max(len(brute), 1) >= 0.6  # recall at 4 planes × 6 tables


def test_ivf_topk_trained_centroids_recall(spark, monkeypatch):
    """IVF over seeded centroids (the registered query's quantizer): cells
    partition the corpus exactly once, every query finds itself, and
    probing 3 of 6 cells recovers most of the exact top-k."""
    from wiki_entity_linker_spark.operators.ann import (
        ivf_assign,
        ivf_topk,
        seeded_centroids,
    )

    monkeypatch.setattr(ann, "_TOPK", 3)
    monkeypatch.setattr(ann, "_IVF_NPROBE", 3)
    df = _vec_df(spark, n=120, dim=8)
    cent = seeded_centroids(8, 6, seed=5)
    assert len(cent) == 6 and all(len(c) == 8 for c in cent)
    # assignment is a partition: one cell per vector
    assign = ivf_assign(df, cent)
    assert assign.count() == 120
    assert assign.select("vec_id").distinct().count() == 120
    queries = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(df, queries)
    approx = ivf_topk(df, queries, cent)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert all((q, q) in a for q in range(8))
    assert len(e & a) / len(e) >= 0.5


def test_embedding_neardup_hot_bucket_guard(spark, monkeypatch):
    """VERDICT r3 #4: a planted hot bucket (identical vectors all colliding
    in every table) is dropped by the bucket cap, bounding candidate pairs;
    with a cap above the bucket the same corpus produces the full quadratic
    set."""
    from wiki_entity_linker_spark.operators.dedup import embedding_neardup_lsh_pairs

    monkeypatch.setattr(ann, "LSH_PLANES", 4)
    monkeypatch.setattr(ann, "LSH_TABLES", 2)
    n = 40
    rows = [(i, [1.0] * 8) for i in range(n)]  # one identical family
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(dedup, "_LSH_MAX_BUCKET", n)
    unguarded = embedding_neardup_lsh_pairs(df, dim=8, threshold=0.9).count()
    assert unguarded == n * (n - 1) // 2  # quadratic blow-up
    monkeypatch.setattr(dedup, "_LSH_MAX_BUCKET", 10)
    guarded = embedding_neardup_lsh_pairs(df, dim=8, threshold=0.9).count()
    assert guarded == 0  # the oversized bucket is dropped in every table


def test_minhash_incremental_equals_oneshot(spark, monkeypatch):
    """Incremental clustering (base + batch probe) must equal one-shot
    clustering of the union — same partition, same min-member labels."""
    from wiki_entity_linker_spark.operators import closure
    from wiki_entity_linker_spark.operators.closure import (
        components_with_singletons,
    )
    from wiki_entity_linker_spark.operators.dedup import (
        minhash_neardup_clusters_incremental,
    )

    rng_words = [f"w{i}" for i in range(40)]
    rows = []
    # family A: near-identical docs split across base and batch
    fam_a = " ".join(rng_words[:20])
    rows.append((1, fam_a))
    rows.append((2, fam_a + " extra"))
    rows.append((11, fam_a + " tail tok"))      # batch member joins A
    # family B entirely in batch
    fam_b = " ".join(rng_words[20:36])
    rows.append((12, fam_b))
    rows.append((13, fam_b + " more"))
    # singletons both sides
    rows.append((3, "alpha beta gamma delta epsilon zeta"))
    rows.append((14, "uno dos tres cuatro cinco seis"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = df.filter(F.col("doc_id") < 10)
    batch = df.filter(F.col("doc_id") >= 10)

    inc = minhash_neardup_clusters_incremental(base, batch, "doc_id").collect()

    full_pairs = minhash_neardup_pairs(df, "doc_id", jaccard_threshold=0.3).select(
        "id_a", "id_b"
    )
    # the incremental side took the driver tail-solve; solve the one-shot
    # reference with the distributed star-contraction loop
    monkeypatch.setattr(closure, "_CC_LOCAL_SOLVE_EDGES", 0)
    full = components_with_singletons(
        df.select(F.col("doc_id").alias("file_id")), full_pairs,
        id_col="file_id",
    ).collect()

    got = {r["id"]: r["component"] for r in inc}
    want = {r["id"]: r["component"] for r in full}
    assert got == want
    assert got[11] == got[1]  # batch doc joined the base family
    assert got[12] == got[13] != got[1]  # batch-internal family


def test_segment_dedup_first_writer_wins(spark, monkeypatch):
    from wiki_entity_linker_spark.operators.dedup import segment_dedup_stats

    monkeypatch.setattr(dedup, "SEG_LEN", 2)
    df = spark.createDataFrame(
        [
            (1, "a b c d a b"),  # [a b][c d][a b]: idx2 duplicates idx0
            (2, "c d e"),        # [c d] loses to doc1 idx1; ragged [e] kept
            (3, ""),             # empty: absent from the output
        ],
        "doc_id long, text string",
    )
    want = {
        1: (6, 3, 2, 4, 2),
        2: (3, 2, 1, 1, 2),
    }

    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_segments"], r["n_kept"],
            r["kept_tokens"], r["dup_tokens"],
        )
        for r in segment_dedup_stats(df).collect()
    }
    assert got == want


def test_exact_substring_coverage_planted(spark, monkeypatch):
    from wiki_entity_linker_spark.operators.dedup import exact_substring_coverage

    monkeypatch.setattr(dedup, "SUBSTR_K", 3)
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),  # grams "a b c"@0, "b c d"@1 shared with doc2
            (2, "x a b c d y"),  # ...@1, @2 here
            (3, "z z z z"),      # "z z z" twice WITHIN the doc (suffix-array rule)
            (4, "p q"),          # shorter than k: no grams, zero coverage
        ],
        "doc_id long, text string",
    )
    # doc1: starts {0,1} -> union [0,4) = 4 of 6; doc2: {1,2} -> [1,5) = 4
    # doc3: {0,1} -> [0,4) = all 4; doc4: nothing
    want = {
        1: (6, 2, 4, 0.666667),
        2: (6, 2, 4, 0.666667),
        3: (4, 2, 4, 1.0),
        4: (2, 0, 0, 0.0),
    }

    got = {
        r["doc_id"]: (
            r["n_tokens"], r["dup_starts"],
            r["covered_tokens"], r["covered_frac"],
        )
        for r in exact_substring_coverage(df).collect()
    }
    assert got == want


def test_exact_substring_coverage_tokenizes_once(spark):
    """The gram rows and the per-document lengths both read the cut token
    frame, so no tokenize runs above the cut."""
    from wiki_entity_linker_spark.operators.dedup import exact_substring_coverage

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x a b c d e y")], "doc_id long, text string"
    )
    plan = exact_substring_coverage(df)._jdf.queryExecution().analyzed()
    assert plan.toString().count("regexp_replace(text") == 0


def test_winnowing_guarantee_and_caps(spark, monkeypatch):
    from wiki_entity_linker_spark.operators.dedup import (
        winnowing_candidate_pairs,
        winnowing_fingerprints,
    )

    monkeypatch.setattr(dedup, "_WINNOW_MIN_SHARED", 1)
    df = spark.createDataFrame(
        [
            # k=4, w=4: any shared run of k+w-1=7 tokens MUST share a print
            (1, "q1 q2 q3 s1 s2 s3 s4 s5 s6 s7 r1 r2"),
            (2, "u1 u2 s1 s2 s3 s4 s5 s6 s7 v1"),
            (3, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10"),
            (4, "t1 t2 t3"),          # shorter than k: no fingerprints
            (5, "z z z z z z"),       # all grams equal: 1 distinct print
        ],
        "doc_id long, text string",
    )
    fp = winnowing_fingerprints(df)
    per = {r["doc_id"]: r["n"] for r in
           fp.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert 4 not in per and per[5] == 1 and per[3] >= 1

    pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in winnowing_candidate_pairs(df).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(p == (1, 2) for p in pairs)

    # MOSS too-common suppression: a print shared by 3 docs dies at cap 2
    trip = spark.createDataFrame(
        [(i, "c1 c2 c3 c4 c5 c6 c7 c8") for i in range(3)],
        "doc_id long, text string",
    )
    monkeypatch.setattr(dedup, "_WINNOW_MAX_POSTINGS", 2)
    assert winnowing_candidate_pairs(trip).count() == 0
    monkeypatch.setattr(dedup, "_WINNOW_MAX_POSTINGS", 3)
    assert winnowing_candidate_pairs(trip).count() == 3


def test_allpairs_jaccard_exact_boundary(spark, monkeypatch):
    from wiki_entity_linker_spark.operators.dedup import allpairs_jaccard_join

    monkeypatch.setattr(dedup, "_ALLPAIRS_K", 1)
    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c e"),
            (3, "a b"),
            (4, "x y z w"),
            (5, "a"),
        ],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]): (r["inter"], r["union_sz"], r["jaccard"])
           for r in allpairs_jaccard_join(df, threshold="0.5").collect()}
    # J=0.5 pairs sit EXACTLY on the threshold: the integer-rational
    # acceptance (inter*den >= num*union) must include them
    assert got == {
        (1, 2): (3, 5, 0.6),
        (1, 3): (2, 4, 0.5),
        (2, 3): (2, 4, 0.5),
        (3, 5): (1, 2, 0.5),
    }


def test_dedup_verdicts_all_branches(spark, tmp_path):
    from wiki_entity_linker_spark.queries import dedup_verdicts

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
            (3, "alpha beta gamma delta epsilon eta"),    # 5/6 tokens in a
                                                          # shared substring
            (4, "unique tokens nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "docs")
    docs.write.parquet(f"{d}/documents.parquet")
    got = {r["doc_id"]: r["verdict"]
           for r in dedup_verdicts(spark, d).collect()}
    assert got[2] == "drop_exact_dup"
    assert got[1] == "drop_boilerplate"   # its text is duplicated BY doc 2
    assert got[3] == "drop_boilerplate"   # shared 5-gram prefix with 1 and 2
    assert got[4] == "keep"
