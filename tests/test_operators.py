"""Operator unit tests against the reference-semantics micro-fixtures
(FIXTURES.md §6)."""

from pyspark.sql import functions as F

from wiki_entity_linker_spark.operators import blocking, skew
from wiki_entity_linker_spark.operators.argmax import argmax_with_ties, top1_deterministic
from wiki_entity_linker_spark.operators.blocking import pairs_from_blocks
from wiki_entity_linker_spark.operators.skew import cap_and_salt_blocks


def test_argmax_keeps_ties(spark):
    """A2: create_databases.py:103-122 keeps ALL candidates at max freq."""
    df = spark.createDataFrame(
        [("alias1", "E1", 7), ("alias1", "E2", 7), ("alias1", "E3", 3),
         ("alias2", "E9", 1)],
        "key string, val string, score long",
    )
    out = argmax_with_ties(df, ["key"], "score")
    got = {(r["key"], r["val"]) for r in out.collect()}
    assert got == {("alias1", "E1"), ("alias1", "E2"), ("alias2", "E9")}


def test_top1_breaks_ties_by_id(spark):
    """prefix_trie_linker.py:254-255: ties by ascending id, deterministic."""
    df = spark.createDataFrame(
        [("m", "Q9", 5), ("m", "Q1", 5), ("m", "Q5", 9)],
        "key string, qid string, score long",
    )
    out = top1_deterministic(df, ["key"], score_col="score", tiebreak_col="qid")
    assert out.collect()[0]["qid"] == "Q5"
    df2 = df.filter(F.col("score") == 5)
    out2 = top1_deterministic(df2, ["key"], score_col="score", tiebreak_col="qid")
    assert out2.collect()[0]["qid"] == "Q1"


def test_pairs_from_blocks_canonical(spark):
    df = spark.createDataFrame(
        [("b1", "x"), ("b1", "y"), ("b1", "z"), ("b2", "x"), ("b2", "y")],
        "block_key string, file_id string",
    )
    pairs = pairs_from_blocks(df)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # canonical order, deduped across b1/b2
    assert got == {("x", "y"), ("x", "z"), ("y", "z")}


def test_salt_large_blocks_caps_and_chains(spark, monkeypatch):
    ids = [f"f{i:03d}" for i in range(100)]
    df = spark.createDataFrame(
        [("hot", i) for i in ids] + [("cold", "f000"), ("cold", "f001")],
        "block_key string, file_id string",
    ).select("file_id", "block_key")
    monkeypatch.setattr(skew, "STOPWORD_BLOCK_MAX", 10_000)
    monkeypatch.setattr(skew, "SALT_CAP", 16)
    salted = cap_and_salt_blocks(df)
    prof = {
        r["block_key"]: r["block_size"]
        for r in salted.groupBy("block_key")
        .agg(F.count("*").alias("block_size"))
        .collect()
    }
    # no salted block exceeds cap+1 (chain member)
    assert max(prof.values()) <= 17
    assert prof["cold"] == 2
    # chaining keeps the block connected: union of pairs forms one component
    from wiki_entity_linker_spark.operators import closure
    from wiki_entity_linker_spark.operators.closure import connected_components

    # run the distributed star-contraction loop, not the driver tail-solve
    monkeypatch.setattr(closure, "_CC_LOCAL_SOLVE_EDGES", 0)
    pairs = pairs_from_blocks(salted.filter(F.col("block_key") != "cold"))
    comp = connected_components(pairs)
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == 100


def test_drop_stopword_blocks(spark, monkeypatch):
    monkeypatch.setattr(skew, "STOPWORD_BLOCK_MAX", 10)
    monkeypatch.setattr(skew, "SALT_CAP", 10_000)
    rows = [("huge", f"f{i}") for i in range(50)] + [("ok", "a"), ("ok", "b")]
    df = spark.createDataFrame(rows, "block_key string, file_id string")
    kept = cap_and_salt_blocks(df)
    assert {r["block_key"] for r in kept.select("block_key").distinct().collect()} == {"ok"}


def test_global_prefix_sum_matches_naive_window(spark, monkeypatch):
    """The two-level prefix sum (explicit range buckets + bounded windows)
    must be bit-equal to the naive single-partition global window, including
    on sparse/gappy id spaces and across bucket counts."""
    from pyspark.sql import Window

    from wiki_entity_linker_spark.operators import packing
    from wiki_entity_linker_spark.operators.packing import global_prefix_sum

    rows = [(i * 37 + (i % 5), (i * 13) % 97 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long")
    naive = df.withColumn(
        "seq_start",
        F.coalesce(
            F.sum("v").over(
                Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    want = {r["id"]: r["seq_start"] for r in naive.collect()}
    # exactly nb buckets: none per core, at least nb
    monkeypatch.setattr(packing, "_BUCKETS_PER_CORE", 0)
    for nb in (1, 7, 64, 10_000):
        monkeypatch.setattr(packing, "_MIN_BUCKETS", nb)
        got = {
            r["id"]: r["seq_start"]
            for r in global_prefix_sum(df, "id", "v").collect()
        }
        assert got == want, f"n_buckets={nb}"
    # empty input: column exists, no rows
    empty = global_prefix_sum(
        spark.createDataFrame([], "id long, v long"), "id", "v"
    )
    assert empty.count() == 0 and "seq_start" in empty.columns


def test_global_prefix_sum_plan_has_no_global_data_window(spark, monkeypatch):
    """The scale contract: the only window with an empty partition spec runs
    over the n_buckets-row totals frame; every window over the DATA is
    partitioned by the bucket column."""
    from wiki_entity_linker_spark.operators import packing
    from wiki_entity_linker_spark.operators.packing import global_prefix_sum

    monkeypatch.setattr(packing, "_BUCKETS_PER_CORE", 0)
    monkeypatch.setattr(packing, "_MIN_BUCKETS", 32)
    df = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") % 11 + 1).alias("v")
    )
    out = global_prefix_sum(df, "id", "v")
    plan = out._jdf.queryExecution().executedPlan().toString()
    windows = [l for l in plan.splitlines() if "windowspecdefinition(" in l]
    assert len(windows) == 2, plan
    spec = lambda l: l.split("windowspecdefinition(")[1]
    # the DATA window is partitioned by the bucket AND ordered by id ...
    data_w = [l for l in windows if spec(l).startswith("__bkt") and " id#" in spec(l)]
    assert len(data_w) == 1, windows
    # ... and the only UNPARTITIONED window (spec starts with its ORDER
    # column, no partition columns before it) is the bucket-offset pass —
    # ordered by __bkt over the n_buckets-row totals aggregate, the single
    # SinglePartition exchange in the plan
    tiny_w = [l for l in windows if spec(l).startswith("__bkt") and " id#" not in spec(l)]
    assert len(tiny_w) == 1, windows
    assert plan.count("Exchange SinglePartition") == 1


def test_global_prefix_sum_rejects_non_integer_order(spark):
    import pytest as _pytest

    from wiki_entity_linker_spark.operators.packing import global_prefix_sum

    df = spark.createDataFrame([("a", 1)], "id string, v long")
    with _pytest.raises(ValueError, match="integer type"):
        global_prefix_sum(df, "id", "v")


def test_global_prefix_sum_rejects_overflowing_span(spark):
    import pytest as _pytest

    from wiki_entity_linker_spark.operators.packing import global_prefix_sum

    df = spark.createDataFrame(
        [(-(2**62) - 5, 1), (2**62 + 5, 1)], "id long, v long"
    )
    with _pytest.raises(ValueError, match="span exceeds"):
        global_prefix_sum(df, "id", "v")


def test_packed_sequences_bin_is_exact_above_float_precision(spark):
    """bin must come from integral division: at seq_start near 2^53 the
    double quotient rounds to the wrong window while bin_offset stays
    exact, making the row self-contradictory."""
    from wiki_entity_linker_spark.operators.packing import packed_sequences

    big = (1 << 53) - 1  # floor(big/2048) = 2^42 - 1; float div rounds to 2^42
    df = spark.createDataFrame([(0, big), (1, 5)], "id long, n long")
    rows = {r["id"]: r for r in packed_sequences(df, "id", "n", 2048).collect()}
    assert rows[1]["seq_start"] == big
    assert rows[1]["bin"] == big // 2048
    assert rows[1]["bin_offset"] == big % 2048
    assert rows[1]["bin"] * 2048 + rows[1]["bin_offset"] == rows[1]["seq_start"]


def test_skew_report_planted_hot_key(spark):
    from wiki_entity_linker_spark.operators.skew import skew_report

    rows = [("hot",)] * 100 + [(f"k{i}",) for i in range(99)]
    df = spark.createDataFrame(rows, "k string")
    r = skew_report(df, "k").collect()[0]
    assert (r["n_rows"], r["n_keys"], r["max_per_key"]) == (199, 100, 100)
    assert (r["p50_per_key"], r["p99_per_key"]) == (1, 1)
    assert r["skew_ratio"] == 100.0 and r["top_key"] == "hot"
    assert r["recommended_salt"] == 100


def test_sorted_neighborhood_spans_bucket_boundaries(spark, monkeypatch):
    from wiki_entity_linker_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    # one row per first-char bucket: EVERY neighbor pair crosses a bucket
    df = spark.createDataFrame(
        [(1, "apple"), (2, "banana"), (3, "cherry"), (4, "date")],
        "doc_id long, k string",
    )
    monkeypatch.setattr(blocking, "_SNM_WINDOW", 3)
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in sorted_neighborhood_pairs(df, "k", "doc_id").collect()}
    assert got == {(1, 2): 1, (2, 3): 1, (3, 4): 1, (1, 3): 2, (2, 4): 2}
    # ties on the key break by id: strict total order
    tie = spark.createDataFrame(
        [(9, "same"), (7, "same"), (8, "same")], "doc_id long, k string"
    )
    monkeypatch.setattr(blocking, "_SNM_WINDOW", 2)
    got2 = {(r["id_a"], r["id_b"]): r["dist"]
            for r in sorted_neighborhood_pairs(tie, "k", "doc_id").collect()}
    assert got2 == {(7, 8): 1, (8, 9): 1}


def test_bloom_bitmap_no_false_negatives(spark):
    from wiki_entity_linker_spark.operators.bloom import (
        bloom_base_hash,
        bloom_bitmap,
        bloom_contains_hashed,
    )

    keys = spark.createDataFrame(
        [(f"member-{i}",) for i in range(200)], "k string"
    )
    others = spark.createDataFrame(
        [(f"outsider-{i}",) for i in range(200)], "k string"
    )
    bm = bloom_bitmap(keys, "k")
    assert bm.count() == 1 and len(bm.first()["bitmap"]) == (1 << 18) // 64

    def hits(df):
        return (
            df.crossJoin(F.broadcast(bm))
            .filter(bloom_contains_hashed(bloom_base_hash("k"), "bitmap"))
            .count()
        )

    assert hits(keys) == 200          # EVERY inserted key: no false negatives
    assert hits(others) < 20          # 2^18 bits / 200 keys: FP rate ~ 0


def test_sketch_merge_algebra(spark):
    """COVERAGE claims all three sketches are mergeable: sketch(A ∪ B)
    must equal the cell-wise merge of sketch(A) and sketch(B) — cell-wise
    ADD for count-min, member-wise MIN for MinHash signatures, word-wise
    BIT-OR for the Bloom bitmap. This is what lets partition/manifest-
    level summaries compose at 100 TB instead of re-scanning."""
    from wiki_entity_linker_spark.functions.hashing import h64, mh_family, mh_mix
    from wiki_entity_linker_spark.operators.bloom import bloom_bitmap

    a = spark.createDataFrame([(f"k{i}",) for i in range(40)], "k string")
    b = spark.createDataFrame([(f"k{i}",) for i in range(20, 70)], "k string")
    u = a.union(b)

    # bloom: OR of the word arrays
    bm = {n: df.select("bitmap").first()["bitmap"]
          for n, df in (("a", bloom_bitmap(a, "k")),
                        ("b", bloom_bitmap(b, "k")),
                        ("u", bloom_bitmap(u, "k")))}
    assert [x | y for x, y in zip(bm["a"], bm["b"])] == bm["u"]

    # minhash signature: member-wise min
    fam = mh_family(8)
    def sig(df):
        row = df.select(*[F.min(mh_mix(h64("k"), x, y)).alias(f"m{i}")
                          for i, (x, y) in enumerate(fam)]).first()
        return [row[f"m{i}"] for i in range(8)]
    assert [min(x, y) for x, y in zip(sig(a), sig(b))] == sig(u)

    # count-min: cell-wise addition
    W = 64
    def grid(df):
        rows = (df.select((mh_mix(h64("k"), *fam[0]) % W).alias("cell"))
                .groupBy("cell").agg(F.count("*").alias("c")).collect())
        g = [0] * W
        for r in rows:
            g[r["cell"]] = r["c"]
        return g
    assert [x + y for x, y in zip(grid(a), grid(b))] == grid(u)

    # log-histogram quantile sketch: bin-wise addition (sketch #4) — the
    # same integer binning the quantile_sketch query uses (floor-log2 via
    # binary-string length, 8 mantissa sub-bins)
    av = spark.createDataFrame([(i * 37 % 997 + 1,) for i in range(200)], "val long")
    bv = spark.createDataFrame([(i * 61 % 2039 + 1,) for i in range(300)], "val long")
    uv = av.union(bv)

    def qhist(df):
        bl = F.length(F.conv(F.col("val").cast("string"), 10, 2)) - 1
        mant = F.call_function("shiftright", F.col("val"), (bl - 3).cast("int"))
        binned = df.select(
            F.when(F.col("val") < 16, F.col("val"))
            .otherwise((bl * 8 + mant % 8).cast("long"))
            .alias("bin"))
        return {r["bin"]: r["c"] for r in
                binned.groupBy("bin").agg(F.count("*").alias("c")).collect()}

    ha, hb, hu = qhist(av), qhist(bv), qhist(uv)
    merged = {k: ha.get(k, 0) + hb.get(k, 0) for k in set(ha) | set(hb)}
    assert merged == hu

    # linear-counting cardinality sketch: occupancy-bitmap merge = set
    # union of occupied bits (sketch #5) — same hashing the
    # cardinality_sketch query uses
    M = 4096
    def bits(df):
        return {r["bit"] for r in df.select(
            ((h64("k") % M + M) % M).alias("bit")).distinct().collect()}

    assert bits(a) | bits(b) == bits(u)


def test_meta_block_prune_hand_example(spark):
    from wiki_entity_linker_spark.operators.blocking import meta_block_prune

    rows = [
        (1, "b1"), (2, "b1"), (3, "b1"),
        (1, "b2"), (2, "b2"),
        (2, "b3"), (3, "b3"),
        (4, "b4"), (5, "b4"),
        (4, "b4"),  # duplicate posting must not inflate cbs
    ]
    blocks = spark.createDataFrame(rows, ["doc_id", "g"])
    got = {
        (r["id_a"], r["id_b"]): (r["cbs"], r["js_w"], r["kept"])
        for r in meta_block_prune(blocks).collect()
    }
    # nb: 1->2, 2->3, 3->2, 4->1, 5->1
    # js_w = floor(1e6 * cbs / (nb_a + nb_b - cbs)); mean = 2666665 div 4
    assert got == {
        (1, 2): (2, 666666, True),
        (1, 3): (1, 333333, False),
        (2, 3): (2, 666666, True),
        (4, 5): (1, 1000000, True),
    }


def test_kmeans_lattice_two_obvious_clusters(spark, monkeypatch):
    from wiki_entity_linker_spark.operators import ann
    from wiki_entity_linker_spark.operators.ann import kmeans_lattice_assign

    monkeypatch.setattr(ann, "_KMEANS_K", 2)
    monkeypatch.setattr(ann, "_KMEANS_ITERS", 3)
    # two tight blobs far apart: after 2 iterations every member of a blob
    # shares a cell regardless of which seeds initialized
    lo = [(i, [0.01 * i, 0.0, 0.0, 0.0]) for i in range(10)]
    hi = [(100 + i, [0.9 + 0.01 * i, 1.0, 1.0, 1.0]) for i in range(10)]
    df = spark.createDataFrame(lo + hi, ["vec_id", "embedding"])
    out = {r["vec_id"]: r["cell"] for r in kmeans_lattice_assign(df).collect()}
    assert len(out) == 20
    assert len({out[i] for i in range(10)}) == 1
    assert len({out[100 + i] for i in range(10)}) == 1
    assert out[0] != out[100]


def test_kmeans_lattice_deep_iterations_bounded(spark, monkeypatch):
    # localCheckpoint between iterations: 8 iterations must not blow the plan
    from wiki_entity_linker_spark.operators import ann
    from wiki_entity_linker_spark.operators.ann import kmeans_lattice_assign

    monkeypatch.setattr(ann, "_KMEANS_K", 3)
    monkeypatch.setattr(ann, "_KMEANS_ITERS", 8)
    rows = [(i, [float(i % 7) / 7, float(i % 3) / 3]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = kmeans_lattice_assign(df)
    assert out.count() == 40
