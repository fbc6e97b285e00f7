"""Hand-built semantics for the union-merge as-of join."""

from datetime import datetime

from pyspark.sql import functions as F

from wiki_entity_linker_spark.operators import asof
from wiki_entity_linker_spark.operators.asof import asof_join


def _ts(s):
    return datetime(2024, 1, 1, 0, 0, s)


def _run(spark, left_rows, right_rows):
    left = spark.createDataFrame(left_rows, ["k", "lts", "lid"])
    right = spark.createDataFrame(right_rows, ["k", "rts", "rid", "val"])
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_tie="rid", payload={"m_rid": "rid", "m_val": "val"},
    )
    return {r["lid"]: (r["m_rid"], r["m_val"], r["matched_ts"]) for r in out.collect()}


def test_asof_basic_backward_inclusive(spark):
    got = _run(
        spark,
        [(1, _ts(10), 100), (1, _ts(5), 101), (2, _ts(10), 102)],
        [(1, _ts(5), 7, 0.5), (1, _ts(8), 8, 0.25), (2, _ts(11), 9, 1.0)],
    )
    # lid 100 at t=10 → nearest preceding right is t=8 (rid 8)
    assert got[100][0] == 8
    # lid 101 at t=5 → the t=5 right matches INCLUSIVELY (rid 7)
    assert got[101] == (7, 0.5, _ts(5))
    # lid 102: key 2's only right is at t=11 > 10 → no match
    assert got[102] == (None, None, None)


def test_asof_equal_ts_rights_tiebreak_max(spark):
    got = _run(
        spark,
        [(1, _ts(9), 100)],
        [(1, _ts(9), 3, 0.1), (1, _ts(9), 12, 0.2), (1, _ts(9), 7, 0.3)],
    )
    # three rights at the same ts: the largest tie id (12) wins
    assert got[100] == (12, 0.2, _ts(9))


def test_asof_tolerance_nulls_stale_match(spark, monkeypatch):
    monkeypatch.setattr(asof, "TOLERANCE_SECONDS", 20)
    got = _run(
        spark,
        [(1, _ts(30), 100), (1, _ts(31), 101)],
        [(1, _ts(10), 5, 0.9)],
    )
    # t=30 is exactly 20s after the right row → inside the bound (<=)
    assert got[100] == (5, 0.9, _ts(10))
    # t=31 is 21s after → match nulled out
    assert got[101] == (None, None, None)


def test_asof_left_rows_always_survive(spark):
    left = spark.createDataFrame([(9, _ts(1), 1)], ["k", "lts", "lid"])
    right = spark.createDataFrame(
        [(8, _ts(0), 1, 1.0)], ["k", "rts", "rid", "val"]
    )
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_tie="rid", payload={"m_rid": "rid"},
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["m_rid"] is None


def test_asof_single_shuffle_plan(spark):
    # the merged stream must be partitioned ONCE on the key — no join
    # operator (and no cartesian) anywhere in the physical plan
    left = spark.range(100).select(
        (F.col("id") % 5).alias("k"),
        F.timestamp_seconds(F.col("id") + 1000).alias("lts"),
        F.col("id").alias("lid"),
    )
    right = spark.range(100).select(
        (F.col("id") % 5).alias("k"),
        F.timestamp_seconds(F.col("id")).alias("rts"),
        F.col("id").alias("rid"),
    )
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_tie="rid", payload={"m_rid": "rid"},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(k") <= 1
    assert out.count() == 100


def test_asof_matched_row_with_null_payload_stays_whole(spark):
    # a matched right row whose payload is NULL must yield NULL payload —
    # never inherit an older right row's value (the frankenrow bug class:
    # per-column ignorenulls carries mix fields from different matches)
    left = spark.createDataFrame([(1, _ts(20), 100)], ["k", "lts", "lid"])
    right = spark.createDataFrame(
        [(1, _ts(5), 7, 0.9), (1, _ts(10), 8, None)],
        "k long, rts timestamp, rid long, val double",
    )
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_tie="rid", payload={"m_rid": "rid", "m_val": "val"},
    ).collect()[0]
    assert out["m_rid"] == 8
    assert out["matched_ts"] == _ts(10)
    assert out["m_val"] is None  # NOT 0.9 from the older row


def test_asof_fractional_tolerance_parses(spark, monkeypatch):
    # small float tolerances must not render as scientific notation in the
    # INTERVAL literal
    monkeypatch.setattr(asof, "TOLERANCE_SECONDS", 1e-05)
    got = _run(
        spark,
        [(1, _ts(10), 100)],
        [(1, _ts(9), 5, 0.5)],
    )
    assert got[100] == (None, None, None)  # 1s gap > 10µs tolerance


def test_asof_null_right_ts_never_matches(spark):
    # a right row with NULL timestamp is not "a preceding row" — it must
    # not be carried (the struct wrapper is non-null even when its fields
    # are, so this pins the explicit gate)
    left = spark.createDataFrame([(1, _ts(10), 100)], ["k", "lts", "lid"])
    right = spark.createDataFrame(
        [(1, None, 9, 0.5)], "k long, rts timestamp, rid long, val double"
    )
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_tie="rid", payload={"m_rid": "rid", "m_val": "val"},
    ).collect()[0]
    assert out["m_rid"] is None and out["matched_ts"] is None


def test_asof_symmetrized_graph_inputs_and_drain_bound(spark):
    # (companion coverage for the matching/graph review fixes lives in
    # test_er_metrics; this pins that asof output rows == left rows even
    # when rights duplicate)
    left = spark.createDataFrame([(1, _ts(10), 100)], ["k", "lts", "lid"])
    right = spark.createDataFrame(
        [(1, _ts(5), 7, 0.5), (1, _ts(5), 7, 0.5)],
        ["k", "rts", "rid", "val"],
    )
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_tie="rid", payload={"m_rid": "rid"},
    )
    assert out.count() == 1


def test_asof_composite_key(spark):
    # equality keys can be composite: matches must respect BOTH columns
    left = spark.createDataFrame(
        [(1, "x", _ts(10), 100), (1, "y", _ts(10), 101)],
        ["k1", "k2", "lts", "lid"],
    )
    right = spark.createDataFrame(
        [(1, "x", _ts(5), 7, 0.5), (1, "z", _ts(9), 8, 0.9)],
        ["k1", "k2", "rts", "rid", "val"],
    )
    out = asof_join(
        left, right, on=["k1", "k2"], left_ts="lts", right_ts="rts",
        right_tie="rid", payload={"m_rid": "rid"},
    )
    got = {r["lid"]: r["m_rid"] for r in out.collect()}
    assert got == {100: 7, 101: None}
