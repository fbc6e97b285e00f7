"""Span operators vs Python references (overlap_spans / interval_tokens
micro-fixtures, FIXTURES.md §6)."""

from pyspark.sql import functions as F

from wiki_entity_linker_spark.operators import spans
from wiki_entity_linker_spark.operators.spans import (
    bucketed_interval_join,
    suppress_overlaps,
)


def _py_claim(spans):
    """hyperlink_reference_linker.py:160-215 greedy longest-first claiming."""
    order = sorted(spans, key=lambda se: (-(se[1] - se[0]), se[0]))
    taken, keep = [], []
    for s, e in order:
        if all(e <= ts or s >= te for ts, te in taken):
            taken.append((s, e))
            keep.append((s, e))
    return sorted(keep)


def test_suppress_overlaps_matches_reference(spark):
    spans = [(0, 10), (2, 5), (8, 20), (20, 25), (24, 30), (3, 4)]
    df = spark.createDataFrame(
        [("d1", s, e) for s, e in spans], "doc_id string, start long, end long"
    )
    got = sorted((r["start"], r["end"]) for r in suppress_overlaps(df).collect())
    assert got == _py_claim(spans)


def test_suppress_overlaps_per_doc_independent(spark):
    df = spark.createDataFrame(
        [("a", 0, 10), ("a", 5, 15), ("b", 5, 15), ("b", 0, 10), ("b", 20, 21)],
        "doc_id string, start long, end long",
    )
    got = {(r["doc_id"], r["start"], r["end"]) for r in suppress_overlaps(df).collect()}
    # per doc: (0,10) and (5,15) tie on length -> earlier start wins
    assert got == {("a", 0, 10), ("b", 0, 10), ("b", 20, 21)}


def test_bucketed_interval_join_equals_naive(spark, monkeypatch):
    monkeypatch.setattr(spans, "_INTERVAL_BUCKET", 64)
    points = spark.createDataFrame(
        [("d", i) for i in range(0, 1000, 7)], "doc string, pos long"
    )
    intervals = spark.createDataFrame(
        [("d", 0, 50, "m1"), ("d", 45, 400, "m2"), ("d", 900, 901, "m3"),
         ("d", 990, 2000, "m4")],
        "doc string, start long, end long, mention string",
    )
    fast = bucketed_interval_join(points, intervals)
    naive = points.join(
        intervals,
        (points.doc == intervals.doc)
        & (points.pos >= intervals.start)
        & (points.pos < intervals.end),
    )
    got = {(r["pos"], r["mention"]) for r in fast.collect()}
    want = {(r["pos"], r["mention"]) for r in naive.collect()}
    assert got == want and len(want) > 0
