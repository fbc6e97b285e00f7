"""Sources: real reference benchmark JSONL, TSV reader + SPARQL
normalization, foreign prediction readers (SURVEY §2.1 S3/S4/S5/S9, J9)."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wiki_entity_linker_spark.sources.predictions import (
    read_predictions,
    with_line_index,
)
from wiki_entity_linker_spark.sources.tables import (
    filter_qid_rows,
    normalize_sparql_values,
    read_articles_jsonl,
    read_tsv,
)

REF = "/root/reference"
BENCH_FULL = f"{REF}/benchmarks/wiki-fair-v2.benchmark.jsonl"
BENCH_DEV = f"{REF}/benchmarks/wiki-fair-v2-dev.benchmark.jsonl"
LINKED = (
    f"{REF}/evaluation-results/baseline/baseline.wiki-fair-v2.linked_articles.jsonl"
)

ref_data = pytest.mark.skipif(
    not os.path.exists(BENCH_FULL), reason="reference benchmarks not present"
)


@ref_data
def test_read_real_benchmark_full(spark):
    """The reader must parse the REAL benchmark file and reproduce the
    reference's own committed statistics (wiki-fair-v2.benchmark_statistics
    .jsonl: 120 articles, 3371 labels including nested children)."""
    arts = read_articles_jsonl(spark, BENCH_FULL)
    stats = json.loads(
        open(f"{REF}/benchmarks/wiki-fair-v2.benchmark_statistics.jsonl").readline()
    )["text_statistics"]
    agg = arts.agg(
        F.count("*").alias("articles"),
        F.sum(F.size("labels")).alias("labels"),
    ).first()
    assert agg["articles"] == stats["articles"] == 120
    assert agg["labels"] == stats["labels"] == 3371


@ref_data
def test_real_benchmark_nested_fields(spark):
    """Tuple-shaped hyperlinks decode into typed structs; labels expose the
    nested parent/children/coref fields with real values."""
    arts = read_articles_jsonl(spark, BENCH_DEV)
    h = (
        arts.select(F.explode("hyperlinks").alias("h"))
        .select("h.span", "h.target")
        .filter(F.col("target").isNotNull())
    )
    row = h.first()
    assert len(row["span"]) == 2 and row["span"][0] < row["span"][1]
    assert isinstance(row["target"], str) and row["target"]
    labs = arts.select(F.explode("labels").alias("l")).select("l.*")
    assert labs.filter(F.col("parent").isNotNull()).count() > 0
    assert labs.filter(F.size("children") > 0).count() > 0
    assert labs.filter(F.col("coref")).count() > 0
    # spans are sane half-open char intervals inside the text
    bad = (
        arts.select(F.col("text"), F.explode("labels").alias("l"))
        .filter(
            (F.element_at("l.span", 1) < 0)
            | (F.element_at("l.span", 2) > F.length("text"))
            | (F.element_at("l.span", 1) >= F.element_at("l.span", 2))
        )
        .count()
    )
    assert bad == 0


@ref_data
def test_read_real_linked_articles_predictions(spark):
    """S9 article-jsonl reader on the reference's committed baseline output."""
    m = read_predictions(spark, LINKED, "article-jsonl")
    assert m.columns == ["article_idx", "span", "entity_id", "candidates", "linked_by"]
    n = m.count()
    assert n == 4097  # verified: mentions in the committed baseline output
    # 119 of 120: one baseline article has no linked mentions at all
    assert m.select("article_idx").distinct().count() == 119
    qids = m.filter(F.col("entity_id").rlike("^Q[0-9]+$")).count()
    assert qids == 3249  # the rest are Unknown/NIL predictions


@ref_data
def test_read_real_tsv_whitelist(spark, tmp_path):
    """S5 TSV source against the reference's committed whitelist_types.tsv,
    cross-checked with DuckDB's read_csv."""
    import duckdb

    p = f"{REF}/small-data-files/whitelist_types.tsv"
    schema = T.StructType(
        [T.StructField("qid", T.StringType()), T.StructField("label", T.StringType())]
    )
    got = {
        (r["qid"], r["label"])
        for r in read_tsv(spark, p, schema).collect()
    }
    exp = set(
        duckdb.sql(
            f"SELECT * FROM read_csv('{p}', sep='\t', header=false, "
            "columns={'qid':'VARCHAR','label':'VARCHAR'})"
        ).fetchall()
    )
    assert got == exp and len(got) > 10


def test_sparql_tsv_normalization(spark, tmp_path):
    """The Makefile sed-chain recast: URL→QID, @en strip, xsd:int strip,
    header-row drop (Makefile:283-291)."""
    raw = "\n".join(
        [
            "?item\t?label\t?count",  # SPARQL header: dropped by QID filter
            '<http://www.wikidata.org/entity/Q42>\t"Douglas Adams"@en\t'
            '"42"^^<http://www.w3.org/2001/XMLSchema#int>',
            '<http://www.wikidata.org/entity/Q1>\t"universe"@en\t'
            '"7"^^<http://www.w3.org/2001/XMLSchema#int>',
            "<https://example.org/not-an-entity>\t\"x\"@en\t\"1\"^^"
            "<http://www.w3.org/2001/XMLSchema#int>",
        ]
    )
    p = tmp_path / "export.tsv"
    p.write_text(raw + "\n")
    schema = T.StructType(
        [
            T.StructField("item", T.StringType()),
            T.StructField("label", T.StringType()),
            T.StructField("count", T.StringType()),
        ]
    )
    df = filter_qid_rows(
        normalize_sparql_values(read_tsv(spark, str(p), schema)), "item"
    )
    rows = {tuple(r) for r in df.collect()}
    assert rows == {("Q42", "Douglas Adams", "42"), ("Q1", "universe", "7")}


def test_with_line_index_preserves_order(spark, tmp_path):
    """J9 zip-by-index: index equals the input line order."""
    p = tmp_path / "rows.jsonl"
    p.write_text("\n".join(json.dumps({"v": f"row{i}"}) for i in range(50)) + "\n")
    schema = T.StructType([T.StructField("v", T.StringType())])
    df = with_line_index(spark.read.schema(schema).json(str(p)))
    rows = df.orderBy("article_idx").collect()
    assert [r["v"] for r in rows] == [f"row{i}" for i in range(50)]
    assert [r["article_idx"] for r in rows] == list(range(50))


def test_prediction_format_dispatch(spark, tmp_path):
    """Every foreign format lands in the same mention schema with identical
    decoded spans (linking_system.py:84-153 recast)."""
    simple = tmp_path / "simple.jsonl"
    simple.write_text(
        json.dumps(
            {"predictions": [
                {"span": [5, 10], "entity_id": "Q7", "candidates": ["Q7", "Q8"]}
            ]}
        )
        + "\n"
    )
    amb = tmp_path / "amb.jsonl"
    amb.write_text(
        json.dumps(
            {"docId": "d0", "matches": [
                {"charOffset": 5, "charLength": 5,
                 "entity": {"id": "http://www.wikidata.org/entity/Q7"}}
            ]}
        )
        + "\n"
    )
    wik = tmp_path / "wik.jsonl"
    wik.write_text(
        json.dumps(
            {"annotations": [
                {"wikiDataItemId": "Q7", "support": [{"chFrom": 5, "chTo": 9}]}
            ]}
        )
        + "\n"
    )
    tsv = tmp_path / "pred.tsv"
    tsv.write_text("0\t5\t10\tQ7\n")
    outs = {
        fmt: read_predictions(spark, str(path), fmt).collect()
        for fmt, path in [
            ("simple-jsonl", simple),
            ("ambiverse", amb),
            ("wikifier", wik),
            ("tsv", tsv),
        ]
    }
    for fmt, rows in outs.items():
        assert len(rows) == 1, fmt
        r = rows[0]
        assert (r["article_idx"], list(r["span"]), r["entity_id"]) == (0, [5, 10], "Q7"), fmt
        assert r["linked_by"] == fmt
    with pytest.raises(ValueError, match="unknown prediction format"):
        read_predictions(spark, str(tsv), "nif-rdf-2.1")


def test_jsonl_sink_roundtrip(spark, tmp_path):
    """S7: articles written with write_jsonl re-read losslessly through the
    article reader (hyperlink structs survive the tuple re-encode? no — the
    sink writes structs as objects, so roundtrip goes through the typed
    schema, not the raw tuple form)."""
    import json as _json

    from wiki_entity_linker_spark.sources.tables import write_jsonl

    p = tmp_path / "arts.jsonl"
    p.write_text(
        "\n".join(
            _json.dumps(
                {"id": i, "title": f"T{i}", "text": f"body {i}",
                 "hyperlinks": [[[0, 4], f"T{i + 1}"]],
                 "labels": [{"id": 0, "span": [0, 4], "entity_id": f"Q{i}",
                             "name": f"T{i}", "type": "Q1", "coref": False}]}
            )
            for i in range(20)
        )
        + "\n"
    )
    arts = read_articles_jsonl(spark, str(p))
    out = tmp_path / "out_jsonl"
    write_jsonl(arts, str(out))
    back = spark.read.json(str(out))
    assert back.count() == 20
    row = back.orderBy("id").first()
    assert row["hyperlinks"][0]["target"] == "T1"
    assert list(row["hyperlinks"][0]["span"]) == [0, 4]
    assert back.select(F.explode("labels")).count() == 20


def test_tsv_sink_roundtrip(spark, tmp_path):
    """S8: rows written with write_tsv re-read exactly through read_tsv —
    the sink writes no header row for the headerless reader to take as
    data, in any of its part files."""
    from wiki_entity_linker_spark.sources.tables import write_tsv

    rows = [("Q1", 3), ("Q2", 5), ("Q3", 7)]
    df = spark.createDataFrame(rows, "qid string, n int").repartition(3)
    out = str(tmp_path / "out_tsv")
    write_tsv(df, out)
    back = read_tsv(spark, out, "qid string, n int")
    assert sorted(map(tuple, back.collect())) == rows


def test_nif_prediction_reader(spark):
    """NIF turtle → MENTION_SCHEMA: context blocks define article order,
    mentions join via referenceContext, QIDs extracted from taIdentRef."""
    import os

    sample = os.path.join(os.path.dirname(__file__), "data", "sample.nif.ttl")
    rows = (
        read_predictions(spark, sample, "nif")
        .orderBy("article_idx", F.element_at("span", 1))
        .collect()
    )
    got = [(r["article_idx"], list(r["span"]), r["entity_id"]) for r in rows]
    assert got == [
        (0, [0, 8], "Q13909"),
        (0, [21, 24], "Q167498"),
        (1, [0, 6], "Q64"),
        # non-Wikidata KB URI: falls back to the full taIdentRef target
        # instead of a silently-shared empty id (ADVICE r3)
        (1, [10, 18], "http://dbpedia.org/resource/Berlin"),
    ]
    assert all(r["linked_by"] == "nif" for r in rows)


def test_prediction_dispatch_covers_all_reference_formats(spark):
    """6/6 of the reference's file-based prediction formats dispatch
    (linking_system.py:84-153; the NIF HTTP API path is out of scope)."""
    from wiki_entity_linker_spark.sources.predictions import _READERS

    assert set(_READERS) == {
        "article-jsonl", "simple-jsonl", "ambiverse", "wikifier", "tsv", "nif",
    }
