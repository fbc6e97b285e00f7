"""Foreign prediction readers (S9).

The reference dispatches six external prediction formats into one internal
mention representation (linking_system.py:84-153: ambiverse, simple-jsonl,
wexea, wikifier, nif, epgel — the reader classes live in the public ELEVANT
package). The Spark recast is :func:`read_predictions`: one dispatch, one
unified output schema

    (article_idx bigint, span array<long>, entity_id string,
     candidates array<string>, linked_by string)

``article_idx`` is the 0-based benchmark article index — formats that carry
no article id are aligned BY ORDER against the benchmark file, exactly like
the reference's readers, via :func:`with_line_index` (the J9 zip-by-index
join: ``zipWithIndex`` on both sides, equi-join on the index).

Formats:

* ``article-jsonl`` — the reference's own ``*.linked_articles.jsonl``
  (entity_mentions structs; verified against
  evaluation-results/baseline/baseline.wiki-fair-v2.linked_articles.jsonl);
* ``simple-jsonl``  — one line per article, order-aligned:
  ``{"predictions": [{"span": [s, e], "entity_id": "Q...",
  "candidates": [...]}]}``;
* ``ambiverse``     — one line per article:
  ``{"docId": ..., "matches": [{"charOffset": s, "charLength": n,
  "entity": {"id": "<entity url>"}}]}``;
* ``wikifier``      — one line per article:
  ``{"annotations": [{"wikiDataItemId": "Q...", "support":
  [{"chFrom": s, "chTo": e}]}]}`` (end char INCLUSIVE → half-open +1);
* ``tsv``           — flat ``article_idx \\t start \\t end \\t entity_id``.

* ``nif``           — NIF 2.0 turtle: blank-line-separated subject blocks;
  ``nif:Context`` blocks define article order, mention blocks join via
  ``nif:referenceContext`` (minimal recast of elevant's NifPredictionReader,
  dispatched at linking_system.py:145-150).

The reference's NIF **HTTP API** path (api_linker.py) stays excluded
(SURVEY §2.1 S10 — serving, not data processing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("article_idx", T.LongType()),
        T.StructField("span", T.ArrayType(T.LongType())),
        T.StructField("entity_id", T.StringType()),
        T.StructField("candidates", T.ArrayType(T.StringType())),
        T.StructField("linked_by", T.StringType()),
    ]
)


def with_line_index(df: DataFrame) -> DataFrame:
    """J9 zip-by-index: attach each row's 0-based input order as
    ``article_idx``.

    ``zipWithIndex`` is the only order-faithful distributed indexing
    primitive (``monotonically_increasing_id`` leaves gaps between
    partitions); it costs one extra job to count partition sizes. Intended
    for benchmark-scale inputs where order IS the join key, not for bulk
    tables.
    """
    # build a fresh StructType — StructType.add mutates the DataFrame's
    # cached schema in place (DataFrame.schema is a cached_property in 4.x)
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("article_idx", T.LongType())]
    )
    rdd = df.rdd.zipWithIndex().map(lambda t: tuple(t[0]) + (t[1],))
    return df.sparkSession.createDataFrame(rdd, schema)


def _finish(df: DataFrame, linked_by: str) -> DataFrame:
    return df.select(
        "article_idx",
        "span",
        "entity_id",
        F.coalesce("candidates", F.array().cast("array<string>")).alias("candidates"),
        F.lit(linked_by).alias("linked_by"),
    )


def _read_article_jsonl(spark: SparkSession, path: str) -> DataFrame:
    from wiki_entity_linker_spark.sources.tables import read_articles_jsonl

    arts = with_line_index(read_articles_jsonl(spark, path))
    m = arts.select(
        "article_idx", F.explode("entity_mentions").alias("m")
    ).select(
        "article_idx",
        F.col("m.span").alias("span"),
        F.col("m.id").alias("entity_id"),
        F.col("m.candidates").alias("candidates"),
    )
    return _finish(m, "article-jsonl")


_SIMPLE_SCHEMA = T.StructType(
    [
        T.StructField(
            "predictions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("span", T.ArrayType(T.LongType())),
                        T.StructField("entity_id", T.StringType()),
                        T.StructField("candidates", T.ArrayType(T.StringType())),
                    ]
                )
            ),
        )
    ]
)


def _read_simple_jsonl(spark: SparkSession, path: str) -> DataFrame:
    rows = with_line_index(spark.read.schema(_SIMPLE_SCHEMA).json(path))
    m = rows.select("article_idx", F.explode("predictions").alias("p")).select(
        "article_idx", "p.span", "p.entity_id", "p.candidates"
    )
    return _finish(m, "simple-jsonl")


_AMBIVERSE_SCHEMA = T.StructType(
    [
        T.StructField("docId", T.StringType()),
        T.StructField(
            "matches",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("charOffset", T.LongType()),
                        T.StructField("charLength", T.LongType()),
                        T.StructField(
                            "entity",
                            T.StructType([T.StructField("id", T.StringType())]),
                        ),
                    ]
                )
            ),
        ),
    ]
)


def _read_ambiverse(spark: SparkSession, path: str) -> DataFrame:
    rows = with_line_index(spark.read.schema(_AMBIVERSE_SCHEMA).json(path))
    m = rows.select("article_idx", F.explode("matches").alias("m")).select(
        "article_idx",
        F.array(
            F.col("m.charOffset"), F.col("m.charOffset") + F.col("m.charLength")
        ).alias("span"),
        # entity URLs → bare QID (same regex family as the SPARQL TSV chain)
        F.regexp_extract("m.entity.id", "(Q[0-9]+)", 1).alias("entity_id"),
        F.lit(None).cast("array<string>").alias("candidates"),
    )
    return _finish(m, "ambiverse")


_WIKIFIER_SCHEMA = T.StructType(
    [
        T.StructField(
            "annotations",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("wikiDataItemId", T.StringType()),
                        T.StructField(
                            "support",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("chFrom", T.LongType()),
                                        T.StructField("chTo", T.LongType()),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)


def _read_wikifier(spark: SparkSession, path: str) -> DataFrame:
    rows = with_line_index(spark.read.schema(_WIKIFIER_SCHEMA).json(path))
    m = (
        rows.select("article_idx", F.explode("annotations").alias("a"))
        .select("article_idx", F.col("a.wikiDataItemId").alias("entity_id"),
                F.explode("a.support").alias("s"))
        # wikifier chTo is inclusive; internal spans are half-open
        .select(
            "article_idx",
            F.array(F.col("s.chFrom"), F.col("s.chTo") + 1).alias("span"),
            "entity_id",
            F.lit(None).cast("array<string>").alias("candidates"),
        )
    )
    return _finish(m, "wikifier")


_TSV_SCHEMA = T.StructType(
    [
        T.StructField("article_idx", T.LongType()),
        T.StructField("start", T.LongType()),
        T.StructField("end", T.LongType()),
        T.StructField("entity_id", T.StringType()),
    ]
)


def _read_tsv_predictions(spark: SparkSession, path: str) -> DataFrame:
    from wiki_entity_linker_spark.sources.tables import read_tsv

    m = read_tsv(spark, path, _TSV_SCHEMA).select(
        "article_idx",
        F.array("start", "end").alias("span"),
        "entity_id",
        F.lit(None).cast("array<string>").alias("candidates"),
    )
    return _finish(m, "tsv")


def _read_nif(spark: SparkSession, path: str) -> DataFrame:
    """Minimal line-oriented NIF 2.0 turtle reader (the reference dispatches
    NIF through its elevant dependency's NifPredictionReader,
    linking_system.py:145-150; this recast parses the same core triples
    without an RDF library).

    The dump is read as blank-line-separated turtle blocks
    (``lineSep="\\n\\n"`` — the block-per-subject layout NIF exporters
    emit). ``nif:Context`` blocks define article order (zip-by-index over
    their file order); mention blocks carry ``nif:beginIndex`` /
    ``nif:endIndex`` / ``itsrdf:taIdentRef`` and join to their context via
    ``nif:referenceContext``. Both prefixed (``nif:beginIndex``) and
    full-URI (``...nif-core#beginIndex>``) spellings are accepted.
    """
    blocks = spark.read.text(path, lineSep="\n\n").filter(F.col("value") != "")
    # article order comes from zipWithIndex over the scan, which follows
    # Spark's split packing (size-descending), NOT filename order — with a
    # multi-file glob the context indexes would silently permute and every
    # downstream order-aligned join would point at the wrong articles.
    n_inputs = len(blocks.inputFiles())
    if n_inputs > 1:
        raise ValueError(
            f"NIF reader requires a single turtle file (got {n_inputs}): "
            "article order is only defined within one dump — read parts "
            "separately and offset article_idx explicitly"
        )
    subject = F.regexp_extract("value", r"<([^>]+)>", 1)
    is_context = F.col("value").rlike(r"(nif:isString|nif-core#isString|a\s+nif:Context|nif-core#Context>)")
    contexts = with_line_index(
        blocks.filter(is_context).select(subject.alias("ctx_uri"))
    )
    mentions = blocks.filter(
        F.col("value").rlike(r"(itsrdf:taIdentRef|its/rdf#taIdentRef)")
    ).select(
        F.regexp_extract("value", r'beginIndex[^"]*"([0-9]+)"', 1)
        .cast("long")
        .alias("start"),
        F.regexp_extract("value", r'endIndex[^"]*"([0-9]+)"', 1)
        .cast("long")
        .alias("end"),
        # Wikidata Q-id when present; other KBs (DBpedia etc.) fall back to
        # the full taIdentRef URI instead of a silently-shared empty string
        F.coalesce(
            F.nullif(
                F.regexp_extract(
                    "value", r"taIdentRef[^<]*<[^>]*?(Q[0-9]+)>", 1),
                F.lit(""),
            ),
            F.nullif(
                F.regexp_extract("value", r"taIdentRef[^<]*<([^>]+)>", 1),
                F.lit(""),
            ),
        ).alias("entity_id"),
        F.regexp_extract("value", r"referenceContext[^<]*<([^>]+)>", 1).alias(
            "ctx_uri"
        ),
    )
    # contexts ≪ mentions (one row per article) → broadcast the dim side
    m = mentions.join(F.broadcast(contexts), "ctx_uri").select(
        "article_idx",
        F.array("start", "end").alias("span"),
        "entity_id",
        F.lit(None).cast("array<string>").alias("candidates"),
    )
    return _finish(m, "nif")


_READERS = {
    "article-jsonl": _read_article_jsonl,
    "simple-jsonl": _read_simple_jsonl,
    "ambiverse": _read_ambiverse,
    "wikifier": _read_wikifier,
    "tsv": _read_tsv_predictions,
    "nif": _read_nif,
}


def read_predictions(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    """One dispatch for every supported foreign prediction format →
    MENTION_SCHEMA (linking_system.py:84-153 recast)."""
    try:
        reader = _READERS[fmt]
    except KeyError:
        raise ValueError(
            f"unknown prediction format {fmt!r}; supported: {sorted(_READERS)}"
        ) from None
    return reader(spark, path)
