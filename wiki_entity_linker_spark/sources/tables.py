"""Sources & sinks (SURVEY.md §2.1).

The reference reads bz2-XML dumps, JSONL article files, TSV SPARQL exports and
writes TSV/JSONL/LMDB (extract_redirects.py:28-51, link_text.py:59-70,
Makefile:280-295, create_databases.py:135-153). The rebuild standardizes on
columnar parquet for tables and keeps explicit-schema JSONL/TSV readers for
the reference's interchange formats (schema inference is banned in the hot
path — it double-scans the input).

Format note (verified against benchmarks/wiki-fair-v2-dev.benchmark.jsonl and
evaluation-results/baseline/*.linked_articles.jsonl): ``hyperlinks`` is a JSON
*tuple* ``[[start, end], "target"]``, not an object. Spark's JSON reader
captures a non-string value as its raw JSON text when the expected type is
string, so the read schema takes each hyperlink as one string and
:func:`read_articles_jsonl` decodes it with ``get_json_object`` +
``from_json`` into a typed ``struct<span, target>`` — JVM-side, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Spans are half-open [start, end) char intervals everywhere.
SPAN = T.ArrayType(T.LongType())

LABEL = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("span", SPAN),
        T.StructField("entity_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("parent", T.LongType()),
        T.StructField("children", T.ArrayType(T.LongType())),
        T.StructField("optional", T.BooleanType()),
        T.StructField("desc", T.BooleanType()),
        T.StructField("coref", T.BooleanType()),
    ]
)

ENTITY_MENTION = T.StructType(
    [
        T.StructField("span", SPAN),
        T.StructField("id", T.StringType()),
        T.StructField("recognized_by", T.StringType()),
        T.StructField("linked_by", T.StringType()),
        T.StructField("candidates", T.ArrayType(T.StringType())),
    ]
)

# Read-time schema: tuple-shaped fields land as raw JSON strings (see module
# docstring); everything object-shaped is typed directly.
ARTICLE_READ_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("hyperlinks", T.ArrayType(T.StringType())),
        T.StructField("title_synonyms", T.ArrayType(SPAN)),
        T.StructField("evaluation_span", SPAN),
        T.StructField("labels", T.ArrayType(LABEL)),
        T.StructField("entity_mentions", T.ArrayType(ENTITY_MENTION)),
    ]
)

# Post-decode schema of read_articles_jsonl (the package-internal Article).
ARTICLE_SCHEMA = T.StructType(
    [f for f in ARTICLE_READ_SCHEMA.fields if f.name != "hyperlinks"]
    + [
        T.StructField(
            "hyperlinks",
            T.ArrayType(
                T.StructType(
                    [T.StructField("span", SPAN), T.StructField("target", T.StringType())]
                )
            ),
        )
    ]
)


def _decode_hyperlink(raw: Column) -> Column:
    """``'[[40, 67], "Landgrave"]'`` → ``struct<span array<long>, target str>``."""
    return F.struct(
        F.from_json(F.get_json_object(raw, "$[0]"), "array<bigint>").alias("span"),
        F.get_json_object(raw, "$[1]").alias("target"),
    )


def read_articles_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSONL article/benchmark source (S3/S4) with the explicit Article
    schema; parses both ``*.benchmark.jsonl`` and ``*.linked_articles.jsonl``
    (link_text.py:59-70 input contract)."""
    raw = spark.read.schema(ARTICLE_READ_SCHEMA).json(path)
    return raw.withColumn(
        "hyperlinks", F.transform("hyperlinks", _decode_hyperlink)
    )


# ---------------------------------------------------------------------------
# TSV (S5 source / S8 sink)
# ---------------------------------------------------------------------------

def read_tsv(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """Explicit-schema, headerless TSV source (S5) — the reference's
    SPARQL-export and dictionary interchange format (Makefile:280-295,
    scripts/create_databases.py:58). No inference: a schema is mandatory."""
    return (
        spark.read.option("sep", "\t")
        .option("header", "false")
        .schema(schema)
        .csv(path)
    )


_WD_ENTITY_URL = r"<http://www\.wikidata\.org/entity/(Q[0-9]+)>"
_XSD_INT = r'^"([0-9][0-9]*)"\^\^<http://www\.w3\.org/2001/XMLSchema#int>$'


def normalize_sparql_values(df: DataFrame) -> DataFrame:
    """Column-wise recast of the reference's sed normalization chain for raw
    SPARQL TSV exports (Makefile:283-291): entity URLs → bare QIDs,
    ``"literal"@en`` → literal, ``"n"^^xsd:int`` → n, ``<url>`` → url.
    Applied to every string column."""
    targets = [f.name for f in df.schema.fields if f.dataType == T.StringType()]
    out = df
    for c in targets:
        v = F.regexp_replace(F.col(c), _WD_ENTITY_URL, r"$1")
        v = F.regexp_replace(v, r'^"([^\t"]*)"@en$', r"$1")
        v = F.regexp_replace(v, _XSD_INT, r"$1")
        v = F.regexp_replace(v, r"^<(https?://[^\t ]*)>$", r"$1")
        out = out.withColumn(c, v)
    return out


def filter_qid_rows(df: DataFrame, qid_col: str) -> DataFrame:
    """The sed ``/^[^Q]/d`` line: keep only rows whose key is a Wikidata QID
    (also drops the SPARQL header row)."""
    return df.filter(F.col(qid_col).rlike("^Q[0-9]+$"))


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSONL sink (S7) — the reference's article interchange output
    (link_text.py:59-70 writes one JSON per line). Spark's json writer emits
    exactly one object per line, one file per partition."""
    df.write.mode("overwrite").json(path)


def write_tsv(df: DataFrame, path: str) -> None:
    """Headerless TSV sink (S8), one file per partition — the format
    :func:`read_tsv` reads back."""
    df.write.mode("overwrite").option("sep", "\t").csv(path)
