"""S1: compressed XML-dump source + redirect extraction.

The reference streams a bz2 dump line-by-line and carries the last seen
``<title>`` in a loop variable to pair it with a later ``#REDIRECT [[...]]``
line (scripts/extract_redirects.py:28-51). That cross-line state doesn't
distribute; the Spark recast reads ONE ROW PER ``<page>`` element instead —
``spark.read.option("lineSep", "</page>").text(...)`` splits records at page
boundaries after Hadoop's codec decompresses the stream — so title and
redirect live in the same row and the extraction is two JVM-side
``regexp_extract`` expressions. Works on ``.bz2`` files directly (Hadoop
treats bz2 as a splittable codec: a 20 GB dump chunk fans out over
executors without pre-splitting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Mirrors the reference's parse exactly: case-insensitive #REDIRECT, target =
# text inside the FIRST [[...]] after it, underscores → spaces.
_TITLE_RE = r"<title>(.*?)</title>"
_REDIRECT_RE = r"(?is)#REDIRECT.*?\[\[(.*?)]]"


def read_dump_pages(spark: SparkSession, path: str) -> DataFrame:
    """→ one row per ``<page>`` XML blob (column ``page``)."""
    return (
        spark.read.option("lineSep", "</page>")
        .text(path)
        .withColumnRenamed("value", "page")
        .filter(F.col("page").contains("<title>"))
    )


def extract_redirects(pages: DataFrame) -> DataFrame:
    """→ ``(title, target)`` for every redirect page
    (extract_redirects.py:28-51 recast)."""
    c = F.col("page")
    return (
        pages.select(
            F.regexp_extract(c, _TITLE_RE, 1).alias("title"),
            F.regexp_extract(c, _REDIRECT_RE, 1).alias("raw_target"),
        )
        .filter((F.col("title") != "") & (F.col("raw_target") != ""))
        .select("title", F.translate("raw_target", "_", " ").alias("target"))
    )


def redirects_from_dump(spark: SparkSession, path: str) -> DataFrame:
    """End-to-end S1: compressed dump → (title, target) redirect table."""
    return extract_redirects(read_dump_pages(spark, path))
