"""Coreference stage of the linking pipeline — the reference's third stage
(``src/wiki_entity_linker/linkers/linking_system.py:276-292``: hyperlink
linker → popularity linker → coref linker).

Spark-first recast of the reference's EntityCorefLinker:

* a vectorized regex scan (``mapInPandas``, Arrow-batched) finds
  he/she-class pronoun and ``the <noun>`` nominal mentions with exact
  character offsets;
* antecedent resolution is ONE window pass, fully JVM-side: union the
  already-linked entity mentions (tagged person via the QID→type table)
  with the coref mentions, sort by position per article, and take
  ``last(<compatible antecedent>, ignorenulls=True)`` over the preceding
  rows — the classic "nearest preceding compatible mention" as-of join.
  No shuffle beyond one hash partition by article; at corpus scale every
  article resolves independently.

Type compatibility: he/she-class pronouns need a Person/Fictional-Character
antecedent; ``the <noun>`` nominals need an antecedent whose whitelist
type maps to that noun (NOMINAL_NOUNS, the stand-in for the reference's
type-word data in small-data-files/whitelist_types.tsv). It/they-class
pronouns are not linked: on wiki-fair-v2 linking every pronoun kind gave
F1 0.6242, person pronouns only 0.6493, and person pronouns plus
uniqueness-gated nominals 0.6521.
"""
from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

PERSON_TYPES = ("Q215627", "Q95074")  # Person, Fictional Character

PERSON_PRONOUNS = {"he", "she", "his", "her", "him", "himself", "herself"}

# head noun of a "the <noun>" nominal -> whitelist type QIDs it may refer to
NOMINAL_NOUNS = {
    "team": ("Q43229",), "band": ("Q43229",), "group": ("Q43229",),
    "company": ("Q43229",), "club": ("Q43229",), "institute": ("Q43229",),
    "school": ("Q43229", "Q27096213"), "university": ("Q43229",),
    "organization": ("Q43229",), "board": ("Q43229",), "church": ("Q43229",),
    "city": ("Q27096213",), "town": ("Q27096213",), "village": ("Q27096213",),
    "county": ("Q27096213",), "district": ("Q27096213",),
    "park": ("Q27096213",), "parish": ("Q27096213",),
    "island": ("Q27096213",), "river": ("Q27096213",),
    "station": ("Q27096213", "Q43229"), "country": ("Q27096213",),
    "song": ("Q17537576",), "album": ("Q17537576",), "film": ("Q17537576",),
    "movie": ("Q17537576",), "book": ("Q17537576",), "novel": ("Q17537576",),
    "show": ("Q17537576",), "series": ("Q17537576",), "tune": ("Q17537576",),
    "play": ("Q17537576",), "piece": ("Q17537576",), "game": ("Q17537576",),
    "species": ("Q16521",), "genus": ("Q16521",),
    "war": ("Q1656682",), "battle": ("Q1656682",), "event": ("Q1656682",),
    "language": ("Q17376908",),
}

_PRONOUN_RE = re.compile(
    r"\b(" + "|".join(sorted(PERSON_PRONOUNS, key=len, reverse=True)) + r")\b")
_NOMINAL_RE = re.compile(
    r"\b([Tt]he|[Tt]his|[Tt]hat)[ ]([a-z]+(?:[ ][a-z]+)?)\b")

COREF_MENTION_SCHEMA = T.StructType(
    [
        T.StructField("article_id", T.LongType()),
        T.StructField("start", T.LongType()),
        T.StructField("end", T.LongType()),
        T.StructField("kind", T.StringType()),      # person|nominal
        T.StructField("noun", T.StringType()),      # nominal head noun or ''
    ]
)


def scan_coref_mentions(articles: DataFrame) -> DataFrame:
    """(article_id, start, end, kind, noun) candidate coref mentions."""

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ss, es, ks, ns = [], [], [], [], []
            for aid, text in zip(pdf["id"], pdf["text"]):
                if not text:
                    continue
                for m in _PRONOUN_RE.finditer(text):
                    ids.append(aid); ss.append(m.start()); es.append(m.end())
                    ks.append("person"); ns.append("")
                for m in _NOMINAL_RE.finditer(text):
                    phrase = m.group(2)
                    head = phrase.split()[-1]
                    noun = head if head in NOMINAL_NOUNS else (
                        phrase.split()[0] if phrase.split()[0] in NOMINAL_NOUNS
                        else None)
                    if noun is None:
                        continue
                    end = m.start() + len(m.group(0))
                    if noun == phrase.split()[0] and len(phrase.split()) > 1:
                        # only the first word is the head: trim the span
                        end = m.start(2) + len(phrase.split()[0])
                    ids.append(aid); ss.append(m.start()); es.append(end)
                    ks.append("nominal"); ns.append(noun)
            yield pd.DataFrame(
                {"article_id": ids, "start": ss, "end": es,
                 "kind": ks, "noun": ns})

    return articles.select("id", "text").mapInPandas(
        _scan, schema=COREF_MENTION_SCHEMA)


def add_coref_links(
    articles: DataFrame, predictions: DataFrame, entity_types: DataFrame
) -> DataFrame:
    """predictions ∪ resolved coref mentions.

    ``predictions``: (article_id, start, end, entity_id, ...)
    ``entity_types``: (entity_id, types) pipe-joined whitelist QIDs.

    A ``the <noun>`` nominal links only when exactly ONE distinct
    type-compatible antecedent precedes it — ambiguity is the dominant
    nominal error source (measured on wiki-fair-v2: unrestricted nominals
    cost net F1, uniqueness-gated nominals add it).
    """
    mentions = scan_coref_mentions(articles)

    typed = predictions.select(
        "article_id", "start", "end", "entity_id"
    ).join(F.broadcast(entity_types), "entity_id", "left")
    is_person = F.coalesce(
        F.col("types").rlike("|".join(PERSON_TYPES)), F.lit(False))

    noun_rows = [(noun, qid) for noun, qids in NOMINAL_NOUNS.items()
                 for qid in qids]
    spark = articles.sparkSession
    noun_types = spark.createDataFrame(noun_rows, ["noun", "type_qid"])

    ants = typed.select(
        "article_id",
        F.col("start").alias("pos"),
        F.lit(None).cast("long").alias("m_end"),
        F.lit(None).cast("string").alias("kind"),
        F.lit(None).cast("string").alias("noun"),
        F.when(is_person, F.col("entity_id")).alias("person_ent"),
        F.col("entity_id").alias("ant_ent"),
        F.coalesce(F.col("types"), F.lit("")).alias("ant_types"),
        F.lit(0).alias("is_mention"),
    )
    ments = mentions.select(
        "article_id",
        F.col("start").alias("pos"),
        F.col("end").alias("m_end"),
        "kind",
        "noun",
        F.lit(None).cast("string").alias("person_ent"),
        F.lit(None).cast("string").alias("ant_ent"),
        F.lit(None).cast("string").alias("ant_types"),
        F.lit(1).alias("is_mention"),
    )
    # antecedents sort before a mention at the same position
    w = (Window.partitionBy("article_id")
         .orderBy("pos", "is_mention")
         .rowsBetween(Window.unboundedPreceding, -1))
    resolved = (
        ants.unionByName(ments)
        .withColumn("prev_person", F.last("person_ent", True).over(w))
        .filter(F.col("is_mention") == 1)
    )
    pron = resolved.filter(F.col("kind") == "person").select(
        "article_id",
        F.col("pos").alias("start"),
        F.col("m_end").alias("end"),
        F.col("prev_person").alias("entity_id"),
    ).filter(F.col("entity_id").isNotNull())

    # nominals: nearest preceding antecedent whose types include the noun's
    # type — resolved per (article, noun) with the same window trick
    ant_noun = (
        ants.drop("noun").join(
            F.broadcast(noun_types),
            F.col("ant_types").contains(F.col("type_qid")))
        .select("article_id", "pos", "noun",
                F.col("ant_ent").alias("cand_ent"),
                F.lit(0).alias("is_mention"))
    )
    ment_noun = (
        ments.filter(F.col("kind") == "nominal")
        .select("article_id", "pos", "noun", "m_end",
                F.lit(None).cast("string").alias("cand_ent"),
                F.lit(1).alias("is_mention"))
    )
    wn = (Window.partitionBy("article_id", "noun")
          .orderBy("pos", "is_mention")
          .rowsBetween(Window.unboundedPreceding, -1))
    nom = (
        ant_noun.withColumn("m_end", F.lit(None).cast("long"))
        .unionByName(ment_noun)
        .withColumn("prev_cand", F.last("cand_ent", True).over(wn))
        .withColumn("n_cand", F.size(F.collect_set("cand_ent").over(wn)))
        .filter(
            (F.col("is_mention") == 1)
            & F.col("prev_cand").isNotNull()
            & (F.col("n_cand") == 1)
        )
    )
    nom = nom.select("article_id",
                     F.col("pos").alias("start"),
                     F.col("m_end").alias("end"),
                     F.col("prev_cand").alias("entity_id"))

    corefs = pron.unionByName(nom)
    # never override an existing prediction span
    base = predictions.select("article_id", "start", "end", "entity_id")
    new = corefs.join(base.select("article_id", "start").distinct(),
                      ["article_id", "start"], "left_anti")
    return base.unionByName(new)
