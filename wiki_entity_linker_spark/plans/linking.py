"""Entity-linking plan — the reference's headline workflow recast
(SURVEY.md §3.1/§3.3: link_benchmark.py -> evaluate.py).

Where the reference walks each article with an in-RAM alias dictionary and
mutates ``article.entity_mentions`` (linking_system.py:276-292), this plan is
four declarative steps over an articles DataFrame:

1. **mention candidates** — per-article token n-grams with char spans
   (Arrow-batched ``mapInPandas``; char offsets make this the one
   inherently positional step, the spaCy-scan analogue U1);
2. **candidate generation** — broadcast join surface -> alias dictionary
   (J2; the reference's ``get_candidates`` dict lookup);
3. **disambiguation** — popularity argmax with deterministic tie-break
   (J3: freq desc, entity asc — prefix_trie_linker.py:247-260), then
   longest-match-first overlap suppression (W1,
   hyperlink_reference_linker.py:160-215);
4. **evaluation** — span-exact join of predictions vs gold labels ->
   TP/FP/FN -> micro P/R/F1 (evaluate.py:117-127), plus the oracle
   self-test contract (gold in -> 1.0).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wiki_entity_linker_spark.operators.argmax import top1_deterministic
from wiki_entity_linker_spark.operators.spans import suppress_overlaps

MENTION_SCHEMA = "article_id long, start long, end long, surface string"
#: longest mention n-gram (tokens) the linker proposes
MAX_NGRAM = 5


def mention_candidates(articles: DataFrame) -> DataFrame:
    """(article_id, start, end, surface) for every token n-gram,
    n <= ``MAX_NGRAM``.

    Spans are half-open char intervals into ``text`` (the reference's
    universal key). Arrow-batched; the regex scan is per-article Python but
    O(text), not O(aliases x text) like a naive dictionary scan.
    """
    token_re = re.compile(r"\w+")

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_s, out_e, out_surf = [], [], [], []
            for aid, text in zip(pdf["id"], pdf["text"]):
                toks = [(m.start(), m.end()) for m in token_re.finditer(text or "")]
                for i in range(len(toks)):
                    for n in range(1, MAX_NGRAM + 1):
                        if i + n > len(toks):
                            break
                        s, e = toks[i][0], toks[i + n - 1][1]
                        out_id.append(aid)
                        out_s.append(s)
                        out_e.append(e)
                        out_surf.append(text[s:e])
            yield pd.DataFrame(
                {"article_id": out_id, "start": out_s, "end": out_e,
                 "surface": out_surf}
            )

    return articles.select("id", "text").mapInPandas(_scan, schema=MENTION_SCHEMA)


def link_articles(articles: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """-> (article_id, start, end, surface, entity_id) linked mentions.

    ``alias_dict``: (alias, entity_id, freq) — the
    link-text->most-popular-candidates table (create_databases.py:103-122),
    matched case-insensitively.
    """
    cands = mention_candidates(articles)
    matched = cands.withColumn("__k", F.lower(F.col("surface"))).join(
        F.broadcast(alias_dict.withColumn("__k", F.lower(F.col("alias")))), "__k"
    )
    # J3 popularity argmax: per (article, span) the most frequent entity,
    # ties broken by ascending entity id (deterministic re-runs)
    best = top1_deterministic(
        matched,
        ["article_id", "start", "end"],
        score_col="freq",
        tiebreak_col="entity_id",
    ).select("article_id", "start", "end", "surface", "entity_id")
    # W1 longest-match-first claiming per article
    return suppress_overlaps(best, doc_col="article_id")


def evaluate_linking(predictions: DataFrame, gold_labels: DataFrame) -> DataFrame:
    """Span-exact evaluation (J4/A7): prediction is TP iff an identical
    (article, span, entity) gold label exists; micro P/R/F1 in the
    eval_results.json shape."""
    p = predictions.select(
        "article_id", "start", "end", F.col("entity_id").alias("pred_entity")
    )
    g = gold_labels.select(
        "article_id", "start", "end", F.col("entity_id").alias("gold_entity")
    )
    joined = p.join(g, ["article_id", "start", "end"], "full_outer")
    tp = F.sum(
        (F.col("pred_entity").isNotNull()
         & (F.col("pred_entity") == F.col("gold_entity"))).cast("long")
    )
    fp = F.sum(
        (F.col("pred_entity").isNotNull()
         & (F.col("gold_entity").isNull()
            | (F.col("pred_entity") != F.col("gold_entity")))).cast("long")
    )
    fn = F.sum(
        (F.col("gold_entity").isNotNull()
         & (F.col("pred_entity").isNull()
            | (F.col("pred_entity") != F.col("gold_entity")))).cast("long")
    )
    m = joined.agg(
        F.coalesce(tp, F.lit(0)).alias("tp"),
        F.coalesce(fp, F.lit(0)).alias("fp"),
        F.coalesce(fn, F.lit(0)).alias("fn"),
    )
    prec = F.when(F.col("tp") + F.col("fp") > 0,
                  F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(0.0)
    rec = F.when(F.col("tp") + F.col("fn") > 0,
                 F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(0.0)
    f1 = F.when((F.col("precision") + F.col("recall")) > 0,
                2 * F.col("precision") * F.col("recall")
                / (F.col("precision") + F.col("recall"))).otherwise(0.0)
    return (
        m.withColumn("precision", F.round(prec, 6))
        .withColumn("recall", F.round(rec, 6))
        .withColumn("f1", F.round(f1, 6))
    )
