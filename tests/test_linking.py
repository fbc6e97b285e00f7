"""Entity-linking plan vs an independent pure-Python reference
implementation of the same semantics (candidate n-grams -> alias lookup ->
popularity argmax -> longest-first claiming -> span-exact eval)."""

import re

import pytest
from pyspark.sql import functions as F

from wiki_entity_linker_spark.fixtures.benchmark import generate_benchmark
from wiki_entity_linker_spark.plans import linking
from wiki_entity_linker_spark.plans.linking import (
    evaluate_linking,
    link_articles,
    mention_candidates,
)


@pytest.fixture(scope="module")
def bench(spark):
    tables = generate_benchmark(n_articles=40)
    return {
        "articles": spark.createDataFrame(tables["articles"]),
        "gold": spark.createDataFrame(tables["gold_labels"]),
        "alias": spark.createDataFrame(tables["alias_dict"]),
        "pd": tables,
    }


def _py_link(articles_pd, alias_pd, max_ngram=3):
    best_alias = {}
    for alias, eid, freq in alias_pd.itertuples(index=False):
        k = alias.lower()
        cur = best_alias.get(k)
        if cur is None or freq > cur[0] or (freq == cur[0] and eid < cur[1]):
            best_alias[k] = (freq, eid)
    out = []
    for aid, text in articles_pd.itertuples(index=False):
        toks = [(m.start(), m.end()) for m in re.finditer(r"\w+", text)]
        cands = []
        for i in range(len(toks)):
            for n in range(1, max_ngram + 1):
                if i + n > len(toks):
                    break
                s, e = toks[i][0], toks[i + n - 1][1]
                hit = best_alias.get(text[s:e].lower())
                if hit:
                    cands.append((s, e, hit[1]))
        taken, keep = [], []
        for s, e, eid in sorted(cands, key=lambda x: (-(x[1] - x[0]), x[0])):
            if all(e <= ts or s >= te for ts, te in taken):
                taken.append((s, e))
                keep.append((aid, s, e, eid))
        out.extend(keep)
    return set(out)


def test_linking_matches_python_reference(spark, bench, monkeypatch):
    monkeypatch.setattr(linking, "MAX_NGRAM", 3)
    linked = link_articles(bench["articles"], bench["alias"])
    got = {
        (r["article_id"], r["start"], r["end"], r["entity_id"])
        for r in linked.collect()
    }
    want = _py_link(bench["pd"]["articles"], bench["pd"]["alias_dict"])
    assert got == want and len(want) > 0


def test_mention_candidates_spans_are_valid(spark, bench, monkeypatch):
    monkeypatch.setattr(linking, "MAX_NGRAM", 2)
    cands = mention_candidates(bench["articles"])
    arts = {r["id"]: r["text"] for r in bench["articles"].collect()}
    for r in cands.limit(200).collect():
        assert arts[r["article_id"]][r["start"]:r["end"]] == r["surface"]


def test_eval_oracle_self_check(spark, bench):
    """Gold passthrough -> exactly P=R=F1=1.0 (link_benchmark.py:80-81)."""
    preds = bench["gold"].select("article_id", "start", "end", "entity_id")
    m = evaluate_linking(preds, bench["gold"]).collect()[0]
    assert (m["precision"], m["recall"], m["f1"]) == (1.0, 1.0, 1.0)
    assert m["fp"] == 0 and m["fn"] == 0


def test_end_to_end_linking_quality(spark, bench, monkeypatch):
    """The popularity-argmax baseline must find nearly all planted mentions
    (recall); ambiguous 'delta' resolves to the more popular entity so the
    Q6-'delta'-alias gold spans cost precision exactly as the reference's
    baseline does."""
    monkeypatch.setattr(linking, "MAX_NGRAM", 3)
    linked = link_articles(bench["articles"], bench["alias"])
    m = evaluate_linking(linked, bench["gold"]).collect()[0]
    assert m["recall"] >= 0.7
    assert m["precision"] >= 0.5
    assert m["tp"] > 50
