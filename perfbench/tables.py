"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed, so the same seed always
gives the same parquet files. The program under test only ever sees the
written tables.

* ``er_full``: the repo's synthetic source-code corpus
  (``fixtures.corpus.generate_corpus``) at the ``perfbench`` scale
  registered below, an eighth of ``bench``.
* ``headline_queries``: a star schema + events + documents + embeddings
  with the column shapes the headline queries read, sized like the
  repo's sf0.01 test tables. Documents carry planted near-duplicate families
  that the headline ER query must recover exactly.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

ER_SCALE = "perfbench"
#: 5,000 entities, ~11.8k files, five times ``small``: the largest corpus
#: whose cold runs, next to ``headline_queries``, fit the benchmark's time
#: budget (``bench``, 40,000 entities, takes ~100 s per cold run on 4 cores;
#: see README.md)
PERFBENCH_SCALE = dict(n_entities=5000, n_repos=50, vendored_repo_frac=0.10)

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def write_er_inputs(out_dir: str, seed: int, scale: str) -> dict:
    """Write the ER corpus and the gold facts the output checks need
    (scale, file and distinct-file counts, planted entities)."""
    from wiki_entity_linker_spark.fixtures import corpus

    # registered in this process only; the corpus module is not changed
    corpus.SCALES.setdefault("perfbench", PERFBENCH_SCALE)
    c = corpus.generate_corpus(scale, seed)
    os.makedirs(out_dir, exist_ok=True)
    sf = c["source_files"]
    sf.to_parquet(f"{out_dir}/source_files.parquet", index=False)
    c["labeled_pairs"].to_parquet(f"{out_dir}/labeled_pairs.parquet", index=False)
    return {
        "scale": scale,
        "files": int(len(sf)),
        "file_ids": int(len(sf[["repo", "path", "commit"]].drop_duplicates())),
        "entities": int(c["gold_clusters"]["entity_id"].nunique()),
    }


def _documents(rng: np.random.Generator, n: int) -> tuple[pd.DataFrame, list[int]]:
    """Random word-salad documents; ~8% are copies of an earlier document,
    70% of them with one appended word. Returns the table and each
    document's family id. The copies are close enough (token 3-shingle
    Jaccard >= 0.95) that ``er_cluster_documents`` recovers every family
    on every seed, so its pair F1 is exactly 1.0 when the query is right."""
    texts: list[str] = []
    family: list[int] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.08:
            src = int(rng.integers(0, i))
            words = texts[src].split()
            if rng.random() < 0.7:
                words = words + ["dup"]
            texts.append(" ".join(words))
            family.append(family[src])
        else:
            k = int(rng.integers(20, 100))
            texts.append(" ".join(rng.choice(_WORDS, size=k)))
            family.append(i)
    langs = np.array(["en", "de", "fr", "es", "zh"])
    df = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.integers(0, 5, n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return df, family


def _dates(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    day = rng.integers(0, days, n).astype("timedelta64[D]")
    return (np.datetime64("1995-01-01") + day).astype("datetime64[us]")


def headline_tables(seed: int) -> tuple[dict[str, pd.DataFrame], list[int]]:
    """sf0.01-sized tables for the headline queries, and the planted
    document families."""
    rng = np.random.default_rng(seed)
    n_cust, n_orders, n_items, n_events, n_docs, n_vecs = (
        1500, 15000, 60000, 10000, 500, 500,
    )
    region = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            # quarter-unit balances: sums are exact in binary floating point,
            # so Spark and DuckDB round the rollup identically
            "c_acctbal": rng.integers(-4000, 40000, n_cust) / 4.0,
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
            "o_orderdate": _dates(rng, n_orders, 2400),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
            ),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_items).astype(np.int64),
            "l_partkey": rng.integers(0, 2000, n_items).astype(np.int64),
            "l_suppkey": rng.integers(0, 100, n_items).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_items).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_items), 2),
            "l_discount": rng.integers(0, 11, n_items) / 100.0,
            "l_tax": rng.integers(0, 9, n_items) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_items),
            "l_linestatus": rng.choice(["F", "O"], n_items),
            "l_shipdate": _dates(rng, n_items, 2500),
        }
    )
    ev_t = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + ev_t.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n_events).astype(np.int64),
            "event_type": rng.choice(["click", "view", "signup", "error", "purchase"], n_events),
            "value": np.round(rng.exponential(40.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    documents, family = _documents(rng, n_docs)
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }
    )
    tables = {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }
    return tables, family


def write_headline_inputs(out_dir: str, seed: int) -> dict:
    """Write the headline tables; returns ``{"documents": n, "family": [...]}``."""
    tables, family = headline_tables(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(f"{out_dir}/{name}.parquet", index=False)
    return {"documents": len(tables["documents"]), "family": family}
