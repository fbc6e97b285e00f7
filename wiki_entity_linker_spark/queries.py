"""Query registry: every implemented operator from SURVEY.md §2 as a
``(spark_fn, duckdb_oracle_sql)`` pair.

The driver runs each Spark query and its oracle SQL side-by-side on the same
parquet tables and compares row count + schema + order-insensitive value
hash, so every computed column is aliased identically on both sides, every
double is rounded on both sides, and every hash is the portable md5-derived
``h64`` family (functions/hashing.py). As of round 3 EVERY registered query
carries a value-checked oracle — including the probabilistic paths (LSH /
IVF ANN via data-independent seeded literals embedded in the SQL), the full
ER composite (band-exact + recursive-CTE connected components) and greedy
overlap suppression (recursive-CTE fixpoint carrying chosen-set list state).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wiki_entity_linker_spark.functions.hashing import h64_sql, mh_family, mh_mix_sql
from wiki_entity_linker_spark.functions.text import (
    lang_id,
    normalize_content,
    quality_score,
    shingles,
    token_count,
    tokenize,
)
from wiki_entity_linker_spark.operators.ann import LSH_SEED, cosine_topk, lsh_topk
from wiki_entity_linker_spark.operators.argmax import argmax_with_ties, top1_deterministic
from wiki_entity_linker_spark.operators.blocking import minhash_signatures
from wiki_entity_linker_spark.operators.closure import (
    components_with_singletons,
    transitive_closure,
)
from wiki_entity_linker_spark.operators.dedup import (
    embedding_neardup_lsh_pairs,
    exact_dedup,
    minhash_neardup_clusters_incremental,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from wiki_entity_linker_spark.operators.spans import suppress_overlaps
from wiki_entity_linker_spark.session import cut

QueryFn = Callable[[SparkSession, str], DataFrame]
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def q(name: str, sql: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, source, n_tokens)`` over the whole corpus — the row
    format the curation mixture, budget-walk and eval-slice builders
    (plans/curation.py) take."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tokens")
    )


# ---------------------------------------------------------------------------
# Shared DuckDB SQL fragments (must mirror functions/text.py exactly)
# ---------------------------------------------------------------------------

def _toks_sql(expr: str) -> str:
    """DuckDB rendering of text.tokenize(): normalize → \\W+ split → drop ''."""
    norm = f"lower(trim(regexp_replace({expr}, '\\s+', ' ', 'g')))"
    return f"list_filter(regexp_split_to_array({norm}, '\\W+'), x -> x <> '')"


def _ngrams_sql(tok_expr: str, k: int) -> str:
    """DuckDB rendering of text.ngrams(): k-token grams WITH multiplicity."""
    joined = f"[array_to_string({tok_expr}[i:i+{k - 1}], ' ') for i in range(1, len({tok_expr}) - {k - 2})]"
    return (
        f"CASE WHEN len({tok_expr}) >= {k} THEN {joined} "
        f"ELSE [array_to_string({tok_expr}, ' ')] END"
    )


def _shingles_sql(tok_expr: str, k: int) -> str:
    """DuckDB rendering of text.shingles(): distinct k-token shingles."""
    return f"list_distinct({_ngrams_sql(tok_expr, k)})"


_EN = "['the','and','of','to','is','in','that','it','with','for']"
_DE = "['der','die','das','und','ist','nicht','ein','mit','von','zu']"
_FR = "['le','la','les','et','est','une','des','dans','pour','que']"
_ES = "['el','la','los','y','es','una','en','por','para','del']"


def _hits(tok: str, markers: str) -> str:
    return f"len(list_intersect(list_distinct({tok}), {markers}))"


# ===========================================================================
# Aggregations (SURVEY §2.3)
# ===========================================================================

@q(
    "agg_link_frequency",
    """SELECT l_returnflag, l_linestatus, count(*) AS n
       FROM lineitem GROUP BY l_returnflag, l_linestatus""",
)
def agg_link_frequency(spark, sf_dir):
    """A1 link-frequency count (get_link_frequencies.py:34-43 recast)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )


@q(
    "argmax_with_ties",
    """WITH c AS (SELECT o_custkey, o_orderpriority, count(*) AS n
                  FROM orders GROUP BY o_custkey, o_orderpriority)
       SELECT o_custkey, o_orderpriority, n FROM
         (SELECT *, rank() OVER (PARTITION BY o_custkey ORDER BY n DESC) AS rk FROM c)
       WHERE rk = 1""",
)
def argmax_ties(spark, sf_dir):
    """A2 most-popular-candidate argmax, ties preserved
    (create_databases.py:103-122: rank, NOT max_by)."""
    counts = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    return argmax_with_ties(counts, ["o_custkey"], "n")


@q(
    "unigram_counts",
    f"""SELECT token, count(*) AS cnt
        FROM (SELECT unnest({_toks_sql('text')}) AS token FROM documents)
        GROUP BY token""",
)
def unigram_counts(spark, sf_dir):
    """A3 unigram word count (count_unigrams.py:14-30 recast)."""
    return (
        _t(spark, sf_dir, "documents")
        .select(F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


@q(
    "map_ops_link_freq",
    """WITH c AS (SELECT l_returnflag, l_linestatus, count(*) AS n
                  FROM lineitem GROUP BY 1, 2)
       SELECT l_returnflag,
              string_agg(l_linestatus || ':' || n, ';' ORDER BY l_linestatus)
                AS map_ser,
              coalesce(max(CASE WHEN l_linestatus = 'O' THEN n END), -1)
                AS lookup_o
       FROM c GROUP BY l_returnflag""",
)
def map_ops_link_freq(spark, sf_dir):
    """2.7 map ops on a REAL MapType column (the reference's keyed
    link-frequency mappings, entity_database.py:13-34 /
    get_link_frequencies.py:34-43): build linestatus→count maps with
    map_from_entries, iterate with map_entries/transform, look up with
    element_at. Serialized sorted so the oracle can value-check the map."""
    c = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )
    m = c.groupBy("l_returnflag").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("l_linestatus", "n")))
        ).alias("m")
    )
    return m.select(
        "l_returnflag",
        F.array_join(
            F.transform(
                F.map_entries("m"),
                lambda e: F.concat(e["key"], F.lit(":"), e["value"].cast("string")),
            ),
            ";",
        ).alias("map_ser"),
        F.coalesce(F.element_at(F.col("m"), F.lit("O")), F.lit(-1).cast("long")).alias(
            "lookup_o"
        ),
    )


@q(
    "collect_set_sorted",
    """SELECT lang, string_agg(DISTINCT source, ';' ORDER BY source) AS sources
       FROM documents GROUP BY lang""",
)
def collect_set_sorted(spark, sf_dir):
    """A4/A5/A6 collect-set + ordered group_concat
    (extract_title_synonyms.py:25-29, Makefile:376-382 recast)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.concat_ws(";", F.sort_array(F.collect_set("source"))).alias("sources"))
    )


@q(
    "cube_quantity",
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
              coalesce(l_linestatus, 'ALL') AS linestatus,
              count(*) AS n,
              round(sum(l_quantity), 2) AS sum_qty
       FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
)
def cube_quantity(spark, sf_dir):
    """A7-adjacent grouping-sets rollup (the reference's per-slice metric
    families, evaluate.py:117-127)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


@q(
    "distinct_pairs",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_pairs(spark, sf_dir):
    """A9 distinct (SPARQL SELECT DISTINCT / set() accumulation recast)."""
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@q(
    "first_writer_wins",
    """SELECT o_custkey, o_orderkey AS first_orderkey FROM
         (SELECT o_custkey, o_orderkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders)
       WHERE rn = 1""",
)
def first_writer_wins(spark, sf_dir):
    """A10 first-writer-wins dedup, made deterministic
    (create_abstracts_mapping.py:28-38)."""
    won = top1_deterministic(
        _t(spark, sf_dir, "orders"),
        ["o_custkey"],
        order=[F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
    )
    return won.select("o_custkey", F.col("o_orderkey").alias("first_orderkey"))


@q(
    "benchmark_statistics",
    f"""SELECT count(*) AS n_docs,
               count(DISTINCT source) AS n_sources,
               CAST(sum(len({_toks_sql('text')})) AS BIGINT) AS total_tokens,
               round(avg(n_chars), 4) AS avg_chars
        FROM documents""",
)
def benchmark_statistics(spark, sf_dir):
    """A8 benchmark statistics (analyze_benchmark.py:28-40 recast)."""
    return _t(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(token_count("text")).alias("total_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


# ===========================================================================
# Joins (SURVEY §2.4)
# ===========================================================================

@q(
    "dim_join_rollup",
    """SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_bal
       FROM customer JOIN nation ON c_nationkey = n_nationkey
                     JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name""",
)
def dim_join_rollup(spark, sf_dir):
    """J1 broadcast dimension-join chain (link2id title→redirect→QID recast)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
    )


@q(
    "semi_join",
    """SELECT c_custkey, c_name FROM customer
       WHERE EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""",
)
def semi_join(spark, sf_dir):
    """J6 membership split — left_semi (split_dataset.py:24-30 recast)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@q(
    "anti_join",
    """SELECT c_custkey, c_name FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""",
)
def anti_join(spark, sf_dir):
    """J6 anti-join (train split = dump minus dev/test ids,
    split_dataset.py:104-120).  Filtered to 'F' orders so the result is
    non-empty on the testdata (71 rows at sf0.01) — an all-orders anti-join
    matched nothing and the oracle check was vacuous."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@q(
    "best_candidate_rank",
    """SELECT l_partkey, l_suppkey AS best_suppkey FROM
         (SELECT l_partkey, l_suppkey,
                 row_number() OVER (PARTITION BY l_partkey
                                    ORDER BY sum_qty DESC, l_suppkey) AS rn
          FROM (SELECT l_partkey, l_suppkey, sum(l_quantity) AS sum_qty
                FROM lineitem GROUP BY l_partkey, l_suppkey))
       WHERE rn = 1""",
)
def best_candidate_rank(spark, sf_dir):
    """J3/W2 candidate argmax with deterministic tie-break
    (prefix_trie_linker.py:247-260: score desc, id asc)."""
    per = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    best = top1_deterministic(per, ["l_partkey"], score_col="sum_qty", tiebreak_col="l_suppkey")
    return best.select("l_partkey", F.col("l_suppkey").alias("best_suppkey"))


@q(
    "interval_join_events",
    """SELECT o_custkey, count(*) AS n_events FROM
         (SELECT user_id % 10 AS doc, event_id % 5000 AS pos FROM events) p
       JOIN
         (SELECT o_custkey, o_custkey % 10 AS doc, o_orderkey % 5000 AS s
          FROM orders) iv
         ON p.doc = iv.doc AND p.pos >= iv.s AND p.pos < iv.s + 3
       GROUP BY o_custkey""",
)
def interval_join_events(spark, sf_dir):
    """J5 interval join (token-within-span assignment,
    create_qlever_text_files.py:48-72 recast), routed through
    ``bucketed_interval_join`` so the oracle checks the *scale path* — the
    bucket-explode equi-join, not a raw range-join nested loop.  Points and
    intervals are derived from events/orders integer keys so both sides
    overlap and the check is non-vacuous (1493 groups at sf0.01)."""
    from wiki_entity_linker_spark.operators.spans import bucketed_interval_join

    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("doc"), (F.col("event_id") % 5000).alias("pos")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_custkey") % 10).alias("doc"),
        (F.col("o_orderkey") % 5000).alias("start"),
        (F.col("o_orderkey") % 5000 + 3).alias("end"),
    )
    # the operator result is bucket-invariant; the oracle doesn't bucket
    joined = bucketed_interval_join(e, o)
    return joined.groupBy("o_custkey").agg(F.count("*").alias("n_events"))


@q(
    "transitive_closure",
    """WITH RECURSIVE anc(child, ancestor) AS (
         SELECT c_custkey, c_custkey // 2 FROM customer
         WHERE c_custkey BETWEEN 2 AND 255
         UNION
         SELECT a.child, e.c_custkey // 2
         FROM anc a JOIN customer e ON a.ancestor = e.c_custkey
         WHERE e.c_custkey >= 2
       )
       SELECT child, ancestor FROM anc""",
)
def closure_query(spark, sf_dir):
    """J7 transitive closure (P31/P279+ type closure,
    create_all_types_mapping.py:20-49 recast as iterative self-join)."""
    edges = (
        _t(spark, sf_dir, "customer")
        .filter((F.col("c_custkey") >= 2) & (F.col("c_custkey") <= 255))
        .select(
            F.col("c_custkey").alias("child"),
            F.floor(F.col("c_custkey") / 2).cast("long").alias("parent"),
        )
    )
    # a few-hundred-edge graph: transitive_closure finishes it (and its
    # depth-overflow bound) on the driver, result-identically
    out = transitive_closure(edges)
    return out.select(F.col("child").cast("long"), F.col("parent").cast("long").alias("ancestor"))


@q(
    "connected_components",
    """SELECT c_custkey AS id, (c_custkey // 100) * 100 AS component
       FROM customer WHERE c_custkey <= 500""",
)
def connected_components_query(spark, sf_dir):
    """Large-star/small-star connected components on 100-node chain graphs
    (closed-form oracle). Long chains are the worst case for label
    propagation — O(log n) alternating-star rounds must converge."""
    nodes = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 500)
        .select(F.col("c_custkey").cast("long").alias("file_id"))
    )
    edges = (
        nodes.filter(F.col("file_id") % 100 != 99)
        .select(F.col("file_id").alias("id_a"), (F.col("file_id") + 1).alias("id_b"))
        .join(nodes.select(F.col("file_id").alias("id_b")), "id_b", "left_semi")
    )
    # the 500-node chain fixture sits under the CC tail-solve cut-over, so
    # it is finished on the driver; the distributed star-contraction loop is
    # exercised by the closure unit tests, which lower the cut-over
    return components_with_singletons(
        nodes, edges, id_col="file_id"
    ).select(
        F.col("id"), F.col("component")
    )


# ===========================================================================
# Set ops / windows / ordering (SURVEY §2.5, §2.6)
# ===========================================================================

@q(
    "union_except",
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       UNION
       SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
       EXCEPT
       SELECT c_custkey FROM customer WHERE c_acctbal < 0""",
)
def union_except(spark, sf_dir):
    """T1/T2 alias-source union + REMOVE subtraction
    (entity_database.py:85-100, wikidata-types/Makefile:134-139)."""
    c = _t(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    machinery = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    negative = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return building.union(machinery).distinct().exceptAll(negative.distinct())


@q(
    "topk_orders",
    """SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
)
def topk_orders(spark, sf_dir):
    """W3/W5 ordered sink + top-k (count_unigrams.py:29 sorted output,
    Makefile:285 LIMIT)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


@q(
    "window_rank_events",
    """SELECT user_id, event_id, rnk FROM
         (SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY value DESC, event_id) AS rnk
          FROM events)
       WHERE rnk <= 3""",
)
def window_rank_events(spark, sf_dir):
    """W2 per-key top-k ranking with total order."""
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", "rnk")
    )


@q(
    "sessionize",
    """SELECT user_id, count(*) AS n_sessions FROM
         (SELECT user_id,
                 CASE WHEN lag_ts IS NULL
                        OR extract(epoch FROM ts - lag_ts) > 1800 THEN 1
                      ELSE 0 END AS new_session
          FROM (SELECT user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS lag_ts
                FROM events))
       WHERE new_session = 1 GROUP BY user_id""",
)
def sessionize(spark, sf_dir):
    """Sessionization: gap > 30 min starts a new session (lag + filter)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = _t(spark, sf_dir, "events").withColumn("lag_ts", F.lag("ts").over(w))
    # parquet timestamps arrive as TIMESTAMP_NTZ; go through TIMESTAMP to get
    # an epoch double (session tz is pinned UTC = DuckDB's naive reading)
    ep = lambda c: F.col(c).cast("timestamp").cast("double")  # noqa: E731
    new_s = F.when(
        F.col("lag_ts").isNull() | ((ep("ts") - ep("lag_ts")) > 1800.0), 1
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_s)
        .filter(F.col("new_session") == 1)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )


@q(
    "tumbling_window_counts",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
              event_type, count(*) AS n, round(sum(value), 2) AS sum_value
       FROM events GROUP BY 1, 2""",
)
def tumbling_window_counts(spark, sf_dir):
    """Streaming-shaped windowed aggregation, batch parity (the identical
    plan runs under Structured Streaming in streaming/events.py)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# ===========================================================================
# Scalar functions (SURVEY §2.2, §2.7)
# ===========================================================================

@q(
    "regex_extract_numbers",
    """SELECT event_id, CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS k
       FROM events""",
)
def regex_extract_numbers(spark, sf_dir):
    """P/2.7 regex extraction (extract_redirects.py:22-23, QID pattern
    evaluate.py:33-36)."""
    return _t(spark, sf_dir, "events").select(
        "event_id", F.regexp_extract("props", "([0-9]+)", 1).cast("long").alias("k")
    )


@q(
    "name_split",
    """SELECT p_partkey,
              list_extract(string_split(p_name, ' '), 1) AS given,
              list_extract(string_split(p_name, ' '), -1) AS family
       FROM part""",
)
def name_split(spark, sf_dir):
    """2.7 given/family name split (entity_database.py:104-108,
    prefix_trie_linker.py:168-170)."""
    toks = F.split(F.col("p_name"), " ")
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.element_at(toks, 1).alias("given"),
        F.element_at(toks, -1).alias("family"),
    )


@q(
    "name_variants",
    """WITH named AS (
         SELECT p_partkey,
                array_to_string(list_transform(string_split(p_name, ' '),
                                               x -> upper(x[1]) || x[2:]),
                                ' ') AS name
         FROM part WHERE p_partkey <= 500),
       parts AS (
         SELECT p_partkey, name, string_split(name, ' ') AS p,
                list_filter(string_split(name, ' '), x -> x <> '') AS ne
         FROM named),
       mid AS (
         SELECT *, list_filter(p[2:len(p)-1], x -> x <> '') AS m FROM parts)
       SELECT p_partkey,
              coalesce(array_to_string(
                CASE WHEN len(p) > 2 AND
                          len(list_filter(ne, x -> NOT (upper(x[1]) = x[1]
                                                   AND lower(x[1]) <> x[1]))) = 0
                     THEN list_sort(list_distinct([
                       p[1] || ' ' || p[-1],
                       p[1] || ' ' || array_to_string(list_transform(m, x -> x[1]), ' ')
                            || ' ' || p[-1],
                       p[1] || ' ' || array_to_string(list_transform(m, x -> x[1] || '.'), '')
                            || ' ' || p[-1],
                       p[1] || ' ' || array_to_string(list_transform(m, x -> x[1] || '.'), ' ')
                            || ' ' || p[-1]]))
                     ELSE [] END, '|'), '') AS variants,
              array_to_string(
                CASE WHEN name LIKE '%s' THEN [name, substr(name, 1, length(name) - 1)]
                     ELSE [name] END, '|') AS singular
       FROM mid""",
)
def name_variants(spark, sf_dir):
    """2.7 middle-name variant generation + trailing-s singularization
    (hyperlink_reference_linker.py:65-89, prefix_trie_linker.py:235-246)
    over title-cased part names."""
    from wiki_entity_linker_spark.functions.text import (
        middle_name_variants,
        singular_variants,
    )

    titled = F.concat_ws(
        " ",
        F.transform(
            F.split("p_name", " "),
            lambda t: F.concat(F.upper(F.substring(t, 1, 1)), t.substr(F.lit(2), F.length(t))),
        ),
    )
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 500)
        .select(
            "p_partkey",
            # '|'-joined so the driver's pandas canonicalizer can hash the
            # cells (it cannot factorize list-valued columns); both sides
            # sort+dedup first so the serialization is deterministic.
            F.array_join(middle_name_variants(titled), "|").alias("variants"),
            F.array_join(singular_variants(titled), "|").alias("singular"),
        )
    )


@q(
    "prf1_rollup",
    """SELECT l_returnflag AS slice,
              CAST(sum(CASE WHEN actual AND predicted THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              CAST(sum(CASE WHEN NOT actual AND predicted THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              CAST(sum(CASE WHEN actual AND NOT predicted THEN 1 ELSE 0 END) AS BIGINT) AS fn
       FROM (SELECT l_returnflag, l_tax > 0.04 AS actual,
                    l_discount > 0.05 AS predicted FROM lineitem)
       GROUP BY l_returnflag""",
)
def prf1_rollup(spark, sf_dir):
    """A7 TP/FP/FN rollup shape (evaluate.py:117-127 metric families)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_tax") > 0.04).alias("actual"),
        (F.col("l_discount") > 0.05).alias("predicted"),
    )
    return li.groupBy(F.col("l_returnflag").alias("slice")).agg(
        F.sum((F.col("actual") & F.col("predicted")).cast("long")).alias("tp"),
        F.sum((~F.col("actual") & F.col("predicted")).cast("long")).alias("fp"),
        F.sum((F.col("actual") & ~F.col("predicted")).cast("long")).alias("fn"),
    )


@q(
    "deterministic_split",
    f"""SELECT split, count(*) AS n, count(DISTINCT doc_id) AS n_docs FROM
         (SELECT doc_id,
                 CASE WHEN {h64_sql("CAST(doc_id AS VARCHAR)")} % 10 < 8
                      THEN 'train' ELSE 'heldout' END AS split
          FROM documents)
       GROUP BY split""",
)
def deterministic_split(spark, sf_dir):
    """W4/J6 reproducible dataset split (split_dataset.py:18,55-56 recast):
    the reference shuffles with ``random.seed(42)``; the distributed version
    splits by portable content-independent hash so membership is a pure
    function of the key on every engine and cluster size."""
    from wiki_entity_linker_spark.functions.hashing import h64

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(h64(F.col("doc_id").cast("string")) % 10 < 8, "train")
        .otherwise("heldout")
        .alias("split"),
    )
    return d.groupBy("split").agg(
        F.count("*").alias("n"), F.countDistinct("doc_id").alias("n_docs")
    )


@q(
    "jaro_winkler_pairs",
    """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
              round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
       FROM part a, part b
       WHERE a.p_partkey < b.p_partkey AND a.p_partkey <= 60 AND b.p_partkey <= 60""",
)
def jaro_winkler_pairs(spark, sf_dir):
    """U2 batched pairwise scoring: the Arrow pandas-UDF Jaro-Winkler is
    oracle-checked against DuckDB's builtin (trained_entity_linker.py:124-142
    batching pattern)."""
    from wiki_entity_linker_spark.functions.similarity import jaro_winkler_udf

    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 60)
    a = p.select(F.col("p_partkey").alias("id_a"), F.col("p_name").alias("na"))
    b = p.select(F.col("p_partkey").alias("id_b"), F.col("p_name").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(jaro_winkler_udf("na", "nb"), 6).alias("jw"))
    )


@q(
    "levenshtein_ratio_pairs",
    """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
              round(1.0 - levenshtein(a.p_name, b.p_name)::DOUBLE
                    / greatest(length(a.p_name), length(b.p_name)), 6) AS lev_ratio
       FROM part a, part b
       WHERE a.p_partkey < b.p_partkey AND a.p_partkey <= 60 AND b.p_partkey <= 60""",
)
def levenshtein_ratio_pairs(spark, sf_dir):
    """Pairwise Levenshtein ratio — JVM builtin (codegen), no UDF needed."""
    from wiki_entity_linker_spark.functions.similarity import levenshtein_ratio

    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 60)
    a = p.select(F.col("p_partkey").alias("id_a"), F.col("p_name").alias("na"))
    b = p.select(F.col("p_partkey").alias("id_b"), F.col("p_name").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.round(levenshtein_ratio("na", "nb"), 6).alias("lev_ratio")
        )
    )


@q(
    "title_normalize",
    """SELECT p_partkey,
              regexp_replace(p_name || ' (ACME)', ' \\([^)]*?\\)', '') AS norm_title,
              regexp_extract(p_name || ' (ACME)', ' \\(([A-Z]+)\\)', 1) AS acronym,
              replace(lower(p_brand), '#', ' ') AS decoded
       FROM part""",
)
def title_normalize(spark, sf_dir):
    """P10/P11 + acronym extraction: bracket-strip title normalization
    (hyperlink_reference_linker.py:106), ``r" \\(([A-Z]+)\\)"`` acronym
    pattern (extract_akronyms.py:11), separator decode
    (create_databases.py:125-132)."""
    from wiki_entity_linker_spark.functions.text import strip_parenthetical

    titled = F.concat(F.col("p_name"), F.lit(" (ACME)"))
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        strip_parenthetical(titled).alias("norm_title"),
        F.regexp_extract(titled, " \\(([A-Z]+)\\)", 1).alias("acronym"),
        F.translate(F.lower("p_brand"), "#", " ").alias("decoded"),
    )


@q(
    "date_parse_filter",
    """SELECT strftime(parsed, '%Y-%m') AS month, count(*) AS n FROM
         (SELECT try_cast(strftime(o_orderdate, '%Y-%m-%d') AS DATE) AS parsed
          FROM orders)
       WHERE parsed IS NOT NULL AND parsed < DATE '1995-06-01'
       GROUP BY 1""",
)
def date_parse_filter(spark, sf_dir):
    """P3 is_date try-parse + date filter (prefix_trie_linker.py:137)."""
    o = _t(spark, sf_dir, "orders").select(
        F.to_date(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("parsed")
    )
    return (
        o.filter(F.col("parsed").isNotNull() & (F.col("parsed") < F.lit("1995-06-01")))
        .groupBy(F.date_format("parsed", "yyyy-MM").alias("month"))
        .agg(F.count("*").alias("n"))
    )


# ===========================================================================
# Dedup / text analysis / similarity (training-data-pipeline operators)
# ===========================================================================

@q(
    "sha_exact_dedup",
    """SELECT sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash,
              min(doc_id) AS canonical_id, count(*) AS group_size
       FROM documents GROUP BY 1""",
)
def sha_exact_dedup(spark, sf_dir):
    """Exact dedup by normalized-content sha256 (hash-groupBy)."""
    d = _t(spark, sf_dir, "documents")
    hashed = exact_dedup(d, "doc_id", "text")
    return hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("group_size")
    )


def _minhash_oracle(n_hashes: int, k_shingle: int) -> str:
    mixes = ",\n              ".join(
        f"min({mh_mix_sql('hs', a, b)}) AS mh{i}"
        for i, (a, b) in enumerate(mh_family(n_hashes))
    )
    return f"""
       WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
       sh AS (SELECT doc_id, unnest({_shingles_sql('t', k_shingle)}) AS shingle FROM toks),
       h AS (SELECT doc_id, {h64_sql('shingle')} AS hs FROM sh)
       SELECT doc_id, {mixes}
       FROM h GROUP BY doc_id"""


@q("minhash_signature", _minhash_oracle(4, 3))
def minhash_signature(spark, sf_dir):
    """MinHash signature parity check: portable shingle→h64→mix→min chain."""
    sigs = minhash_signatures(_t(spark, sf_dir, "documents"))
    return sigs.select(
        "doc_id", *[F.col("minhash").getItem(i).alias(f"mh{i}") for i in range(4)]
    )


def _minhash_pairs_oracle(n_hashes: int, bands: int, k_shingle: int, thr: float) -> str:
    rows = n_hashes // bands
    mixes = ",\n              ".join(
        f"min({mh_mix_sql('hs', a, b)}) AS mh{i}"
        for i, (a, b) in enumerate(mh_family(n_hashes))
    )
    band_eq = " OR ".join(
        "(" + " AND ".join(f"a.mh{b * rows + r} = b.mh{b * rows + r}" for r in range(rows)) + ")"
        for b in range(bands)
    )
    return f"""
       WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
       shl AS (SELECT doc_id, {_shingles_sql('t', k_shingle)} AS g FROM toks),
       sh AS (SELECT doc_id, unnest(g) AS shingle FROM shl),
       h AS (SELECT doc_id, {h64_sql('shingle')} AS hs FROM sh),
       sig AS (SELECT doc_id, {mixes} FROM h GROUP BY doc_id)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              round(len(list_intersect(ga.g, gb.g))::DOUBLE /
                    (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))), 6) AS jaccard
       FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_eq})
       JOIN shl ga ON ga.doc_id = a.doc_id
       JOIN shl gb ON gb.doc_id = b.doc_id
       WHERE len(list_intersect(ga.g, gb.g))::DOUBLE /
             (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))) >= {thr}"""


@q("minhash_neardup", _minhash_pairs_oracle(16, 8, 3, 0.3))
def minhash_neardup(spark, sf_dir):
    """MinHash/LSH near-dup: band-blocked candidates + exact-Jaccard verify.
    The oracle replicates the banding exactly, so LSH's probabilistic recall
    is identical on both sides."""
    return minhash_neardup_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", jaccard_threshold=0.3
    )


def _simhash_oracle(bits: int) -> str:
    sums = ",\n             ".join(
        f"sum(CASE WHEN (hs >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""
       WITH toks AS (SELECT doc_id, unnest({_toks_sql('text')}) AS t FROM documents),
       h AS (SELECT doc_id, {h64_sql('t')} AS hs FROM toks),
       s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
       SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM s"""


@q("simhash_fingerprint", _simhash_oracle(16))
def simhash_fingerprint(spark, sf_dir):
    """SimHash document fingerprint (portable bit family)."""
    return simhash(_t(spark, sf_dir, "documents"), "doc_id")


@q(
    "ngram_jaccard",
    f"""WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
       sh AS (SELECT doc_id, {_shingles_sql('t', 3)} AS g FROM toks),
       inv AS (SELECT doc_id, unnest(g) AS gram FROM sh),
       hot AS (SELECT gram FROM inv GROUP BY gram HAVING count(*) > 100),
       kept AS (SELECT doc_id, gram FROM inv
                WHERE gram NOT IN (SELECT gram FROM hot)),
       sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
       shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                  FROM kept a JOIN kept b
                    ON a.gram = b.gram AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
       SELECT id_a, id_b, jaccard FROM
         (SELECT id_a, id_b,
                 round(inter::DOUBLE / (sa.n + sb.n - inter), 6) AS jaccard
          FROM shared
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b)
       WHERE jaccard >= 0.05""",
)
def ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup via inverted-index join (no LSH loss),
    with the hot-gram document-frequency cap (100 documents) applied
    INSIDE the operator — the oracle replicates the cap exactly, so the
    scale guard itself is what gets correctness-checked."""
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), "doc_id")


@q(
    "embedding_cosine_topk",
    """SELECT query_id, vec_id, cos, rnk FROM
         (SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
                 round(list_cosine_similarity(q.embedding::DOUBLE[],
                                              v.embedding::DOUBLE[]), 6) AS cos,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                                   v.embedding::DOUBLE[]) DESC,
                            v.vec_id) AS rnk
          FROM embeddings q, embeddings v
          WHERE q.vec_id < 20)
       WHERE rnk <= 5""",
)
def embedding_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k similarity search (ANN exact baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, queries)
    return out.select("query_id", "vec_id", "cos", F.col("rank").alias("rnk"))


def _neardup_lsh_oracle(
    dim: int, thr: float, n_planes: int, n_tables: int, max_bucket: int
) -> str:
    """DuckDB mirror of embedding_neardup_lsh_pairs: the SAME seeded numpy
    plane literals → bucket self-join → distinct pairs → exact-cosine verify,
    so the bucketed scale path itself is deterministically oracle-checked
    (same approach as _lsh_oracle below)."""
    import numpy as np

    def bucket_expr(t: int) -> str:
        rng = np.random.RandomState(LSH_SEED * 1000 + t)
        planes = rng.standard_normal((n_planes, dim))
        terms = [
            f"CASE WHEN list_dot_product(e, [{','.join(repr(float(x)) for x in pl)}])"
            f" >= 0 THEN {1 << i} ELSE 0 END"
            for i, pl in enumerate(planes)
        ]
        return " + ".join(terms)

    buckets = " UNION ALL ".join(
        f"SELECT vec_id, 't{t}:' || CAST({bucket_expr(t)} AS VARCHAR) AS bucket FROM v"
        for t in range(n_tables)
    )
    keep = (
        f"vk AS (SELECT * FROM vb QUALIFY count(*) OVER "
        f"(PARTITION BY bucket) <= {max_bucket}),"
    )
    return f"""
       WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       vb AS ({buckets}),
       {keep}
       cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM vk a JOIN vk b
                ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       scored AS (SELECT id_a, id_b,
                         round(list_cosine_similarity(va.e, wb.e), 6) AS cos
                  FROM cand JOIN v va ON cand.id_a = va.vec_id
                            JOIN v wb ON cand.id_b = wb.vec_id)
       SELECT id_a, id_b, cos FROM scored WHERE cos >= {thr}"""


@q("embedding_neardup", _neardup_lsh_oracle(dim=64, thr=0.4, n_planes=6,
                                             n_tables=3, max_bucket=256))
def embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs — the bucketed RHP-LSH scale
    path (no cross join in the physical plan; see tests/test_plans.py),
    with the hot-bucket guard (256 members, replicated in the oracle's
    QUALIFY filter). The brute-force baseline
    (embedding_neardup_pairs) remains as the small-n parity test in
    tests/test_dedup.py."""
    return embedding_neardup_lsh_pairs(
        _t(spark, sf_dir, "embeddings"), dim=64, threshold=0.4
    )


@q(
    "lang_id_heuristic",
    f"""SELECT doc_id,
              CASE WHEN h_de > 0 AND h_de = best THEN 'de'
                   WHEN h_en > 0 AND h_en = best THEN 'en'
                   WHEN h_es > 0 AND h_es = best THEN 'es'
                   WHEN h_fr > 0 AND h_fr = best THEN 'fr'
                   ELSE 'und' END AS lang_pred
       FROM (SELECT doc_id,
                    {_hits(_toks_sql('text'), _DE)} AS h_de,
                    {_hits(_toks_sql('text'), _EN)} AS h_en,
                    {_hits(_toks_sql('text'), _ES)} AS h_es,
                    {_hits(_toks_sql('text'), _FR)} AS h_fr,
                    greatest({_hits(_toks_sql('text'), _DE)},
                             {_hits(_toks_sql('text'), _EN)},
                             {_hits(_toks_sql('text'), _ES)},
                             {_hits(_toks_sql('text'), _FR)}) AS best
             FROM documents)""",
)
def lang_id_heuristic(spark, sf_dir):
    """Language-ID heuristic: marker-word argmax, ties by language code."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", lang_id("text").alias("lang_pred")
    )


@q(
    "text_quality",
    f"""SELECT doc_id,
              len({_toks_sql('text')}) AS n_tokens,
              round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                    / length(text), 6) AS punct_ratio,
              round(((CASE WHEN len({_toks_sql('text')}) BETWEEN 10 AND 10000
                           THEN 1.0 ELSE 0.5 END)
                  * (CASE WHEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                               / length(text) <= 0.2 THEN 1.0 ELSE 0.5 END)
                  * (CASE WHEN {_hits(_toks_sql('text'), _EN)} >= 3
                          THEN 1.0 ELSE 0.6 END))::DOUBLE, 6) AS quality
       FROM documents""",
)
def text_quality(spark, sf_dir):
    """Quality scoring: token count, punctuation density, stopword presence."""
    d = _t(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("double")
    n_punct = (n_chars - F.length(F.regexp_replace("text", "[^\\w\\s]", ""))).cast("double")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.round(n_punct / n_chars, 6).alias("punct_ratio"),
        quality_score("text").alias("quality"),
    )


_NORM_TEXT_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


@q(
    "doc_fingerprint",
    f"""SELECT doc_id, {h64_sql(_NORM_TEXT_SQL)} AS fp FROM documents""",
)
def doc_fingerprint(spark, sf_dir):
    """Order-sensitive portable document fingerprint (rolling-hash analogue)."""
    from wiki_entity_linker_spark.functions.text import fingerprint

    return _t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text").alias("fp")
    )


# ===========================================================================
# Non-SQL-expressible operators → rows-only driver check
# ===========================================================================

@q(
    "suppress_overlaps_spans",
    """WITH RECURSIVE src AS (
         SELECT user_id % 50 AS doc_id,
                event_id % 97 AS s,
                event_id % 97 + event_id % 7 + 1 AS e
         FROM events WHERE event_id < 2000),
       spans AS (SELECT DISTINCT doc_id, s, e FROM src),
       st AS (
         -- greedy longest-first claiming as an iterated fixpoint: each
         -- round appends the doc's top-priority (len DESC, start ASC) span
         -- that overlaps nothing chosen so far; rows carry the chosen set
         -- as list state because the recursive term only sees the previous
         -- round's rows. Picks are strictly priority-decreasing per doc, so
         -- this converges to exactly the sequential greedy set.
         SELECT doc_id, CAST([] AS STRUCT(s BIGINT, e BIGINT)[]) AS chosen,
                0 AS depth
         FROM (SELECT DISTINCT doc_id FROM spans)
         UNION ALL
         SELECT doc_id, chosen || [{'s': p.s, 'e': p.e}], depth + 1
         FROM (
           SELECT st.doc_id, st.chosen, st.depth,
                  min({'neg_len': sp.s - sp.e, 'start': sp.s,
                       's': sp.s, 'e': sp.e}) AS p
           FROM st JOIN spans sp ON sp.doc_id = st.doc_id
           WHERE len(list_filter(st.chosen,
                                 c -> sp.s < c.e AND c.s < sp.e)) = 0
           GROUP BY st.doc_id, st.chosen, st.depth
         ) st
       ),
       final AS (SELECT doc_id, max_by(chosen, depth) AS chosen
                 FROM st GROUP BY doc_id)
       SELECT doc_id, u.s AS start, u.e AS "end"
       FROM (SELECT doc_id, unnest(chosen) AS u FROM final)""",
)
def suppress_overlaps_spans(spark, sf_dir):
    """W1 longest-match-first span claiming
    (hyperlink_reference_linker.py:160-215) — greedy/sequential per doc; the
    oracle replicates it as a recursive-CTE fixpoint carrying the chosen set
    as list state (struct-min gives the same (len DESC, start ASC) priority
    and per-round one-pick-per-doc equals sequential greedy because
    eligibility only shrinks). Also unit-tested vs a Python reference."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    spans_df = e.select(
        (F.col("user_id") % 50).alias("doc_id"),
        (F.col("event_id") % 97).alias("start"),
        (F.col("event_id") % 97 + (F.col("event_id") % 7) + 1).alias("end"),
    )
    return suppress_overlaps(spans_df, "doc_id")


def _lsh_oracle(dim: int, k: int, n_planes: int, n_tables: int) -> str:
    """DuckDB mirror of lsh_topk: the SAME seeded numpy plane literals are
    embedded into the SQL, so the probabilistic LSH path itself — bucket
    assignment, multi-table candidate union, exact re-rank — is
    deterministically oracle-checked, not just recall-tested."""
    import numpy as np

    def bucket_expr(t: int) -> str:
        rng = np.random.RandomState(LSH_SEED * 1000 + t)
        planes = rng.standard_normal((n_planes, dim))
        terms = [
            f"CASE WHEN list_dot_product(e, [{','.join(repr(float(x)) for x in pl)}])"
            f" >= 0 THEN {1 << i} ELSE 0 END"
            for i, pl in enumerate(planes)
        ]
        return " + ".join(terms)

    def buckets(src: str, idc: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {idc}, 't{t}:' || CAST({bucket_expr(t)} AS VARCHAR) AS bucket"
            f" FROM {src}"
            for t in range(n_tables)
        )

    return f"""
       WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS e
             FROM embeddings WHERE vec_id < 10),
       vb AS ({buckets('v', 'vec_id')}),
       qb AS ({buckets('q', 'query_id')}),
       cand AS (SELECT DISTINCT qb.query_id, vb.vec_id
                FROM vb JOIN qb USING (bucket)),
       scored AS (SELECT c.query_id, c.vec_id,
                         list_cosine_similarity(q.e, v.e) AS cs
                  FROM cand c JOIN v ON c.vec_id = v.vec_id
                              JOIN q ON c.query_id = q.query_id),
       ranked AS (SELECT query_id, vec_id, cs,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY cs DESC, vec_id) AS rnk
                  FROM scored)
       SELECT query_id, vec_id, round(cs, 6) AS cos, rnk AS rank
       FROM ranked WHERE rnk <= {k}"""


# seed of the data-independent IVF centroids of ann_ivf_topk and its oracle
_IVF_SEED = 7


def _ivf_oracle(dim: int, k: int, n_centroids: int, nprobe: int) -> str:
    """DuckDB mirror of ivf_topk with the SAME seeded centroid literals:
    cell assignment (lexicographic (distance, index) min — identical
    tie-break to Spark's struct array_min), nprobe probing and exact-cosine
    re-rank are all replicated, so the IVF path is deterministically
    oracle-checked like the LSH paths."""
    from wiki_entity_linker_spark.operators.ann import seeded_centroids

    values = ", ".join(
        f"({j}, [{','.join(repr(x) for x in c)}]::DOUBLE[])"
        for j, c in enumerate(seeded_centroids(dim, n_centroids, _IVF_SEED))
    )
    dist = "list_dot_product(e, e) - 2 * list_dot_product(e, c) + list_dot_product(c, c)"
    return f"""
       WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS e
             FROM embeddings WHERE vec_id < 10),
       cent AS (SELECT * FROM (VALUES {values}) t(j, c)),
       va AS (SELECT vec_id, CAST(min([{dist}, j::DOUBLE])[2] AS BIGINT) AS cell
              FROM v CROSS JOIN cent GROUP BY vec_id),
       qr AS (SELECT query_id, j, row_number() OVER (
                  PARTITION BY query_id ORDER BY {dist}, j) AS rn
              FROM q CROSS JOIN cent),
       qa AS (SELECT query_id, j AS cell FROM qr WHERE rn <= {nprobe}),
       cand AS (SELECT qa.query_id, va.vec_id FROM va JOIN qa USING (cell)),
       scored AS (SELECT c.query_id, c.vec_id,
                         list_cosine_similarity(q.e, v.e) AS cs
                  FROM cand c JOIN v ON c.vec_id = v.vec_id
                              JOIN q ON c.query_id = q.query_id),
       ranked AS (SELECT query_id, vec_id, cs,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY cs DESC, vec_id) AS rnk
                  FROM scored)
       SELECT query_id, vec_id, round(cs, 6) AS cos, rnk AS rank
       FROM ranked WHERE rnk <= {k}"""


@q("ann_ivf_topk", _ivf_oracle(dim=64, k=5, n_centroids=16, nprobe=4))
def ann_ivf_topk(spark, sf_dir):
    """IVF approximate nearest neighbors (second scale path next to
    ann_lsh_topk): seeded-centroid Voronoi cells, nprobe probing,
    exact-cosine re-rank — every step replicated in the oracle. Production
    indexes would train the centroids; the registered query uses
    data-independent seeded centroids so the oracle stays static."""
    from wiki_entity_linker_spark.operators.ann import ivf_topk, seeded_centroids

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cent = seeded_centroids(64, 16, seed=_IVF_SEED)
    return ivf_topk(emb, queries, cent)


@q("ann_lsh_topk", _lsh_oracle(dim=64, k=5, n_planes=6, n_tables=3))
def ann_lsh_topk(spark, sf_dir):
    """Approximate nearest neighbors via random-hyperplane LSH (scale path
    of embedding_cosine_topk). The oracle replicates the seeded plane
    literals, bucket join and re-rank exactly (see _lsh_oracle)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries, dim=64)


def _cc_oracle(n_hashes: int, bands: int, k_shingle: int, thr: float) -> str:
    """Full flagship oracle: the band-exact MinHash pair SQL feeding a
    recursive-CTE connected components (min-id labels + singletons) — the
    same closed-form the Spark side computes with large-star/small-star."""
    rows = n_hashes // bands
    mixes = ",\n              ".join(
        f"min({mh_mix_sql('hs', a, b)}) AS mh{i}"
        for i, (a, b) in enumerate(mh_family(n_hashes))
    )
    band_eq = " OR ".join(
        "(" + " AND ".join(f"a.mh{b * rows + r} = b.mh{b * rows + r}" for r in range(rows)) + ")"
        for b in range(bands)
    )
    jac = ("len(list_intersect(ga.g, gb.g))::DOUBLE /"
           " (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)))")
    return f"""
       WITH RECURSIVE toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
       shl AS (SELECT doc_id, {_shingles_sql('t', k_shingle)} AS g FROM toks),
       sh AS (SELECT doc_id, unnest(g) AS shingle FROM shl),
       h AS (SELECT doc_id, {h64_sql('shingle')} AS hs FROM sh),
       sig AS (SELECT doc_id, {mixes} FROM h GROUP BY doc_id),
       p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_eq})
             JOIN shl ga ON ga.doc_id = a.doc_id
             JOIN shl gb ON gb.doc_id = b.doc_id
             WHERE {jac} >= {thr}),
       edges AS (SELECT id_a AS u, id_b AS v FROM p
                 UNION SELECT id_b, id_a FROM p),
       reach AS (SELECT doc_id AS id, doc_id AS r FROM documents
                 UNION
                 SELECT e.v AS id, reach.r FROM reach JOIN edges e ON e.u = reach.id)
       SELECT id, min(r) AS component FROM reach GROUP BY id"""


@q("er_cluster_documents", _cc_oracle(16, 8, 3, 0.3))
def er_cluster_documents(spark, sf_dir):
    """Flagship composite: near-dup clustering of the documents table
    (MinHash blocking → Jaccard verify → connected components). Fully
    oracle-checked: banding, verify threshold AND the transitive clustering
    are replicated in DuckDB (recursive CTE)."""
    d = _t(spark, sf_dir, "documents")
    pairs = minhash_neardup_pairs(d, "doc_id", jaccard_threshold=0.3).select(
        "id_a", "id_b"
    )
    nodes = d.select(F.col("doc_id").alias("file_id"))
    # the flagship mirrors the ER pipeline's scale path: CC-MR hybrid
    # (driver union-find once star-contraction shrinks the edge set) —
    # result-identical to the fully distributed loop
    return components_with_singletons(nodes, pairs, id_col="file_id")


@q("er_incremental_documents", _cc_oracle(16, 8, 3, 0.3))
def er_incremental_documents(spark, sf_dir):
    """Incremental append: cluster 90% of the documents table as the base
    corpus, then absorb the remaining 10% (doc_id % 10 == 9) by probing
    only the batch's band keys against the base block table and merging
    through the already-closed base components (operators/closure.py
    merge_components). Oracle-checked against the SAME one-shot
    recursive-CTE oracle as er_cluster_documents: the incremental result is
    provably identical to the full recompute — partition and min-id labels
    both — which is exactly the property a 10^12-file daily-append pipeline
    needs (north_rule scale path; the reference rebuilds its databases from
    scratch per dump, Makefile:178-198)."""
    d = _t(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 10 != 9)
    batch = d.filter(F.col("doc_id") % 10 == 9)
    return minhash_neardup_clusters_incremental(base, batch, "doc_id")


# ===========================================================================
# Round-4 operators: coref antecedent window + ELEVANT counting aggregation
# ===========================================================================

@q(
    "coref_antecedent_window",
    """SELECT event_id, user_id, antecedent FROM (
         SELECT event_id, user_id, event_type,
                last_value(CASE WHEN event_type = 'view' THEN event_id END
                           IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS antecedent
         FROM events)
       WHERE event_type = 'purchase'""",
)
def coref_antecedent_window(spark, sf_dir):
    """Nearest-preceding-compatible-mention resolution as one window pass —
    the coref stage's core operator (plans/coref.py, reference
    linking_system.py:276-292) stated over the events table: each purchase
    resolves to the most recent preceding view by the same user."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.withColumn(
            "view_id",
            F.when(F.col("event_type") == "view", F.col("event_id")))
        .withColumn("antecedent", F.last("view_id", True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "antecedent")
    )


@q(
    "elevant_counting",
    """WITH c AS (
         SELECT CASE lang WHEN 'en' THEN 'ENTITY_NAMED'
                          WHEN 'de' THEN 'ENTITY_NON_NAMED'
                          WHEN 'fr' THEN 'COREF_NOMINAL'
                          WHEN 'es' THEN 'COREF_PRONOMINAL'
                          ELSE 'ENTITY_UNKNOWN' END AS mention_type,
                doc_id % 7 = 0 AS is_child,
                CASE doc_id % 5 WHEN 0 THEN ['TP'] WHEN 1 THEN ['FN']
                                WHEN 2 THEN ['FP'] WHEN 3 THEN ['FN','FP']
                                ELSE []::VARCHAR[] END AS types
         FROM documents),
       e AS (SELECT mention_type, is_child, unnest(types) AS t FROM c),
       f AS (SELECT * FROM e WHERE NOT is_child OR t = 'FP'),
       per AS (SELECT mention_type,
                      sum(CASE WHEN t='TP' THEN 1 ELSE 0 END) AS tp,
                      sum(CASE WHEN t='FP' THEN 1 ELSE 0 END) AS fp,
                      sum(CASE WHEN t='FN' THEN 1 ELSE 0 END) AS fn
               FROM f GROUP BY 1),
       b(bucket, mention_type) AS (VALUES
         ('all','ENTITY_NAMED'),('all','ENTITY_NON_NAMED'),
         ('all','ENTITY_UNKNOWN'),('all','COREF_NOMINAL'),
         ('all','COREF_PRONOMINAL'),
         ('entity','ENTITY_NAMED'),('entity','ENTITY_NON_NAMED'),
         ('entity','ENTITY_UNKNOWN'),
         ('coref','COREF_NOMINAL'),('coref','COREF_PRONOMINAL'),
         ('entity_named','ENTITY_NAMED'),
         ('entity_non_named','ENTITY_NON_NAMED'),
         ('entity_unknown','ENTITY_UNKNOWN'),
         ('coref_nominal','COREF_NOMINAL'),
         ('coref_pronominal','COREF_PRONOMINAL')),
       agg AS (SELECT bucket,
                      CAST(sum(tp) AS BIGINT) AS tp,
                      CAST(sum(fp) AS BIGINT) AS fp,
                      CAST(sum(fn) AS BIGINT) AS fn
               FROM per JOIN b USING (mention_type) GROUP BY 1)
       SELECT bucket, tp, fp, fn, CAST(tp + fn AS BIGINT) AS ground_truth,
              round(CASE WHEN tp + fp > 0
                         THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0 END, 6)
                AS prec,
              round(CASE WHEN tp + fn > 0
                         THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0 END, 6)
                AS rec
       FROM agg""",
)
def elevant_counting(spark, sf_dir):
    """The distributed ELEVANT results aggregation (eval/elevant_spark.py
    ``aggregate_results``: child cases count only FPs, bucket rollup over
    mention types) driven by a deterministic cases table derived from the
    documents table. The case-GENERATION semantics are separately
    value-checked against the reference's own committed artifacts
    (tests/test_elevant_eval.py); this query oracle-checks the counting."""
    from wiki_entity_linker_spark.eval.elevant_spark import aggregate_results

    d = _t(spark, sf_dir, "documents")
    cases = d.select(
        F.when(F.col("lang") == "en", "ENTITY_NAMED")
        .when(F.col("lang") == "de", "ENTITY_NON_NAMED")
        .when(F.col("lang") == "fr", "COREF_NOMINAL")
        .when(F.col("lang") == "es", "COREF_PRONOMINAL")
        .otherwise("ENTITY_UNKNOWN").alias("mention_type"),
        (F.col("doc_id") % 7 == 0).alias("is_child"),
        F.when(F.col("doc_id") % 5 == 0, F.array(F.lit("TP")))
        .when(F.col("doc_id") % 5 == 1, F.array(F.lit("FN")))
        .when(F.col("doc_id") % 5 == 2, F.array(F.lit("FP")))
        .when(F.col("doc_id") % 5 == 3, F.array(F.lit("FN"), F.lit("FP")))
        .otherwise(F.array().cast("array<string>")).alias("ignored_types"),
    )
    out = aggregate_results(cases, "IGNORED")
    return out.select(
        "bucket", "tp", "fp", "fn", "ground_truth",
        F.round("precision", 6).alias("prec"),
        F.round("recall", 6).alias("rec"),
    )


@q(
    "doc_repetition_stats",
    f"""WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
       g AS (SELECT doc_id, unnest({_ngrams_sql('t', 2)}) AS g FROM toks),
       per AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
       s AS (SELECT doc_id,
                    CAST(sum(c) AS BIGINT) AS n_ngrams,
                    count(*) AS n_distinct,
                    max(c) AS top_count
             FROM per GROUP BY 1)
       SELECT doc_id, n_ngrams,
              round(1 - n_distinct::DOUBLE / n_ngrams, 6) AS dup_ngram_frac,
              round(top_count::DOUBLE / n_ngrams, 6) AS top_ngram_frac
       FROM s""",
)
def doc_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals per document (Rae et al.
    2021 §A1.1): the duplicate-bigram fraction and the most-frequent-bigram
    fraction — standard training-data filters for boilerplate/spam that the
    reference's unigram counter (count_unigrams.py) has no analogue of.

    Scale shape: ZERO shuffles. Every signal is a per-document function of
    its own gram multiset, so instead of explode → groupBy(doc, gram) →
    groupBy(doc) (two corpus-wide shuffles of a 10-100x-inflated gram
    stream — the first implementation, measured 2x slower at sf1), the
    whole thing is row-local JVM column math: ``size``/``array_distinct``
    for the duplicate fraction, and the top-gram count as the longest
    equal-run of the SORTED gram array via one ``aggregate`` fold. The
    sorted array is projected into its own column first so codegen's
    common-subexpression elimination keeps the HOF input single-evaluated
    (the same interpreted-HOF pitfall note as plans/er_pipeline.py)."""
    from wiki_entity_linker_spark.functions.text import ngrams, tokenize

    d = _t(spark, sf_dir, "documents")
    g = d.select(
        "doc_id", F.array_sort(ngrams(tokenize("text"), 2)).alias("g")
    )
    run_zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    top_count = F.aggregate(
        "g",
        run_zero,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    n = F.size("g").cast("long")
    n_distinct = F.size(F.array_distinct("g")).cast("long")
    return g.select(
        "doc_id",
        n.alias("n_ngrams"),
        F.round(F.lit(1) - n_distinct / n, 6).alias("dup_ngram_frac"),
        F.round(top_count.cast("long") / n, 6).alias("top_ngram_frac"),
    )


@q(
    "sequence_packing",
    f"""WITH t AS (SELECT doc_id,
                          CAST(len({_toks_sql('text')}) AS BIGINT) AS n_tokens
                   FROM documents),
       s AS (SELECT doc_id, n_tokens,
                    COALESCE(CAST(sum(n_tokens) OVER
                      (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      AS BIGINT), 0) AS seq_start
             FROM t)
       SELECT doc_id, n_tokens, seq_start,
              seq_start // 2048 AS bin,
              seq_start % 2048 AS bin_offset
       FROM s""",
)
def sequence_packing(spark, sf_dir):
    """GPT-style sequence packing: concatenate documents in doc_id order and
    split every 2048 tokens — each doc's global token offset, context-window
    bin, and in-window offset. The core is a GLOBAL prefix sum, which the
    oracle states as the naive single-partition window; the Spark side runs
    the scale-safe two-level form (operators/packing.py: explicit range
    buckets → tiny bucket-offset window → bounded per-bucket windows), which
    this oracle pins bit-equal to the naive semantics."""
    from wiki_entity_linker_spark.functions.text import token_count
    from wiki_entity_linker_spark.operators.packing import packed_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    return packed_sequences(d, "doc_id", "n_tokens", window=2048)


@q(
    "decontamination_flags",
    f"""WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
       g AS (SELECT doc_id, unnest({_shingles_sql('t', 3)}) AS g FROM toks),
       bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
       hits AS (SELECT g.doc_id,
                       CAST(count(*) AS BIGINT) AS n_ngrams,
                       CAST(count(bench.g) AS BIGINT) AS contaminated_ngrams
                FROM g LEFT JOIN bench ON g.g = bench.g
                WHERE g.doc_id % 50 <> 0
                GROUP BY 1)
       SELECT doc_id, n_ngrams, contaminated_ngrams,
              round(contaminated_ngrams::DOUBLE / n_ngrams, 6)
                AS contamination_frac,
              contaminated_ngrams > 0 AS is_contaminated
       FROM hits""",
)
def decontamination_flags(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    3-gram with a held-out eval set (here: every 50th document stands in
    for the benchmark) — the n-gram–overlap decontamination step every
    serious pretraining pipeline runs (GPT-3 §C / PaLM app.; real deploys
    use 8-13-grams, same plan shape).

    Scale shape: the eval set's distinct n-grams are a BROADCAST side (eval
    suites are tiny next to the corpus); the corpus side is one explode +
    broadcast LEFT join + per-doc aggregation — no shuffle of corpus grams
    against each other, no all-pairs anything. The counts come from the
    curation pipeline's builder, plans/curation.contamination_counts."""
    from wiki_entity_linker_spark.plans.curation import contamination_counts

    d = _t(spark, sf_dir, "documents")
    return contamination_counts(
        d.filter(F.col("doc_id") % 50 != 0), d.filter(F.col("doc_id") % 50 == 0), 3
    ).select(
        "doc_id",
        "n_ngrams",
        "contaminated_ngrams",
        F.round(F.col("contaminated_ngrams") / F.col("n_ngrams"), 6).alias(
            "contamination_frac"
        ),
        (F.col("contaminated_ngrams") > 0).alias("is_contaminated"),
    )


@q(
    "mixture_allocation",
    f"""WITH per AS (SELECT source,
                            CAST(sum(len({_toks_sql('text')})) AS BIGINT)
                              AS n_tokens
                     FROM documents GROUP BY 1),
       w AS (SELECT source, n_tokens, sqrt(n_tokens) AS wt FROM per),
       t AS (SELECT source, n_tokens,
                    1000000 * wt / sum(wt) OVER () AS target
             FROM w),
       r AS (SELECT source, n_tokens, target,
                    CAST(floor(target) AS BIGINT) AS base,
                    row_number() OVER (ORDER BY round(target - floor(target), 6)
                                                DESC,
                                       source) AS rk,
                    1000000 - CAST(sum(floor(target)) OVER () AS BIGINT)
                      AS leftover
             FROM t)
       SELECT source, n_tokens,
              base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS alloc_tokens,
              round((base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::DOUBLE
                    / n_tokens, 6) AS sampling_rate
       FROM r""",
)
def mixture_allocation(spark, sf_dir):
    """Data-mixture allocation: split a 1M-token training budget across
    sources with temperature weighting (weight ∝ tokens^0.5, the mT5-style
    α<1 upweighting of low-resource sources) and exact largest-remainder
    rounding, yielding per-source sampling rates (>1 ⇒ multi-epoch). The
    mixing step every multi-source pretraining run performs.

    Scale shape: ONE corpus-wide aggregation (per-source token sums); all
    windows afterwards run over the #sources-row summary — metadata-scale
    by construction, the same tiny-frame-window pattern as
    operators/packing.py's bucket offsets. This is the curation pipeline's
    builder, plans/curation.mixture_table: its budget and temperature
    constants are this query's literals."""
    from wiki_entity_linker_spark.plans.curation import mixture_table

    return mixture_table(_doc_tokens(spark, sf_dir))


def _pii_aug_sql() -> str:
    """DuckDB rendering of the deterministic PII augmentation (the synthetic
    corpus is digit-free word salad, so PII is injected from doc_id — same
    literal construction as the Spark side of :func:`pii_redaction`)."""
    return (
        "text"
        " || CASE WHEN doc_id % 5 = 0 THEN ' contact user' ||"
        " CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0 THEN ' node 10.' ||"
        " CAST(doc_id % 256 AS VARCHAR) || '.0.' ||"
        " CAST((doc_id * 7) % 256 AS VARCHAR) || ' up' ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN ' call 555-' ||"
        " lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' ELSE '' END"
    )


def _pii_oracle_sql() -> str:
    from wiki_entity_linker_spark.functions.text import PII_PATTERNS

    e, ip, ph = PII_PATTERNS["email"], PII_PATTERNS["ipv4"], PII_PATTERNS["phone"]
    redacted = (
        f"regexp_replace(regexp_replace(regexp_replace(t, '{e}', '[EMAIL]', 'g'),"
        f" '{ip}', '[IPV4]', 'g'), '{ph}', '[PHONE]', 'g')"
    )
    return f"""WITH aug AS (SELECT doc_id, {_pii_aug_sql()} AS t FROM documents)
       SELECT doc_id,
              CAST(len(regexp_extract_all(t, '{e}')) AS BIGINT) AS n_emails,
              CAST(len(regexp_extract_all(t, '{ip}')) AS BIGINT) AS n_ipv4,
              CAST(len(regexp_extract_all(t, '{ph}')) AS BIGINT) AS n_phones,
              CAST(length({redacted}) AS BIGINT) AS redacted_len,
              len(regexp_extract_all(t, '{e}')) + len(regexp_extract_all(t, '{ip}'))
                + len(regexp_extract_all(t, '{ph}')) = 0 AS is_clean
       FROM aug"""


@q("pii_redaction", _pii_oracle_sql())
def pii_redaction(spark, sf_dir):
    """PII scrubbing: count and redact emails / IPv4s / phone numbers per
    document — the redaction pass every pretraining pipeline runs at ingest.
    The synthetic corpus is digit-free, so PII is injected deterministically
    from doc_id (identical literal construction on both engines) to give the
    regexes real work; counts run on the raw text, redaction replaces in a
    fixed order (emails first — see functions/text.PII_PATTERNS).

    Scale shape: pure row-local JVM regex column math — zero shuffles, zero
    UDFs; the physical plan is scan → project."""
    from wiki_entity_linker_spark.functions.text import pii_count, redact_pii

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@mail.example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" node 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                ((did * 7) % 256).cast("string"),
                F.lit(" up"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-0199"),
            ),
        ).otherwise(F.lit("")),
    )
    x = d.select("doc_id", aug.alias("t"))
    n_e = pii_count("t", "email").cast("long")
    n_ip = pii_count("t", "ipv4").cast("long")
    n_ph = pii_count("t", "phone").cast("long")
    return x.select(
        "doc_id",
        n_e.alias("n_emails"),
        n_ip.alias("n_ipv4"),
        n_ph.alias("n_phones"),
        F.length(redact_pii("t")).cast("long").alias("redacted_len"),
        ((n_e + n_ip + n_ph) == 0).alias("is_clean"),
    )


@q(
    "doc_chunks",
    f"""WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
       d AS (SELECT doc_id, t,
                    CASE WHEN len(t) <= 64 THEN 1
                         ELSE (len(t) - 64 + 47) // 48 + 1 END AS nc
             FROM toks)
       SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
              CAST(len(t[i*48+1 : i*48+64]) AS BIGINT) AS chunk_tokens,
              array_to_string(t[i*48+1 : i*48+64], ' ') AS chunk_text
       FROM d, unnest(range(CAST(nc AS BIGINT))) AS u(i)""",
)
def doc_chunks(spark, sf_dir):
    """Context-window chunking: split each document's token stream into
    64-token chunks advancing by 48 (16-token overlap) — the
    chunk-for-embedding / chunk-for-RAG step of a training-data pipeline.
    The last chunk is the ragged tail; a document shorter than one window
    yields exactly one chunk.

    Scale shape: row-local explode — each document expands to its own chunks
    with no shuffle at all (scan → generate → project); chunk count uses
    integral arithmetic (functions/text.chunk_count)."""
    from wiki_entity_linker_spark.functions.text import chunk_count, tokenize

    W, S = 64, 48
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize("text").alias("t"))
    x = toks.withColumn("nc", chunk_count(F.size("t"), W, S))
    return (
        x.select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("nc") - 1)).alias("chunk_id"),
        )
        .withColumn("c", F.expr(f"slice(t, CAST(chunk_id * {S} + 1 AS INT), {W})"))
        .select(
            "doc_id",
            "chunk_id",
            F.size("c").cast("long").alias("chunk_tokens"),
            F.concat_ws(" ", "c").alias("chunk_text"),
        )
    )


@q(
    "bm25_topk",
    f"""WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
       tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
       dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
       stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                        CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       q AS (SELECT unnest(['spark', 'merge', 'window']) AS token),
       tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
              FROM tok JOIN q USING (token) GROUP BY 1, 2),
       dfq AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
               FROM tf GROUP BY 1),
       w AS (SELECT tf.doc_id,
                    CAST(round((ln(1.0 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                         * ((tf.tf * 2.2)
                            / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / stats.avgdl)))))
                         * 1e9) AS BIGINT) AS w9
             FROM tf JOIN dfq USING (token) JOIN dl ON tf.doc_id = dl.doc_id, stats),
       s AS (SELECT doc_id, CAST(sum(w9) AS BIGINT) AS s9 FROM w GROUP BY 1),
       r AS (SELECT doc_id, s9,
                    row_number() OVER (ORDER BY s9 DESC, doc_id) AS rank
             FROM s)
       SELECT doc_id, round(s9 / 1e9, 6) AS score, CAST(rank AS INT) AS rank
       FROM r WHERE rank <= 20""",
)
def bm25_topk(spark, sf_dir):
    """BM25 keyword retrieval: top-20 documents for the fixed query
    {spark, merge, window} (operators/retrieval.py — see its module
    docstring for the broadcast/candidate-only scale shape and the
    int64-scaled order-independent scoring that makes the DuckDB oracle
    bit-exact)."""
    from wiki_entity_linker_spark.operators.retrieval import bm25_topk as _bm25

    d = _t(spark, sf_dir, "documents")
    return _bm25(d, ["spark", "merge", "window"], k=20)


@q(
    "token_budget_sample",
    f"""WITH d AS (SELECT doc_id, source,
                          CAST(len({_toks_sql('text')}) AS BIGINT) AS n_tokens,
                          {h64_sql('CAST(doc_id AS VARCHAR)')} AS key
                  FROM documents)
       SELECT doc_id, source, n_tokens,
              CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY key, doc_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS cum_tokens,
              CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY key, doc_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                <= 2000 AS kept
       FROM d""",
)
def token_budget_sample(spark, sf_dir):
    """Per-source token-budget sampling: walk each source's documents in a
    reproducible hash order and keep documents until the source's token
    budget (2000 here) is exhausted — the row-level realization of
    mixture_allocation's per-source rates (that query decides HOW MANY
    tokens per source; this one decides WHICH documents).

    Scale shape: one window partitioned BY SOURCE — the cumulative sum never
    funnels the corpus through a single partition (contrast
    sequence_packing, whose global order needs the two-level prefix sum);
    skewed sources are bounded by the budget itself (order by the portable
    h64 makes the kept set independent of physical row order). The walk is
    the curation pipeline's sample builder, plans/curation.budget_walk."""
    from wiki_entity_linker_spark.plans.curation import budget_walk

    return budget_walk(_doc_tokens(spark, sf_dir), F.lit(2000))


@q(
    "segment_dedup",
    f"""WITH toks AS (SELECT doc_id, t FROM
                     (SELECT doc_id, {_toks_sql('text')} AS t FROM documents)
                     WHERE len(t) > 0),
       segs AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                       CAST(i AS BIGINT) AS seg_idx,
                       CAST(len(t[i*8+1 : i*8+8]) AS BIGINT) AS seg_tokens,
                       {h64_sql("array_to_string(t[i*8+1 : i*8+8], ' ')")} AS h
                FROM toks, unnest(range(CAST((len(t) + 7) // 8 AS BIGINT))) AS u(i)),
       win AS (SELECT h, min(doc_id) AS wdoc FROM segs GROUP BY 1),
       win2 AS (SELECT s.h, w.wdoc, min(s.seg_idx) AS widx
                FROM segs s JOIN win w ON s.h = w.h AND s.doc_id = w.wdoc
                GROUP BY 1, 2),
       k AS (SELECT s.doc_id, s.n_tokens, s.seg_tokens,
                    s.doc_id = w.wdoc AND s.seg_idx = w.widx AS is_kept
             FROM segs s JOIN win2 w USING (h))
       SELECT doc_id,
              CAST(max(n_tokens) AS BIGINT) AS n_tokens,
              CAST(count(*) AS BIGINT) AS n_segments,
              CAST(sum(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(sum(CASE WHEN is_kept THEN seg_tokens ELSE 0 END) AS BIGINT)
                AS kept_tokens,
              CAST(max(n_tokens)
                   - sum(CASE WHEN is_kept THEN seg_tokens ELSE 0 END) AS BIGINT)
                AS dup_tokens
       FROM k GROUP BY 1""",
)
def segment_dedup(spark, sf_dir):
    """Corpus-wide segment-level exact dedup (CCNet-style paragraph dedup;
    fixed 8-token segments stand in for paragraphs — the synthetic corpus
    has no breaks). First-writer-wins by (doc_id, seg_idx); per-document
    retained/duplicated token accounting. See
    operators/dedup.segment_dedup_stats for the three-shuffle scale shape
    (hash-keyed winner agg + AQE-splittable join back + per-doc rollup)."""
    from wiki_entity_linker_spark.operators.dedup import segment_dedup_stats

    return segment_dedup_stats(_t(spark, sf_dir, "documents"))


@q(
    "length_quantiles",
    f"""WITH d AS (SELECT source, CAST(len({_toks_sql('text')}) AS BIGINT) AS n
                  FROM documents),
       hist AS (SELECT source, n, CAST(count(*) AS BIGINT) AS c
                FROM d GROUP BY 1, 2),
       cum AS (SELECT source, n, c,
                      sum(c) OVER (PARTITION BY source ORDER BY n
                                   ROWS UNBOUNDED PRECEDING) AS cum,
                      sum(c) OVER (PARTITION BY source) AS n_docs,
                      sum(n * c) OVER (PARTITION BY source) AS tot
               FROM hist)
       SELECT source,
              CAST(max(n_docs) AS BIGINT) AS n_docs,
              CAST(min(n) AS BIGINT) AS min_tokens,
              CAST(max(n) AS BIGINT) AS max_tokens,
              round(CAST(max(tot) AS DOUBLE) / max(n_docs), 6) AS mean_tokens,
              CAST(min(CASE WHEN cum >= ceil(0.5 * n_docs) THEN n END) AS BIGINT)
                AS p50,
              CAST(min(CASE WHEN cum >= ceil(0.9 * n_docs) THEN n END) AS BIGINT)
                AS p90,
              CAST(min(CASE WHEN cum >= ceil(0.99 * n_docs) THEN n END) AS BIGINT)
                AS p99
       FROM cum GROUP BY 1""",
)
def length_quantiles(spark, sf_dir):
    """Per-source token-length profile with EXACT discrete quantiles
    (p50/p90/p99 = smallest length whose cumulative doc count reaches
    ceil(q * n_docs)) — corpus profiling for mixture design and length
    filtering.

    Scale shape: quantiles via the HISTOGRAM, not a sort — one map-side-
    combinable groupBy over the corpus collapses it to (source, length)
    cells; every window/aggregate after that runs over the summary frame
    (#sources × #distinct-lengths rows), so nothing corpus-sized is ever
    sorted or buffered per group (contrast percentile()/approx_percentile,
    which buffer or sketch per group). Exact integers end to end; the one
    double (mean) is a single division of identical ints on both engines."""
    d = _t(spark, sf_dir, "documents").select(
        "source", token_count("text").cast("long").alias("n")
    )
    hist = d.groupBy("source", "n").agg(F.count("*").alias("c"))
    ws = Window.partitionBy("source")
    cum = (
        hist.withColumn(
            "cum",
            F.sum("c").over(ws.orderBy("n").rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("n_docs", F.sum("c").over(ws))
        .withColumn("tot", F.sum(F.col("n") * F.col("c")).over(ws))
    )

    def _p(qq: float):
        return F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(qq) * F.col("n_docs")), F.col("n"))
        ).cast("long")

    return cum.groupBy("source").agg(
        F.max("n_docs").cast("long").alias("n_docs"),
        F.min("n").cast("long").alias("min_tokens"),
        F.max("n").cast("long").alias("max_tokens"),
        F.round(F.max("tot").cast("double") / F.max("n_docs"), 6).alias("mean_tokens"),
        _p(0.5).alias("p50"),
        _p(0.9).alias("p90"),
        _p(0.99).alias("p99"),
    )


@q(
    "exact_substring_dup",
    f"""WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
       base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t FROM toks),
       gl AS (SELECT doc_id, n_tokens,
                     CASE WHEN n_tokens >= 5
                          THEN [array_to_string(t[i:i+4], ' ')
                                for i in range(1, len(t) - 3)]
                          ELSE [] END AS gl
              FROM base),
       g AS (SELECT doc_id, unnest(gl) AS g,
                    generate_subscripts(gl, 1) - 1 AS pos
             FROM gl),
       dup AS (SELECT g FROM g GROUP BY g HAVING count(*) > 1),
       dp AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
       c AS (SELECT doc_id, pos,
                    least(5, COALESCE(lead(pos) OVER
                      (PARTITION BY doc_id ORDER BY pos) - pos, 5)) AS contrib
             FROM dp),
       cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_starts,
                      CAST(sum(contrib) AS BIGINT) AS covered_tokens
               FROM c GROUP BY 1)
       SELECT b.doc_id, b.n_tokens,
              COALESCE(dup_starts, 0) AS dup_starts,
              COALESCE(covered_tokens, 0) AS covered_tokens,
              round(CASE WHEN b.n_tokens > 0
                         THEN COALESCE(covered_tokens, 0)::DOUBLE / b.n_tokens
                         ELSE 0 END, 6) AS covered_frac
       FROM base b LEFT JOIN cov USING (doc_id)""",
)
def exact_substring_dup(spark, sf_dir):
    """Suffix-array ExactSubstr dedup semantics (Lee et al. 2022),
    distributed: per document, the token positions whose 5-gram occurs more
    than once in the whole corpus and the union coverage of those [p, p+5)
    intervals. See operators/dedup.exact_substring_coverage for the scale
    shape (one materialized gram pass, two gram-keyed shuffles — count-only
    duplicate agg + semi join, no pairwise blowup)."""
    from wiki_entity_linker_spark.operators.dedup import exact_substring_coverage

    return exact_substring_coverage(_t(spark, sf_dir, "documents"))


@q(
    "source_overlap",
    f"""WITH toks AS (SELECT source, {_toks_sql('text')} AS t FROM documents),
       sg AS (SELECT DISTINCT source, g
              FROM (SELECT source, unnest({_shingles_sql('t', 3)}) AS g
                    FROM toks)),
       n AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sg GROUP BY 1),
       sh AS (SELECT a.source AS source_a, b.source AS source_b,
                     CAST(count(*) AS BIGINT) AS shared
              FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
              GROUP BY 1, 2),
       ap AS (SELECT a.source AS source_a, b.source AS source_b,
                     a.n AS n_a, b.n AS n_b
              FROM n a JOIN n b ON a.source < b.source)
       SELECT ap.source_a, ap.source_b, n_a, n_b,
              COALESCE(shared, 0) AS shared,
              round(COALESCE(shared, 0)::DOUBLE
                    / (n_a + n_b - COALESCE(shared, 0)), 6) AS jaccard
       FROM ap LEFT JOIN sh USING (source_a, source_b)""",
)
def source_overlap(spark, sf_dir):
    """Cross-source shingle-overlap matrix — pairwise Jaccard of each
    source's distinct 3-shingle vocabulary, the standard corpus-mixture
    leakage/contamination diagnostic (which sources share boilerplate or
    mirrored content before they are mixed).

    Scale shape: the oracle's corpus-sized self-join on the shingle is
    NEVER executed — one corpus-wide shuffle keyed by shingle builds
    collect_set(source) per gram (map-side partial merge; the set is
    bounded by the source-tag cardinality, ~20 here), and everything after
    runs on that summary frame: per-source distinct counts by re-exploding
    it, shared counts by pair-exploding only grams seen in >= 2 sources
    (<= C(s,2) rows per gram). The full pair matrix is a non-equi join of
    two source-cardinality frames (broadcast nested loop over ~20 rows).
    For a HIGH-cardinality grouping (per-domain, millions of keys) the
    collect_set bound breaks on universal grams — there, switch to the
    (source, g)-distinct + self-join-on-g form with a hot-gram cap, the
    same posting-list discipline as ngram_jaccard_pairs."""
    d = _t(spark, sf_dir, "documents")
    grams = d.select(
        "source", F.explode(shingles(tokenize("text"), 3)).alias("g")
    )
    # cut: the per-gram source-set summary feeds BOTH the per-source counts
    # and the shared-pair explode — one corpus shuffle instead of two
    perg = cut(
        grams.groupBy("g")
        .agg(F.collect_set("source").alias("ss"))
    )
    n = (
        perg.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n"))
    )
    shared = (
        perg.filter(F.size("ss") >= 2)
        .select(F.explode("ss").alias("source_a"), "ss")
        .select("source_a", F.explode("ss").alias("source_b"))
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("shared"))
    )
    na = n.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    nb = n.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    ap = na.join(nb, na["source_a"] < nb["source_b"])
    sh = F.coalesce("shared", F.lit(0).cast("long"))
    return ap.join(shared, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        sh.alias("shared"),
        F.round(sh / (F.col("n_a") + F.col("n_b") - sh), 6).alias("jaccard"),
    )


@q(
    "winnowing_pairs",
    f"""WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
       g AS (SELECT doc_id,
                    CASE WHEN len(t) >= 4
                         THEN [array_to_string(t[i:i+3], ' ')
                               for i in range(1, len(t) - 2)]
                         ELSE [] END AS gl
             FROM toks),
       h AS (SELECT doc_id, list_transform(gl, x -> {h64_sql('x')}) AS hs
             FROM g WHERE len(gl) > 0),
       fp AS (SELECT DISTINCT doc_id,
                     unnest(list_distinct(
                       [ list_min(hs[i:i+3])
                         for i in range(1, greatest(len(hs) - 3, 1) + 1) ]))
                       AS h
              FROM h),
       p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    CAST(count(*) AS BIGINT) AS n_shared
             FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
       SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 2""",
)
def winnowing_pairs(spark, sf_dir):
    """MOSS-style winnowing fingerprint candidate pairs (Schleimer et al.
    2003): window-min k-gram hash selection per document (row-local array
    math, density 2/(w+1)), then pairs sharing >= 2 selected fingerprints.
    See operators/dedup.winnowing_fingerprints /
    winnowing_candidate_pairs for the scale shape (one fingerprint-keyed
    posting shuffle, too-common fingerprints dropped by the MOSS rule —
    the 256 cap is unreachable at oracle scale, measured max posting 4)."""
    from wiki_entity_linker_spark.operators.dedup import winnowing_candidate_pairs

    return winnowing_candidate_pairs(_t(spark, sf_dir, "documents"))


@q(
    "dup_graph_pagerank",
    f"""WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
       g AS (SELECT doc_id,
                    CASE WHEN len(t) >= 4
                         THEN [array_to_string(t[i:i+3], ' ')
                               for i in range(1, len(t) - 2)]
                         ELSE [] END AS gl
             FROM toks),
       h AS (SELECT doc_id, list_transform(gl, x -> {h64_sql('x')}) AS hs
             FROM g WHERE len(gl) > 0),
       fp AS (SELECT DISTINCT doc_id,
                     unnest(list_distinct(
                       [ list_min(hs[i:i+3])
                         for i in range(1, greatest(len(hs) - 3, 1) + 1) ]))
                       AS h
              FROM h),
       pr_e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
                GROUP BY 1, 2 HAVING count(*) >= 2),
       und AS (SELECT id_a AS src, id_b AS dst FROM pr_e
               UNION ALL SELECT id_b, id_a FROM pr_e),
       deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       p0 AS (SELECT src, deg, n, CAST(1000000000000 // n AS BIGINT) AS pr
              FROM deg CROSS JOIN nn),
       m1 AS (SELECT dst, CAST(sum(pr // deg) AS BIGINT) AS s
                FROM und JOIN p0 USING (src) GROUP BY 1),
       p1 AS (SELECT d.src, d.deg, d.n,
                     CAST((15 * (1000000000000 // d.n)) // 100
                          + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS pr
                FROM p0 d LEFT JOIN m1 ON d.src = m1.dst),
       m2 AS (SELECT dst, CAST(sum(pr // deg) AS BIGINT) AS s
                FROM und JOIN p1 USING (src) GROUP BY 1),
       p2 AS (SELECT d.src, d.deg, d.n,
                     CAST((15 * (1000000000000 // d.n)) // 100
                          + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS pr
                FROM p1 d LEFT JOIN m2 ON d.src = m2.dst),
       m3 AS (SELECT dst, CAST(sum(pr // deg) AS BIGINT) AS s
                FROM und JOIN p2 USING (src) GROUP BY 1),
       p3 AS (SELECT d.src, d.deg, d.n,
                     CAST((15 * (1000000000000 // d.n)) // 100
                          + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS pr
                FROM p2 d LEFT JOIN m3 ON d.src = m3.dst)
       SELECT src AS node, deg AS degree, pr AS pr_fp,
              round(pr / 1000000000000.0, 6) AS pr FROM p3""",
)
def dup_graph_pagerank(spark, sf_dir):
    """PageRank centrality over the winnowing duplicate graph, 3 power
    iterations in fixed-point int64 arithmetic (bit-exact across engines
    and partitionings — float PageRank cannot be oracle-checked). Picks
    canonical representatives of near-dup families by centrality instead
    of min-id, and extends the reference\'s static link-frequency prior
    (get_link_frequencies.py) to an iterative one. See
    operators/graph.pagerank_fixed_point for the Pregel-lite loop shape
    (edges/degrees materialized once, one shuffle join + one combinable
    sum per iteration, lineage cut every 8 iterations)."""
    from wiki_entity_linker_spark.operators.dedup import winnowing_candidate_pairs
    from wiki_entity_linker_spark.operators.graph import pagerank_fixed_point

    edges = winnowing_candidate_pairs(_t(spark, sf_dir, "documents")).select(
        "id_a", "id_b"
    )
    return pagerank_fixed_point(edges)


@q(
    "skew_report",
    """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS k,
                         CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
       h AS (SELECT c, CAST(count(*) AS BIGINT) AS nk FROM c GROUP BY 1),
       cum AS (SELECT c, nk,
                      sum(nk) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum,
                      sum(nk) OVER () AS n_keys,
                      sum(c * nk) OVER () AS n_rows
               FROM h),
       s AS (SELECT CAST(max(n_rows) AS BIGINT) AS n_rows,
                    CAST(max(n_keys) AS BIGINT) AS n_keys,
                    CAST(max(c) AS BIGINT) AS max_per_key,
                    CAST(min(CASE WHEN cum >= ceil(0.5 * n_keys) THEN c END)
                         AS BIGINT) AS p50_per_key,
                    CAST(min(CASE WHEN cum >= ceil(0.99 * n_keys) THEN c END)
                         AS BIGINT) AS p99_per_key
             FROM cum),
       t AS (SELECT min(k) AS top_key FROM c
             WHERE c = (SELECT max(c) FROM c))
       SELECT n_rows, n_keys, max_per_key, p50_per_key, p99_per_key,
              round(max_per_key::DOUBLE / p50_per_key, 6) AS skew_ratio,
              top_key,
              (max_per_key + p99_per_key - 1) // p99_per_key
                AS recommended_salt
       FROM s CROSS JOIN t""",
)
def skew_report(spark, sf_dir):
    """One-row join-key skew diagnostic over events.user_id — exact
    histogram quantiles of rows-per-key, hottest key, and the integer
    salt factor that brings it down to a p99-typical key. See
    operators/skew.skew_report: two map-side-combinable aggregations
    collapse the corpus to a count-histogram; every window runs on that
    tiny summary frame."""
    from wiki_entity_linker_spark.operators.skew import skew_report as _sr

    return _sr(_t(spark, sf_dir, "events"), "user_id")


@q(
    "allpairs_jaccard",
    f"""WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS tk FROM documents),
       s AS (SELECT doc_id, {_shingles_sql('tk', 3)} AS s FROM toks
             WHERE len(tk) > 0),
       p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
                    CAST(len(a.s) + len(b.s)
                         - len(list_intersect(a.s, b.s)) AS BIGINT) AS union_sz
             FROM s a JOIN s b ON a.doc_id < b.doc_id)
       SELECT id_a, id_b, inter, union_sz,
              round(inter::DOUBLE / union_sz, 6) AS jaccard
       FROM p WHERE inter * 2 >= union_sz""",
)
def allpairs_jaccard(spark, sf_dir):
    """Exact all-pairs Jaccard join at t=0.5 over distinct 3-shingle sets.
    The oracle is the BRUTE-FORCE self-join; the Spark side runs the
    prefix-filtered AllPairs algorithm (Bayardo et al. 2007) — equality is
    a completeness proof of the prefix filter on real data, not just a
    value check. See operators/dedup.allpairs_jaccard_join: rarest-first
    prefix order doubles as anti-skew (hot shingles never become join
    keys), integer-rational threshold arithmetic, length pruning inside
    the candidate join."""
    from wiki_entity_linker_spark.operators.dedup import allpairs_jaccard_join

    return allpairs_jaccard_join(_t(spark, sf_dir, "documents"), threshold="0.5")


@q(
    "collocation_lift",
    f"""WITH toks AS (SELECT {_toks_sql('text')} AS tk FROM documents),
       uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
               FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
       nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
       big AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_ab
               FROM (SELECT unnest({_ngrams_sql('tk', 2)}) AS bg FROM toks
                     WHERE len(tk) >= 2)
               GROUP BY 1 HAVING count(*) >= 5),
       j AS (SELECT split_part(bg, ' ', 1) AS w1,
                    split_part(bg, ' ', 2) AS w2, c_ab
             FROM big),
       s AS (SELECT w1, w2, c_ab, a.c AS c_a, b.c AS c_b,
                    round((CAST(c_ab AS DOUBLE) * CAST(n AS DOUBLE))
                          / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)), 6)
                      AS lift
             FROM j JOIN uni a ON j.w1 = a.w JOIN uni b ON j.w2 = b.w
             CROSS JOIN nn)
       SELECT * FROM s ORDER BY lift DESC, w1, w2 LIMIT 50""",
)
def collocation_lift(spark, sf_dir):
    """Top-50 corpus collocations by pointwise lift
    c(ab)·N / (c(a)·c(b)) with minimum support 5 — the association-
    strength extension of the reference's plain unigram counter
    (count_unigrams.py), standard for tokenizer/phrase-vocabulary design.

    Scale shape: two map-side-combinable aggregations (unigrams with
    multiplicity, adjacent bigrams with multiplicity); the lift joins run
    AFTER aggregation so their stream is distinct bigrams, not
    occurrences — a Zipf-hot token is one row per distinct neighbor, and
    min-support prunes the long tail before the join; N is a 1-row
    broadcast. The global top-50 is ordered on the ROUNDED lift with a
    (w1, w2) tie-break — deterministic across engines — and compiles to
    TakeOrderedAndProject (per-partition heaps, never a full sort). The
    lift doubles are products/quotients of identical exact ints on both
    engines, so rounding agrees bit-for-bit."""
    from wiki_entity_linker_spark.functions.text import ngrams

    d = _t(spark, sf_dir, "documents")
    # cuts: toks feeds the unigram AND bigram aggregations, and uni feeds
    # THREE consumers (total-count agg + both lift join sides) — without
    # them Catalyst re-runs the tokenize scan per consumer (4 scans)
    toks = cut(d.select(tokenize("text").alias("tk")))
    uni = cut(
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    nn = uni.agg(F.sum("c").cast("long").alias("n"))
    big = (
        toks.filter(F.size("tk") >= 2)
        .select(F.explode(ngrams("tk", 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    parts = F.split("bg", " ")
    j = big.select(
        F.element_at(parts, 1).alias("w1"),
        F.element_at(parts, 2).alias("w2"),
        "c_ab",
    )
    a = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    b = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    lift = F.round(
        (F.col("c_ab").cast("double") * F.col("n").cast("double"))
        / (F.col("c_a").cast("double") * F.col("c_b").cast("double")),
        6,
    )
    s = (
        j.join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(nn))
        .select("w1", "w2", "c_ab", "c_a", "c_b", lift.alias("lift"))
    )
    return s.orderBy(F.col("lift").desc(), "w1", "w2").limit(50)


@q(
    "vocab_coverage",
    f"""WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS tk FROM documents),
       ex AS (SELECT doc_id, unnest(tk) AS w FROM toks),
       uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM ex GROUP BY 1),
       vocab AS (SELECT w FROM uni ORDER BY c DESC, w LIMIT 30),
       per AS (SELECT ex.doc_id,
                      CAST(count(*) AS BIGINT) AS n_tokens,
                      CAST(count(*) - count(vocab.w) AS BIGINT) AS oov_tokens
               FROM ex LEFT JOIN vocab ON ex.w = vocab.w GROUP BY 1)
       SELECT doc_id, n_tokens, oov_tokens,
              round(oov_tokens::DOUBLE / n_tokens, 6) AS oov_frac
       FROM per""",
)
def vocab_coverage(spark, sf_dir):
    """Frequency-based vocabulary induction + per-document OOV rate: the
    top-30 corpus tokens (count desc, token asc — deterministic at the
    rank boundary) become the vocabulary, and every document reports how
    much of it falls outside — the coverage check run before freezing a
    tokenizer vocab.

    Scale shape: the vocabulary is top-k by CONSTRUCTION, so the join
    back is always a broadcast of a computed, bounded frame (the pattern:
    aggregate → TakeOrderedAndProject → broadcast back into a row stream
    — no driver collect); the unigram aggregate and the per-doc rollup
    are both map-side combinable."""
    d = _t(spark, sf_dir, "documents")
    # cut: the exploded token stream feeds the vocab aggregation AND the
    # per-doc rollup — one tokenize scan instead of two
    ex = cut(d.select("doc_id", F.explode(tokenize("text")).alias("w")))
    uni = ex.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    vocab = (
        uni.orderBy(F.col("c").desc(), "w").limit(30)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    per = (
        ex.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            (F.count("*") - F.count("in_vocab")).cast("long").alias("oov_tokens"),
        )
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "oov_tokens",
        F.round(F.col("oov_tokens") / F.col("n_tokens"), 6).alias("oov_frac"),
    )


@q(
    "sorted_neighborhood",
    """WITH d AS (SELECT doc_id,
                        substr(lower(trim(regexp_replace(text, '\\s+', ' ',
                                                         'g'))), 1, 12) AS k
                 FROM documents),
       o AS (SELECT doc_id, k,
                    row_number() OVER (ORDER BY k, doc_id) - 1 AS pos
             FROM d),
       p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    CAST(b.pos - a.pos AS BIGINT) AS dist
             FROM o a JOIN o b
               ON b.pos BETWEEN a.pos + 1 AND a.pos + 3)
       SELECT id_a, id_b, dist FROM p""",
)
def sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995) over the
    first 12 normalized characters, window 4 — every pair within 3
    consecutive rows of the sorted corpus. The oracle states the naive
    single global row_number; the Spark side computes positions via
    order-contiguous prefix buckets + a bucket-cardinality offset window
    (operators/blocking.sorted_neighborhood_pairs), which this oracle
    pins bit-equal — including pairs spanning bucket boundaries."""
    from wiki_entity_linker_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring(normalize_content("text"), 1, 12).alias("k")
    )
    return sorted_neighborhood_pairs(d, "k", "doc_id")


def _verdict_ctes(rel: str) -> str:
    """The dedup_verdicts oracle as a reusable CTE block over relation
    ``rel`` (ends with ``vfinal`` = one verdict row per doc) — shared by
    the dedup_verdicts and curation_kept oracles so the composition query
    provably runs the same decision table."""
    return f"""ex AS (SELECT doc_id,
                          min(doc_id) OVER (PARTITION BY
                            sha256(lower(trim(regexp_replace(text, '\\s+', ' ',
                                                             'g')))))
                            AS canonical_id
                   FROM {rel}),
       toksv AS (SELECT doc_id, {_toks_sql('text')} AS t FROM {rel}),
       base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t
                FROM toksv),
       gl AS (SELECT doc_id, n_tokens,
                     CASE WHEN n_tokens >= 5
                          THEN [array_to_string(t[i:i+4], ' ')
                                for i in range(1, len(t) - 3)]
                          ELSE [] END AS gl
              FROM base),
       g AS (SELECT doc_id, unnest(gl) AS g,
                    generate_subscripts(gl, 1) - 1 AS pos
             FROM gl),
       dup AS (SELECT g FROM g GROUP BY g HAVING count(*) > 1),
       dp AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
       c AS (SELECT doc_id, pos,
                    least(5, COALESCE(lead(pos) OVER
                      (PARTITION BY doc_id ORDER BY pos) - pos, 5)) AS contrib
             FROM dp),
       cov AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS covered_tokens
               FROM c GROUP BY 1),
       segs AS (SELECT doc_id, n_tokens, i AS seg_idx,
                       CAST(len(t[CAST(i * 8 + 1 AS BIGINT)
                                  :CAST(i * 8 + 8 AS BIGINT)]) AS BIGINT)
                         AS seg_tokens,
                       array_to_string(t[CAST(i * 8 + 1 AS BIGINT)
                                         :CAST(i * 8 + 8 AS BIGINT)], ' ')
                         AS seg
                FROM base, unnest(range(CAST((n_tokens + 7) // 8 AS BIGINT)))
                     AS u(i)
                WHERE n_tokens > 0),
       win AS (SELECT seg, min(doc_id) AS wdoc FROM segs GROUP BY 1),
       win2 AS (SELECT s.seg, w.wdoc, min(s.seg_idx) AS widx
                FROM segs s JOIN win w ON s.seg = w.seg AND s.doc_id = w.wdoc
                GROUP BY 1, 2),
       segagg AS (SELECT s.doc_id,
                         CAST(max(s.n_tokens)
                              - sum(CASE WHEN s.doc_id = w.wdoc
                                          AND s.seg_idx = w.widx
                                         THEN s.seg_tokens ELSE 0 END)
                              AS BIGINT) AS dup_tokens
                  FROM segs s JOIN win2 w USING (seg) GROUP BY 1),
       j AS (SELECT b.doc_id, b.n_tokens, e.canonical_id,
                    round(COALESCE(cov.covered_tokens, 0)::DOUBLE
                          / greatest(b.n_tokens, 1), 6) AS substr_dup_frac,
                    round(COALESCE(sa.dup_tokens, 0)::DOUBLE
                          / greatest(b.n_tokens, 1), 6) AS seg_dup_frac
             FROM base b JOIN ex e USING (doc_id)
             LEFT JOIN cov USING (doc_id) LEFT JOIN segagg sa USING (doc_id)),
       vfinal AS (SELECT doc_id, n_tokens, canonical_id, substr_dup_frac,
                         seg_dup_frac,
              CASE WHEN canonical_id <> doc_id THEN 'drop_exact_dup'
                   WHEN substr_dup_frac > 0.25 OR seg_dup_frac > 0.25
                     THEN 'drop_boilerplate'
                   ELSE 'keep' END AS verdict
       FROM j)"""


@q(
    "dedup_verdicts",
    f"""WITH {_verdict_ctes('documents')}
       SELECT doc_id, n_tokens, canonical_id, substr_dup_frac, seg_dup_frac,
              verdict
       FROM vfinal""",
)
def dedup_verdicts(spark, sf_dir):
    """The curator's decision table: one verdict per document composed
    from the three exact-dedup tiers — whole-document sha (first-writer
    canonical), suffix-array-semantics substring coverage, and CCNet-style
    segment dedup. Priority: exact duplicate of an earlier doc →
    'drop_exact_dup'; >25% of tokens in corpus-duplicated substrings or
    segments → 'drop_boilerplate'; else 'keep'. Each component is itself
    an oracle-checked operator (sha_exact_dedup / exact_substring_dup /
    segment_dedup); this query pins their COMPOSITION. Scale shape =
    union of the components' (each documented at its definition); the
    final assembly is three doc_id equi-joins."""
    from wiki_entity_linker_spark.plans.curation import dedup_verdict_table

    # the curation pipeline's verdict stage: its constants are this query's
    # literals (k=5, seg_len=8, 0.25)
    return dedup_verdict_table(_t(spark, sf_dir, "documents"))


@q(
    "bloom_decontamination",
    f"""WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
       g AS (SELECT doc_id, unnest({_shingles_sql('t', 3)}) AS g FROM toks),
       bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
       hits AS (SELECT g.doc_id,
                       CAST(count(*) AS BIGINT) AS n_ngrams,
                       CAST(count(bench.g) AS BIGINT) AS contaminated_ngrams
                FROM g LEFT JOIN bench ON g.g = bench.g
                WHERE g.doc_id % 50 <> 0
                GROUP BY 1)
       SELECT doc_id, n_ngrams, contaminated_ngrams,
              round(contaminated_ngrams::DOUBLE / n_ngrams, 6)
                AS contamination_frac,
              contaminated_ngrams > 0 AS is_contaminated
       FROM hits""",
)
def bloom_decontamination(spark, sf_dir):
    """decontamination_flags semantics through a Bloom-filter prefilter —
    the oracle is IDENTICAL to the exact query's (bloom → exact verify
    must be answer-transparent: no false negatives by construction, false
    positives killed by the verify join; the green row pins that on real
    data).

    Why it exists: when the eval-set gram table is too big to broadcast
    (real decontamination: many benchmarks x train/test splits, tens of
    GB of grams), the exact plan must SHUFFLE every corpus gram to the
    join; this plan tests membership against a one-row 32 KB bitmap
    inside the scan (whole-stage codegen row filter, operators/bloom.py)
    and ships only probable hits. Measured honestly at sf1 where the
    bench set DOES fit a broadcast: the exact broadcast join wins (1.6 s
    vs 5.1 s — bloom pays two extra bench-side evaluations and the probe
    arithmetic, and the broadcast join is already shuffle-free). The
    bloom path's advantage begins exactly where the broadcast stops
    fitting; keeping both registered pins that the answer is identical
    either way."""
    from wiki_entity_linker_spark.functions.text import shingles, tokenize
    from wiki_entity_linker_spark.operators.bloom import (
        bloom_base_hash,
        bloom_bitmap,
        bloom_contains_hashed,
    )

    d = _t(spark, sf_dir, "documents")
    # cuts: toks feeds THREE consumers (bench grams, the probed explode,
    # per-doc sizes) and bench feeds TWO (bitmap build, exact verify
    # semi-join) — without them each consumer re-runs the tokenize+shingle
    # scan / the bench dedup shuffle
    toks = cut(d.select("doc_id", shingles(tokenize("text"), 3).alias("sh")))
    bench = cut(
        toks.filter(F.col("doc_id") % 50 == 0)
        .select(F.explode("sh").alias("g"))
        .dropDuplicates(["g"])
    )
    bm = bloom_bitmap(bench, "g")
    # probe as a ROW filter, not a HOF: explode + scalar bloom test stays
    # inside whole-stage codegen (interpreted HOF lambdas cost ~3x here,
    # measured), and the bloom chain has exactly ONE consumer — per-doc
    # sizes come from a separate bloom-free projection
    exploded = toks.filter(F.col("doc_id") % 50 != 0).select(
        "doc_id", F.explode("sh").alias("g")
    )
    cnt = (
        exploded.crossJoin(F.broadcast(bm))
        .filter(bloom_contains_hashed(bloom_base_hash("g"), "bitmap"))
        .select("doc_id", "g")
        .join(bench, "g", "semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    base = toks.filter(F.col("doc_id") % 50 != 0).select(
        "doc_id", F.size("sh").cast("long").alias("n_ngrams")
    )
    return (
        base.join(cnt, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            F.coalesce("c", F.lit(0).cast("long")).alias("contaminated_ngrams"),
            F.round(
                F.coalesce("c", F.lit(0).cast("long")) / F.col("n_ngrams"), 6
            ).alias("contamination_frac"),
            (F.coalesce("c", F.lit(0).cast("long")) > 0).alias("is_contaminated"),
        )
    )


@q(
    "q3_shipping_priority",
    """WITH rev AS (SELECT l_orderkey, o_orderdate,
                          CAST(sum(CAST(round(l_extendedprice
                                              * (1 - l_discount) * 100)
                                        AS BIGINT)) AS BIGINT) AS rev_scaled
                   FROM customer JOIN orders ON c_custkey = o_custkey
                                 JOIN lineitem ON l_orderkey = o_orderkey
                   WHERE c_mktsegment = 'BUILDING'
                     AND o_orderdate < TIMESTAMP '1998-01-01'
                     AND l_shipdate > TIMESTAMP '1998-01-01'
                   GROUP BY 1, 2)
       SELECT l_orderkey, o_orderdate, rev_scaled,
              round(rev_scaled / 100.0, 2) AS revenue
       FROM rev
       ORDER BY rev_scaled DESC, o_orderdate, l_orderkey LIMIT 10""",
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 (shipping priority) over the synthetic tables: top-10
    open orders of one market segment by revenue. Revenue is int64-scaled
    PER ROW before the sum (round(price·(1-disc)·100) — identical IEEE
    ops on identical doubles on both engines, then an order-independent
    integer sum), so the top-10 boundary can never flip on float
    summation order — the same discipline as bm25_topk. Both selective
    filters sit on the scan side of their joins (pushdown), and the
    top-10 compiles to TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    rev_row = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev_row).cast("long").alias("rev_scaled"))
    )
    return (
        rev.select(
            "l_orderkey",
            "o_orderdate",
            "rev_scaled",
            F.round(F.col("rev_scaled") / 100.0, 2).alias("revenue"),
        )
        .orderBy(F.col("rev_scaled").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_SOURCE_MH_ORACLE = (
    lambda N: f"""WITH toks AS (SELECT source, {_toks_sql('text')} AS t
                               FROM documents),
       sh AS (SELECT source, unnest({_shingles_sql('t', 3)}) AS g FROM toks),
       h AS (SELECT source, {h64_sql('g')} AS hs FROM sh),
       sig AS (SELECT source,
                      {', '.join(f"min({mh_mix_sql('hs', a, b)}) AS mh{i}"
                                 for i, (a, b) in enumerate(mh_family(N)))}
               FROM h GROUP BY source),
       p AS (SELECT a.source AS source_a, b.source AS source_b,
                    CAST({' + '.join(f'CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END' for i in range(N))}
                         AS BIGINT) AS n_agree
             FROM sig a JOIN sig b ON a.source < b.source)
       SELECT source_a, source_b, n_agree,
              round(n_agree / {float(N)}, 6) AS est_jaccard
       FROM p"""
)(32)


@q(
    "source_minhash_overlap",
    _SOURCE_MH_ORACLE,
)
def source_minhash_overlap(spark, sf_dir):
    """Per-SOURCE MinHash signatures (32 members) and pairwise sketch
    overlap estimates — the mergeable-sketch form of `source_overlap`:
    a source's signature is min-per-member over its docs' shingle hashes,
    so partition signatures MERGE by min (the algebra an OLAP rollup /
    Iceberg manifest-level sketch needs; the exact query re-scans, the
    sketch composes). At sf0.01 the estimate averages 0.0247 vs the exact
    matrix's 0.0267 — the error is the expected O(1/sqrt(32)).

    Scale shape: one shuffle — a map-side-combinable groupBy(source) of
    32 mins over the shingle-hash stream (the h64/mh_mix portable family,
    so the DuckDB oracle is bit-exact); the pairwise compare runs on the
    source-cardinality signature frame (tiny non-equi broadcast join)."""
    from wiki_entity_linker_spark.functions.hashing import h64, mh_family, mh_mix
    from wiki_entity_linker_spark.functions.text import shingles, tokenize

    d = _t(spark, sf_dir, "documents")
    h = d.select(
        "source", F.explode(shingles(tokenize("text"), 3)).alias("g")
    ).select("source", h64("g").alias("hs"))
    fam = mh_family(32)
    sig = h.groupBy("source").agg(
        *[
            F.min(mh_mix(F.col("hs"), a, b)).alias(f"mh{i}")
            for i, (a, b) in enumerate(fam)
        ]
    )
    a = sig.select(
        F.col("source").alias("source_a"),
        F.array(*[F.col(f"mh{i}") for i in range(32)]).alias("sa"),
    )
    b = sig.select(
        F.col("source").alias("source_b"),
        F.array(*[F.col(f"mh{i}") for i in range(32)]).alias("sb"),
    )
    n_agree = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, a["source_a"] < b["source_b"])
        .select(
            "source_a",
            "source_b",
            n_agree.alias("n_agree"),
            F.round(n_agree / F.lit(32.0), 6).alias("est_jaccard"),
        )
    )


@q(
    "q18_large_volume",
    """WITH big AS (SELECT l_orderkey,
                          CAST(sum(CAST(round(l_quantity) AS BIGINT))
                               AS BIGINT) AS total_qty
                   FROM lineitem GROUP BY 1
                   HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 150)
       SELECT c_name, c_custkey, o_orderkey, o_orderdate, total_qty
       FROM big JOIN orders ON o_orderkey = l_orderkey
                JOIN customer ON c_custkey = o_custkey
       ORDER BY total_qty DESC, o_orderkey LIMIT 20""",
)
def q18_large_volume(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds a threshold, joined out to their customers, top-20. The
    HAVING aggregate runs BEFORE the joins — the selective reduction
    (14k orders -> a handful) happens on one map-side-combinable
    groupBy, and only survivors join orders/customer (both then
    broadcastable). Quantities are whole-valued doubles; the per-row
    round->int cast makes the sum exact on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.round("l_quantity").cast("long")).cast("long").alias("total_qty")
        )
        .filter(F.col("total_qty") > 150)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(20)
    )


@q(
    "label_centroids",
    """WITH e AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
                        CAST(round(CAST(unnest(embedding) AS DOUBLE)
                                   * 1000000) AS BIGINT) AS v
                 FROM embeddings)
       SELECT label, dim, CAST(count(*) AS BIGINT) AS n_vectors,
              CAST(sum(v) AS BIGINT) AS sum_scaled,
              round(sum(v) / (count(*) * 1000000.0), 6) AS centroid
       FROM e GROUP BY 1, 2""",
)
def label_centroids(spark, sf_dir):
    """Per-cluster centroid of the embedding table in DETERMINISTIC
    fixed-point arithmetic — the IVF-training / cluster-summary primitive.
    Float mean-vectors sum in partition order and can never be bit-exact;
    here each element is scaled to int64 once (explicit double widening +
    round — identical IEEE ops both engines), summed exactly, and divided
    back at the end.

    Scale shape: one (label, dim) explode — 64x rows but fixed fan-out —
    into a map-side-combinable groupBy on uniform keys; emitted as
    (label, dim) ROWS (#labels x #dims — a summary frame), never
    collecting vectors per group. The naive collect_list-per-label
    centroid buffers every member vector in one reducer; this shape
    never holds more than a partial sum per key."""
    e = _t(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("dim", "val")
    )
    v = F.round(F.col("val").cast("double") * 1000000).cast("long")
    return (
        e.groupBy("label", "dim")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum(v).cast("long").alias("sum_scaled"),
        )
        .select(
            "label",
            F.col("dim").cast("long").alias("dim"),
            "n_vectors",
            "sum_scaled",
            F.round(
                F.col("sum_scaled") / (F.col("n_vectors") * F.lit(1000000.0)), 6
            ).alias("centroid"),
        )
    )


@q(
    "count_min_heavy_hitters",
    f"""WITH tok AS (SELECT unnest({_toks_sql('text')}) AS w FROM documents),
       hv AS (SELECT w, {h64_sql('w')} AS hv FROM tok),
       sk AS (SELECT 0 AS d, ((((hv) % 2147483647) * 506952114 + 283532) % 2147483647) % 512 AS cell, CAST(count(*) AS BIGINT) AS cnt FROM hv GROUP BY 2 UNION ALL SELECT 1 AS d, ((((hv) % 2147483647) * 1013904228 + 324035) % 2147483647) % 512 AS cell, CAST(count(*) AS BIGINT) AS cnt FROM hv GROUP BY 2 UNION ALL SELECT 2 AS d, ((((hv) % 2147483647) * 1520856342 + 364538) % 2147483647) % 512 AS cell, CAST(count(*) AS BIGINT) AS cnt FROM hv GROUP BY 2 UNION ALL SELECT 3 AS d, ((((hv) % 2147483647) * 2027808456 + 405041) % 2147483647) % 512 AS cell, CAST(count(*) AS BIGINT) AS cnt FROM hv GROUP BY 2),
       top AS (SELECT w, CAST(count(*) AS BIGINT) AS true_count FROM tok
               GROUP BY 1 ORDER BY true_count DESC, w LIMIT 20),
       tc AS (SELECT w, true_count, {h64_sql('w')} AS hv FROM top),
       t AS (SELECT w, true_count, ((((hv) % 2147483647) * 506952114 + 283532) % 2147483647) % 512 AS c0, ((((hv) % 2147483647) * 1013904228 + 324035) % 2147483647) % 512 AS c1, ((((hv) % 2147483647) * 1520856342 + 364538) % 2147483647) % 512 AS c2, ((((hv) % 2147483647) * 2027808456 + 405041) % 2147483647) % 512 AS c3 FROM tc)
       SELECT w, true_count, least(s0.cnt, s1.cnt, s2.cnt, s3.cnt) AS cm_estimate,
              least(s0.cnt, s1.cnt, s2.cnt, s3.cnt) >= true_count AS is_overestimate
       FROM t JOIN sk s0 ON s0.d = 0 AND s0.cell = t.c0 JOIN sk s1 ON s1.d = 1 AND s1.cell = t.c1 JOIN sk s2 ON s2.d = 2 AND s2.cell = t.c2 JOIN sk s3 ON s3.d = 3 AND s3.cell = t.c3 ORDER BY true_count DESC, w""",
)
def count_min_heavy_hitters(spark, sf_dir):
    """Count-min sketch (Cormode & Muthukrishnan 2005) heavy-hitter
    estimates — sketch algebra #3 after MinHash signatures and the Bloom
    bitmap: token frequencies summarized into a FIXED d×w = 4×512 int64
    grid (one map-side-combinable groupBy over the d-way exploded token
    stream; the grid size is independent of corpus size, and grids merge
    by cell-wise addition — the mergeability a streaming/rollup counter
    needs). Estimates are min over the d rows; the all-integer arithmetic
    is bit-exact on both engines, and the overestimate-only guarantee
    (estimate >= true count, never under) is asserted as an output
    column. The top-20 true counts exist here only to exhibit the
    estimates; production reads the 2 048-cell sketch alone."""
    from wiki_entity_linker_spark.functions.hashing import h64, mh_family, mh_mix

    fam = mh_family(4)
    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokenize("text")).alias("w"))
    hv = tok.select("w", h64("w").alias("hv"))
    sk = (
        hv.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("d"),
                            (mh_mix(F.col("hv"), a, b) % 512).alias("cell"),
                        )
                        for i, (a, b) in enumerate(fam)
                    ]
                )
            ).alias("s")
        )
        .groupBy(F.col("s.d").alias("d"), F.col("s.cell").alias("cell"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    top = (
        hv.groupBy("w")
        .agg(F.count("*").cast("long").alias("true_count"))
        .orderBy(F.col("true_count").desc(), "w")
        .limit(20)
    )
    t = top.select(
        "w",
        "true_count",
        *[
            (mh_mix(h64("w"), a, b) % 512).alias(f"c{i}")
            for i, (a, b) in enumerate(fam)
        ],
    )
    cnts = []
    for i in range(4):
        sl = sk.filter(F.col("d") == i).select(
            F.col("cell").alias(f"c{i}"), F.col("cnt").alias(f"cnt{i}")
        )
        t = t.join(F.broadcast(sl), f"c{i}")
        cnts.append(F.col(f"cnt{i}"))
    est = F.least(*cnts)
    return t.select(
        "w",
        "true_count",
        est.alias("cm_estimate"),
        (est >= F.col("true_count")).alias("is_overestimate"),
    )


@q(
    "snm_fuzzy_pairs",
    """WITH d AS (SELECT doc_id,
                        substr(lower(trim(regexp_replace(text, '\\s+', ' ',
                                                         'g'))), 1, 12) AS k
                 FROM documents),
       o AS (SELECT doc_id, k,
                    row_number() OVER (ORDER BY k, doc_id) - 1 AS pos
             FROM d),
       p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    CAST(b.pos - a.pos AS BIGINT) AS dist,
                    CAST(levenshtein(a.k, b.k) AS BIGINT) AS lev
             FROM o a JOIN o b
               ON b.pos BETWEEN a.pos + 1 AND a.pos + 3)
       SELECT id_a, id_b, dist, lev FROM p WHERE lev <= 3""",
)
def snm_fuzzy_pairs(spark, sf_dir):
    """Sorted-neighborhood candidates VERIFIED by edit distance — the
    two-stage fuzzy-key match (SNM window for recall, Levenshtein <= 3 on
    the sort key for precision). The verify is JVM ``levenshtein`` on the
    already-generated neighbor pairs (window-1 rows per doc — bounded),
    never an all-pairs edit-distance join. Positions via the
    order-contiguous bucket scheme (operators/blocking.
    sorted_neighborhood_pairs); both engines' levenshtein are the classic
    unit-cost edit distance, so the oracle is exact."""
    from wiki_entity_linker_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring(normalize_content("text"), 1, 12).alias("k")
    )
    pairs = sorted_neighborhood_pairs(d, "k", "doc_id")
    ka = d.select(F.col("doc_id").alias("id_a"), F.col("k").alias("k_a"))
    kb = d.select(F.col("doc_id").alias("id_b"), F.col("k").alias("k_b"))
    return (
        pairs.join(ka, "id_a")
        .join(kb, "id_b")
        .select(
            "id_a",
            "id_b",
            "dist",
            F.levenshtein("k_a", "k_b").cast("long").alias("lev"),
        )
        .filter(F.col("lev") <= 3)
    )


@q(
    "stratified_sample",
    f"""WITH d AS (SELECT doc_id, source,
                        CAST(len({_toks_sql('text')}) AS BIGINT) AS n
                 FROM documents),
       hist AS (SELECT source, n, CAST(count(*) AS BIGINT) AS c
                FROM d GROUP BY 1, 2),
       cum AS (SELECT source, n, c,
                     sum(c) OVER (PARTITION BY source ORDER BY n
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                     sum(c) OVER (PARTITION BY source) AS n_docs
              FROM hist),
       thr AS (SELECT source,
                     CAST(min(CASE WHEN cum >= ceil(0.25 * n_docs)
                                   THEN n END) AS BIGINT) AS q25,
                     CAST(min(CASE WHEN cum >= ceil(0.50 * n_docs)
                                   THEN n END) AS BIGINT) AS q50,
                     CAST(min(CASE WHEN cum >= ceil(0.75 * n_docs)
                                   THEN n END) AS BIGINT) AS q75
              FROM cum GROUP BY 1),
       s AS (SELECT d.doc_id, d.source, d.n,
                    CAST(CASE WHEN d.n <= q25 THEN 0
                              WHEN d.n <= q50 THEN 1
                              WHEN d.n <= q75 THEN 2 ELSE 3 END
                         AS BIGINT) AS stratum
             FROM d JOIN thr USING (source)),
       r AS (SELECT *,
                    row_number() OVER (PARTITION BY source, stratum
                      ORDER BY {h64_sql("CAST(doc_id AS VARCHAR)")}, doc_id)
                      AS rk
             FROM s)
       SELECT source, stratum, doc_id, n AS n_tokens, CAST(rk AS BIGINT) AS rk
       FROM r WHERE rk <= 3""",
)
def stratified_sample(spark, sf_dir):
    """Stratified eval-set construction: 3 documents per (source,
    length-quartile) stratum, picked in reproducible portable-hash order
    — the sampler that keeps an eval slice representative across both
    provenance and length, completing the curation chain
    mixture_allocation → token_budget_sample → stratified_sample.

    Scale shape: quartile thresholds come from the (source, length)
    HISTOGRAM (the length_quantiles discipline — corpus-sized work is one
    combinable groupBy; threshold windows run on the summary frame);
    thresholds broadcast back (source-cardinality frame), stratum
    assignment is row-local, and the only corpus-wide window partitions
    by (source, stratum) — no single-partition funnel anywhere. This is the
    curation pipeline's builder, plans/curation.stratified_eval_slice."""
    from wiki_entity_linker_spark.plans.curation import stratified_eval_slice

    return stratified_eval_slice(_doc_tokens(spark, sf_dir), 3)


# ===========================================================================
# ER evaluation metrics (B-cubed, blocking quality) + embedding quantization
# ===========================================================================

def _bcubed_oracle(n_hashes: int, bands: int, k: int, thr: float) -> str:
    """The flagship clustering oracle (band-exact MinHash + recursive-CTE
    components) nested as a derived table, then the contingency form of
    B-cubed — Σ n_cg²/n_c and Σ n_cg²/n_g over the (system, gold) table."""
    return f"""
       WITH items AS (
         SELECT s.id, s.component AS c,
                d.source || '|' || CAST(d.n_chars // 100 AS VARCHAR) AS g
         FROM ({_cc_oracle(n_hashes, bands, k, thr)}) s
         JOIN documents d ON d.doc_id = s.id),
       cg AS (SELECT c, g, count(*) AS n_cg FROM items GROUP BY 1, 2),
       cs AS (SELECT c, count(*) AS n_c FROM items GROUP BY 1),
       gs AS (SELECT g, count(*) AS n_g FROM items GROUP BY 1),
       agg AS (SELECT CAST(sum(n_cg) AS BIGINT) AS n_items,
                      sum(n_cg::DOUBLE * n_cg / n_c) AS sp,
                      sum(n_cg::DOUBLE * n_cg / n_g) AS sr
               FROM cg JOIN cs USING (c) JOIN gs USING (g))
       SELECT n_items,
              round(sp / n_items, 6) AS bcubed_precision,
              round(sr / n_items, 6) AS bcubed_recall,
              round(2 * (sp / n_items) * (sr / n_items) /
                    ((sp / n_items) + (sr / n_items)), 6) AS bcubed_f1
       FROM agg"""


def _flagship_gold_items(spark, sf_dir):
    """Shared input of the two clustering-evaluation queries: the flagship
    LSH clustering joined to the deterministic attribute gold
    (source × 100-char length bucket) — one definition so a banding or
    bucketing tweak can never skew one metric and not the other."""
    comp = er_cluster_documents(spark, sf_dir)
    gold = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "|", F.col("source"), F.expr("CAST(n_chars div 100 AS STRING)")
        ).alias("gold"),
    )
    return comp.join(gold, comp["id"] == gold["doc_id"])


@q("bcubed_eval", _bcubed_oracle(16, 8, 3, 0.3))
def bcubed_eval(spark, sf_dir):
    """B-cubed precision/recall/F1 (Bagga & Baldwin 1998) of the flagship
    LSH near-dup clustering against a deterministic attribute gold
    (source × 100-char length bucket) — the standard ER clustering metric
    the reference never computes because it evaluates per-mention linking
    only (its evaluate.py stops at TP/FP/FN cases).

    Scale shape: the clustering is the flagship path; the metric itself is
    three hash aggregations + two cluster-cardinality joins + a 1-row
    rollup (operators/er_metrics.bcubed) — no per-item pass survives the
    first groupBy."""
    from wiki_entity_linker_spark.operators.er_metrics import bcubed

    return bcubed(_flagship_gold_items(spark, sf_dir), "component", "gold")


def _pairwise_cluster_oracle(n_hashes: int, bands: int, k: int, thr: float) -> str:
    """Contingency form of pairwise clustering P/R/F1: TP = Σ C(n_cg,2),
    system pairs = Σ C(n_c,2), gold pairs = Σ C(n_g,2) — integers until the
    final rounded ratios."""
    return f"""
       WITH items AS (
         SELECT s.id, s.component AS c,
                d.source || '|' || CAST(d.n_chars // 100 AS VARCHAR) AS g
         FROM ({_cc_oracle(n_hashes, bands, k, thr)}) s
         JOIN documents d ON d.doc_id = s.id),
       tp AS (SELECT CAST(sum((n_cg * (n_cg - 1)) // 2) AS BIGINT) AS tp,
                     CAST(sum(n_cg) AS BIGINT) AS n_items
              FROM (SELECT count(*) AS n_cg FROM items GROUP BY c, g)),
       sp AS (SELECT CAST(sum((n_c * (n_c - 1)) // 2) AS BIGINT) AS sys_pairs
              FROM (SELECT count(*) AS n_c FROM items GROUP BY c)),
       gp AS (SELECT CAST(sum((n_g * (n_g - 1)) // 2) AS BIGINT) AS gold_pairs
              FROM (SELECT count(*) AS n_g FROM items GROUP BY g))
       SELECT n_items, tp, sys_pairs, gold_pairs,
              round(tp / CAST(sys_pairs AS DOUBLE), 6) AS pair_precision,
              round(tp / CAST(gold_pairs AS DOUBLE), 6) AS pair_recall,
              round(2 * (tp / CAST(sys_pairs AS DOUBLE))
                      * (tp / CAST(gold_pairs AS DOUBLE))
                    / ((tp / CAST(sys_pairs AS DOUBLE))
                       + (tp / CAST(gold_pairs AS DOUBLE))), 6) AS pair_f1
       FROM tp, sp, gp"""


@q("pairwise_cluster_eval", _pairwise_cluster_oracle(16, 8, 3, 0.3))
def pairwise_cluster_eval(spark, sf_dir):
    """Pairwise clustering precision/recall/F1 of the flagship LSH
    clustering vs the same attribute gold as bcubed_eval — the
    ER-literature companion metric (pairwise weights co-reference
    DECISIONS where B-cubed weights items; they diverge exactly on skewed
    cluster sizes, so reports carry both). All-integer contingency math
    (Σ C(n,2) over three hash aggregations), never a materialized pair
    table — word-count cost at any corpus size."""
    from wiki_entity_linker_spark.operators.er_metrics import pairwise_clustering

    return pairwise_clustering(
        _flagship_gold_items(spark, sf_dir), "component", "gold"
    )


def _blocking_quality_oracle(n_hashes: int, bands: int, k: int, thr: float) -> str:
    """Band-collision candidates (pre-verify) vs the EXACT shingle-Jaccard
    truth from an uncapped inverted-index join (exact because any pair with
    J > 0 shares at least one shingle), then PC / RR counts."""
    rows = n_hashes // bands
    mixes = ",\n              ".join(
        f"min({mh_mix_sql('hs', a, b)}) AS mh{i}"
        for i, (a, b) in enumerate(mh_family(n_hashes))
    )
    band_eq = " OR ".join(
        "(" + " AND ".join(f"a.mh{b * rows + r} = b.mh{b * rows + r}" for r in range(rows)) + ")"
        for b in range(bands)
    )
    return f"""
       WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
       shl AS (SELECT doc_id, {_shingles_sql('t', k)} AS g FROM toks),
       sh AS (SELECT doc_id, unnest(g) AS shingle FROM shl),
       h AS (SELECT doc_id, {h64_sql('shingle')} AS hs FROM sh),
       sig AS (SELECT doc_id, {mixes} FROM h GROUP BY doc_id),
       cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_eq})),
       sizes AS (SELECT doc_id, len(g) AS n FROM shl),
       shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                  FROM sh a JOIN sh b
                    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
       truth AS (SELECT id_a, id_b FROM shared
                 JOIN sizes sa ON sa.doc_id = id_a
                 JOIN sizes sb ON sb.doc_id = id_b
                 WHERE round(inter::DOUBLE / (sa.n + sb.n - inter), 6) >= {thr}),
       counts AS (SELECT
         (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_items,
         (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         (SELECT CAST(count(*) AS BIGINT)
          FROM truth t JOIN cand c USING (id_a, id_b)) AS n_covered)
       SELECT n_items, n_candidates, n_truth, n_covered,
              round(n_covered::DOUBLE / n_truth, 6) AS pairs_completeness,
              round(1.0 - n_candidates::DOUBLE /
                    (n_items::DOUBLE * (n_items - 1) / 2), 6) AS reduction_ratio
       FROM counts"""


@q("blocking_quality", _blocking_quality_oracle(16, 8, 3, 0.3))
def blocking_quality_documents(spark, sf_dir):
    """Pairs completeness + reduction ratio (Christen 2012) of the MinHash
    band blocker, measured against the EXACT shingle-Jaccard truth from the
    uncapped inverted-index join — the pre-deployment question for any
    blocking scheme at 100 TB ("what fraction of true matches survive
    banding, and how much of the n² space does it prune?"), answered as a
    distributed rollup instead of a sampled audit.

    The truth side is exact, not another approximation: a pair with
    Jaccard > 0 shares ≥ 1 shingle, so the inverted index (no doc-freq cap
    here — exactness is the point of the truth table) enumerates every
    pair above the threshold."""
    from wiki_entity_linker_spark.operators.blocking import (
        lsh_band_blocks,
        minhash_from_shingles,
        pairs_from_blocks,
    )
    from wiki_entity_linker_spark.operators.dedup import allpairs_jaccard_join
    from wiki_entity_linker_spark.operators.er_metrics import blocking_quality

    d = _t(spark, sf_dir, "documents")
    sh = d.select(F.col("doc_id"), shingles(tokenize("text"), 3).alias("sh"))
    sigs = minhash_from_shingles(sh, "doc_id", 16)
    cand = pairs_from_blocks(lsh_band_blocks(sigs, "doc_id"), "doc_id")
    # EXACT truth via the prefix-filtered AllPairs join instead of the
    # uncapped inverted-index pair count (Σ df² — quadratic in corpus size;
    # 90 s at the 10× fixture vs ~10 s for this shape). Same result set:
    # the old form kept pairs with round(J, 6) >= 0.3, i.e. J >= 0.2999995
    # exactly; AllPairs at the rational threshold 0.2999995 returns every
    # such pair (its prune/accept tests are exact integer arithmetic), and
    # the final filter re-applies the identical rounded comparison.
    truth = (
        allpairs_jaccard_join(d, threshold="0.2999995")
        .filter(F.col("jaccard") >= 0.3)
        .select("id_a", "id_b")
    )
    n_items = d.count()
    return blocking_quality(cand, truth, n_items)


def _quantize_oracle(dim: int, levels: int) -> str:
    """Per-dim min/max bounds → uint8 codes (floor(x+0.5), half-up both
    engines) → reconstruction error; explicit left-associated sums pin the
    double-addition order so both engines agree bit-for-bit."""
    bounds = ", ".join(
        f"min(embedding[{i + 1}])::DOUBLE AS mn{i}, "
        f"max(embedding[{i + 1}])::DOUBLE AS mx{i}"
        for i in range(dim)
    )
    codes = ", ".join(
        f"CASE WHEN mx{i} = mn{i} THEN 0 ELSE CAST(floor("
        f"((embedding[{i + 1}]::DOUBLE - mn{i}) / (mx{i} - mn{i})) * {levels}.0"
        f" + 0.5) AS BIGINT) END AS c{i}"
        for i in range(dim)
    )
    errs = ", ".join(
        f"(embedding[{i + 1}]::DOUBLE - (mn{i} + ((c{i}::DOUBLE * (mx{i} - mn{i}))"
        f" / {levels}.0))) * (embedding[{i + 1}]::DOUBLE - (mn{i} + ((c{i}::DOUBLE"
        f" * (mx{i} - mn{i})) / {levels}.0))) AS e{i}"
        for i in range(dim)
    )
    code_sum = " + ".join(f"c{i}" for i in range(dim))
    err_sum = " + ".join(f"e{i}" for i in range(dim))
    return f"""
       WITH st AS (SELECT {bounds} FROM embeddings),
       coded AS (SELECT vec_id, embedding, st.*, {codes}
                 FROM embeddings, st),
       erred AS (SELECT vec_id, {code_sum} AS code_sum, {errs} FROM coded)
       SELECT vec_id, CAST(code_sum AS BIGINT) AS code_sum,
              round(({err_sum}) / {dim}.0, 9) AS mse
       FROM erred"""


@q("embedding_quantization", _quantize_oracle(64, 255))
def embedding_quantization(spark, sf_dir):
    """Int8 scalar quantization of the embedding column: per-dimension
    global min/max bounds (ONE combinable aggregate, broadcast back as a
    1-row cross join) → uint8 codes + reconstruction MSE, all row-local JVM
    column math. The 4×-smaller codes are what a 100 TB ANN index stores;
    the float column is read only by the exact-rescore stage
    (operators/quantize.py). code_sum is the exact integer checksum of the
    full code vector, so the oracle pins every code, not just the error."""
    from wiki_entity_linker_spark.operators.quantize import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb, "vec_id", "embedding", dim=64)


@q(
    "asof_join_events",
    """WITH u AS (
         SELECT user_id, ts, 1 AS side, NULL::BIGINT AS tie,
                CAST(NULL AS STRUCT(rts TIMESTAMP, p_id BIGINT,
                                    p_val DOUBLE)) AS r,
                event_id
         FROM events WHERE event_type = 'purchase'
         UNION ALL
         SELECT user_id, ts, 0, event_id,
                {'rts': ts, 'p_id': event_id, 'p_val': value}, NULL::BIGINT
         FROM events WHERE event_type = 'view'),
       w AS (SELECT *, last_value(r IGNORE NULLS) OVER win AS m
             FROM u
             WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, tie
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW))
       SELECT event_id, user_id, ts,
              CASE WHEN m IS NOT NULL AND m.rts >= ts - INTERVAL 48 HOURS
                   THEN m.rts END AS matched_ts,
              CASE WHEN m IS NOT NULL AND m.rts >= ts - INTERVAL 48 HOURS
                   THEN m.p_id END AS view_event_id,
              CASE WHEN m IS NOT NULL AND m.rts >= ts - INTERVAL 48 HOURS
                   THEN round(m.p_val, 6) END AS view_value
       FROM w WHERE side = 1""",
)
def asof_join_events(spark, sf_dir):
    """General as-of join (operators/asof.py): each purchase picks the
    nearest-preceding view of the same user within a 48 h tolerance,
    carrying the matched view's id/timestamp/value. The union-merge plan —
    ONE hash shuffle on the key, one sorted window scan, |L|+|R| rows with
    zero join amplification — where the naive range-join + argmax encoding
    shuffles twice and explodes on wide lookback windows. The coref stage
    (plans/coref.py) is this operator specialized to one table."""
    from wiki_entity_linker_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_tie="event_id",
        payload={"view_event_id": "event_id", "view_value": "value"},
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "matched_ts",
        "view_event_id",
        F.round("view_value", 6).alias("view_value"),
    )


def _triangle_oracle() -> str:
    """Per-node triangle counts are orientation-invariant, so the oracle
    enumerates triangles by plain id order (a<b<c chain joins) while the
    Spark operator uses the degree-ordered orientation — same counts."""
    edges = _neardup_lsh_oracle(
        dim=64, thr=0.2, n_planes=6, n_tables=3, max_bucket=256
    )
    return f"""
       WITH e0 AS (SELECT id_a, id_b FROM ({edges})),
       und AS (SELECT id_a AS u, id_b AS v FROM e0
               UNION SELECT id_b, id_a FROM e0),
       deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
               FROM und GROUP BY 1),
       tri AS (SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
               FROM e0 e1 JOIN e0 e2 ON e1.id_b = e2.id_a
               JOIN e0 e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
       tn AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
                SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri) GROUP BY 1)
       SELECT d.node, d.degree,
              CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
              CASE WHEN d.degree >= 2
                   THEN round(2.0 * COALESCE(t.triangles, 0) /
                              (d.degree * (d.degree - 1)), 6)
                   ELSE 0.0 END AS clustering_coeff
       FROM deg d LEFT JOIN tn t USING (node)"""


@q("triangle_clustering", _triangle_oracle())
def triangle_clustering(spark, sf_dir):
    """Per-node triangle participation + local clustering coefficient over
    the embedding near-dup graph — the cluster-cohesion diagnostic that
    separates tight near-dup cliques from chains of borderline matches
    before anything is deleted. Edges come from the bucketed RHP-LSH path
    (never all-pairs); the count uses the degree-ordered orientation
    (operators/graph.triangle_counts), so wedges fan out of each edge's
    LOW-degree side only — the O(m^1.5) bound that survives hub skew at
    100 TB where naive a<b<c id-order joins melt on a hot vertex."""
    from wiki_entity_linker_spark.operators.graph import triangle_counts

    emb = _t(spark, sf_dir, "embeddings")
    edges = embedding_neardup_lsh_pairs(emb, dim=64, threshold=0.2).select(
        "id_a", "id_b"
    )
    return triangle_counts(edges)


@q(
    "quantile_sketch",
    """WITH v AS (SELECT n_chars AS val FROM documents WHERE n_chars > 0),
       bb AS (SELECT val, length(format('{:b}', val)) - 1 AS b FROM v),
       binned AS (SELECT val,
         CASE WHEN val < 16 THEN val
              ELSE b * 8 + (val // (1::BIGINT << (b - 3))) % 8
              END AS bin
         FROM bb),
       hist AS (SELECT bin, CAST(count(*) AS BIGINT) AS c
                FROM binned GROUP BY 1),
       cum AS (SELECT bin, c,
               sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER () AS n FROM hist),
       qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]::DOUBLE[]) AS q),
       est AS (SELECT q,
                 CAST(min(CASE WHEN cum >= ceil(q * n) THEN bin END)
                      AS BIGINT) AS bin,
                 CAST(max(n) AS BIGINT) AS n_items
               FROM qs CROSS JOIN cum GROUP BY 1),
       dec AS (SELECT q, n_items, bin,
         CASE WHEN bin < 16 THEN bin
              ELSE (8 + bin % 8) * (1::BIGINT << (bin // 8 - 3))
              END AS sketch_lb,
         CASE WHEN bin < 16 THEN 1
              ELSE 1::BIGINT << (bin // 8 - 3) END AS width
         FROM est),
       vh AS (SELECT val, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1),
       vc AS (SELECT val,
               sum(c) OVER (ORDER BY val ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER () AS n FROM vh),
       ex AS (SELECT q, CAST(min(CASE WHEN cum >= ceil(q * n) THEN val END)
                             AS BIGINT) AS exact_q
              FROM qs CROSS JOIN vc GROUP BY 1)
       SELECT d.q, d.n_items, d.bin, d.sketch_lb, e.exact_q,
              e.exact_q >= d.sketch_lb
                AND e.exact_q < d.sketch_lb + d.width AS in_bin
       FROM dec d JOIN ex e USING (q)""",
)
def quantile_sketch(spark, sf_dir):
    """Mergeable log-histogram quantile sketch — sketch algebra #4 after
    MinHash (min-merge), Bloom (bit-or) and count-min (cell-add): document
    lengths binned into base-2 bins with 8 mantissa sub-bins (relative
    width ≤ 1/8), ALL integer arithmetic (floor-log2 via binary string
    length — no float log), so the sketch is bit-exact across engines and
    two sketches merge by bin-wise count addition. Quantile estimates read
    the cumulative histogram: ~70 bins summarize any corpus size, the only
    corpus-wide work is one combinable groupBy (the length_quantiles
    discipline — the single-partition window runs on the bin-count frame,
    never the corpus). The exact quantile column exists to exhibit the
    ≤1/8 relative-error guarantee (in_bin asserts the exact value falls in
    the estimated bin); production reads the sketch alone."""
    d = _t(spark, sf_dir, "documents")
    v = d.filter(F.col("n_chars") > 0).select(F.col("n_chars").alias("val"))
    b = F.length(F.conv(F.col("val").cast("string"), 10, 2)) - 1
    # integer mantissa extraction: shiftright (column shift amount needs
    # call_function), NOT float division — val ≥ 2^53 would round in the
    # double and land in the wrong bin, breaking the bit-exact claim
    mant = F.call_function("shiftright", F.col("val"), (b - 3).cast("int"))
    binned = v.select(
        "val",
        F.when(F.col("val") < 16, F.col("val"))
        .otherwise((b * 8 + mant % 8).cast("long"))
        .alias("bin"),
    )
    hist = binned.groupBy("bin").agg(F.count("*").cast("long").alias("c"))
    w_all = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin",
        F.sum("c").over(w_all).alias("cum"),
        F.sum("c").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.9, 0.99)]))
        .alias("q")
    )
    est = (
        qs.crossJoin(cum)
        .groupBy("q")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.ceil(F.col("q") * F.col("n")), F.col("bin"))
            ).cast("long").alias("bin"),
            F.max("n").cast("long").alias("n_items"),
        )
    )
    eb = F.col("bin")
    lb_p = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (F.shiftright(eb, 3) - 3).cast("int")
    )
    dec = est.select(
        "q",
        "n_items",
        "bin",
        F.when(eb < 16, eb).otherwise((8 + eb % 8) * lb_p).alias("sketch_lb"),
        F.when(eb < 16, F.lit(1).cast("long")).otherwise(lb_p).alias("width"),
    )
    vh = v.groupBy("val").agg(F.count("*").cast("long").alias("c"))
    wv = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    vc = vh.select(
        "val",
        F.sum("c").over(wv).alias("cum"),
        F.sum("c").over(
            Window.orderBy("val").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    ex = (
        qs.crossJoin(vc)
        .groupBy("q")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.ceil(F.col("q") * F.col("n")), F.col("val"))
            ).cast("long").alias("exact_q")
        )
    )
    return dec.join(ex, "q").select(
        "q",
        "n_items",
        "bin",
        "sketch_lb",
        "exact_q",
        (
            (F.col("exact_q") >= F.col("sketch_lb"))
            & (F.col("exact_q") < F.col("sketch_lb") + F.col("width"))
        ).alias("in_bin"),
    )


def _kcore_oracle(k: int, unroll: int) -> str:
    """Unrolled peeling (the pagerank-oracle discipline: a fixed number of
    SQL rounds stands in for the fixpoint loop): each round keeps nodes
    whose INDUCED degree ≥ k. The peel at this graph/SF converges in ≤4
    rounds (pinned in test_kcore_convergence_rounds), so ``unroll`` rounds
    reproduce the fixpoint exactly — extra rounds are no-ops."""
    edges = _neardup_lsh_oracle(
        dim=64, thr=0.2, n_planes=6, n_tables=3, max_bucket=256
    )
    rounds = []
    for i in range(1, unroll + 1):
        # MATERIALIZED: each round references the previous one TWICE —
        # DuckDB inlines plain CTEs, which would re-evaluate the LSH edge
        # subquery 2^unroll times
        rounds.append(
            f"""a{i} AS MATERIALIZED (SELECT e.u AS id FROM und e
               JOIN a{i - 1} x ON e.u = x.id
               JOIN a{i - 1} y ON e.v = y.id
               GROUP BY 1 HAVING count(*) >= {k})"""
        )
    rounds_sql = ",\n       ".join(rounds)
    return f"""
       WITH e0 AS MATERIALIZED (SELECT id_a, id_b FROM ({edges})),
       und AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM e0
               UNION SELECT id_b, id_a FROM e0),
       a0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM und),
       {rounds_sql}
       SELECT e.u AS node, CAST(count(*) AS BIGINT) AS degree_in_core
       FROM und e
       JOIN a{unroll} x ON e.u = x.id
       JOIN a{unroll} y ON e.v = y.id
       GROUP BY 1"""


@q("kcore_dense", _kcore_oracle(2, 8))
def kcore_dense(spark, sf_dir):
    """2-core of the embedding near-dup graph: the maximal subgraph where
    every surviving node keeps ≥2 in-core neighbors (Seidman 1983) — the
    density primitive that peels chain-of-borderline-match periphery off
    cohesive duplicate cores before anything is merged or deleted
    (complements triangle_clustering's per-node cohesion). Iterative
    DataFrame peeling with per-round lineage cuts and a LOUD
    non-convergence bound (operators/graph.k_core); each round shuffles
    only the monotonically SHRINKING survivor set."""
    from wiki_entity_linker_spark.operators.graph import k_core

    emb = _t(spark, sf_dir, "embeddings")
    edges = embedding_neardup_lsh_pairs(emb, dim=64, threshold=0.2).select(
        "id_a", "id_b"
    )
    return k_core(edges, k=2)


def _fellegi_sunter_oracle(
    n_hashes: int, bands: int, k: int, thr: float, mode: str = "weights"
) -> str:
    """Band-collision candidate pairs pseudo-labeled by exact shingle
    Jaccard, agreement features from the document attributes, then the
    feature-level m/u estimation with Laplace smoothing. ``mode="weights"``
    emits the per-feature model; ``mode="scores"`` applies the ROUNDED
    weights back to every pair (sum of agree/disagree terms, match iff
    score > 0)."""
    if mode == "weights":
        final = """SELECT feature, n_match_agree, n_match, n_unmatch_agree,
              n_unmatch, m_prob, u_prob, agree_weight, disagree_weight
       FROM wts"""
    else:
        scoring_ctes = """, stacked AS (
         SELECT id_a, id_b, is_match, f.name AS feature, f.agree
         FROM feat, LATERAL (VALUES ('f_source', f_source),
                                    ('f_lang', f_lang),
                                    ('f_len', f_len)) AS f(name, agree)),
       scored AS (
         SELECT id_a, id_b, is_match,
                round(sum(CASE WHEN agree THEN agree_weight
                               ELSE disagree_weight END), 6) AS fs_score
         FROM stacked JOIN wts USING (feature)
         GROUP BY 1, 2, 3)"""
        if mode == "scores":
            final = scoring_ctes + """
       SELECT id_a, id_b, is_match, fs_score, fs_score > 0 AS fs_match
       FROM scored"""
        else:  # sweep: P/R/F1 at every distinct score threshold
            final = scoring_ctes + """,
       byscore AS (SELECT fs_score,
                          CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END)
                               AS BIGINT) AS n_tp
                   FROM scored GROUP BY 1),
       cum AS (SELECT fs_score,
                      sum(n) OVER w AS n_pred,
                      sum(n_tp) OVER w AS tp,
                      sum(n_tp) OVER () AS total_match
               FROM byscore
               WINDOW w AS (ORDER BY fs_score DESC
                            ROWS UNBOUNDED PRECEDING))
       SELECT fs_score AS threshold,
              CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
              round(tp / CAST(n_pred AS DOUBLE), 6) AS precision,
              round(tp / CAST(total_match AS DOUBLE), 6) AS recall,
              round(2 * tp / CAST(n_pred + total_match AS DOUBLE), 6) AS f1
       FROM cum"""
    rows = n_hashes // bands
    mixes = ",\n              ".join(
        f"min({mh_mix_sql('hs', a, b)}) AS mh{i}"
        for i, (a, b) in enumerate(mh_family(n_hashes))
    )
    band_eq = " OR ".join(
        "(" + " AND ".join(f"a.mh{b * rows + r} = b.mh{b * rows + r}" for r in range(rows)) + ")"
        for b in range(bands)
    )
    return f"""
       WITH toks AS MATERIALIZED (SELECT doc_id, {_toks_sql('text')} AS t
                                  FROM documents),
       shl AS MATERIALIZED (SELECT doc_id, {_shingles_sql('t', k)} AS g
                            FROM toks),
       sh AS (SELECT doc_id, unnest(g) AS shingle FROM shl),
       h AS (SELECT doc_id, {h64_sql('shingle')} AS hs FROM sh),
       sig AS MATERIALIZED (SELECT doc_id, {mixes} FROM h GROUP BY doc_id),
       cand AS MATERIALIZED (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(ga.g, gb.g))::DOUBLE /
                 (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))), 6)
             >= {thr} AS is_match
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_eq})
         JOIN shl ga ON ga.doc_id = a.doc_id
         JOIN shl gb ON gb.doc_id = b.doc_id),
       feat AS (
         SELECT c.id_a, c.id_b, c.is_match,
           (da.source = db.source) AS f_source,
           (da.lang = db.lang) AS f_lang,
           (da.n_chars // 100 = db.n_chars // 100) AS f_len
         FROM cand c JOIN documents da ON da.doc_id = c.id_a
                     JOIN documents db ON db.doc_id = c.id_b),
       agg AS (
         SELECT f.name AS feature,
           CAST(sum(CASE WHEN is_match AND agree THEN 1 ELSE 0 END)
                AS BIGINT) AS n_match_agree,
           CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END)
                AS BIGINT) AS n_match,
           CAST(sum(CASE WHEN NOT is_match AND agree THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unmatch_agree,
           CAST(sum(CASE WHEN NOT is_match THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unmatch
         FROM feat, LATERAL (VALUES ('f_source', f_source),
                                    ('f_lang', f_lang),
                                    ('f_len', f_len)) AS f(name, agree)
         GROUP BY 1),
       wts AS (SELECT feature, n_match_agree, n_match, n_unmatch_agree,
                      n_unmatch,
         round((n_match_agree + 1) / CAST(n_match + 2 AS DOUBLE), 6)
           AS m_prob,
         round((n_unmatch_agree + 1) / CAST(n_unmatch + 2 AS DOUBLE), 6)
           AS u_prob,
         round(log2(((n_match_agree + 1) / CAST(n_match + 2 AS DOUBLE)) /
                    ((n_unmatch_agree + 1) / CAST(n_unmatch + 2 AS DOUBLE))),
               6) AS agree_weight,
         round(log2((1 - (n_match_agree + 1) / CAST(n_match + 2 AS DOUBLE)) /
                    (1 - (n_unmatch_agree + 1)
                         / CAST(n_unmatch + 2 AS DOUBLE))), 6)
           AS disagree_weight
       FROM agg)
       {final}"""


@q("fellegi_sunter_model", _fellegi_sunter_oracle(16, 8, 3, 0.3))
def fellegi_sunter_model(spark, sf_dir):
    """Fellegi–Sunter (1969) probabilistic record-linkage weights — THE
    classical ER scoring model, estimated distributed: MinHash band pairs
    are pseudo-labeled by exact shingle Jaccard (≥0.3 → match), agreement
    features (source / lang / 100-char length bucket) come from two
    attribute joins, and m = P(agree|match), u = P(agree|unmatch) are
    Laplace-smoothed so the log2 agree/disagree weights stay finite. The
    estimation is one explode + one combinable groupBy(feature) —
    #features output rows no matter how many pairs were labeled
    (operators/er_metrics.fellegi_sunter_weights). On this corpus the
    length feature dominates (agree_weight ≈ +2.9) while source/lang are
    near-noise — exactly what an FS model should discover about near-dup
    text."""
    from wiki_entity_linker_spark.operators.er_metrics import (
        fellegi_sunter_weights,
    )

    feat = _fs_labeled_feature_pairs(spark, sf_dir)
    return fellegi_sunter_weights(feat, ["f_source", "f_lang", "f_len"])


def _fs_labeled_feature_pairs(spark, sf_dir):
    """Shared input of the Fellegi–Sunter queries: the MinHash band
    candidate pairs of :func:`minhash_neardup_pairs` (unfiltered),
    pseudo-labeled by exact shingle Jaccard (≥0.3 → match), with the three
    boolean agreement features and the two 100-char length buckets the
    multi-level model grades — one definition so the estimation and the
    scoring can never drift apart."""
    d = _t(spark, sf_dir, "documents")
    labeled = minhash_neardup_pairs(d, "doc_id", jaccard_threshold=0.0).select(
        "id_a", "id_b", (F.col("jaccard") >= 0.3).alias("is_match")
    )
    da = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("src_a"),
        F.col("lang").alias("lang_a"),
        F.expr("n_chars div 100").alias("len_a"),
    )
    db = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("src_b"),
        F.col("lang").alias("lang_b"),
        F.expr("n_chars div 100").alias("len_b"),
    )
    return (
        labeled.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            "is_match",
            (F.col("src_a") == F.col("src_b")).alias("f_source"),
            (F.col("lang_a") == F.col("lang_b")).alias("f_lang"),
            (F.col("len_a") == F.col("len_b")).alias("f_len"),
            "len_a",
            "len_b",
        )
    )


@q("fellegi_sunter_scores", _fellegi_sunter_oracle(16, 8, 3, 0.3, mode="scores"))
def fellegi_sunter_scores(spark, sf_dir):
    """The apply half of the Fellegi–Sunter model: every band candidate
    pair scored with the weights fellegi_sunter_model estimates (agree →
    agree_weight, disagree → disagree_weight, summed; match iff score > 0,
    the decision rule at even prior odds), next to its Jaccard pseudo-label
    for inspection. The score sums the PUBLISHED (rounded) weights, so it
    is a deterministic function of the model, and the weight table is
    feature-count rows — broadcast, never shuffled
    (operators/er_metrics.fellegi_sunter_score)."""
    from wiki_entity_linker_spark.operators.er_metrics import (
        fellegi_sunter_score,
        fellegi_sunter_weights,
    )

    feat = cut(_fs_labeled_feature_pairs(spark, sf_dir))
    w = fellegi_sunter_weights(feat, ["f_source", "f_lang", "f_len"])
    return fellegi_sunter_score(
        feat, w, ["f_source", "f_lang", "f_len"], ["id_a", "id_b", "is_match"]
    )


@q("fs_threshold_sweep", _fellegi_sunter_oracle(16, 8, 3, 0.3, mode="sweep"))
def fs_threshold_sweep(spark, sf_dir):
    """Operating-point selection for the Fellegi–Sunter scorer: the full
    precision/recall/F1 curve over every distinct score threshold (predict
    match iff score ≥ t), computed from ONE pass — scores collapse to a
    per-score frame (≤2^#features rows: 3 binary features → ≤8 operating
    points), cumulative TP/predicted counts come from a window over that
    tiny frame, never the pair table. F1 = 2TP/(pred+actual) keeps the
    arithmetic integer until the final rounded ratios. This is how a
    linkage deployment picks its threshold; the sweep costs the same as
    the scoring itself at any corpus size."""
    from wiki_entity_linker_spark.operators.er_metrics import (
        fellegi_sunter_score,
        fellegi_sunter_weights,
    )

    feat = cut(_fs_labeled_feature_pairs(spark, sf_dir))
    w = fellegi_sunter_weights(feat, ["f_source", "f_lang", "f_len"])
    scored = fellegi_sunter_score(
        feat, w, ["f_source", "f_lang", "f_len"], ["id_a", "id_b", "is_match"]
    )
    byscore = scored.groupBy("fs_score").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("is_match"), 1).otherwise(0))
        .cast("long")
        .alias("n_tp"),
    )
    wc = Window.orderBy(F.col("fs_score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.orderBy(F.col("fs_score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = byscore.select(
        "fs_score",
        F.sum("n").over(wc).alias("n_pred"),
        F.sum("n_tp").over(wc).alias("tp"),
        F.sum("n_tp").over(wall).alias("total_match"),
    )
    return cum.select(
        F.col("fs_score").alias("threshold"),
        F.col("n_pred").cast("long").alias("n_pred"),
        F.col("tp").cast("long").alias("tp"),
        F.round(F.col("tp") / F.col("n_pred").cast("double"), 6).alias("precision"),
        F.round(F.col("tp") / F.col("total_match").cast("double"), 6).alias("recall"),
        F.round(
            2 * F.col("tp") / (F.col("n_pred") + F.col("total_match")).cast("double"),
            6,
        ).alias("f1"),
    )


def _matching_oracle(unroll: int) -> str:
    """Unrolled locally-dominant matching rounds over the verified MinHash
    pair graph (converges in ≤2 rounds at these SFs, pinned by
    test_matching_convergence_rounds; drained extra rounds are no-ops)."""
    parts = [
        f"e1 AS MATERIALIZED (SELECT id_a AS ea, id_b AS eb, jaccard AS s"
        f" FROM ({_minhash_pairs_oracle(16, 8, 3, 0.3)}))"
    ]
    for r in range(1, unroll + 1):
        parts.append(
            f"""u{r} AS (SELECT ea AS node, ea, eb, s FROM e{r}
               UNION ALL SELECT eb, ea, eb, s FROM e{r}),
       b{r} AS MATERIALIZED (
         SELECT node, ea, eb FROM (
           SELECT node, ea, eb,
                  row_number() OVER (PARTITION BY node
                                     ORDER BY s DESC, ea, eb) AS rn
           FROM u{r}) WHERE rn = 1),
       w{r} AS MATERIALIZED (
         SELECT e.ea, e.eb, e.s FROM e{r} e
         JOIN b{r} x ON x.node = e.ea AND x.ea = e.ea AND x.eb = e.eb
         JOIN b{r} y ON y.node = e.eb AND y.ea = e.ea AND y.eb = e.eb),
       t{r} AS (SELECT ea AS node FROM w{r}
                UNION SELECT eb FROM w{r}),
       e{r + 1} AS MATERIALIZED (
         SELECT e.* FROM e{r} e
         WHERE e.ea NOT IN (SELECT node FROM t{r})
           AND e.eb NOT IN (SELECT node FROM t{r}))"""
        )
    unions = "\n         UNION ALL ".join(
        f"SELECT ea, eb, s FROM w{r}" for r in range(1, unroll + 1)
    )
    joined = ",\n       ".join(parts)
    return f"""
       WITH {joined}
       SELECT ea AS id_a, eb AS id_b, s AS score
       FROM ({unions})"""


@q("onetoone_matching", _matching_oracle(5))
def onetoone_matching(spark, sf_dir):
    """One-to-one duplicate assignment: each document pairs with at most
    ONE partner, highest verified Jaccard first — the assignment step of
    cross-database record linkage (connected components answers "which
    records are the same entity"; matching answers "which A-record maps to
    which B-record"). Distributed greedy via locally dominant edges
    (Preis 1999): per round one groupBy-argmax + two semi-joins + two
    anti-joins, O(log) rounds, equal to the sequential greedy under the
    (score DESC, id) total order — no driver-side sorted scan
    (operators/graph.locally_dominant_matching)."""
    from wiki_entity_linker_spark.operators.graph import (
        locally_dominant_matching,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_neardup_pairs(d, "doc_id", jaccard_threshold=0.3).select(
        "id_a", "id_b", F.col("jaccard").alias("score")
    )
    # sequential-greedy tail-solve under the matching's cut-over (same
    # CC-MR-hybrid discipline as the flagship clustering; result-identical
    # per the locally-dominant == sequential-greedy equivalence, oracle-pinned)
    return locally_dominant_matching(pairs)


# fs_em_estimate's fixed starting point (λ, m, u)
_FS_EM_START = (0.5, 0.8, 0.2)


def _fs_em_oracle(n_iter: int) -> str:
    """Unrolled EM over the same feat CTE the supervised FS oracle builds
    (prefix reused by a guarded split — one definition of the pair/feature
    construction). Products and the responsibility formula are written
    with the SAME left-to-right parenthesization the Spark operator uses;
    only the M-step sums are order-dependent, absorbed by the final
    round(…, 6)."""
    feats = ["f_source", "f_lang", "f_len"]
    base = _fellegi_sunter_oracle(16, 8, 3, 0.3, "weights")
    marker = "agg AS ("
    assert marker in base, "FS oracle prefix changed — update the split"
    prefix = base.split(marker)[0].rstrip().rstrip(",")

    def estep(params: dict) -> str:
        pm = " * ".join(
            f"(CASE WHEN {f} THEN {params[f][0]} ELSE 1 - ({params[f][0]}) END)"
            for f in feats
        )
        pu = " * ".join(
            f"(CASE WHEN {f} THEN {params[f][1]} ELSE 1 - ({params[f][1]}) END)"
            for f in feats
        )
        lam = params["lam"]
        return (
            f"SELECT *, (({lam}) * ({pm})) / (({lam}) * ({pm}) + "
            f"(1 - ({lam})) * ({pu})) AS w FROM feat"
        )

    def mstep(src: str) -> str:
        cols = ", ".join(
            f"sum(CASE WHEN {f} THEN w ELSE 0 END) / sum(w) AS m_{f}, "
            f"sum(CASE WHEN {f} THEN 1 - w ELSE 0 END) / sum(1 - w) AS u_{f}"
            for f in feats
        )
        return f"SELECT {cols}, sum(w) / count(*) AS lam FROM {src}"

    lam0, m0, u0 = _FS_EM_START
    stages = []
    params = {f: (repr(m0), repr(u0)) for f in feats}
    params["lam"] = repr(lam0)
    for i in range(1, n_iter + 1):
        stages.append(f"e{i} AS MATERIALIZED ({estep(params)})")
        stages.append(f"ms{i} AS MATERIALIZED ({mstep(f'e{i}')})")
        params = {
            f: (f"(SELECT m_{f} FROM ms{i})", f"(SELECT u_{f} FROM ms{i})")
            for f in feats
        }
        params["lam"] = f"(SELECT lam FROM ms{i})"
    unions = "\n       UNION ALL ".join(
        f"SELECT '{f}' AS feature, round(m_{f}, 6) AS m_prob, "
        f"round(u_{f}, 6) AS u_prob, round(lam, 6) AS match_prior "
        f"FROM ms{n_iter}"
        for f in feats
    )
    joined = ",\n       ".join(stages)
    return f"""{prefix},
       {joined}
       {unions}"""


@q("fs_em_model", _fs_em_oracle(2))
def fs_em_model(spark, sf_dir):
    """UNSUPERVISED Fellegi–Sunter estimation via EM — the Splink-style
    production path (fellegi_sunter_model needs labels; real linkage
    deployments estimate m/u/λ from the candidate pairs alone). Two EM
    iterations from fixed literals, composed LAZILY: every iteration is a
    crossJoin against the broadcast 1-row parameter frame (row-local
    E-step) plus one combinable aggregation (M-step) — a single job, no
    driver collect between iterations, one pass over the pair table per
    iteration at any corpus size. On this corpus EM separates the length
    feature (m≈0.68 vs u≈0.32) without ever seeing a label
    (operators/er_metrics.fs_em_estimate)."""
    from wiki_entity_linker_spark.operators.er_metrics import fs_em_estimate

    # each EM iteration consumes the pair frame once: checkpoint the
    # candidate-generation pipeline so it runs once, not once per iteration
    feat = cut(
        _fs_labeled_feature_pairs(spark, sf_dir)
        .drop("is_match")
    )
    return fs_em_estimate(feat, ["f_source", "f_lang", "f_len"])


@q(
    "value_islands",
    """WITH seq AS (
         SELECT user_id, event_type, ts, event_id,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id)
                - row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id) AS grp
         FROM events)
       SELECT user_id, event_type, min(ts) AS valid_from,
              max(ts) AS valid_to, CAST(count(*) AS BIGINT) AS n_events
       FROM seq GROUP BY user_id, event_type, grp""",
)
def value_islands(spark, sf_dir):
    """Islands detection / SCD2-style interval collapse: consecutive
    same-value runs per key become validity intervals (user stays in
    event_type X from valid_from to valid_to) via the classic
    row_number-difference trick — the groups-and-islands pattern every
    slowly-changing-dimension merge and entity-snapshot history builder
    needs, and a different primitive from gap-based sessionize (islands
    split on VALUE change, sessions on TIME gaps). The whole query runs
    on ONE exchange (verified): both windows and the final aggregate
    reuse the hashpartitioning(user_id) — partitioning by a subset of the
    group keys still co-locates every group; the grouping key
    (rn_global − rn_per_value) is pure integer math."""
    ev = _t(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_val = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        (F.row_number().over(w_all) - F.row_number().over(w_val)).alias("grp"),
    )
    return (
        seq.groupBy("user_id", "event_type", "grp")
        .agg(
            F.min("ts").alias("valid_from"),
            F.max("ts").alias("valid_to"),
            F.count("*").cast("long").alias("n_events"),
        )
        .drop("grp")
    )


_LC_M = 4096


@q(
    "cardinality_sketch",
    f"""WITH toks AS (SELECT source, {_toks_sql('text')} AS t FROM documents),
       sh AS (SELECT source, unnest({_shingles_sql('t', 3)}) AS w FROM toks),
       h AS (SELECT source, w,
                    (({h64_sql('w')}) % {_LC_M} + {_LC_M}) % {_LC_M} AS bit
             FROM sh),
       occ AS (SELECT source,
                      CAST(count(DISTINCT bit) AS BIGINT) AS occupied,
                      CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct
               FROM h GROUP BY 1)
       SELECT source, occupied, exact_distinct,
              round(-{_LC_M}.0 * ln(({_LC_M} - occupied) / {_LC_M}.0), 6)
                AS lc_estimate
       FROM occ""",
)
def cardinality_sketch(spark, sf_dir):
    """Linear-counting cardinality sketch (Whang et al. 1990) — sketch
    algebra #5 after MinHash/Bloom/count-min/log-histogram: per-source
    distinct-shingle counts estimated from a FIXED 4096-bit occupancy
    bitmap (estimate = −m·ln(empty/m)). Chosen over HLL because it is
    deterministic and cross-engine reproducible: the bitmap is pure
    integer hashing (bit-exact on both engines, estimates within 1.5% of
    exact at this occupancy), bitmaps merge by OR (pinned in
    test_sketch_merge_algebra), and the only float is one final ln,
    absorbed by round-6. Work shape: one combinable distinct-aggregation
    per (source, bit) — 4096 cells per group no matter how many shingles;
    the exact column exists to exhibit the error, production reads the
    bitmap alone. (Spark's own approx_count_distinct is HLL++ — great on
    a cluster, but not reproducible against a second engine, which is the
    correctness bar this registry holds.)"""
    d = _t(spark, sf_dir, "documents")
    from wiki_entity_linker_spark.functions.hashing import h64

    sh = d.select(
        "source", F.explode(shingles(tokenize("text"), 3)).alias("w")
    )
    m = _LC_M
    h = sh.select(
        "source", "w", ((h64("w") % m + m) % m).alias("bit")
    )
    occ = h.groupBy("source").agg(
        F.countDistinct("bit").cast("long").alias("occupied"),
        F.countDistinct("w").cast("long").alias("exact_distinct"),
    )
    return occ.select(
        "source",
        "occupied",
        "exact_distinct",
        F.round(
            -float(m) * F.log((m - F.col("occupied")) / float(m)), 6
        ).alias("lc_estimate"),
    )


_FS_BOOL_FEAT = """feat AS (
         SELECT c.id_a, c.id_b, c.is_match,
           (da.source = db.source) AS f_source,
           (da.lang = db.lang) AS f_lang,
           (da.n_chars // 100 = db.n_chars // 100) AS f_len
         FROM cand c JOIN documents da ON da.doc_id = c.id_a
                     JOIN documents db ON db.doc_id = c.id_b)"""

_FS_LEVEL_FEAT = """feat AS (
         SELECT c.id_a, c.id_b, c.is_match,
           CASE WHEN da.source = db.source THEN 0 ELSE 1 END AS l_source,
           CASE WHEN da.lang = db.lang THEN 0 ELSE 1 END AS l_lang,
           CASE WHEN da.n_chars // 100 = db.n_chars // 100 THEN 0
                WHEN abs(da.n_chars // 100 - db.n_chars // 100) <= 1 THEN 1
                ELSE 2 END AS l_len
         FROM cand c JOIN documents da ON da.doc_id = c.id_a
                     JOIN documents db ON db.doc_id = c.id_b)"""


def _fs_multilevel_oracle() -> str:
    """Multi-level (Splink-style) estimation over the SAME candidate
    construction as the boolean FS oracle: the feat CTE swaps boolean
    agreement for categorical levels (guarded replace — the assert fires
    if the shared prefix drifts)."""
    base = _fellegi_sunter_oracle(16, 8, 3, 0.3, "weights")
    prefix = base.split("agg AS (")[0].rstrip().rstrip(",")
    assert _FS_BOOL_FEAT in prefix, "FS feat CTE drifted — update the swap"
    lvl = prefix.replace(_FS_BOOL_FEAT, _FS_LEVEL_FEAT)
    return lvl + """,
       stacked AS (SELECT is_match, f.name AS feature, f.lvl AS level
         FROM feat, LATERAL (VALUES ('l_source', l_source),
                                    ('l_lang', l_lang),
                                    ('l_len', l_len)) AS f(name, lvl)),
       dom AS (SELECT * FROM (VALUES
                 ('l_source', 0, 2), ('l_source', 1, 2),
                 ('l_lang', 0, 2), ('l_lang', 1, 2),
                 ('l_len', 0, 3), ('l_len', 1, 3), ('l_len', 2, 3))
               AS d(feature, level, n_levels)),
       cnt AS (SELECT feature, level,
                 CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_m,
                 CAST(sum(CASE WHEN NOT is_match THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_u
               FROM stacked GROUP BY 1, 2),
       tot AS (SELECT CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END)
                           AS BIGINT) AS nm,
                      CAST(sum(CASE WHEN NOT is_match THEN 1 ELSE 0 END)
                           AS BIGINT) AS nu
               FROM feat)
       SELECT d.feature, CAST(d.level AS BIGINT) AS level,
         COALESCE(c.n_m, 0) AS n_match_level, tot.nm AS n_match,
         COALESCE(c.n_u, 0) AS n_unmatch_level, tot.nu AS n_unmatch,
         round((COALESCE(c.n_m, 0) + 1)
               / CAST(tot.nm + d.n_levels AS DOUBLE), 6) AS m_prob,
         round((COALESCE(c.n_u, 0) + 1)
               / CAST(tot.nu + d.n_levels AS DOUBLE), 6) AS u_prob,
         round(log2(((COALESCE(c.n_m, 0) + 1)
                     / CAST(tot.nm + d.n_levels AS DOUBLE)) /
                    ((COALESCE(c.n_u, 0) + 1)
                     / CAST(tot.nu + d.n_levels AS DOUBLE))), 6)
           AS level_weight
       FROM dom d LEFT JOIN cnt c USING (feature, level) CROSS JOIN tot"""


@q("fs_multilevel_model", _fs_multilevel_oracle())
def fs_multilevel_model(spark, sf_dir):
    """Splink-style MULTI-LEVEL Fellegi–Sunter model: comparisons are
    categorical levels (length: exact bucket / adjacent bucket / far),
    exposing graded structure the boolean model flattens — on this corpus
    the adjacent-bucket level scores −2.73 where exact scores +2.86 and
    far −3.50, three distinct operating signals from one feature. m/u are
    per (feature, level), Laplace-smoothed over the level count; the full
    domain is generated from literals and left-joined so absent levels
    still get finite smoothed rows
    (operators/er_metrics.fs_multilevel_weights)."""
    from wiki_entity_linker_spark.operators.er_metrics import (
        fs_multilevel_weights,
    )

    lv = _fs_labeled_feature_pairs(spark, sf_dir).select(
        "is_match",
        F.when(F.col("f_source"), 0).otherwise(1).alias("l_source"),
        F.when(F.col("f_lang"), 0).otherwise(1).alias("l_lang"),
        F.when(F.col("f_len"), 0)
        .when(F.abs(F.col("len_a") - F.col("len_b")) <= 1, 1)
        .otherwise(2)
        .alias("l_len"),
    )
    return fs_multilevel_weights(
        lv, {"l_source": 2, "l_lang": 2, "l_len": 3}
    )


@q(
    "meta_blocking",
    f"""WITH toks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents),
       g AS (SELECT DISTINCT doc_id, unnest({_shingles_sql('t', 3)}) AS g
             FROM toks),
       ok AS (SELECT g FROM g GROUP BY g HAVING count(*) BETWEEN 2 AND 20),
       b AS (SELECT doc_id, g.g FROM g JOIN ok USING (g)),
       nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb FROM b GROUP BY 1),
       p AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                    CAST(count(*) AS BIGINT) AS cbs
             FROM b x JOIN b y USING (g) WHERE x.doc_id < y.doc_id
             GROUP BY 1, 2),
       w AS (SELECT id_a, id_b, cbs,
                    CAST((1000000 * cbs) // (na.nb + nbb.nb - cbs) AS BIGINT)
                      AS js_w
             FROM p JOIN nb na ON p.id_a = na.doc_id
                    JOIN nb nbb ON p.id_b = nbb.doc_id),
       m AS (SELECT CAST(sum(js_w) // count(*) AS BIGINT) AS mw FROM w)
       SELECT id_a, id_b, cbs, js_w, js_w >= mw AS kept FROM w, m""",
)
def meta_blocking(spark, sf_dir):
    """Meta-blocking (Papadakis TKDE 2014): score every candidate pair from
    a df-capped 3-shingle block collection by common-block count and exact
    integer Jaccard weight, then weight-edge-prune against the global mean
    (operators/blocking.meta_block_prune) — the recall-preserving candidate
    cutter between blocking and pairwise scoring. The reference's hard
    alias-frequency cut (entity_database.py:85-100) is the degenerate
    unweighted form of this.

    Scale shape: postings are df-capped (2..20) BEFORE the self-join —
    the same stopword discipline as ngram_jaccard; the rest is one
    pair-keyed groupBy, two id-keyed joins and a 1-row broadcast mean.
    All weights are integer arithmetic, so the oracle is bit-exact."""
    from wiki_entity_linker_spark.operators.blocking import meta_block_prune

    d = _t(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.explode(shingles(tokenize("text"), 3)).alias("g")
    )
    ok = (
        grams.groupBy("g")
        .agg(F.count("*").alias("__df"))
        .filter((F.col("__df") >= 2) & (F.col("__df") <= 20))
        .select("g")
    )
    blocks = grams.join(ok, "g", "left_semi")
    return meta_block_prune(blocks)


@q(
    "tfidf_keywords",
    f"""WITH toks AS (SELECT doc_id, unnest({_toks_sql('text')}) AS w
                     FROM documents),
       tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
              FROM toks GROUP BY 1, 2),
       dfc AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       s AS (SELECT doc_id, w, tf, df,
                    round(tf * ln(n::DOUBLE / df), 6) AS score
             FROM tf JOIN dfc USING (w), n),
       r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, w) AS rk
             FROM s)
       SELECT doc_id, w AS token, tf, df, score, CAST(rk AS BIGINT) AS rk
       FROM r WHERE rk <= 3""",
)
def tfidf_keywords(spark, sf_dir):
    """Per-document keyword extraction: top-3 tokens by tf·idf (idf =
    ln(N/df)), deterministic tie-break by token — the per-doc salience
    summary a corpus browser / topic labeler runs, extending the
    reference's corpus-global unigram counter (count_unigrams.py) to a
    per-document ranking.

    Scale shape: (doc, token) tf agg is the one corpus-wide shuffle; df is
    a token-keyed agg of the tf SUMMARY (never re-touches text); N joins
    as a 1-row broadcast; the ranking window partitions by doc_id — no
    global funnel."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokenize("text")).alias("w"))
    # cut: tf feeds BOTH the df aggregation and the scoring join — without
    # it Catalyst re-runs the tokenize+explode+agg pass per consumer
    tf = cut(
        toks.groupBy("doc_id", "w")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfc = tf.groupBy("w").agg(F.count("*").cast("long").alias("df"))
    n = d.agg(F.count("*").cast("long").alias("n"))
    s = (
        tf.join(dfc, "w")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score", F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6)
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("w"))
    )
    return (
        s.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", F.col("w").alias("token"), "tf", "df", "score", "rk")
    )


# the lattice Lloyd of operators/ann.kmeans_lattice_assign over the 64-dim
# embeddings: 4 cells, 2 iterations, coordinates round((x + 1.0) * 1000)
_KM_CELLS, _KM_ITERS, _KM_GRID, _KM_SHIFT, _KM_DIM = 4, 2, 1000, "1.0", 64


def _kmeans_ctes(with_raw: bool) -> tuple[list[str], str]:
    """Unrolled integer-lattice Lloyd (operators/ann.kmeans_lattice_assign)
    as a reusable CTE block: same quantization, same floor-div M-step, same
    (distance, cell) tie-break — every intermediate is int64, so the oracle
    is bit-exact. Reused CTEs are MATERIALIZED (DuckDB inlines plain CTEs;
    an unrolled iteration referencing its predecessor twice would otherwise
    re-evaluate the whole prefix exponentially). ``with_raw`` threads the
    raw double vector through the assignments (for downstream cosine, e.g.
    semantic_dedup). Returns (cte list, final assignment CTE name)."""
    key = h64_sql("CAST(vec_id AS VARCHAR)")
    raw_e = ", embedding::DOUBLE[] AS raw" if with_raw else ""
    raw_a = ", e.raw" if with_raw else ""
    raw_o = ", raw" if with_raw else ""

    def dist(c: str) -> str:
        return (
            f"list_sum([ (e.v[i] - {c}.c[i]) * (e.v[i] - {c}.c[i])"
            f" for i in range(1, {_KM_DIM + 1}) ])"
        )

    parts = [
        f"e AS MATERIALIZED (SELECT vec_id,"
        f" [CAST(round((x + {_KM_SHIFT}) * {_KM_GRID}, 0) AS BIGINT)"
        f" for x in embedding] AS v{raw_e} FROM embeddings)",
        f"r AS (SELECT vec_id, v,"
        f" row_number() OVER (ORDER BY {key}, vec_id) AS rn FROM e)",
        f"c0 AS MATERIALIZED (SELECT CAST(rn - 1 AS BIGINT) AS cell, v AS c"
        f" FROM r WHERE rn <= {_KM_CELLS})",
    ]
    for it in range(1, _KM_ITERS + 1):
        prev = f"c{it - 1}"
        parts.append(
            f"a{it} AS MATERIALIZED (SELECT vec_id, v, cell{raw_o} FROM"
            f" (SELECT e.vec_id, e.v, {prev}.cell{raw_a},"
            f" row_number() OVER (PARTITION BY e.vec_id"
            f" ORDER BY {dist(prev)}, {prev}.cell) AS rk"
            f" FROM e, {prev}) WHERE rk = 1)"
        )
        if it < _KM_ITERS:
            parts.append(
                f"u{it} AS (SELECT cell, i, CAST(sum(x) AS BIGINT) AS s,"
                f" CAST(count(*) AS BIGINT) AS n FROM"
                f" (SELECT cell, unnest(v) AS x,"
                f" generate_subscripts(v, 1) AS i FROM a{it}) GROUP BY 1, 2)"
            )
            parts.append(
                f"cn{it} AS MATERIALIZED (SELECT cell, list(s // n ORDER BY i)"
                f" AS c FROM u{it} GROUP BY 1)"
            )
            parts.append(
                f"c{it} AS MATERIALIZED (SELECT * FROM cn{it} UNION ALL"
                f" SELECT cell, c FROM c{it - 1}"
                f" WHERE cell NOT IN (SELECT cell FROM cn{it}))"
            )
    return parts, f"a{_KM_ITERS}"


def _kmeans_oracle() -> str:
    parts, final = _kmeans_ctes(with_raw=False)
    joined = ",\n       ".join(parts)
    return f"WITH {joined}\n       SELECT vec_id, cell FROM {final}"


@q("kmeans_lloyd", _kmeans_oracle())
def kmeans_lloyd(spark, sf_dir):
    """Distributed k-means (2 Lloyd iterations, k=4) over the embeddings
    table on an integer lattice — every step distributed, with no
    driver-side training slice, for corpora where no representative sample
    fits one machine. See
    operators/ann.kmeans_lattice_assign for the exact-arithmetic scheme
    and the broadcast-k-rows / (cell,dim)-keyed-M-step scale shape."""
    from wiki_entity_linker_spark.operators.ann import kmeans_lattice_assign

    return kmeans_lattice_assign(_t(spark, sf_dir, "embeddings"))


@q(
    "curation_kept",
    f"""WITH corpus AS (SELECT doc_id, text, source FROM documents
                       WHERE doc_id % 50 <> 0),
       {_verdict_ctes('corpus')},
       ctoks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM corpus),
       cg AS (SELECT DISTINCT doc_id, unnest({_shingles_sql('t', 3)}) AS g
              FROM ctoks),
       btoks AS (SELECT doc_id, {_toks_sql('text')} AS t FROM documents
                 WHERE doc_id % 50 = 0),
       bg AS (SELECT DISTINCT unnest({_shingles_sql('t', 3)}) AS g
              FROM btoks),
       cont AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (g))
       SELECT v.doc_id, c.source, v.n_tokens
       FROM vfinal v JOIN corpus c USING (doc_id)
       WHERE v.verdict = 'keep'
         AND v.doc_id NOT IN (SELECT doc_id FROM cont)""",
)
def curation_kept(spark, sf_dir):
    """The curation pipeline's kept-corpus stage as an oracle-checked
    composition (plans/curation.py): dedup verdicts over the training
    slice (every 50th doc held out as the benchmark) minus documents
    sharing any 3-gram with the benchmark — exactly the ``kept`` stage
    table of run_curation_pipeline, whose SQL provably reuses the
    dedup_verdicts decision CTEs plus the decontamination semi-join.

    Scale shape = union of the components' (each documented at its
    registration); the assembly adds one doc_id equi-join and one
    broadcast anti-join."""
    from wiki_entity_linker_spark.plans.curation import (
        contamination_flags,
        dedup_verdict_table,
        kept_table,
    )

    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 50 != 0).select(
        "doc_id", "source", "text"
    )
    bench = d.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    return kept_table(
        dedup_verdict_table(corpus),
        corpus.select("doc_id", "source"),
        contamination_flags(corpus, bench, 3),
    )


@q(
    "unigram_surprisal",
    f"""WITH toks AS (SELECT doc_id, unnest({_toks_sql('text')}) AS w
                     FROM documents),
       uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
       tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
       sc AS (SELECT t.doc_id,
                     CAST(round(ln(tot.n::DOUBLE / u.c) * 1000000, 0)
                          AS BIGINT) AS s
              FROM toks t JOIN uni u USING (w), tot),
       per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                      CAST(sum(s) AS BIGINT) AS ssum
               FROM sc GROUP BY 1)
       SELECT doc_id, n_tokens,
              round(ssum::DOUBLE / (1000000.0 * n_tokens), 6)
                AS avg_surprisal
       FROM per""",
)
def unigram_surprisal(spark, sf_dir):
    """Per-document average unigram surprisal (nats): −mean ln p(w) under
    the corpus unigram LM — the cheap stand-in for CCNet's KenLM
    perplexity filter (Wenzek et al. 2020 §4.2 rank pages by LM score;
    gibberish and boilerplate sit in the tails). Extends the reference's
    unigram counter (count_unigrams.py) from counts to a per-doc quality
    signal.

    Portability: per-token surprisal is scaled to an int64
    (round(ln(N/c)·1e6)) so the per-doc sum is EXACT integer arithmetic —
    no float-summation-order drift between Spark partials and DuckDB's
    scan order; the only float step is one division at the end, rounded.

    Scale shape: unigram counts are one map-side-combined agg; the token
    stream joins the unigram table on the token key (skewed hot tokens are
    exactly the high-count / low-surprisal ones, AQE-splittable); the
    per-doc rollup is one combinable agg. The 1-row total broadcasts."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokenize("text")).alias("w"))
    uni = toks.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    tot = uni.agg(F.sum("c").cast("long").alias("n"))
    sc = (
        toks.join(uni, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(F.log(F.col("n") / F.col("c")) * 1000000, 0)
            .cast("long")
            .alias("s"),
        )
    )
    return (
        sc.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("s").cast("long").alias("ssum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("ssum") / (F.lit(1000000.0) * F.col("n_tokens")), 6
            ).alias("avg_surprisal"),
        )
    )


def _soundex_sql(w: str) -> str:
    """DuckDB rendering of functions/text.soundex — run collapse as seven
    per-digit regexp passes (RE2 has no backreferences)."""
    digits = (
        f"translate(lower({w}), 'bfpvcgjkqszxdtlmnraeiouyhw',"
        " '111122222222334556' || repeat('0', 8))"
    )
    collapsed = digits
    for d in "0123456":
        collapsed = f"regexp_replace({collapsed}, '{d}+', '{d}', 'g')"
    return (
        f"upper(substr(lower({w}), 1, 1)) || rpad(substr(translate("
        f"substr({collapsed}, 2, 100), '0', ''), 1, 3), 3, '0')"
    )


@q(
    "soundex_blocking",
    f"""WITH t AS (SELECT p_partkey, str_split(p_name, ' ')[1] AS w
                  FROM part),
       s AS (SELECT p_partkey, w,
                    CASE WHEN regexp_matches(lower(w), '^[a-z]+$')
                         THEN {_soundex_sql('w')} END AS code
             FROM t)
       SELECT p_partkey, w, code,
              CAST(count(*) OVER (PARTITION BY code) AS BIGINT)
                AS block_size
       FROM s""",
)
def soundex_blocking(spark, sf_dir):
    """Phonetic blocking keys: simplified American Soundex of each part
    name's first word plus the resulting block sizes — the classic
    record-linkage blocker for spelling-variant names that exact and
    prefix keys miss (Russell 1918; standard in Fellegi–Sunter deployments
    alongside the exact keys the ER pipeline already uses). The reference
    blocks candidates by exact alias strings (entity_database.py:85-100);
    soundex is the fuzz-tolerant sibling of that dictionary key.

    Scale shape: the key is pure row-local column math
    (translate/regexp — codegen, no UDF); block sizes are one window over
    the code key, i.e. exactly the block-size profile cap_and_salt_blocks
    consumes — a real deployment feeds these keys straight into the
    existing stopword-cap + salting machinery."""
    from wiki_entity_linker_spark.functions.text import soundex

    p = _t(spark, sf_dir, "part").select(
        "p_partkey", F.element_at(F.split("p_name", " "), 1).alias("w")
    )
    s = p.select("p_partkey", "w", soundex("w").alias("code"))
    return s.select(
        "p_partkey",
        "w",
        "code",
        F.count("*").over(Window.partitionBy("code")).cast("long")
        .alias("block_size"),
    )


@q(
    "soundex_fuzzy_pairs",
    f"""WITH t AS (SELECT p_partkey, p_name, str_split(p_name, ' ')[1] AS w
                  FROM part),
       s AS (SELECT p_partkey, p_name,
                    CASE WHEN regexp_matches(lower(w), '^[a-z]+$')
                         THEN {_soundex_sql('w')} END AS code
             FROM t),
       p AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, a.code,
                    round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
                      AS jw
             FROM s a JOIN s b
               ON a.code = b.code AND a.p_partkey < b.p_partkey
             WHERE a.code IS NOT NULL)
       SELECT id_a, id_b, code, jw FROM p WHERE jw >= 0.82""",
)
def soundex_fuzzy_pairs(spark, sf_dir):
    """The textbook record-linkage candidate generator end to end:
    PHONETIC blocking (soundex of the name's first word) followed by
    batched Jaro-Winkler scoring WITHIN blocks and a similarity threshold
    — the blocked fuzzy self-join that replaces the quadratic all-names
    comparison (Fellegi-Sunter deployments' standard first pass; the
    reference's exact alias lookup, entity_database.py:85-100, is the
    zero-fuzz special case).

    Scale shape: the self-join is keyed on the soundex code, so candidate
    work is Σ block² instead of n² (hot codes feed the existing
    cap_and_salt_blocks discipline in production); scoring is the Arrow
    pandas-UDF JW kernel batched per partition; the threshold compares the
    ROUNDED score so the decision is engine-portable."""
    from wiki_entity_linker_spark.functions.similarity import jaro_winkler_udf
    from wiki_entity_linker_spark.functions.text import soundex

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        soundex(F.element_at(F.split("p_name", " "), 1)).alias("code"),
    ).filter(F.col("code").isNotNull())
    a = p.select(
        F.col("p_partkey").alias("id_a"), F.col("p_name").alias("na"), "code"
    )
    b = p.select(
        F.col("p_partkey").alias("id_b"), F.col("p_name").alias("nb"), "code"
    )
    return (
        a.join(b, ["code"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "code",
            F.round(jaro_winkler_udf("na", "nb"), 6).alias("jw"),
        )
        .filter(F.col("jw") >= 0.82)
    )


# rounded within-cell cosine at which semantic_dedup drops a document
_SEMDEDUP_COS = 0.4


def _semantic_dedup_oracle() -> str:
    parts, final = _kmeans_ctes(with_raw=True)
    joined = ",\n       ".join(parts)
    return f"""WITH {joined},
       p AS (SELECT b.vec_id AS vid,
                    round(list_cosine_similarity(a.raw, b.raw), 6) AS cos
             FROM {final} a JOIN {final} b
               ON a.cell = b.cell AND a.vec_id < b.vec_id),
       d AS (SELECT DISTINCT vid FROM p WHERE cos >= {_SEMDEDUP_COS})
       SELECT vec_id, cell, vec_id IN (SELECT vid FROM d) AS is_dup
       FROM {final}"""


@q("semantic_dedup", _semantic_dedup_oracle())
def semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning via
    embedding clustering — k-means cells bound the comparison space, exact
    cosine runs only WITHIN a cell, and a document is dropped when an
    earlier (lower-id) cell-mate sits above the similarity threshold
    (first-writer-wins, the same deterministic keep rule as the exact
    tiers). Completes the dedup family: exact/MinHash/SimHash/n-gram/
    embedding-LSH/segment/substring/winnowing/AllPairs + semantic.

    Scale shape: clustering is the distributed integer-lattice Lloyd
    (bit-exact, see kmeans_lloyd); the only pairwise work is the
    within-cell self-join — Σ cell² instead of n², the SemDeDup point —
    and the domination rule is one cell-keyed join + distinct, no greedy
    sequential scan. The threshold compares ROUNDED cosines so the
    verdict is engine-portable."""
    from wiki_entity_linker_spark.functions.vectors import cosine_prenorm, norm
    from wiki_entity_linker_spark.operators.ann import kmeans_lattice_assign

    emb = _t(spark, sf_dir, "embeddings")
    # consumed twice (pair join + final flag join)
    cells = cut(kmeans_lattice_assign(emb))
    v = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("raw"),
        norm(F.col("embedding").cast("array<double>")).alias("nm"),
    ).join(cells, "vec_id")
    a = v.select(
        F.col("vec_id").alias("ida"), F.col("raw").alias("ra"),
        F.col("nm").alias("na"), "cell"
    )
    b = v.select(
        F.col("vec_id").alias("vid"), F.col("raw").alias("rb"),
        F.col("nm").alias("nb"), "cell"
    )
    dup = (
        a.join(b, "cell")
        .filter(F.col("ida") < F.col("vid"))
        .select("vid", F.round(cosine_prenorm("ra", "rb", "na", "nb"), 6).alias("cos"))
        .filter(F.col("cos") >= _SEMDEDUP_COS)
        .select("vid")
        .dropDuplicates()
        .withColumn("__d", F.lit(True))
    )
    return cells.join(
        dup.withColumnRenamed("vid", "vec_id"), "vec_id", "left"
    ).select(
        "vec_id", "cell", F.coalesce("__d", F.lit(False)).alias("is_dup")
    )


@q(
    "weighted_sample",
    f"""WITH d AS (SELECT doc_id, source,
                         CAST(len({_toks_sql('text')}) AS BIGINT) AS w
                  FROM documents),
       u AS (SELECT doc_id, source, w,
                    ({h64_sql('CAST(doc_id AS VARCHAR)')} + 1)
                      / 1152921504606846976.0 AS u
             FROM d WHERE w > 0),
       s AS (SELECT doc_id, source, w,
                    CAST(round(1000000000.0 * ln(u) / w, 0) AS BIGINT)
                      AS skey
             FROM u),
       r AS (SELECT *, row_number() OVER (PARTITION BY source
                                          ORDER BY skey DESC, doc_id) AS rk
             FROM s)
       SELECT source, doc_id, w AS n_tokens, skey, CAST(rk AS BIGINT) AS rk
       FROM r WHERE rk <= 5""",
)
def weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement, A-ES style (Efraimidis &
    Spirakis 2006): each document draws a reproducible uniform u from the
    portable 60-bit hash of its id and ranks by u^(1/w) — realized as the
    monotone-equivalent ln(u)/w, scaled to an int64 key so the ranking is
    engine-portable — keeping the top 5 per source. Token-weighted
    sampling is the draw step behind mixture_allocation's rates when docs
    are sampled individually rather than budget-walked; completes the
    sampling family (budget walk / stratified / mixture / weighted).

    Scale shape: key computation is row-local column math over the token
    count; the only shuffle is the per-source ranking window — no global
    funnel, no driver randomness (h64 makes the sample independent of
    physical row order)."""
    from wiki_entity_linker_spark.functions.hashing import h64

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").cast("long").alias("w")
    ).filter(F.col("w") > 0)
    two60 = float(1 << 60)
    u = (h64(F.col("doc_id").cast("string")) + 1) / F.lit(two60)
    s = d.withColumn(
        "skey",
        F.round(F.lit(1000000000.0) * F.log(u) / F.col("w"), 0).cast("long"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("skey").desc(), "doc_id")
    )
    return (
        s.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 5)
        .select(
            "source", "doc_id", F.col("w").alias("n_tokens"), "skey", "rk"
        )
    )


# ---------------------------------------------------------------------------
# Driver correctness-window ordering
# ---------------------------------------------------------------------------
# The driver's CORRECTNESS gate runs queries() in dict order and records only
# the FIRST 50 rows, so the newest / highest-risk operators must come first.
# _DRIVER_WINDOW_FIRST lists them explicitly (round-6 additions, then the
# round-5 tier, then round 4); everything else follows in reverse
# registration order (newest first).  An assert guards against a registered
# query missing from the rotation logic entirely.

_DRIVER_WINDOW_FIRST: list[str] = [
    # round-5 tier (never driver-checked before round 6)
    "asof_join_events",
    "allpairs_jaccard",
    "onetoone_matching",
    "kcore_dense",
    "bcubed_eval",
    "pairwise_cluster_eval",
    "blocking_quality",
    "fellegi_sunter_model",
    "fellegi_sunter_scores",
    "fs_threshold_sweep",
    "fs_em_model",
    "fs_multilevel_model",
    "bloom_decontamination",
    "triangle_clustering",
    "dup_graph_pagerank",
    "embedding_quantization",
    "bm25_topk",
    "exact_substring_dup",
    "segment_dedup",
    "winnowing_pairs",
    "pii_redaction",
    "doc_chunks",
    "token_budget_sample",
    "mixture_allocation",
    "stratified_sample",
    "length_quantiles",
    "vocab_coverage",
    "collocation_lift",
    "source_overlap",
    "source_minhash_overlap",
    "skew_report",
    "sorted_neighborhood",
    "snm_fuzzy_pairs",
    "dedup_verdicts",
    "count_min_heavy_hitters",
    "label_centroids",
    "quantile_sketch",
    "cardinality_sketch",
    "value_islands",
    "q3_shipping_priority",
    "q18_large_volume",
]


def _window_order() -> list[str]:
    front = [n for n in _DRIVER_WINDOW_FIRST if n in _REGISTRY]
    rest = [n for n in reversed(list(_REGISTRY)) if n not in set(front)]
    ordered = front + rest
    assert sorted(ordered) == sorted(_REGISTRY), (
        "window rotation lost queries: "
        f"{set(_REGISTRY) ^ set(ordered)}"
    )
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: _REGISTRY[name][0] for name in _window_order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: _REGISTRY[name][1]
        for name in _window_order()
        if _REGISTRY[name][1] is not None
    }
