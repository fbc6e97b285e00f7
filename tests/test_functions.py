"""Scalar-function parity and semantics (functions/)."""

import random
import string

import duckdb
import pytest
from pyspark.sql import functions as F

from wiki_entity_linker_spark.functions.hashing import (
    h64,
    h64_seeded,
    h64_seeded_sql,
    h64_sql,
    mh_family,
    mh_mix,
    mh_mix_sql,
)
from wiki_entity_linker_spark.functions.similarity import (
    jaro_winkler_py,
    levenshtein_ratio,
    token_jaccard,
)
from wiki_entity_linker_spark.functions.text import (
    lang_id,
    ngrams,
    normalize_content,
    shingles,
    token_count,
    tokenize,
)

STRS = ["abc", "hello world", "", "Q123", "unicode tst", "a" * 50, "x y\tz\n w"]


def test_h64_duckdb_parity(spark):
    df = spark.createDataFrame([(s,) for s in STRS], "s string")
    rows = df.select(
        "s", h64("s").alias("h"), h64_seeded("s", 7).alias("h7")
    ).collect()
    for r in rows:
        lit = "'" + r["s"].replace("'", "''") + "'"
        d = duckdb.sql(f"SELECT {h64_sql(lit)}, {h64_seeded_sql(lit, 7)}").fetchone()
        assert (r["h"], r["h7"]) == d


def test_mh_mix_duckdb_parity(spark):
    fam = mh_family(4)
    df = spark.createDataFrame([(s,) for s in STRS if s], "s string")
    cols = [mh_mix(h64("s"), a, b).alias(f"m{i}") for i, (a, b) in enumerate(fam)]
    rows = df.select("s", *cols).collect()
    for r in rows:
        lit = "'" + r["s"].replace("'", "''") + "'"
        exprs = ", ".join(mh_mix_sql(h64_sql(lit), a, b) for a, b in fam)
        d = duckdb.sql(f"SELECT {exprs}").fetchone()
        assert tuple(r[f"m{i}"] for i in range(4)) == d


def test_jaro_winkler_matches_duckdb():
    rng = random.Random(7)
    pairs = [("martha", "marhta"), ("dixon", "dicksonx"), ("", ""), ("a", "")]
    for _ in range(300):
        a = "".join(rng.choices(string.ascii_lowercase[:6], k=rng.randint(0, 12)))
        b = "".join(rng.choices(string.ascii_lowercase[:6], k=rng.randint(0, 12)))
        pairs.append((a, b))
    for a, b in pairs:
        d = duckdb.sql("SELECT jaro_winkler_similarity(?, ?)", params=[a, b]).fetchone()[0]
        assert abs(jaro_winkler_py(a, b) - d) < 1e-9, (a, b)


def test_levenshtein_ratio(spark):
    df = spark.createDataFrame([("kitten", "sitting"), ("ab", "ab"), ("", "")], "a string, b string")
    rows = df.select(F.round(levenshtein_ratio("a", "b"), 6).alias("r")).collect()
    assert rows[0]["r"] == pytest.approx(1 - 3 / 7, abs=1e-6)
    assert rows[1]["r"] == 1.0
    assert rows[2]["r"] == 1.0


def test_tokenize_and_shingles(spark):
    df = spark.createDataFrame([("def foo(x):\n  return x+1",), ("a b",)], "s string")
    out = df.select(
        tokenize("s").alias("t"),
        shingles(tokenize("s"), 3).alias("sh"),
        token_count("s").alias("n"),
    ).collect()
    assert out[0]["t"] == ["def", "foo", "x", "return", "x", "1"]
    assert out[0]["sh"][0] == "def foo x"
    assert out[0]["n"] == 6
    # shorter than k -> whole-doc shingle
    assert out[1]["sh"] == ["a b"]


def test_shingles_distinct(spark):
    df = spark.createDataFrame([("a b a b a b",)], "s string")
    out = df.select(shingles(tokenize("s"), 2).alias("sh")).collect()[0]["sh"]
    assert sorted(out) == ["a b", "b a"]


def test_normalize_content(spark):
    df = spark.createDataFrame([("  A  B\t\nC ",)], "s string")
    assert df.select(normalize_content("s").alias("x")).collect()[0]["x"] == "a b c"


def test_token_jaccard(spark):
    df = spark.createDataFrame(
        [(["a", "b", "c"], ["b", "c", "d"]), (["x"], ["x"]), ([], [])],
        "a array<string>, b array<string>",
    )
    rows = df.select(F.round(token_jaccard("a", "b"), 6).alias("j")).collect()
    assert rows[0]["j"] == 0.5
    assert rows[1]["j"] == 1.0
    assert rows[2]["j"] == 1.0


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is in that house with it for now",),
            ("der hund ist nicht mit der katze und das haus von zu",),
            ("zzz qqq www",),
        ],
        "s string",
    )
    rows = [r["l"] for r in df.select(lang_id("s").alias("l")).collect()]
    assert rows == ["en", "de", "und"]


def test_ngrams_keeps_multiplicity_shingles_distinct(spark):
    """ngrams preserves multiplicity and document order (the repetition
    signals depend on it); shingles is exactly its array_distinct."""
    from wiki_entity_linker_spark.functions.text import ngrams, shingles, tokenize

    df = spark.createDataFrame([("a b a b",), ("x",), ("",)], "t string")
    rows = df.select(
        ngrams(tokenize("t"), 2).alias("g"),
        shingles(tokenize("t"), 2).alias("s"),
    ).collect()
    assert rows[0]["g"] == ["a b", "b a", "a b"]
    assert sorted(rows[0]["s"]) == ["a b", "b a"]
    assert rows[1]["g"] == ["x"] and rows[1]["s"] == ["x"]  # short doc
    assert rows[2]["g"] == [""]  # empty doc degenerates, never raises


def _copies(df, needle):
    """Occurrences of ``needle`` in the analyzed plan of ``df``."""
    return df._jdf.queryExecution().analyzed().toString().count(needle)


def test_token_expression_bound_once_per_row(spark):
    """Higher-order functions run interpreted, without common-subexpression
    elimination, so every copy of ``tokenize(c)`` in a plan runs on every
    row. ngrams and lang_id bind their token array once; build_features
    tokenizes content once for both ``hsh`` and ``tf``."""
    from wiki_entity_linker_spark.plans.er_pipeline import build_features

    df = spark.createDataFrame([("a b c",)], "c string")
    one = "regexp_replace(c"
    assert _copies(df.select(shingles(tokenize("c"), 3).alias("x")), one) == 1
    assert _copies(df.select(ngrams(tokenize("c"), 5).alias("x")), one) == 1
    assert _copies(df.select(lang_id("c").alias("x")), one) == 1
    reps = spark.createDataFrame(
        [(1, "a/b.py", "python", "def f(x):\n    return x")],
        "file_id long, path string, lang string, content string",
    )
    assert _copies(build_features(reps), "regexp_replace(content") == 1


def test_redact_pii_and_counts(spark):
    from wiki_entity_linker_spark.functions.text import pii_count, redact_pii

    df = spark.createDataFrame(
        [
            ("mail a.b+c@sub.example.co.uk now",),
            ("host 192.168.0.1 and 10.0.0.255 up",),
            ("call 555-123-4567 or 555-000-1111",),
            ("clean text with no pii at all",),
            ("user5@mail.example.com at 10.1.2.3 call 555-111-2222",),
        ],
        "t string",
    )
    out = df.select(
        redact_pii("t").alias("r"),
        pii_count("t", "email").alias("e"),
        pii_count("t", "ipv4").alias("ip"),
        pii_count("t", "phone").alias("ph"),
    ).collect()
    assert out[0]["r"] == "mail [EMAIL] now" and out[0]["e"] == 1
    assert out[1]["r"] == "host [IPV4] and [IPV4] up" and out[1]["ip"] == 2
    assert out[2]["r"] == "call [PHONE] or [PHONE]" and out[2]["ph"] == 2
    assert out[3]["r"] == "clean text with no pii at all"
    assert out[4]["r"] == "[EMAIL] at [IPV4] call [PHONE]"


def test_chunk_count_boundaries(spark):
    from wiki_entity_linker_spark.functions.text import chunk_count

    W, S = 64, 48
    df = spark.createDataFrame(
        [(0,), (1,), (64,), (65,), (112,), (113,), (1000,)], "n long"
    )
    got = {
        r["n"]: r["nc"]
        for r in df.select("n", chunk_count("n", W, S).alias("nc")).collect()
    }
    # n <= W: one chunk; W+1: the 2nd window starts at S and is needed;
    # W + S exactly: still 2; W + S + 1: 3
    assert got == {0: 1, 1: 1, 64: 1, 65: 2, 112: 2, 113: 3, 1000: 21}
    with pytest.raises(ValueError, match="stride"):
        chunk_count("n", 10, 11)
