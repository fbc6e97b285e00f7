"""Property-based tests (hypothesis) for the pure-Python/numpy kernels —
the code whose subtle index math a handful of fixed examples can miss.

Most need no SparkSession: they drive the kernels directly, so hundreds of
examples run in seconds. The column-expression properties batch many
generated inputs into one DataFrame per example.
"""

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from wiki_entity_linker_spark.functions.similarity import (
    jaro_winkler_batch,
    jaro_winkler_py,
)

# short alphabet maximizes repeated chars → exercises the transposition and
# greedy-window paths far harder than uniformly random strings would
_KEYS = st.text(alphabet="abAB_.", min_size=0, max_size=12)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(_KEYS, _KEYS), min_size=1, max_size=40))
def test_jw_vectorized_kernel_matches_scalar(pairs):
    """The position-loop numpy kernel must be numerically identical to the
    scalar reference for every batch composition (mixed lengths, dupes,
    empties, identical strings)."""
    av = np.array([a for a, _ in pairs], dtype=object)
    bv = np.array([b for _, b in pairs], dtype=object)
    got = jaro_winkler_batch(av, bv)
    want = np.array([jaro_winkler_py(a, b) for a, b in pairs])
    assert np.allclose(got, want, atol=1e-12), list(zip(pairs, got, want))


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(1, 12)), min_size=0, max_size=30
    )
)
def test_greedy_claim_matches_independent_reference(spans):
    """operators.spans.claim_longest_first (the real kernel behind
    suppress_overlaps' applyInPandas) vs an independently written greedy:
    same (len DESC, start ASC) priority, same kept set — and the kept set
    is always pairwise non-overlapping and maximal."""
    from wiki_entity_linker_spark.operators.spans import claim_longest_first

    pdf = pd.DataFrame(
        {"doc_id": 0, "start": [s for s, _ in spans], "end": [s + l for s, l in spans]},
        dtype="int64",
    )
    out = claim_longest_first(pdf)
    got = {(s, e) for s, e in zip(out["start"], out["end"])}
    # independent reference greedy over distinct spans
    uniq = sorted({(s, s + l) for s, l in spans}, key=lambda t: (-(t[1] - t[0]), t[0]))
    taken = []
    for s, e in uniq:
        if all(e <= ts or s >= te for ts, te in taken):
            taken.append((s, e))
    assert got == set(taken)
    # invariants: pairwise disjoint + maximal (no rejected span fits)
    chosen = sorted(got)
    for (s1, e1), (s2, e2) in zip(chosen, chosen[1:]):
        assert e1 <= s2
    for s, e in {(s, s + l) for s, l in spans} - got:
        assert any(not (e <= ts or s >= te) for ts, te in got)


def _ngrams_py(tokens, k):
    """Pure-Python reference for functions.text.ngrams: Spark ``concat``
    semantics (a gram with a null token is null) for n >= k, otherwise one
    whole-document gram joined with ``concat_ws`` semantics (nulls
    skipped); an empty or null list yields ``[""]``."""
    if tokens is None or len(tokens) < k:
        return [" ".join(t for t in tokens or [] if t is not None)]
    return [
        None if None in tokens[i : i + k] else " ".join(tokens[i : i + k])
        for i in range(len(tokens) - k + 1)
    ]


_TOKENS = st.one_of(
    st.none(),
    st.lists(
        st.one_of(st.none(), st.text(alphabet="ab ", min_size=0, max_size=3)),
        min_size=0,
        max_size=9,
    ),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(_TOKENS, min_size=1, max_size=20))
def test_ngrams_matches_python_reference(spark, docs):
    """ngrams for k = 1..5 over random token lists (empty, null, with null
    tokens, shorter and longer than k) equals the pure-Python reference."""
    from wiki_entity_linker_spark.functions.text import ngrams

    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], "i int, t array<string>")
    ks = range(1, 6)
    rows = df.select("i", *[ngrams("t", k).alias(f"g{k}") for k in ks]).collect()
    for r in rows:
        for k in ks:
            assert r[f"g{k}"] == _ngrams_py(docs[r["i"]], k), (docs[r["i"]], k)


_LMIN, _LMAX = -(2**63), 2**63 - 1
# few distinct keys, so tokens repeat and key sets overlap; the int64
# extremes check that the sort and the merge compare signed 64-bit keys
_HASH = st.one_of(st.sampled_from([_LMIN, -1, 0, 1, 7, _LMAX]), st.integers(_LMIN, _LMAX))
_HASH_LIST = st.lists(_HASH, min_size=0, max_size=30)
_HASHES = st.one_of(st.none(), _HASH_LIST)


@settings(max_examples=25, deadline=None)
@given(st.lists(_HASHES, min_size=1, max_size=20))
@example([None, [], [5], [3, 3, 3], [_LMAX, _LMIN, _LMAX, 0, _LMIN]])
def test_tf_compress_matches_numpy_unique(spark, docs):
    """The JVM TF compression of a hashed token array equals
    ``np.unique(..., return_counts=True)``; a null or empty array gives two
    empty arrays."""
    from wiki_entity_linker_spark.functions.similarity import tf_compress

    df = spark.createDataFrame(list(enumerate(docs)), "i int, h array<bigint>")
    rows = df.select("i", tf_compress("h").alias("tf")).collect()
    assert len(rows) == len(docs)
    for r in rows:
        u, c = np.unique(np.asarray(docs[r["i"]] or [], dtype=np.int64), return_counts=True)
        assert (r["tf"]["u"], r["tf"]["c"]) == (u.tolist(), c.tolist()), docs[r["i"]]


def _tf(tokens):
    """Compressed TF vector (sorted distinct keys, counts) of a token list."""
    u, c = np.unique(np.asarray(tokens, dtype=np.int64), return_counts=True)
    return u.tolist(), c.tolist()


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(_HASH_LIST, _HASH_LIST), min_size=1, max_size=20))
@example(
    [
        ([1, 2, 2], [3, 4]),  # disjoint
        ([_LMIN, 5, 5, _LMAX], [_LMAX, 5, _LMIN, 5]),  # identical key sets
        ([_LMIN, 0, 0, 9], [0, 9, 9, _LMAX]),  # partly overlapping
        ([], [1]),
        ([], []),
        ([7], [7, 7, 7]),
    ]
)
def test_tf_dot_matches_dict_reference(spark, pairs):
    """The JVM two-pointer TF dot equals the dict-based dot of the two
    count vectors (0.0 when either side is empty)."""
    from collections import Counter

    from wiki_entity_linker_spark.functions.similarity import tf_dot

    rows = [(i, *_tf(a), *_tf(b)) for i, (a, b) in enumerate(pairs)]
    df = spark.createDataFrame(
        rows, "i int, ua array<bigint>, ca array<int>, ub array<bigint>, cb array<int>"
    )
    got = dict(df.select("i", tf_dot("ua", "ca", "ub", "cb").alias("d")).collect())
    for i, (a, b) in enumerate(pairs):
        ta, tb = Counter(a), Counter(b)
        assert got[i] == float(sum(n * tb[k] for k, n in ta.items())), (a, b)
