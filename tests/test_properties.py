"""Property-based tests (hypothesis) for the pure-Python/numpy kernels —
the code whose subtle index math a handful of fixed examples can miss.

No SparkSession needed: these drive the kernels directly, so hundreds of
examples run in seconds.
"""

import numpy as np
import pandas as pd
from hypothesis import given, settings
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
