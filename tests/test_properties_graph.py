"""Property-based checks for the temporal-join and graph operators against
independent references: pandas.merge_asof and brute-force Python graph
algorithms. Few examples per property (each runs a Spark job), but every
example is adversarially shaped by hypothesis — duplicate timestamps, hub
nodes, disconnected pieces, empty sides."""

from datetime import datetime, timedelta

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_BASE = datetime(2024, 1, 1)


def _ts(s):
    return _BASE + timedelta(seconds=int(s))


_gprop = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_gprop
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=12
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=0, max_size=12
    ),
    tol=st.one_of(st.none(), st.integers(1, 30)),
)
def test_asof_join_matches_pandas_merge_asof(spark, monkeypatch, left, right, tol):
    from wiki_entity_linker_spark.operators import asof
    from wiki_entity_linker_spark.operators.asof import asof_join

    # no tolerance: the product's 48 h bound, which no gap in these
    # 50-second streams reaches
    monkeypatch.setattr(asof, "TOLERANCE_SECONDS", 48 * 3600 if tol is None else tol)

    lrows = [(k, _ts(t), i) for i, (k, t) in enumerate(left)]
    rrows = [(k, _ts(t), 100 + i, float(i)) for i, (k, t) in enumerate(right)]
    ldf = spark.createDataFrame(lrows, "k long, lts timestamp, lid long")
    rdf = spark.createDataFrame(
        rrows, "k long, rts timestamp, rid long, val double"
    )
    out = asof_join(
        ldf, rdf, on=["k"], left_ts="lts", right_ts="rts", right_tie="rid",
        payload={"m_rid": "rid", "m_val": "val"},
    )
    got = {r["lid"]: (r["m_rid"], r["m_val"]) for r in out.collect()}

    # reference: pandas merge_asof sorted by (ts, rid) — its "last equal"
    # row is then the max-rid row, i.e. exactly our tie rule
    lp = pd.DataFrame(lrows, columns=["k", "lts", "lid"]).sort_values(
        ["lts", "lid"], kind="stable"
    )
    rp = pd.DataFrame(rrows, columns=["k", "rts", "rid", "val"]).sort_values(
        ["rts", "rid"], kind="stable"
    )
    kwargs = dict(left_on="lts", right_on="rts", by="k", direction="backward")
    if tol is not None:
        kwargs["tolerance"] = pd.Timedelta(seconds=tol)
    if len(rp):
        ref = pd.merge_asof(lp, rp, **kwargs)
    else:
        ref = lp.assign(rid=pd.NA, val=pd.NA)
    want = {
        int(row.lid): (
            None if pd.isna(row.rid) else int(row.rid),
            None if pd.isna(row.val) else float(row.val),
        )
        for row in ref.itertuples()
    }
    assert got == want


@_gprop
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 10)),
        min_size=0,
        max_size=35,
    )
)
def test_triangle_counts_matches_bruteforce(spark, edges):
    from wiki_entity_linker_spark.operators.graph import triangle_counts

    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not canon:
        return
    df = spark.createDataFrame(sorted(canon), ["id_a", "id_b"])
    got = {
        r["node"]: (r["degree"], r["triangles"])
        for r in triangle_counts(df).collect()
    }
    # brute force
    adj = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for n, nbrs in adj.items():
        t = sum(
            1
            for x in nbrs
            for y in nbrs
            if x < y and y in adj.get(x, ())
        )
        want[n] = (len(nbrs), t)
    assert got == want


@_gprop
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 10)),
        min_size=0,
        max_size=35,
    ),
    k=st.integers(2, 4),
)
def test_k_core_matches_python_peel(spark, edges, k):
    from wiki_entity_linker_spark.operators.graph import k_core

    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not canon:
        return
    df = spark.createDataFrame(sorted(canon), ["id_a", "id_b"])
    got = {
        r["node"]: r["degree_in_core"] for r in k_core(df, k=k).collect()
    }
    alive = {n for e in canon for n in e}
    while True:
        deg = {n: 0 for n in alive}
        for a, b in canon:
            if a in alive and b in alive:
                deg[a] += 1
                deg[b] += 1
        nxt = {n for n in alive if deg[n] >= k}
        if nxt == alive:
            break
        alive = nxt
    want = {n: deg[n] for n in alive} if alive else {}
    assert got == want
