"""Property-based proof of the incremental-maintenance identities
(q229 delete / q232 update) on RANDOM graphs.

The fixture-level tests pin one crafted split and one crafted
split+merge; hypothesis generates arbitrary small graphs with arbitrary
deleted/changed slices and asserts the bounded maintenance equals a
pure-Python union-find ground truth — covering the shapes the fixture
never produces (chains through multiple deleted bridges, merges of
three components at once, changed docs that were already singletons...).

Spark-per-example is expensive, so examples are few and small; the
point is shape coverage, not volume (the 10x gates cover volume).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdatamining_graduate_spark.operators import dedup as DD

N_NODES = 10  # doc ids 1..N


def _union_find(nodes, edges):
    """Ground truth: min-id component label per node."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for n in nodes:
        comp[n] = find(n)
    sizes = {}
    for n in nodes:
        sizes[comp[n]] = sizes.get(comp[n], 0) + 1
    return sorted((n, comp[n], sizes[comp[n]]) for n in nodes)


edge_st = st.sets(
    st.tuples(
        st.integers(1, N_NODES), st.integers(1, N_NODES)
    ).map(lambda t: (min(t), max(t))).filter(lambda t: t[0] != t[1]),
    max_size=12,
)
slice_st = st.sets(st.integers(1, N_NODES), max_size=4)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_st, deleted=slice_st)
def test_delete_aware_matches_union_find(spark, edges, deleted):
    nodes = list(range(1, N_NODES + 1))
    prev = spark.createDataFrame(
        _union_find(nodes, edges), "doc_id: long, component: long, csize: long"
    ).select("doc_id", "component")
    pairs = spark.createDataFrame(
        list(edges) or [(None, None)],
        "doc_a: long, doc_b: long",
    ).dropna()
    gone = F.col("doc_id").isin(list(deleted) or [-1])
    out = DD.components_apply(prev, pairs, gone=gone).filter(~gone)
    remaining = [n for n in nodes if n not in deleted]
    kept_edges = [
        (a, b) for a, b in edges if a not in deleted and b not in deleted
    ]
    expected = _union_find(remaining, kept_edges)
    got = sorted((r.doc_id, r.component, r.csize) for r in out.collect())
    assert got == expected


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_st, changed=slice_st, fresh=edge_st)
def test_upsert_components_match_union_find(spark, edges, changed, fresh):
    """t1 graph = (edges minus any touching a changed doc) ∪ fresh
    edges of changed docs.  Fresh edges not touching a changed doc are
    dropped from the generated set (they couldn't exist — only changed
    docs re-band)."""
    nodes = list(range(1, N_NODES + 1))
    fresh = {e for e in fresh if e[0] in changed or e[1] in changed}
    prev = spark.createDataFrame(
        _union_find(nodes, edges), "doc_id: long, component: long, csize: long"
    ).select("doc_id", "component")
    pairs = spark.createDataFrame(
        list(edges) or [(None, None)], "doc_a: long, doc_b: long"
    ).dropna()
    fresh_df = spark.createDataFrame(
        list(fresh) or [(None, None)], "doc_a: long, doc_b: long"
    ).dropna()
    out = DD.components_apply(
        prev,
        pairs,
        gone=F.col("doc_id").isin(list(changed) or [-1]),
        fresh=fresh_df,
    )
    carried = [
        (a, b) for a, b in edges if a not in changed and b not in changed
    ]
    expected = _union_find(nodes, carried + list(fresh))
    got = sorted((r.doc_id, r.component, r.csize) for r in out.collect())
    assert got == expected
