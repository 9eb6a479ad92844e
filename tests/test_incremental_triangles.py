"""Incremental triangle maintenance (q246) — the q227 identity on the
graph family.

Invariants:

* maintained (carried + attributed delta) == the full q110 recompute
  over the whole graph, value-for-value including the tri_new column;
* the same through a PERSISTED edge-store + count-store roundtrip;
* exactly-once attribution on a planted worst case: a triangle with
  TWO new edges (the double-count trap the smallest-new-edge rule
  exists for) and one with THREE new edges.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import bigdatamining_graduate_spark.operators.graph as G

from .conftest import SF_SMOKE


def _li(spark):
    from bigdatamining_graduate_spark.sources.catalog import load_table

    return load_table(spark, SF_SMOKE, "lineitem")


def _key(df):
    return sorted(
        (r.node, r.deg, r.tri_cnt, r.tri_new)
        for r in df.select("node", "deg", "tri_cnt", "tri_new").collect()
    )


def test_maintained_equals_full_recompute(spark):
    li = _li(spark)
    out = G.incremental_triangles(li)
    full = G.triangle_counts(li).select("node", "deg", "tri_cnt")
    base = (
        G.triangle_counts(li.filter(~G._tri_delta_flag()))
        .select("node", F.col("tri_cnt").alias("tri_base"))
    )
    exp = (
        full.join(base, "node", "left")
        .select(
            "node",
            "deg",
            "tri_cnt",
            (
                F.col("tri_cnt") - F.coalesce(F.col("tri_base"), F.lit(0))
            ).cast("long").alias("tri_new"),
        )
    )
    assert _key(out) == _key(exp)
    # the delta is real at this fixture
    assert out.agg(F.sum("tri_new")).collect()[0][0] > 0


def test_store_roundtrip(spark, tmp_path):
    li = _li(spark)
    base_li = li.filter(~G._tri_delta_flag())
    G._copurchase_pairs(base_li).write.parquet(str(tmp_path / "edges"))
    G.triangle_counts(base_li).select("node", "tri_cnt").write.parquet(
        str(tmp_path / "tris")
    )
    roundtrip = G._tri_insert(
        spark.read.parquet(str(tmp_path / "edges")),
        spark.read.parquet(str(tmp_path / "tris")),
        G._copurchase_pairs(li.filter(G._tri_delta_flag())),
    )
    assert _key(roundtrip) == _key(G.incremental_triangles(li))


def test_exactly_once_attribution_on_planted_multi_new_triangles(spark):
    """Orderkeys 1-4 hash to the base slice, 12/17/18 to the batch
    (verified in-test).  Plant: triangle (1,2,3) with ONE base edge
    (1-2) and TWO new edges (1-3, 2-3) — the double-count trap — and
    triangle (4,5,6) with THREE new edges.  Every corner must gain
    exactly 1."""
    rows = [
        # base order 1: edge 1-2
        (1, 1), (1, 2),
        # batch order 12: edge 1-3 ; batch order 17: edge 2-3
        (12, 1), (12, 3), (17, 2), (17, 3),
        # batch order 18: edges 4-5, 4-6, 5-6 (one order, all three new)
        (18, 4), (18, 5), (18, 6),
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    flags = {
        r.l_orderkey: r.f
        for r in li.select(
            "l_orderkey", G._tri_delta_flag().alias("f")
        ).distinct().collect()
    }
    assert flags == {1: False, 12: True, 17: True, 18: True}
    out = {r.node: r for r in G.incremental_triangles(li).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}
    for n in (1, 2, 3, 4, 5, 6):
        assert out[n].tri_cnt == 1 and out[n].tri_new == 1, out[n]
        assert out[n].deg == 2


def test_delete_aware_equals_full_recompute(spark):
    """q247: carried − destroyed must equal the full q110 recompute
    over the remaining corpus, including the tri_removed attribution."""
    li = _li(spark)
    out = G.delete_aware_triangles(li)
    remaining = G.triangle_counts(li.filter(~G._tri_deleted_flag())).select(
        "node", "deg", "tri_cnt"
    )
    base = G.triangle_counts(li).select(
        "node", F.col("tri_cnt").alias("tri_base")
    )
    exp = remaining.join(base, "node", "left").select(
        "node",
        "deg",
        "tri_cnt",
        (
            F.coalesce(F.col("tri_base"), F.lit(0)) - F.col("tri_cnt")
        ).cast("long").alias("tri_removed"),
    )
    got = sorted(
        (r.node, r.deg, r.tri_cnt, r.tri_removed)
        for r in out.collect()
    )
    want = sorted(
        (r.node, r.deg, r.tri_cnt, r.tri_removed)
        for r in exp.collect()
    )
    assert got == want
    assert out.agg(F.sum("tri_removed")).collect()[0][0] > 0


def test_delete_aware_store_roundtrip_weighted(spark, tmp_path):
    """q247 through PERSISTED stores — the weighted edge store (an edge
    survives while ANY supporting order survives, the cd == w
    criterion) and the t0 count store."""
    li = _li(spark)
    G._weighted_pairs(li).write.parquet(str(tmp_path / "edges"))
    G.triangle_counts(li).select("node", "tri_cnt").write.parquet(
        str(tmp_path / "tris")
    )
    roundtrip = G._tri_erase(
        spark.read.parquet(str(tmp_path / "edges")),
        G._grouped_baskets(G._kp(li.filter(G._tri_deleted_flag()))),
        spark.read.parquet(str(tmp_path / "tris")),
    )
    direct = G.delete_aware_triangles(li)
    key = lambda df: sorted(  # noqa: E731
        (r.node, r.deg, r.tri_cnt, r.tri_removed) for r in df.collect()
    )
    assert key(roundtrip) == key(direct)
    # the weighted criterion is live: some deleted-order pair must
    # survive because another order still supports it
    cd = G._weighted_pairs(li.filter(G._tri_deleted_flag()))
    store = G._weighted_pairs(li)
    partially = (
        store.join(cd.select("pa", "pb", F.col("w").alias("cd")), ["pa", "pb"])
        .filter(F.col("cd") < F.col("w"))
        .count()
    )
    assert partially > 0, "no partially-supported edge — fixture degenerate"


def test_stream_triangles_equals_prefix_recompute(spark):
    """q248: the drained stream's per-node totals AND per-trigger
    breakdown must equal the batch prefix-graph recomputes."""
    import bigdatamining_graduate_spark.streaming.jobs as SJ

    streamed = SJ.stream_incremental_triangles(spark, SF_SMOKE)
    li = _li(spark)
    flag = SJ._stream_tri_batch_flag()
    p0 = {r.node: r.tri_cnt for r in G.triangle_counts(li.filter(flag == 0)).collect()}
    p1 = {r.node: r.tri_cnt for r in G.triangle_counts(li.filter(flag <= 1)).collect()}
    pf = {(r.node): (r.deg, r.tri_cnt) for r in G.triangle_counts(li).collect()}
    rows = streamed.collect()
    assert {r.node for r in rows} == set(pf)
    for r in rows:
        deg, tc = pf[r.node]
        assert (r.deg, r.tri_cnt) == (deg, tc), r
        assert r.d0 == p0.get(r.node, 0), r
        assert r.d1 == p1.get(r.node, 0) - p0.get(r.node, 0), r
        assert r.d2 == tc - p1.get(r.node, 0), r
    # all three triggers actually contributed somewhere
    import pyspark.sql.functions as F2
    sums = streamed.agg(
        F2.sum("d0"), F2.sum("d1"), F2.sum("d2")
    ).collect()[0]
    assert all(v > 0 for v in sums), sums


# -- store lifecycle: vacuum + post-vacuum refresh (q250) ----------------------


def test_triangle_store_vacuum_shrinks_and_preserves_semantics(spark, tmp_path):
    """q250: (a) the vacuum physically compacts both 8-file stores to 1
    file each, (b) the rewritten edge store IS the weighted pair set of
    the post-delete base (weight algebra exact, zero-support edges
    gone), and (c) the post-vacuum refresh == the full q246-style
    recompute over the post-delete corpus — vacuumed and unvacuumed
    paths land on one semantics."""
    import glob
    import os

    li = _li(spark)
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    out = G.vacuumed_triangle_refresh(spark, li, stage_dir=stage)

    from bigdatamining_graduate_spark.sources.publish import live_dir

    def nfiles(d):
        return len(glob.glob(os.path.join(live_dir(stage, d), "*.parquet")))

    assert nfiles("edge_store") == 1
    assert nfiles("tri_store") == 1

    # (b) weight algebra: vacuumed edge store == weighted pairs of the
    # post-delete base, value-for-value
    delta, deleted = G._tri_delta_flag(), G._tri_deleted_flag()
    base_after = li.filter(~delta & ~deleted)
    exp_edges = sorted(
        (r.pa, r.pb, r.w)
        for r in G._weighted_pairs(base_after).collect()
    )
    got_edges = sorted(
        (r.pa, r.pb, r.w)
        for r in spark.read.parquet(live_dir(stage, "edge_store")).collect()
    )
    assert got_edges == exp_edges
    # the deletion actually killed at least one edge
    t0_edges = G._weighted_pairs(li.filter(~delta)).count()
    assert len(got_edges) < t0_edges

    # (c) post-vacuum refresh == full recompute over the final corpus
    remaining = li.filter(delta | ~deleted)
    full = G.triangle_counts(remaining).select("node", "deg", "tri_cnt")
    base_tri = G.triangle_counts(base_after).select(
        "node", F.col("tri_cnt").alias("tri_base")
    )
    exp = full.join(base_tri, "node", "left").select(
        "node",
        "deg",
        "tri_cnt",
        (F.col("tri_cnt") - F.coalesce(F.col("tri_base"), F.lit(0)))
        .cast("long")
        .alias("tri_new"),
    )
    assert _key(out) == _key(exp)
    assert out.agg(F.sum("tri_new")).collect()[0][0] > 0


def test_upsert_creates_and_destroys_in_one_batch(spark):
    """q270 (the q232 split+merge discipline on the graph): ONE revised
    order simultaneously destroys a triangle (its remapped part's old
    pairs lose their last support) and creates one (the remapped part
    node pairs with the untouched parts).  A second, unrevised order
    keeps one decremented edge alive (support 2 -> 1), proving the
    weighted merge nets rather than deletes."""
    # probe the deterministic slices for usable keys: a revised order R,
    # an unrevised order S, and parts a/b (unremapped in R) + c
    # (remapped in R)
    ks = spark.createDataFrame(
        [(k,) for k in range(1, 200)], "l_orderkey long"
    ).select("l_orderkey", G._tri_revised_flag().alias("rev"))
    revised = [r.l_orderkey for r in ks.collect() if r.rev]
    unrevised = [r.l_orderkey for r in ks.collect() if not r.rev]
    R, S = revised[0], unrevised[0]
    ps = spark.createDataFrame(
        [(R, p) for p in range(1, 80)], "k long, p long"
    ).select("p", G._tri_remap_flag(F.col("k"), F.col("p")).alias("m"))
    flags = {r.p: r.m for r in ps.collect()}
    a, b = [p for p in sorted(flags) if not flags[p]][:2]
    c = next(p for p in sorted(flags) if flags[p])
    rows = [(R, a), (R, b), (R, c), (S, a), (S, c)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = {r.node: r for r in G.upsert_aware_triangles(li).collect()}
    c2 = c + G._TRI_REMAP_OFFSET
    # t0 triangle {a,b,c} destroyed (edge b-c lost its only support;
    # edge a-c nets 2 -> 1 and SURVIVES via order S), t1 triangle
    # {a,b,c2} created — same batch
    assert set(out) == {a, b, c2}, out
    assert (out[a].tri_cnt, out[a].tri_created, out[a].tri_destroyed) == (1, 1, 1)
    assert out[a].deg == 3  # a-b, a-c (survived), a-c2
    assert (out[b].tri_cnt, out[b].tri_created, out[b].tri_destroyed) == (1, 1, 1)
    assert out[b].deg == 2
    assert (out[c2].tri_cnt, out[c2].tri_created, out[c2].tri_destroyed) == (1, 1, 0)
    assert out[c2].deg == 2


def test_upsert_aware_equals_full_recompute(spark):
    """q270 over the smoke fixture: carried − destroyed + created must
    equal the full q110 recompute over the REVISED (t1) graph."""
    li = _li(spark)
    out = G.upsert_aware_triangles(li)
    t1_pairs = (
        G._op_t1(li)
        .select(F.col("p").alias("pa"), "k")
        .join(G._op_t1(li).select(F.col("p").alias("pb"), "k"), "k")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )
    expected = {
        (r.node, r.deg, r.tri_cnt)
        for r in G.pairs_triangle_counts(t1_pairs).collect()
    }
    got = {(r.node, r.deg, r.tri_cnt) for r in out.collect()}
    assert got == expected


def test_upsert_aware_store_roundtrip_weighted(spark, tmp_path):
    """q270 through PERSISTED stores — the weighted t0 edge store and
    the t0 count store derived from it, injected, must give the in-plan
    result: the revised slice's support delta is the same whichever
    store the query reads."""
    li = _li(spark)
    edges = G._weighted_pairs(li)
    edges.write.parquet(str(tmp_path / "edges"))
    G.pairs_triangle_counts(edges.select("pa", "pb")).select(
        "node", "tri_cnt"
    ).write.parquet(str(tmp_path / "tris"))
    roundtrip = G._tri_revise(
        spark.read.parquet(str(tmp_path / "edges")),
        G._grouped_baskets(G._kp(li.filter(G._tri_revised_flag()))),
        spark.read.parquet(str(tmp_path / "tris")),
    )
    key = lambda df: sorted(  # noqa: E731
        (r.node, r.deg, r.tri_cnt, r.tri_created, r.tri_destroyed)
        for r in df.collect()
    )
    got = key(roundtrip)
    assert got == key(G.upsert_aware_triangles(li))
    # the revision is live at this fixture: both directions move
    assert any(r[3] for r in got) and any(r[4] for r in got)


def test_adj_apply_delta_equals_rebuild(spark):
    """Round-12 internals pin: the per-node array-edit t1 adjacency
    (G._adj_apply_delta) must equal the from-scratch t1 build
    (G._undirected_adj over the edited edge set) — including a node
    minted by an added edge, a node killed by losing its last edge,
    and untouched nodes carrying verbatim."""
    from bigdatamining_graduate_spark.checkpoints import release_checkpoints

    edges0 = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], "pa long, pb long"
    )
    # remove (4,5): node 5 loses its last edge and must die;
    # add (2,9) and (5, 9)? no — 5 must die, so add edges that mint a
    # NEW node 9 on an existing endpoint instead
    removed = spark.createDataFrame([(4, 5)], "pa long, pb long")
    added = spark.createDataFrame([(2, 9), (1, 9)], "pa long, pb long")
    t1_edges = (
        edges0.join(removed, ["pa", "pb"], "left_anti").unionByName(added)
    )
    edited = {
        r.s: list(r.nbrs)
        for r in G._adj_apply_delta(
            G._undirected_adj(edges0), removed, added
        ).collect()
    }
    rebuilt = {
        r.s: list(r.nbrs) for r in G._undirected_adj(t1_edges).collect()
    }
    release_checkpoints()
    assert edited == rebuilt
    assert 5 not in edited  # lost its last edge
    assert edited[9] == [1, 2]  # minted by added edges, sorted
