"""Graph mining: integer-arithmetic PageRank over a co-purchase graph.

Complements the connected-components operator (``dedup.neardup_components``)
with the other canonical iterative graph algorithm of a "big data mining"
engine. Two design decisions carry the scale and correctness story:

* **Fixed-point integer mass, not floats.** Float PageRank is not
  cross-engine reproducible: per-node rank is a SUM of contributions and
  float addition is order-dependent, so Spark's partition-parallel sums
  and DuckDB's sequential sums drift apart after a few iterations. Here
  rank is an integer mass (TOTAL_MASS units split evenly at start) and
  every transfer is exact integer arithmetic — ``(85 * r) div
  (100 * deg)`` — identical in any engine and at any parallelism. Mass
  lost to the floors is the deterministic price; rankings are unaffected
  (the floor error is ≤ deg per node per round, orders of magnitude
  below rank differences).
* **Bounded edge generation.** Co-purchase edges come from a self-join
  of (order, part) ON the order key — an equi-join whose fanout is
  C(basket size, 2), bounded by the basket, never an all-pairs join.

Iteration shape: edges materialized once (``localCheckpoint``), each
round one join + one aggregation, and the rounds driven by
``checkpoints.fixpoint``, which cuts lineage only when the unrolled plan
grows past its node bound — every loop in this module (and the CC loop
in ``dedup``) shares that one policy. The oracle unrolls
the same recurrence as K chained CTEs (aggregates are not allowed in a
recursive CTE member, and K is a fixed constant anyway).

Maintenance of the co-purchase edge store (insert q246, delete q247,
stream q248, vacuum q250, upsert q270) is one signed-support net,
:func:`_edge_apply`: an edge is born or dies when its support crosses 0.
The per-node triangle counts then net through :func:`_tri_net`
(carried − destroyed + created), the changed triangles counted by the
attribution kernel :func:`_attributed_delta_counts`.  Each cell is one
step over its t0 stores — :func:`_tri_insert` (q246, q250),
:func:`_tri_erase` (q247) and :func:`_tri_revise` (q270), the latter
two over :func:`_t0_graph`'s weighted build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoints import fixpoint, local_checkpoint
from ..functions.hashing import hash_bucket

DAMP_NUM = 85          # damping 0.85 as an exact fraction
DAMP_DEN = 100
TOTAL_MASS = 10**12    # fixed-point scale: initial rank = TOTAL_MASS / N
N_ITER = 6


def _kp(lineitem: DataFrame) -> DataFrame:
    """(k, p) order/part rows — the pair-generation input projection."""
    return lineitem.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p")
    )


def _basket_pairs(kp: DataFrame) -> DataFrame:
    """Per-order canonical part pairs (pa < pb), ONE ROW PER SUPPORTING
    ORDER — the shared pair-generation kernel of the whole graph family.

    Round-11 optimization (guide §2.3/§2.4): the original formulation —
    ``distinct()`` on (k, p) followed by a self-join ON the order key —
    costs four shuffles (distinct exchange, two join exchanges, pair
    aggregation) plus a hash-relation build.  Since a basket is small
    and bounded (TPC-H baskets are ≤ 7 lineitems; the docstring bound
    any co-purchase model needs anyway — pair fanout is C(basket, 2)),
    the same pair multiset falls out of ONE groupBy(k) whose map-side
    partial ``collect_set`` also performs the dedup, followed by
    row-local array combinations in the JVM: 4 shuffles → 1, and the
    downstream pair aggregation is unchanged.  Measured at sf0.1 on
    q110: the pair-gen stage drops ~40% and every caller of the family
    (q107/q110/q169/q170/q175/q246–q250/q270, stream q248) inherits it.
    """
    return _pairs_from_baskets(_grouped_baskets(kp))


def _grouped_baskets(kp: DataFrame) -> DataFrame:
    """(k, ps): each order's sorted distinct part array — the grouped
    half of :func:`_basket_pairs`, factored (round 12, guide §1.2/§2.4)
    so the delta cells (q247/q250/q270) can derive their slice pairs
    from ONE checkpointed grouping of the corpus instead of re-scanning
    and re-shuffling the slice: every order-slice flag in the family is
    a pure function of ``k``, so filter-after-group == group-after-
    filter, and the slice pair-gen becomes a cached-block read."""
    return kp.groupBy("k").agg(F.sort_array(F.collect_set("p")).alias("ps"))


_COMBOS = (
    "flatten(transform(ps, (x, i) -> "
    "transform(slice(ps, i + 2, size(ps)), "
    "y -> named_struct('pa', x, 'pb', y))))"
)


def _pairs_from_baskets(bk: DataFrame) -> DataFrame:
    """Row-local sorted-array combinations over (k, ps) baskets — the
    explode half of :func:`_basket_pairs`."""
    return bk.select(F.explode(F.expr(_COMBOS)).alias("e")).select(
        "e.pa", "e.pb"
    )


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected co-purchase edges between parts appearing in the same
    order, as a directed edge list with per-source out-degree.  Pair
    generation via the per-basket combination kernel (:func:`_basket_pairs`);
    ``pairs`` is checkpointed because the edge/degree derivation below
    references it four times — without the cut the whole pair-gen
    subtree re-runs per reference (the q110 recomputed-subtree trap,
    measured in the round-11 plan audit)."""
    pairs = local_checkpoint(_basket_pairs(_kp(lineitem)).distinct(), eager=False)
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    return edges.join(deg, "src")


def _support_edges(lineitem: DataFrame, min_support: int) -> DataFrame:
    """(src, dst) both directions of every co-purchase pair seen in >=
    ``min_support`` orders — the graph LPA, k-core and BFS iterate over.
    The support floor is the q110 density dial: on the raw catalog-dense
    graph LPA collapses to one global community; edges that co-occur in
    >= min_support orders carry actual affinity."""
    pairs = (
        _basket_pairs(_kp(lineitem))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= min_support)
    )
    return pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionByName(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )


def integer_pagerank(lineitem: DataFrame, n_iter: int = N_ITER) -> DataFrame:
    """(node, rank_mass) after ``n_iter`` exact-integer PageRank rounds
    over the co-purchase graph. The symmetric edge list means every node
    has in- and out-edges, so no dangling-mass handling is needed. Each
    round's integer arithmetic is exact, so where ``fixpoint`` cuts the
    lineage cannot change values."""
    edges = local_checkpoint(copurchase_edges(lineitem))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    base = (DAMP_DEN - DAMP_NUM) * TOTAL_MASS // (DAMP_DEN * n)
    contrib = F.expr(f"({DAMP_NUM} * r) div ({DAMP_DEN} * deg)")

    def step(ranks: DataFrame, _: int) -> DataFrame:
        return (
            edges.join(ranks, edges.src == ranks.node)
            .select("dst", contrib.alias("c"))
            .groupBy("dst")
            .agg((F.lit(base) + F.sum("c")).cast("long").alias("r"))
            .select(F.col("dst").alias("node"), "r")
        )

    ranks = nodes.select("node", F.lit(TOTAL_MASS // n).cast("long").alias("r"))
    ranks = fixpoint(step, ranks, n_iter)
    return ranks.select("node", F.col("r").alias("rank_mass"))


def triangle_counts(lineitem: DataFrame, min_support: int = 1) -> DataFrame:
    """Per-node triangle counts over the co-purchase graph via
    degree-ordered edge orientation — the standard distributed triangle
    algorithm (Cohen's MapReduce formulation; also MR-ish in Suri &
    Vassilvitskii "Counting Triangles and the Curse of the Last Reducer",
    WWW'11).

    Each undirected edge is oriented from the (degree, id)-smaller
    endpoint to the larger; every triangle then has exactly ONE node with
    two out-edges, so the closure (u→v, u→w, v→w) finds each triangle
    once.  Orientation bounds per-node OUT-degree by O(sqrt(m))
    regardless of hub size — a hub of degree 10^6 contributes nothing
    because all its edges point IN.  That is what survives a power-law
    co-purchase graph at 100 TB; the naive wedge join on raw degree does
    not.

    Closure strategy (round 4, measured): instead of materializing every
    wedge (u→v, u→w) and equi-joining against the closing edge — ~16M
    shuffled wedge rows at sf0.1, of which only ~3% close — each node's
    oriented out-neighborhood is aggregated ONCE into a sorted array
    (size O(sqrt(m)) by the orientation bound, so no hub blowup), and
    each edge (u→v) emits exactly its triangles via
    ``explode(array_intersect(N+(u), N+(v)))``.  Intersection work stays
    row-local in the JVM; the only exploded rows are true triangles.
    Measured at sf0.1: 10.4 s → 5.0 s warm median; results bit-identical
    (same exact integer counts).

    ``min_support`` keeps only edges co-purchased in >= that many orders
    — the density dial: a catalog-bounded graph gets DENSER (not bigger)
    as facts grow, and wedge work is quadratic in degree, so at scale you
    raise support to keep average degree flat (measured: SCALE.md §6e).
    Support 1 is the registered-oracle parity default.

    Returns (node, deg, tri_cnt) for nodes in >=1 triangle — exact
    integer counts, hash-stable across engines.
    """
    pairs = (
        _basket_pairs(_kp(lineitem))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= min_support)
        .select("pa", "pb")
    )
    return pairs_triangle_counts(pairs)


def pairs_triangle_counts(pairs: DataFrame) -> DataFrame:
    """:func:`triangle_counts`'s closure over an ALREADY-MATERIALIZED
    canonical edge set (pa < pb, deduped) — the store-consuming entry
    point: a lifecycle query that has just written the edge store
    derives the triangle store FROM it instead of re-pairing the corpus
    (q250, measured: one whole pair-gen shuffle saved).

    Round-11 checkpoint discipline (guide §2.4/§7.2): ``pairs`` feeds
    the degree table AND the orientation join, and ``deg`` is consumed
    three times (two orientation sides + the final per-node join) — the
    round-10 plan re-ran the WHOLE upstream pair-generation five times
    (captured in ``plans/r11/q110_part_triangles_before.txt``: the deg
    subtree alone re-pairs the corpus twice inside the final join).
    Cutting both with lazy local checkpoints makes every reference a
    cached-block scan.  The first adjacency join is gone outright:
    ``adj`` IS the oriented edge set grouped by src, so exploding it
    back yields each edge WITH its source adjacency already attached —
    one exchange instead of an E-row join (guide §2.4)."""
    pairs = local_checkpoint(pairs, eager=False)
    deg = local_checkpoint(
        pairs.select(F.col("pa").alias("node"))
        .unionByName(pairs.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg")),
        eager=False,
    )
    da = deg.select(F.col("node").alias("pa"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("pb"), F.col("deg").alias("degb"))
    lt = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("pa") < F.col("pb"))
    )
    oriented = (
        pairs.join(da, "pa")
        .join(db, "pb")
        .select(
            F.when(lt, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(lt, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        )
    )
    # oriented out-adjacency, sorted for a deterministic intersection;
    # checkpointed — it is consumed twice (explode side + av side)
    adj = local_checkpoint(
        oriented.groupBy("src").agg(
            F.sort_array(F.collect_list("dst")).alias("nbrs")
        ),
        eager=False,
    )
    av = adj.select(F.col("src").alias("v_key"), F.col("nbrs").alias("nv"))
    # per edge (u->v): common oriented neighbors ARE its triangles'
    # third nodes — only true closures get exploded, never open wedges
    # materialized: `per_node` references tris three times in the union
    # below — without this the adjacency join + explode subtree would be
    # recomputed per branch (same discipline as `adj` above)
    tris = (
        adj.select(
            "src", F.col("nbrs").alias("nu"), F.explode("nbrs").alias("dst")
        )
        .join(av, F.col("dst") == F.col("v_key"))
        .select(
            "src", "dst", F.explode(F.array_intersect("nu", "nv")).alias("w")
        )
    )
    tris = local_checkpoint(tris)
    per_node = (
        tris.select(F.col("src").alias("node"))
        .unionByName(tris.select(F.col("dst").alias("node")))
        .unionByName(tris.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("tri_cnt"))
    )
    return per_node.join(deg, "node").select("node", "deg", "tri_cnt")


def triangle_counts_sql(min_support: int = 1) -> str:
    """DuckDB twin: same orientation, same wedge closure, same support."""
    return f"""
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT a.p AS pa, b.p AS pb
      FROM op a JOIN op b ON a.k = b.k AND a.p < b.p
      GROUP BY a.p, b.p HAVING count(*) >= {min_support}
    ),
    deg AS MATERIALIZED (
      SELECT node, count(*) AS deg FROM (
        SELECT pa AS node FROM pairs UNION ALL SELECT pb AS node FROM pairs
      ) GROUP BY node
    ),
    oriented AS MATERIALIZED (
      SELECT CASE WHEN (da.deg, pa) < (db.deg, pb) THEN pa ELSE pb END AS src,
             CASE WHEN (da.deg, pa) < (db.deg, pb) THEN pb ELSE pa END AS dst,
             CASE WHEN (da.deg, pa) < (db.deg, pb) THEN db.deg ELSE da.deg END AS dst_deg
      FROM pairs JOIN deg da ON da.node = pa JOIN deg db ON db.node = pb
    ),
    tris AS MATERIALIZED (
      SELECT w.src, w.v, w.w FROM (
        SELECT e1.src, e1.dst AS v, e2.dst AS w
        FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src
        WHERE (e1.dst_deg, e1.dst) < (e2.dst_deg, e2.dst)
      ) w JOIN oriented c ON c.src = w.v AND c.dst = w.w
    )
    SELECT t.node, d.deg, t.tri_cnt FROM (
      SELECT node, count(*) AS tri_cnt FROM (
        SELECT src AS node FROM tris
        UNION ALL SELECT v AS node FROM tris
        UNION ALL SELECT w AS node FROM tris
      ) GROUP BY node
    ) t JOIN deg d ON d.node = t.node
    """


def integer_pagerank_sql(n_iter: int = N_ITER, top: int | None = None) -> str:
    """DuckDB twin: the same integer recurrence unrolled as chained CTEs.
    ``base`` depends on the node count, so it is computed in SQL from the
    same edge table."""
    # AS MATERIALIZED: DuckDB inlines plain CTEs, which would re-expand
    # the 6M-row self-join chain once per unrolled iteration (measured:
    # minutes at 10x facts vs ~2 s materialized)
    ctes = [
        f"""op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.p AS pa, b.p AS pb
      FROM op a JOIN op b ON a.k = b.k AND a.p < b.p
    ),
    edges0 AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb AS src, pa AS dst FROM pairs
    ),
    deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges0 GROUP BY src),
    edges AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM edges0 e JOIN deg d ON d.src = e.src),
    meta AS MATERIALIZED (
      SELECT count(*) AS n,
             ({DAMP_DEN} - {DAMP_NUM}) * {TOTAL_MASS}::BIGINT
               // ({DAMP_DEN} * count(*)) AS base,
             {TOTAL_MASS}::BIGINT // count(*) AS r0
      FROM (SELECT DISTINCT src FROM edges0)
    ),
    pr0 AS MATERIALIZED (SELECT src AS node, (SELECT r0 FROM meta) AS r
            FROM (SELECT DISTINCT src FROM edges0))"""
    ]
    for k in range(1, n_iter + 1):
        ctes.append(
            f"""pr{k} AS MATERIALIZED (
      SELECT e.dst AS node,
             cast((SELECT base FROM meta)
               + sum(({DAMP_NUM} * p.r) // ({DAMP_DEN} * e.deg)) as bigint) AS r
      FROM edges e JOIN pr{k - 1} p ON p.node = e.src
      GROUP BY e.dst
    )"""
        )
    limit = (
        f"ORDER BY rank_mass DESC, node ASC LIMIT {top}" if top is not None else ""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, r AS rank_mass FROM pr{n_iter} {limit}"
    )


# -- label propagation communities ------------------------------------------

LPA_ROUNDS = 3
LPA_SUPPORT = 2  # co-purchase weight floor: the density dial (see q110)


def label_propagation(
    lineitem: DataFrame,
    n_rounds: int = LPA_ROUNDS,
    min_support: int = LPA_SUPPORT,
) -> DataFrame:
    """(node, community) after ``n_rounds`` SYNCHRONOUS label-propagation
    rounds over the co-purchase graph — community detection, the third
    canonical iterative graph op next to PageRank and triangles.

    Async LPA (the common formulation) is order-dependent and therefore
    not reproducible across engines or partitionings; this is the
    synchronous variant with a TOTAL-ORDER tie-break — every node
    simultaneously adopts the most frequent label among its neighbors,
    ties broken toward the SMALLEST label — so the result after a fixed
    round count is a pure function of the graph, bit-identical in any
    engine at any parallelism (same determinism discipline as the
    integer PageRank above; reference parity: the hw5 graph homework
    stops at components, this completes the community layer).

    Shape per round: one equi-join (edges ⋈ labels on src) + one
    (dst, label) count + one per-dst argmax — ``max(struct(c, -lbl))``
    picks highest count then smallest label without a window sort.
    Edges are materialized once; the rounds run on ``fixpoint``, whose
    plan-size bound leaves the default three rounds as one uncut plan."""
    edges = local_checkpoint(_support_edges(lineitem, min_support))
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )

    def step(labels: DataFrame, _: int) -> DataFrame:
        votes = (
            edges.join(labels, edges.src == labels.node)
            .select("dst", "lbl")
            .groupBy("dst", "lbl")
            .agg(F.count("*").alias("c"))
        )
        return (
            votes.groupBy("dst")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m"))
            .select(F.col("dst").alias("node"), (-F.col("m.nl")).alias("lbl"))
        )

    labels = fixpoint(step, labels, n_rounds)
    return labels.select("node", F.col("lbl").alias("community"))


def label_propagation_sql(n_rounds: int = LPA_ROUNDS) -> str:
    """DuckDB twin: the same synchronous recurrence unrolled as chained
    CTEs (argmax as row_number ORDER BY c DESC, lbl ASC — the identical
    total order)."""
    ctes = [
        f"""op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT a.p AS pa, b.p AS pb
      FROM op a JOIN op b ON a.k = b.k AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {LPA_SUPPORT}
    ),
    edges AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb AS src, pa AS dst FROM pairs
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM edges)"""
    ]
    for k in range(1, n_rounds + 1):
        ctes.append(
            f"""v{k} AS (
      SELECT e.dst AS node, l.lbl, count(*) AS c
      FROM edges e JOIN l{k - 1} l ON l.node = e.src
      GROUP BY 1, 2
    ),
    l{k} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
        FROM v{k}) WHERE rn = 1
    )"""
        )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT node, lbl AS community FROM l{n_rounds}
    """


# -- k-core decomposition ---------------------------------------------------

KCORE_K = 3
KCORE_MAX_ROUNDS = 16


def kcore(
    lineitem: DataFrame,
    k: int = KCORE_K,
    min_support: int = LPA_SUPPORT,
    max_rounds: int = KCORE_MAX_ROUNDS,
) -> DataFrame:
    """(node, core_deg) for the k-core of the co-purchase graph — the
    maximal subgraph where every node keeps >= k neighbors. Dense-region
    extraction: the classic pre-filter before community/triangle work on
    a noisy graph (peel the long tail once, then run the expensive ops
    on the surviving core).

    SYNCHRONOUS peeling: each round removes ALL nodes whose current
    degree < k simultaneously, so the fixed point is a pure function of
    the graph (sequential peeling is order-dependent). The rounds run on
    ``fixpoint`` with the edge count as measure: peel until one peel
    leaves the count unchanged (the only driver-side data is one integer
    per round), raising if that takes more than ``max_rounds`` peels; the
    DuckDB twin unrolls exactly ``max_rounds`` stages, which is the same
    fixed point because peeling rounds after convergence are no-ops.
    Each round is one hash-agg + two semi-joins on a shrinking edge
    list."""
    edges = _support_edges(lineitem, min_support)

    def peel(edges: DataFrame, _: int) -> DataFrame:
        keep = (
            edges.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("src")
        )
        kd = keep.select(F.col("src").alias("dst"))
        return edges.join(keep, "src", "left_semi").join(kd, "dst", "left_semi")

    edges = fixpoint(peel, edges, max_rounds, measure=lambda e: e.count())
    return (
        edges.groupBy("src")
        .agg(F.count("*").alias("core_deg"))
        .select(F.col("src").alias("node"), "core_deg")
    )


def kcore_sql(
    k: int = KCORE_K,
    min_support: int = LPA_SUPPORT,
    max_rounds: int = KCORE_MAX_ROUNDS,
) -> str:
    """DuckDB twin: the synchronous peel unrolled ``max_rounds`` times
    (rounds after the fixed point are no-ops, so this equals the
    converged Spark loop whenever the loop's convergence assert held)."""
    ctes = [
        f"""op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS kk, l_partkey AS p FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT a.p AS pa, b.p AS pb
      FROM op a JOIN op b ON a.kk = b.kk AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {min_support}
    ),
    e0 AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb AS src, pa AS dst FROM pairs
    )"""
    ]
    for i in range(1, max_rounds + 1):
        ctes.append(
            f"""k{i} AS MATERIALIZED (
      SELECT src FROM e{i - 1} GROUP BY src HAVING count(*) >= {k}
    ),
    e{i} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{i - 1} e
      JOIN k{i} sa ON sa.src = e.src
      JOIN k{i} sb ON sb.src = e.dst
    )"""
        )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT src AS node, count(*) AS core_deg
    FROM e{max_rounds} GROUP BY src
    """


# -- BFS hop distance ---------------------------------------------------------

BFS_HOPS = 4


def bfs_hops(
    lineitem: DataFrame,
    max_hops: int = BFS_HOPS,
    min_support: int = LPA_SUPPORT,
) -> DataFrame:
    """(node, hop) — minimum hop distance from a seed node, for every
    node within ``max_hops`` of it on the support-thresholded
    co-purchase graph. Reachability is the canonical RECURSIVE query —
    inexpressible in one Spark SQL statement (no recursive CTE), so the
    engine's answer is the Pregel-style frontier loop: each level is one
    equi-join (edges x frontier) + DISTINCT + one LEFT-ANTI join against
    the visited set. The state is the visited set alone, hop included;
    level ``h`` expands the frontier ``hop = h - 1``. Each level
    references the visited set three times, so the plan triples per hop
    and ``fixpoint`` cuts it once it passes the node bound.

    The seed is the smallest node id IN the edge set — computed from the
    data (a broadcast 1-row aggregate), never hard-coded, so every SF
    works. BFS level sets are order-independent, so the result is a pure
    function of the graph: bit-identical across engines/parallelism.

    Scale: the anti-join visited set grows to at most |V| keys, and each
    level touches only frontier-incident edges — the standard
    hop-bounded BFS on a 1000-executor graph; ``max_hops`` is the
    latency dial (hop-k neighborhoods, not whole-graph closure). All
    ``max_hops`` levels are always planned, with no per-level count: an
    empty frontier yields empty levels after it, which the unrolled
    DuckDB twin also relies on.

    Reference parity: the reference's graph homework (hw5) stops at
    connected components; hop-distance completes the traversal layer
    next to components (q71) / PageRank (q107) / triangles (q110) /
    communities (q169) / cores (q170).
    """
    edges = local_checkpoint(_support_edges(lineitem, min_support))
    seed = edges.agg(F.min("src").alias("node"))

    def expand(visited: DataFrame, h: int) -> DataFrame:
        frontier = visited.filter(F.col("hop") == h - 1).select(
            F.col("node").alias("f_node")
        )
        nxt = (
            edges.join(frontier, edges.src == F.col("f_node"))
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(h).alias("hop"))
        )
        return visited.unionByName(nxt)

    return fixpoint(expand, seed.select("node", F.lit(0).alias("hop")), max_hops)


def bfs_hops_sql(
    max_hops: int = BFS_HOPS, min_support: int = LPA_SUPPORT
) -> str:
    """DuckDB twin: the frontier recurrence unrolled ``max_hops`` levels
    (DuckDB's recursive CTE could express this directly, but the
    unrolled form keeps the per-level NOT-EXISTS visited check identical
    to the Spark loop's anti-join, level for level)."""
    ctes = [
        f"""op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS kk, l_partkey AS p FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT a.p AS pa, b.p AS pb
      FROM op a JOIN op b ON a.kk = b.kk AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {min_support}
    ),
    edges AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb AS src, pa AS dst FROM pairs
    ),
    f0 AS MATERIALIZED (SELECT min(src) AS node FROM edges),
    v0 AS MATERIALIZED (SELECT node, 0 AS hop FROM f0)"""
    ]
    for h in range(1, max_hops + 1):
        ctes.append(
            f"""f{h} AS MATERIALIZED (
      SELECT DISTINCT e.dst AS node
      FROM edges e JOIN f{h - 1} p ON e.src = p.node
      WHERE NOT EXISTS (SELECT 1 FROM v{h - 1} v WHERE v.node = e.dst)
    ),
    v{h} AS MATERIALIZED (
      SELECT node, hop FROM v{h - 1}
      UNION ALL SELECT node, {h} AS hop FROM f{h}
    )"""
        )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT node, hop FROM v{max_hops}
    """


# -- Incremental triangle maintenance (edge arrival) --------------------------
#
# The maintenance discipline (q227's identity: carried + delta == full
# recompute, oracle = the full recompute) reaching the GRAPH family — the
# last family whose refresh still meant a full re-run.  New ORDERS arrive
# (a deterministic 20% l_orderkey slice); their co-purchases add edges; the
# maintained state is the persisted EDGE store + per-node triangle counts.
# Only triangles touching a new edge are counted: O(|new edges| · avg
# degree) wedge work instead of re-closing the whole graph.

INCR_TRI_BUCKETS = 10
INCR_TRI_HIST = 8  # l_orderkey hash buckets 0-7 = base orders, 8-9 = batch


def _tri_delta_flag(col: str = "l_orderkey"):
    return hash_bucket(col, "itri", INCR_TRI_BUCKETS) >= INCR_TRI_HIST


def _tri_delta_sql(col: str = "l_orderkey") -> str:
    from ..functions.hashing import portable_hash64_sql

    return (
        f"(({portable_hash64_sql(f'cast({col} as varchar)', 'itri')}"
        f" % {INCR_TRI_BUCKETS}) >= {INCR_TRI_HIST})"
    )


def _copurchase_pairs(lineitem: DataFrame) -> DataFrame:
    """Canonical (pa < pb) distinct co-purchase edges at support 1 —
    the edge-store row format (mirrors triangle_counts' inline pair
    derivation; per-basket combination kernel, see :func:`_basket_pairs`)."""
    return _basket_pairs(_kp(lineitem)).distinct()


def _undirected_adj(graph_edges: DataFrame) -> DataFrame:
    """(s, nbrs): each node's sorted UNDIRECTED neighbor array over a
    canonical (pa < pb, distinct) edge set — checkpointed, because every
    consumer (degrees + the two attribution probe sides) re-reads it.
    Factored from :func:`_attributed_delta_counts` (round 12) so q270
    can derive its t1 adjacency from the t0 one by per-node array edits
    instead of re-shuffling the full edge set a second time."""
    dir_edges = graph_edges.select(
        F.col("pa").alias("s"), F.col("pb").alias("t")
    ).unionByName(
        graph_edges.select(F.col("pb").alias("s"), F.col("pa").alias("t"))
    )
    return local_checkpoint(
        dir_edges.groupBy("s").agg(
            F.sort_array(F.collect_list("t")).alias("nbrs")
        ),
        eager=False,
    )


def _adj_apply_delta(
    adj0: DataFrame, removed: DataFrame, added: DataFrame
) -> DataFrame:
    """The t1 adjacency as per-node ARRAY EDITS of the t0 adjacency
    (round 12, guide §2.3/§2.4): the removed/added edge sets are delta-
    sized, so grouping them per endpoint and broadcast-joining against
    the checkpointed t0 arrays keeps the 2|E| adjacency payload on its
    side of the exchange — the old plan rebuilt the t1 adjacency from
    scratch (a second full edge-set shuffle + groupBy).  Exact because
    canonical edge sets hold each neighbor once: array_except drops
    exactly the dead neighbors, array_union appends the born ones
    (disjoint from the survivors by construction), and nodes losing
    their last edge drop out (empty arrays filtered, matching the
    from-scratch build)."""

    def per_node(edges: DataFrame, name: str) -> DataFrame:
        return (
            edges.select(F.col("pa").alias("s"), F.col("pb").alias("t"))
            .unionByName(
                edges.select(F.col("pb").alias("s"), F.col("pa").alias("t"))
            )
            .groupBy("s")
            .agg(F.collect_list("t").alias(name))
        )

    # untyped empty array: coalesce coerces it to the column's own
    # element type, so node-id types never widen (bigint vs int drift
    # would shift the output schema and red the oracle row)
    arr = lambda c: F.coalesce(F.col(c), F.array())  # noqa: E731
    per_rm = per_node(removed, "rm")
    per_ad = per_node(added, "ad")
    # LEFT joins, not full_outer: full_outer cannot broadcast, so it
    # would sort-merge-shuffle the adjacency arrays — exactly the bytes
    # this helper exists to keep in place (first-draft A/B: full_outer
    # variant measured q270 12.5 → 14.5 s SLOWER).  Removed endpoints
    # always exist in adj0 (they are t0 edges), so only added edges can
    # mint nodes adj0 has never seen — unioned in via an anti-join whose
    # strategy AQE picks (no hint: the t0 node set is corpus-sized).
    edited = (
        adj0.join(F.broadcast(per_rm), "s", "left")
        .join(F.broadcast(per_ad), "s", "left")
        .select(
            "s",
            F.sort_array(
                F.array_union(
                    F.array_except(F.col("nbrs"), arr("rm")), arr("ad")
                )
            ).alias("nbrs"),
        )
        .filter(F.size("nbrs") > 0)
    )
    new_nodes = per_ad.join(adj0.select("s"), "s", "left_anti").select(
        "s", F.sort_array(F.col("ad")).alias("nbrs")
    )
    return local_checkpoint(edited.unionByName(new_nodes), eager=False)


def _attributed_delta_counts(
    marked_edges, graph_edges=None, broadcast_marked=True, adj=None
):
    """Per-node counts of the triangles in ``graph_edges`` touching ≥ 1
    MARKED edge, each triangle counted exactly once by attribution to
    its lexicographically-smallest marked edge — the shared delta
    kernel of q246 (marked = newly-arrived), q247 (marked = removed),
    and q248 (per-trigger arrivals).  Returns (td_df: (node, td),
    deg_df: (node, deg) over ``graph_edges``).

    Closure strategy is q110's measured one applied to the delta:
    aggregate each node's UNDIRECTED neighborhood once into a sorted
    array and emit each marked edge's triangles via
    ``explode(array_intersect(adj(u), adj(v)))`` — intersection work
    stays row-local in the JVM and only true closures ever explode,
    never open wedges (the wedge-join draft materialized Σ min-
    endpoint-degree wedge rows and measured 4× per triangle; SCALE.md
    §6s).  Per-edge cost is O(deg(u) + deg(v)) — at extreme hub
    degree the undirected array is the size bound to watch: shard or
    fall back to the oriented wedge join.

    ``broadcast_marked``: the attribution probes broadcast the marked
    set when it is batch-sized (q246/q248 arrivals).  The DELETION
    path (q247) passes False — there marked = every edge killed by
    the erasure, deletion-sized rather than batch-sized, and a dense
    corpus could blow the broadcast limit; AQE picks the strategy.

    ``adj`` injects a prebuilt undirected adjacency
    (:func:`_undirected_adj` / :func:`_adj_apply_delta`) so callers
    running the kernel twice (q270: t0 destroy + t1 create) share one
    edge-set shuffle (round 12)."""
    if adj is None:
        adj = _undirected_adj(graph_edges)
    deg = adj.select(
        F.col("s").alias("node"), F.size("nbrs").cast("long").alias("deg")
    )
    # Adjacency attach: two chained equi-joins against `adj`, with the
    # batch-sized marked set on the probe side so AQE broadcasts it and
    # the array payload never crosses an exchange.  A round-11 draft
    # replaced this with a single exploded-probe join + groupBy(pa, pb)
    # regroup of (nu, nv); the interleaved same-session A/B measured it
    # 10–24% SLOWER on q246/q247/q248 at sf0.1 — the regroup exchange
    # carries BOTH adjacency arrays, exactly the bytes the rewrite
    # claimed to save (guide §1.1: empirical loop beats the paper plan).
    au = adj.select(F.col("s").alias("pa"), F.col("nbrs").alias("nu"))
    av = adj.select(F.col("s").alias("pb"), F.col("nbrs").alias("nv"))
    closed = (
        marked_edges.join(au, "pa")
        .join(av, "pb")
        .select(
            F.col("pa").alias("u"),
            F.col("pb").alias("v"),
            F.explode(F.array_intersect("nu", "nv")).alias("w"),
        )
    )

    def flag(ea, eb, name):
        probe = marked_edges.select(
            F.col("pa").alias(ea), F.col("pb").alias(eb), F.lit(1).alias(name)
        )
        return F.broadcast(probe) if broadcast_marked else probe

    t = (
        closed.withColumn("e1a", F.least("u", "w"))
        .withColumn("e1b", F.greatest("u", "w"))
        .withColumn("e2a", F.least("v", "w"))
        .withColumn("e2b", F.greatest("v", "w"))
        .join(flag("e1a", "e1b", "n1"), ["e1a", "e1b"], "left")
        .join(flag("e2a", "e2b", "n2"), ["e2a", "e2b"], "left")
    )
    smaller = lambda a, b: (F.col(a) < F.col("u")) | (  # noqa: E731
        (F.col(a) == F.col("u")) & (F.col(b) < F.col("v"))
    )
    kept = t.filter(
        ~(
            (F.col("n1").isNotNull() & smaller("e1a", "e1b"))
            | (F.col("n2").isNotNull() & smaller("e2a", "e2b"))
        )
    ).select("u", "v", "w")
    kept = local_checkpoint(kept, eager=False)
    td = (
        kept.select(F.col("u").alias("node"))
        .unionByName(kept.select(F.col("v").alias("node")))
        .unionByName(kept.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("td"))
    )
    return td, deg


def _edge_apply(store: DataFrame, delta: DataFrame):
    """The one signed-support net of the weighted edge store (pa, pb, w)
    under a per-edge support change ``delta`` (pa, pb, d; one row per
    edge): (t1, born, dead) = the t1 store (pa, pb, w) and the (pa, pb)
    edges whose support crosses 0 upward or down to it.  Arrivals are
    d > 0, erasures d < 0, a revision both; an edge set nets at unit
    support.  Only the delta's edges are merged — a delta-sized join,
    checkpointed; born and dead are checkpointed too, as the
    attribution kernel reads its marked set several times."""
    touched = local_checkpoint(
        delta.join(store, ["pa", "pb"], "left").select(
            "pa",
            "pb",
            F.coalesce(F.col("w"), F.lit(0)).alias("w0"),
            (F.coalesce(F.col("w"), F.lit(0)) + F.col("d")).alias("w1"),
        ),
        eager=False,
    )
    t1 = (
        store.join(touched.select("pa", "pb", "w1"), ["pa", "pb"], "left")
        .select("pa", "pb", F.coalesce("w1", "w").cast("long").alias("w"))
        .filter(F.col("w") > 0)
    )

    def crossing(cond) -> DataFrame:
        return local_checkpoint(touched.filter(cond).select("pa", "pb"), eager=False)

    w0, w1 = F.col("w0"), F.col("w1")
    return t1, crossing((w0 == 0) & (w1 > 0)), crossing((w0 > 0) & (w1 <= 0))


def _edge_degrees(edges: DataFrame) -> DataFrame:
    """(node, deg) over a canonical edge set — one count pass."""
    return (
        edges.select(F.col("pa").alias("node"))
        .unionByName(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )


def _tri_net(
    carried: DataFrame, deg: DataFrame | None, **deltas: tuple[int, DataFrame]
) -> DataFrame:
    """The one per-node triangle net: ``carried`` (node, tri_cnt) plus
    each ``name=(sign, (node, td))`` delta (created +1, destroyed −1),
    reported as column ``name``; kept where the count is > 0 and joined
    to ``deg`` when given.  A destroying delta only touches counted
    nodes, so it joins LEFT; a creating one joins full-outer."""
    out = carried.select("node", F.col("tri_cnt").alias("_base"))
    net = F.coalesce(F.col("_base"), F.lit(0))
    for name, (sign, td) in deltas.items():
        out = out.join(
            td.select("node", F.col("td").alias(name)),
            "node",
            "left" if sign < 0 else "full_outer",
        )
        net = net + sign * F.coalesce(F.col(name), F.lit(0))
    out = out.select(
        "node",
        net.cast("long").alias("tri_cnt"),
        *[F.coalesce(F.col(n), F.lit(0)).cast("long").alias(n) for n in deltas],
    ).filter(F.col("tri_cnt") > 0)
    if deg is None:
        return out
    return out.join(deg, "node").select("node", "deg", "tri_cnt", *deltas)


def incremental_triangles(lineitem: DataFrame) -> DataFrame:
    """Incremental per-node TRIANGLE-count maintenance under edge
    arrival (q246): a 20% slice of orders arrives against the t0 edge
    store and per-node triangle-count store.  At support 1 the
    arrival algebra is exact: every co-purchase edge comes from some
    order, and each order is base xor batch, so the new-edge set is
    pairs(batch orders) ∖ edge-store — the born edges of the unit-
    support net (:func:`_edge_apply`), and full edges = store ∪ new.
    (Support > 1 would additionally merge per-edge order
    counts — additive, the q243 subtractability class — not modeled
    here.)

    Delta counting: a new triangle is one containing ≥ 1 new edge.
    Each is counted EXACTLY ONCE by attributing it to its
    lexicographically-smallest new edge: every new edge (u, v) closes
    via ``array_intersect(adj(u), adj(v))`` over the full undirected
    adjacency arrays — per-edge cost O(deg(u) + deg(v)), NOT the
    oriented min-endpoint bound (the orientation trick trades that
    bound for materialized open wedges, which measured 4× slower;
    see _attributed_delta_counts) — then drop any closure one of
    whose other two edges is a new edge that sorts smaller.  Per-node
    ``tri_new`` explodes the kept triangles' corners; ``tri_cnt`` =
    carried + tri_new.  Degrees re-derive from the merged edge store
    (one count pass — degree is a store-sized stat, not quadratic
    work).

    The DuckDB oracle runs the FULL q110 pipeline over the whole
    lineitem AND over the base slice, emitting tri_new = full − base
    per node — so the driver hash-match proves both the maintained
    totals and the delta attribution itself, every round.  Output:
    (node, deg, tri_cnt, tri_new).

    Scale: wedge work is O(|new edges| · min-endpoint degree);
    everything else is store-sized scans and anti-joins.  Reference
    anchor: extension of q110 (``hw0``'s reference has no graphs);
    algorithm per Suri & Vassilvitskii WWW'11 adapted to deltas."""
    delta = _tri_delta_flag()
    base_pairs = local_checkpoint(
        _copurchase_pairs(lineitem.filter(~delta)), eager=False
    )
    # the q250 store-derivation trick: the carried triangle counts come
    # FROM the materialized edge store (one adjacency closure), never by
    # re-pairing the corpus a second time (measured on q250: one whole
    # pair-gen shuffle saved; applied here round 11)
    return _tri_insert(
        base_pairs,
        pairs_triangle_counts(base_pairs).select("node", "tri_cnt"),
        _copurchase_pairs(lineitem.filter(delta)),
    )


def _tri_insert(
    edges: DataFrame, carried: DataFrame, batch: DataFrame
) -> DataFrame:
    """The insert step of the graph stores (q246, q250): the ``batch``
    co-purchase edges (pa, pb) net into the edge set ``edges`` at unit
    support, and the triangles they close add to the ``carried``
    per-node counts.  Output: (node, deg, tri_cnt, tri_new)."""
    unit = F.lit(1).cast("long")  # support 1: the stores are edge sets
    _t1, e_new, _dead = _edge_apply(
        edges.withColumn("w", unit), batch.withColumn("d", unit)
    )
    # arrivals only add edges: t1 = store ∪ born, no store-sized join
    tri_new, deg = _attributed_delta_counts(e_new, edges.unionByName(e_new))
    return _tri_net(carried, deg, tri_new=(1, tri_new))


def _tri_sql_pipeline(pred: str, sfx: str, p_expr: str = "l_partkey") -> str:
    """One q110 triangle pipeline as suffixed CTEs over lineitem rows
    matching ``pred`` — composed twice by the incremental oracle.
    ``p_expr`` overrides the part-node expression (default keeps the
    q246/q247 oracle text byte-identical); q270's t1 pipeline passes
    the content-revision remap here."""
    return f"""
    op{sfx} AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS k, {p_expr} AS p FROM lineitem
      WHERE {pred}
    ),
    pairs{sfx} AS MATERIALIZED (
      SELECT a.p AS pa, b.p AS pb
      FROM op{sfx} a JOIN op{sfx} b ON a.k = b.k AND a.p < b.p
      GROUP BY a.p, b.p
    ),
    deg{sfx} AS MATERIALIZED (
      SELECT node, count(*) AS deg FROM (
        SELECT pa AS node FROM pairs{sfx}
        UNION ALL SELECT pb AS node FROM pairs{sfx}
      ) GROUP BY node
    ),
    oriented{sfx} AS MATERIALIZED (
      SELECT CASE WHEN (da.deg, pa) < (db.deg, pb) THEN pa ELSE pb END AS src,
             CASE WHEN (da.deg, pa) < (db.deg, pb) THEN pb ELSE pa END AS dst,
             CASE WHEN (da.deg, pa) < (db.deg, pb) THEN db.deg ELSE da.deg END AS dst_deg
      FROM pairs{sfx}
      JOIN deg{sfx} da ON da.node = pa JOIN deg{sfx} db ON db.node = pb
    ),
    tris{sfx} AS MATERIALIZED (
      SELECT w.src, w.v, w.w FROM (
        SELECT e1.src, e1.dst AS v, e2.dst AS w
        FROM oriented{sfx} e1 JOIN oriented{sfx} e2 ON e1.src = e2.src
        WHERE (e1.dst_deg, e1.dst) < (e2.dst_deg, e2.dst)
      ) w JOIN oriented{sfx} c ON c.src = w.v AND c.dst = w.w
    ),
    per_node{sfx} AS (
      SELECT node, count(*) AS tri_cnt FROM (
        SELECT src AS node FROM tris{sfx}
        UNION ALL SELECT v AS node FROM tris{sfx}
        UNION ALL SELECT w AS node FROM tris{sfx}
      ) GROUP BY node
    )"""


def incremental_triangles_sql() -> str:
    """DuckDB twin: the FULL q110 pipeline over the whole graph AND
    over the base slice; tri_new = full − base per node — proving both
    the maintained totals and the delta attribution."""
    return f"""
    WITH {_tri_sql_pipeline("TRUE", "_f")},
    {_tri_sql_pipeline(f"NOT {_tri_delta_sql()}", "_b")}
    SELECT f.node, d.deg, f.tri_cnt,
           cast(f.tri_cnt - coalesce(b.tri_cnt, 0) as bigint) AS tri_new
    FROM per_node_f f
    JOIN deg_f d ON d.node = f.node
    LEFT JOIN per_node_b b ON b.node = f.node
    """


INCR_TRD_BUCKETS = 10  # l_orderkey hash bucket 0 (salt below) = deleted


def _tri_deleted_flag(col: str = "l_orderkey"):
    return hash_bucket(col, "itrd", INCR_TRD_BUCKETS) == 0


def _tri_deleted_sql(col: str = "l_orderkey") -> str:
    from ..functions.hashing import portable_hash64_sql

    return (
        f"(({portable_hash64_sql(f'cast({col} as varchar)', 'itrd')}"
        f" % {INCR_TRD_BUCKETS}) = 0)"
    )


def _weighted_pairs(lineitem: DataFrame) -> DataFrame:
    """(pa, pb, w): canonical co-purchase edges with their supporting-
    order counts — the WEIGHTED edge-store row format deletion needs
    (an edge dies only when its LAST supporting order does)."""
    return _weighted_pairs_from_baskets(_grouped_baskets(_kp(lineitem)))


def _weighted_pairs_from_baskets(bk: DataFrame) -> DataFrame:
    """(pa, pb, w) off already-grouped (k, ps) baskets — the shared-
    grouping entry point of the delta cells (see :func:`_grouped_baskets`)."""
    return (
        _pairs_from_baskets(bk)
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("long").alias("w"))
    )


def _t0_graph(lineitem, flag):
    """(weighted edge store, the flagged orders' baskets, carried
    per-node counts) at t0 for q247/q270, the stores checkpointed.

    ONE corpus grouping serves the weighted store AND the slice (round
    12, guide §1.2/§2.4: every order-slice flag is a function of the
    order key, so the slice's baskets are a filter over the
    checkpointed grouping, not a second scan and shuffle of the 10%
    slice).  The carried counts derive from the materialized weighted
    store (the q250 trick — no second corpus pairing; see
    incremental_triangles)."""
    bk = local_checkpoint(_grouped_baskets(_kp(lineitem)), eager=False)
    store = local_checkpoint(_weighted_pairs_from_baskets(bk), eager=False)
    carried = pairs_triangle_counts(store.select("pa", "pb"))
    return store, bk.filter(flag("k")), carried.select("node", "tri_cnt")


def _erase_orders(store: DataFrame, erased: DataFrame, carried: DataFrame):
    """The erasure net of q247 and q250's vacuum: the erased orders'
    (k, ps) baskets lower the weighted ``store``'s support
    (:func:`_edge_apply`).  Returns (the t1 store, per-node (node,
    tri_cnt, tri_removed) = ``carried`` − destroyed), the destroyed
    triangles counted in the t0 graph they lived in."""
    t1, _born, dead = _edge_apply(
        store,
        _weighted_pairs_from_baskets(erased).select(
            "pa", "pb", (-F.col("w")).alias("d")
        ),
    )
    destroyed, _t0_deg = _attributed_delta_counts(
        dead, store.select("pa", "pb"), broadcast_marked=False
    )
    return t1, _tri_net(carried, None, tri_removed=(-1, destroyed))


def delete_aware_triangles(lineitem: DataFrame) -> DataFrame:
    """Deletion-side triangle maintenance (q247) — the takedown shape
    on the graph family (GDPR erasure of orders): a deterministic 10%
    order slice is erased.  Unlike the vector/lexical stores, an edge
    is NOT 1:1 with an arriving unit — it is supported by every order
    that co-purchased the pair — so the edge store is WEIGHTED
    (pa, pb, w = supporting-order count; the support>1 upgrade q246's
    docstring flagged), and deletion kills an edge only when the
    deleted orders account for ALL of its support: the support net
    (:func:`_edge_apply`, d = −deleted-order pair counts) marks an edge
    dead when its support reaches 0 — one |deleted|-bounded
    aggregation + one store join, never a re-pairing of the remaining
    corpus.  Destroyed triangles are the t0 triangles
    touching ≥ 1 removed edge, counted exactly once by q246's
    smallest-removed-edge attribution over the t0 adjacency arrays;
    per-node tri_cnt = carried − destroyed, deg from the surviving
    edges.

    The DuckDB oracle runs the FULL q110 pipeline over the remaining
    corpus AND over the whole corpus, emitting tri_removed = base −
    remaining per node — the driver hash-match proves the maintained
    totals and the destruction attribution every round.  Output:
    (node, deg, tri_cnt, tri_removed), nodes still in ≥ 1 triangle.

    Scale: O(|deleted-order pairs|) + store-sized joins + per-removed-
    edge intersections; the corpus-sized closure never re-runs."""
    return _tri_erase(*_t0_graph(lineitem, _tri_deleted_flag))


def _tri_erase(
    store: DataFrame, erased: DataFrame, carried: DataFrame
) -> DataFrame:
    """The delete step of the graph stores (q247): the ``erased``
    orders' (k, ps) baskets net out of the weighted ``store``
    (:func:`_erase_orders`).  Output: (node, deg, tri_cnt,
    tri_removed)."""
    survivors, tri = _erase_orders(store, erased, carried)
    # q247's deg comes from the SURVIVING edges
    return tri.join(_edge_degrees(survivors), "node").select(
        "node", "deg", "tri_cnt", "tri_removed"
    )


def delete_aware_triangles_sql() -> str:
    """DuckDB twin: the FULL q110 pipeline over the remaining corpus
    AND the whole corpus; tri_removed = base − remaining per node."""
    return f"""
    WITH {_tri_sql_pipeline(f"NOT {_tri_deleted_sql()}", "_r")},
    {_tri_sql_pipeline("TRUE", "_b")}
    SELECT r.node, d.deg, r.tri_cnt,
           cast(coalesce(b.tri_cnt, 0) - r.tri_cnt as bigint) AS tri_removed
    FROM per_node_r r
    JOIN deg_r d ON d.node = r.node
    LEFT JOIN per_node_b b ON b.node = r.node
    """


INCR_TRU_BUCKETS = 10  # l_orderkey hash bucket 0 (salt "itru") = revised
_TRI_REMAP_MOD = 3     # 1/3 of a revised order's parts swap out
_TRI_REMAP_OFFSET = 10_000_000  # remapped part-node id offset (> any partkey)


def _tri_revised_flag(col: str = "l_orderkey"):
    return hash_bucket(col, "itru", INCR_TRU_BUCKETS) == 0


def _tri_revised_sql(col: str = "l_orderkey") -> str:
    from ..functions.hashing import portable_hash64_sql

    return (
        f"(({portable_hash64_sql(f'cast({col} as varchar)', 'itru')}"
        f" % {INCR_TRU_BUCKETS}) = 0)"
    )


def _tri_remap_flag(k, p):
    from ..functions.hashing import portable_hash64

    pair = F.concat_ws("|", k.cast("string"), p.cast("string"))
    return portable_hash64(pair, salt="itrm") % _TRI_REMAP_MOD == 0


def _tri_remap_sql(k: str = "l_orderkey", p: str = "l_partkey") -> str:
    from ..functions.hashing import portable_hash64_sql

    pair = f"concat(cast({k} as varchar), '|', cast({p} as varchar))"
    return f"(({portable_hash64_sql(pair, 'itrm')} % {_TRI_REMAP_MOD}) = 0)"


def _op_t1(lineitem: DataFrame) -> DataFrame:
    """(k, p) order-part rows AFTER content revision: for revised
    orders (salt "itru"), 1/3 of the parts (salt "itrm" on the (order,
    part) pair) swap to new part nodes at ``p + _TRI_REMAP_OFFSET`` —
    payload bytes genuinely move, dropping old pairs AND minting new
    ones in the same batch.  The remap is injective (offset exceeds
    every real partkey), so distinct (k, p) rows stay distinct."""
    op = lineitem.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p")
    ).distinct()
    remapped = F.when(
        _tri_revised_flag("k") & _tri_remap_flag(F.col("k"), F.col("p")),
        F.col("p") + F.lit(_TRI_REMAP_OFFSET),
    ).otherwise(F.col("p"))
    return op.select("k", remapped.alias("p"))


def upsert_aware_triangles(lineitem: DataFrame) -> DataFrame:
    """UPSERT-side triangle maintenance (q270 — VERDICT r10 #5, the
    graph family's missing arrival shape: q246 insert / q247 delete /
    q248 stream / q250 vacuum existed; this is order-content
    MODIFICATION, support moving up AND down in ONE pass): a 10% order
    slice revises its content between snapshots — removed (order,
    part) pairs DECREMENT the weighted edge store's support, added
    pairs INCREMENT it, edges die exactly when support nets to zero
    and are born when it rises from zero, in one merge.

    The per-edge support delta derives from the REVISED orders only
    (c_new − c_old per canonical pair — |revised|-bounded, never a
    re-pairing of the corpus); the support net (:func:`_edge_apply`)
    merges only the delta's edges into the store.  Triangle
    maintenance runs BOTH q247's and q246's kernels in the same pass: destroyed = t0 triangles touching
    ≥ 1 removed edge (attributed over the t0 adjacency), created = t1
    triangles touching ≥ 1 added edge (attributed over the t1
    adjacency) — the two sets are provably disjoint (a destroyed
    triangle lost an edge, a created one gained one), so per-node
    tri_cnt = carried − destroyed + created is exact.  Simultaneous
    create-and-destroy in one batch is pinned in
    ``tests/test_incremental_triangles.py`` (the q232 split+merge
    discipline).

    The DuckDB oracle runs the FULL q110 pipeline over the t0 AND t1
    graphs, derives removed/added as the pair-set differences, and
    counts destroyed/created directly off the full triangle lists —
    a physically different derivation, so the driver hash-match proves
    the delta algebra, not just the totals.  Output: (node, deg,
    tri_cnt, tri_created, tri_destroyed), nodes in ≥ 1 t1 triangle.

    Scale: delta is |revised-order pairs|; the net is one delta-sized
    join against the store; both kernels are per-marked-edge
    O(deg(u) + deg(v)) intersections (AQE picks the probe strategy —
    the q247 broadcast caveat applies to both directions).  Reference
    anchor: extends q110/q246/q247 (Suri & Vassilvitskii WWW'11,
    adapted to bidirectional deltas)."""
    return _tri_revise(*_t0_graph(lineitem, _tri_revised_flag))


def _tri_revise(
    store: DataFrame, rev_bk: DataFrame, carried: DataFrame
) -> DataFrame:
    """The upsert step of the graph stores (q270): the revised orders'
    t0 (k, ps) baskets ``rev_bk`` and their t1 remap net their support
    change into the weighted ``store``; the destroyed and created
    triangles net into the ``carried`` counts.  Output: (node, deg,
    tri_cnt, tri_created, tri_destroyed)."""
    c_old = _weighted_pairs_from_baskets(rev_bk).select(
        "pa", "pb", F.col("w").alias("co")
    )
    # t1 content: remap is per (order, part) and injective, so the t1
    # baskets are a row-local array transform of the SAME grouped rows
    remapped = F.transform(
        F.col("ps"),
        lambda p: F.when(
            _tri_remap_flag(F.col("k"), p), p + F.lit(_TRI_REMAP_OFFSET)
        ).otherwise(p),
    )
    c_new = _weighted_pairs_from_baskets(
        rev_bk.select("k", F.sort_array(remapped).alias("ps"))
    ).select("pa", "pb", F.col("w").alias("cn"))
    delta = (
        c_old.join(c_new, ["pa", "pb"], "full_outer")
        .select(
            "pa",
            "pb",
            (
                F.coalesce(F.col("cn"), F.lit(0))
                - F.coalesce(F.col("co"), F.lit(0))
            ).alias("d"),
        )
        .filter(F.col("d") != 0)
    )
    _t1, added, removed = _edge_apply(store, delta)
    # ONE edge-set shuffle builds the t0 adjacency; the t1 adjacency is
    # its per-node array edit under the delta-sized removed/added sets
    # (round 12 — the old plan re-shuffled the full t1 edge set into a
    # second groupBy; see _adj_apply_delta)
    adj0 = _undirected_adj(store.select("pa", "pb"))
    destroyed, _t0_deg = _attributed_delta_counts(
        removed, broadcast_marked=False, adj=adj0
    )
    adj1 = _adj_apply_delta(adj0, removed, added)
    created, deg = _attributed_delta_counts(
        added, broadcast_marked=False, adj=adj1
    )
    return _tri_net(
        carried,
        deg,
        tri_created=(1, created),
        tri_destroyed=(-1, destroyed),
    )


def upsert_aware_triangles_sql() -> str:
    """DuckDB twin: the FULL q110 pipeline over the t0 AND t1 graphs;
    removed/added = pair-set differences; destroyed/created counted
    directly off the full triangle lists (no attribution needed — each
    triangle appears once, so a plain any-edge-marked test suffices)."""
    t1_p = (
        f"CASE WHEN {_tri_revised_sql()} AND {_tri_remap_sql()}"
        f" THEN l_partkey + {_TRI_REMAP_OFFSET} ELSE l_partkey END"
    )
    tri_edges = lambda sfx: f"""(
      SELECT src, v, w, least(src, v) AS ea, greatest(src, v) AS eb FROM tris{sfx}
      UNION ALL
      SELECT src, v, w, least(src, w), greatest(src, w) FROM tris{sfx}
      UNION ALL
      SELECT src, v, w, least(v, w), greatest(v, w) FROM tris{sfx}
    )"""
    return f"""
    WITH {_tri_sql_pipeline("TRUE", "_0")},
    {_tri_sql_pipeline("TRUE", "_1", p_expr=t1_p)},
    removed AS (
      SELECT pa, pb FROM pairs_0 EXCEPT SELECT pa, pb FROM pairs_1
    ),
    added AS (
      SELECT pa, pb FROM pairs_1 EXCEPT SELECT pa, pb FROM pairs_0
    ),
    hit0 AS (
      SELECT DISTINCT src, v, w
      FROM {tri_edges('_0')} te JOIN removed r ON te.ea = r.pa AND te.eb = r.pb
    ),
    hit1 AS (
      SELECT DISTINCT src, v, w
      FROM {tri_edges('_1')} te JOIN added a ON te.ea = a.pa AND te.eb = a.pb
    ),
    destroyed AS (
      SELECT node, count(*) AS td FROM (
        SELECT src AS node FROM hit0
        UNION ALL SELECT v FROM hit0
        UNION ALL SELECT w FROM hit0
      ) GROUP BY node
    ),
    created AS (
      SELECT node, count(*) AS tc FROM (
        SELECT src AS node FROM hit1
        UNION ALL SELECT v FROM hit1
        UNION ALL SELECT w FROM hit1
      ) GROUP BY node
    )
    SELECT f.node, d.deg, f.tri_cnt,
           cast(coalesce(c.tc, 0) as bigint) AS tri_created,
           cast(coalesce(ds.td, 0) as bigint) AS tri_destroyed
    FROM per_node_1 f
    JOIN deg_1 d ON d.node = f.node
    LEFT JOIN created c ON c.node = f.node
    LEFT JOIN destroyed ds ON ds.node = f.node
    """


# -- Graph-store lifecycle: vacuum + post-vacuum refresh (q250) ----------------
#
# q246/q247 maintain the weighted edge store + per-node triangle-count store
# but nothing ever REWROTE them after a deletion cycle (VERDICT r9 missing
# #2): a daily refresh loop accretes dead weighted edges and small files.
# Unlike the LSH/IVF stores, the edge store's vacuum is NOT a pure anti-join
# — a deleted order only decrements surviving edges' support counts — so the
# rewrite is computed (w −= deleted-order support, kill rows at 0) and
# committed as the next store version (``sources/publish.py``) together
# with the triangle-count store, rewritten with the destroyed-triangle
# attribution.  The proof: the NEXT
# q246 arrival refresh, reading the vacuumed stores back from parquet,
# hash-matches the full recompute over the post-delete corpus.


def vacuumed_triangle_refresh(
    spark, lineitem: DataFrame, stage_dir: str | None = None
) -> DataFrame:
    """The full GRAPH-store lifecycle in one query (q250 — q235's
    discipline on the triangle family): the t0 weighted edge store and
    per-node triangle-count store are built from the pre-arrival corpus
    (written as many small files — refresh-loop accretion), a deletion
    cycle erases the 10% order slice (restricted to t0 orders — an
    order that hasn't arrived yet cannot be erased), both stores are
    VACUUMED — edge weights decremented by the deleted orders' support
    with zero-support edges physically dropped, triangle counts
    decremented by the exact destroyed-triangle attribution, both
    rewritten compacted and committed together as v2 — and the NEXT
    arrival refresh (q246's step, :func:`_tri_insert`) runs reading the
    vacuumed stores back from parquet.

    The DuckDB oracle runs the FULL q110 pipeline over the post-delete
    corpus AND over the post-delete base, emitting tri_new = full −
    base per node — so the driver hash-match proves the weight algebra,
    the destruction attribution, the store rewrite, AND the post-vacuum
    refresh in one identity.  Both rewrites read the t0 graph from v1,
    which no publish overwrites, so their write order is free.  File
    shrinkage and vacuumed == unvacuumed equality are pinned in
    ``tests/test_incremental_triangles.py``.

    Scale: the vacuum is one |deleted|-bounded aggregation + store-sized
    joins + one write per store, run on the compaction cadence; the
    refresh stays O(|new edges| · degree).  Output: (node, deg,
    tri_cnt, tri_new).  Reference anchor: extension of q110."""
    from ..sources.publish import (
        commit_version,
        publish_version,
        read_current,
        read_version,
        write_store_version,
    )
    from ..staging import staging_dir

    root = stage_dir or staging_dir(prefix="bdm_tri_vacuum_")

    delta = _tri_delta_flag()
    deleted = _tri_deleted_flag()
    base_li = lineitem.filter(~delta)

    # t0 stores, written as refresh-loop accretion (8 small files each);
    # the triangle store derives FROM the persisted edge store — one
    # pair-gen shuffle instead of two (A/B of the build step at sf0.1:
    # 12.4-20.5 s -> 7.1-7.4 s; counts bit-identical).  The grouping is
    # checkpointed so the deletion cycle's support counts below derive
    # from the SAME baskets instead of re-scanning the 10% slice
    # (round 12, see _grouped_baskets)
    bk = local_checkpoint(_grouped_baskets(_kp(base_li)), eager=False)
    edges = _weighted_pairs_from_baskets(bk)
    write_store_version(edges.repartition(8), root, "edge_store", 1)
    store = read_version(spark, root, "edge_store", 1, edges.schema)
    tri = pairs_triangle_counts(store.select("pa", "pb")).select("node", "tri_cnt")
    write_store_version(tri.repartition(8), root, "tri_store", 1)
    commit_version(root, 1)

    # deletion cycle: q247's net against the persisted stores (the
    # merge is checkpointed, so the deleted-slice pair-gen runs once for
    # the kill test, the weight rewrite and the attribution kernel's
    # marked-set references)
    updated_edges, updated_tri = _erase_orders(
        store,
        bk.filter(_tri_deleted_flag("k")),
        read_current(spark, root, "tri_store", tri.schema),
    )
    updated_tri = updated_tri.select("node", "tri_cnt")
    # both rewrites derive from v1 (the t0 graph) and flip together
    publish_version(
        root,
        2,
        {"tri_store": updated_tri.coalesce(1), "edge_store": updated_edges.coalesce(1)},
    )

    # the NEXT arrival refresh, off the vacuumed stores
    return _tri_insert(
        local_checkpoint(
            read_current(spark, root, "edge_store", updated_edges.schema)
            .select("pa", "pb"),
            eager=False,
        ),
        read_current(spark, root, "tri_store", updated_tri.schema),
        _copurchase_pairs(lineitem.filter(delta)),
    )


def vacuumed_triangle_refresh_sql() -> str:
    """DuckDB twin: the FULL q110 pipeline over the post-delete corpus
    (deletion restricted to pre-arrival orders) AND over the post-delete
    base; tri_new = full − base per node — the identity the vacuumed-
    store refresh must reproduce."""
    del_eff = f"({_tri_deleted_sql()} AND NOT {_tri_delta_sql()})"
    base_pred = f"(NOT {_tri_delta_sql()} AND NOT {_tri_deleted_sql()})"
    return f"""
    WITH {_tri_sql_pipeline(f"NOT {del_eff}", "_f")},
    {_tri_sql_pipeline(base_pred, "_b")}
    SELECT f.node, d.deg, f.tri_cnt,
           cast(f.tri_cnt - coalesce(b.tri_cnt, 0) as bigint) AS tri_new
    FROM per_node_f f
    JOIN deg_f d ON d.node = f.node
    LEFT JOIN per_node_b b ON b.node = f.node
    """
