"""Materialized JOIN-view maintenance — the delta-rule sibling of the
aggregate-view matrix (``operators/aggview.py``).

The view is the denormalized ``orders ⋈ customer`` serving store (the
thing a 100 TB pipeline materializes so per-order reads never pay the
join).  Unlike the single-table agg view, maintaining a join view under
arrivals on BOTH base tables needs the classic incremental-view-
maintenance delta rule:

    Δ(O ⋈ C) = ΔO ⋈ C₀  ∪  O₀ ⋈ ΔC  ∪  ΔO ⋈ ΔC

Each term is delta-sided (joins a 10–20 % arrival slice against a base
side or another delta — never the full O ⋈ C recompute), and the three
terms plus the stored t0 view exactly PARTITION the new join: the
driver oracle computes the full t1 join with per-row provenance from
the same arrival flags, so the hash-match proves no joined row is
dropped or double-counted across terms.

The term worth staring at is ``O₀ ⋈ ΔC``: a base order whose customer
had not arrived at t0 is NOT in the t0 view (inner join), and joins
for the first time when its customer lands — referential integrity
resolving late is what makes join-view IVM more than two independent
appends (pinned with a planted fixture in ``tests/test_ivm_views.py``).

Retraction has ONE rule, :func:`apply`: the stored rows a cycle hits
leave, the rows it derives enter, and the result is the rollup of
surviving ∪ added with every group a row left or entered labelled
``adjusted``.  DELETE (q280) ripples from the dimension: erasing a
customer retracts EVERY view row of that customer, erasing an order
only its own row (the q253 two-anti-filter discipline).  UPSERT (q285)
retracts the revised entities' rows and re-adds them revised — a
re-segmented customer MOVES its rows between groups.  The in-plan
default and an injected or persisted store differ only in how the
retracted rows are selected (:func:`_t0_store`): by a flag test on the
store's own key columns, or by the cycle's key sets.

Scale: every maintenance term shuffles (or broadcasts) a delta slice;
the stored view moves verbatim.  At 100 TB the t0 view is the persisted
store (``view_store`` injects it for the roundtrip tests; the in-plan
default derives it as the driver-contract stand-in).  Round-12 note:
with NO injected store the slice-joins are the same physical join cut
several ways, so the in-plan paths collapse them into ONE flagged or
materialized join (guide §1.2/§2.4; the roundtrip tests pin derived ==
injected, so the delta-sided store paths stay exercised and
equivalent).

Reference anchor: extension of the J-family star joins
(``hw2/BDM_hw2_final.py:176-199`` — the reference re-joins from scratch
every run; it has no persisted view and no delta maintenance).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash_bucket, hash_bucket_sql


def _N():
    # lazy: plans/__init__ imports queries which imports this module
    from ..plans import numerics

    return numerics


#: deterministic arrival/deletion slices (own salts — orders and
#: customers arrive independently, which is what forces the ΔO⋈ΔC term)
JV_BUCKETS = 10
JV_ORD_HIST = 8    # salt "jvo": buckets 0-7 = base orders, 8-9 arriving (20%)
JV_CUST_HIST = 9   # salt "jvc": buckets 0-8 = base customers, 9 arriving (10%)
JV_ORD_DEAD = 0    # salt "jdo": bucket 0 = deleted order (10%)
JV_CUST_DEAD = 0   # salt "jdc": bucket 0 = erased customer (10%)


def order_arrival_flag(col: str = "o_orderkey"):
    return hash_bucket(col, "jvo", JV_BUCKETS) >= JV_ORD_HIST


def order_arrival_sql(col: str = "o_orderkey") -> str:
    return f"({hash_bucket_sql(col, 'jvo', JV_BUCKETS)} >= {JV_ORD_HIST})"


def cust_arrival_flag(col: str = "c_custkey"):
    return hash_bucket(col, "jvc", JV_BUCKETS) >= JV_CUST_HIST


def cust_arrival_sql(col: str = "c_custkey") -> str:
    return f"({hash_bucket_sql(col, 'jvc', JV_BUCKETS)} >= {JV_CUST_HIST})"


def order_dead_flag(col: str = "o_orderkey"):
    return hash_bucket(col, "jdo", JV_BUCKETS) == JV_ORD_DEAD


def order_dead_sql(col: str = "o_orderkey") -> str:
    return f"({hash_bucket_sql(col, 'jdo', JV_BUCKETS)} = {JV_ORD_DEAD})"


def cust_dead_flag(col: str = "c_custkey"):
    return hash_bucket(col, "jdc", JV_BUCKETS) == JV_CUST_DEAD


def cust_dead_sql(col: str = "c_custkey") -> str:
    return f"({hash_bucket_sql(col, 'jdc', JV_BUCKETS)} = {JV_CUST_DEAD})"


#: view row payload (what the denormalized store persists per order)
_VIEW_COLS = ("o_orderkey", "c_custkey", "c_mktsegment", "o_orderstatus")


def join_view_rows(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """One delta term / the stored view: inner ``orders ⋈ customer`` on
    the customer key, projected to the serving payload."""
    return orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    ).select(*_VIEW_COLS, "o_totalprice")


def _rollup(view: DataFrame, *by: str) -> DataFrame:
    """Small audit rollup of a maintained view: per (segment,
    status, *by) row counts + exact revenue."""
    N = _N()
    return (
        view.groupBy("c_mktsegment", "o_orderstatus", *by)
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            N.exact_sum(F.col("o_totalprice")).alias("sum_totalprice"),
        )
    )


def apply(store: DataFrame, gone, added: DataFrame | None) -> DataFrame:
    """The view's ONE maintenance rule under retraction: the stored
    rows matching the predicate ``gone`` leave, the ``added`` rows
    enter, and the result is the rollup of surviving ∪ added with each
    group labelled ``adjusted`` when a row left or entered it, else
    ``carried`` — the label a refresh scheduler invalidates by.  The
    stored view rows are never recomputed: the retraction is a filter
    of the store and the labels come from the |moved rows|-sided group
    sets.  ``store`` is read twice (the caller materializes it)."""
    group = ["c_mktsegment", "o_orderstatus"]
    cols = ["c_custkey", *group, "o_totalprice"]
    rows = store.filter(~gone).select(*cols)
    moved = store.filter(gone).select(*group)
    if added is not None:
        rows = rows.unionByName(added.select(*cols))
        moved = moved.unionByName(added.select(*group))
    touched = moved.distinct().withColumn("touched", F.lit(True))
    return _rollup(rows).join(touched, group, "left").select(
        *group,
        F.when(F.col("touched"), "adjusted").otherwise("carried").alias("src"),
        "n_orders",
        "n_customers",
        "sum_totalprice",
    )


def _t0_store(
    orders: DataFrame,
    customer: DataFrame,
    view_store: DataFrame | None,
    order_flag,
    cust_flag,
) -> DataFrame:
    """The materialized t0 view with each row tagged ``__o``/``__c``
    when the cycle hits its order/customer key — ``__o | __c`` selects
    the rows :func:`apply` retracts.  A persisted store meets the
    cycle's feed as key sets, tagged onto its rows by two left joins.
    The in-plan default derives the store from the base tables, where
    the hit sets are pure functions of the store's OWN key columns — so
    membership is a flag test on one materialized store scan (round 12,
    guide §1.2/§2.4; the q253 anti-filters-ARE-the-maintenance
    discipline, oracle-verified hash-identical)."""
    from ..checkpoints import local_checkpoint

    if view_store is None:
        store = join_view_rows(orders, customer).withColumns(
            {"__o": order_flag, "__c": cust_flag}
        )
    else:
        o_keys = orders.filter(order_flag).select("o_orderkey")
        c_keys = customer.filter(cust_flag).select("c_custkey")
        store = (
            view_store.join(
                o_keys.withColumn("__o", F.lit(True)), "o_orderkey", "left"
            )
            .join(c_keys.withColumn("__c", F.lit(True)), "c_custkey", "left")
            .fillna(False, subset=["__o", "__c"])
        )
    return local_checkpoint(store, eager=False)


def _flagged_join(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """The full ``orders ⋈ customer`` join with both arrival flags
    attached — ONE physical join whose (ao, ac) cross-product exactly
    partitions the four delta-rule terms (each term is the same equi-
    join restricted to one flag combination, so term-union == flagged
    join; the DuckDB oracle derives its provenance the same way)."""
    return orders.withColumn("__ao", order_arrival_flag()).join(
        customer.withColumn("__ac", cust_arrival_flag()),
        orders["o_custkey"] == customer["c_custkey"],
    )


def _src_case():
    # built lazily: Column construction needs an active SparkContext
    return (
        F.when(F.col("__ao") & F.col("__ac"), "d_both")
        .when(F.col("__ao"), "d_orders")
        .when(F.col("__ac"), "d_cust")
        .otherwise("base")
    )


def incremental_join_view(
    orders: DataFrame,
    customer: DataFrame,
    view_store: DataFrame | None = None,
) -> DataFrame:
    """INSERT maintenance (q279): the t1 view assembled as stored-t0 ∪
    the three delta-rule terms, each tagged with its term name so the
    oracle's per-row provenance proves the partition is exact.

    ``view_store`` injects the persisted t0 view (roundtrip test) and
    keeps the maintenance delta-sided: the store moves verbatim and the
    three delta terms join arrival slices only.  The in-plan default
    has no persisted store — its "base" term is itself the o0 ⋈ c0
    join, so the four slice-joins are the SAME physical join cut four
    ways; round 12 collapses them into one flagged join (guide §1.2
    one-pass / §2.4 shared exchange: 4 joins + 16 scans → 1 join +
    2 scans, oracle-verified hash-identical)."""
    if view_store is None:
        view = _flagged_join(orders, customer).select(
            *_VIEW_COLS, "o_totalprice", _src_case().alias("src")
        )
        return _rollup(view, "src")
    o0 = orders.filter(~order_arrival_flag())
    do = orders.filter(order_arrival_flag())
    c0 = customer.filter(~cust_arrival_flag())
    dc = customer.filter(cust_arrival_flag())
    view = reduce(DataFrame.unionByName, [
        view_store.withColumn("src", F.lit("base")),
        join_view_rows(do, c0).withColumn("src", F.lit("d_orders")),
        join_view_rows(o0, dc).withColumn("src", F.lit("d_cust")),
        join_view_rows(do, dc).withColumn("src", F.lit("d_both")),
    ])
    return _rollup(view, "src")


def incremental_join_view_sql(
    orders: str = "orders", customer: str = "customer"
) -> str:
    """DuckDB twin: the FULL t1 join with per-row provenance from the
    same arrival flags — the identity the four-term union must hit."""
    N = _N()
    return f"""
    SELECT c_mktsegment, o_orderstatus,
           CASE WHEN {order_arrival_sql()} AND {cust_arrival_sql()}
                  THEN 'd_both'
                WHEN {order_arrival_sql()} THEN 'd_orders'
                WHEN {cust_arrival_sql()} THEN 'd_cust'
                ELSE 'base' END AS src,
           count(*) AS n_orders,
           count(DISTINCT c_custkey) AS n_customers,
           {N.exact_sum_sql('o_totalprice')} AS sum_totalprice
    FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2, 3
    """


def delete_ripple_join_view(
    orders: DataFrame,
    customer: DataFrame,
    view_store: DataFrame | None = None,
) -> DataFrame:
    """DELETE maintenance (q280): the erasure cycle hits BOTH base
    tables — deleted orders retract their own view row; erased
    customers retract EVERY view row of that customer (the dimension-
    side ripple, which is what distinguishes join-view deletion from
    per-row tombstoning).  Both retractions select stored view rows by
    key (:func:`_t0_store`) and :func:`apply` drops them — the view
    rows are never recomputed, and the surviving-group provenance
    (``adjusted`` ⇔ the group lost at least one row) comes from the
    retracted rows' groups.

    The oracle recomputes the rollup from surviving base rows with the
    same bool_or provenance, so the hash-match proves
    retraction-by-key == row-level re-filter.  ``view_store`` injects
    the persisted t0 view (roundtrip test)."""
    store = _t0_store(
        orders, customer, view_store, order_dead_flag(), cust_dead_flag()
    )
    return apply(store, F.col("__o") | F.col("__c"), None)


def delete_ripple_join_view_sql(
    orders: str = "orders", customer: str = "customer"
) -> str:
    """Full join over ALL base rows; survivors aggregate FILTER-ed so
    the provenance can still see the deleted rows (q258 pattern)."""
    N = _N()
    dead = f"({order_dead_sql()} OR {cust_dead_sql()})"
    return f"""
    SELECT * FROM (
      SELECT c_mktsegment, o_orderstatus,
             CASE WHEN bool_or({dead}) THEN 'adjusted'
                  ELSE 'carried' END AS src,
             count(*) FILTER (WHERE NOT {dead}) AS n_orders,
             count(DISTINCT c_custkey) FILTER (WHERE NOT {dead})
               AS n_customers,
             {N.dbl_sql(
                 f"sum(cast(o_totalprice as {N.DEC}))"
                 f" FILTER (WHERE NOT {dead})"
             )} AS sum_totalprice
      FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ) WHERE n_orders > 0
    """


# -- upsert (q285): fact revision + rippling dimension-attribute change ------

JV_ORD_REV = 0   # salt "juo": bucket 0 = revised order (10%)
JV_CUST_REV = 0  # salt "juc": bucket 0 = re-segmented customer (10%)
#: exact-in-double increments (the q259 rule: decimal casts stay lossless)
UPD_PRICE_DELTA = 50.0


def order_rev_flag(col: str = "o_orderkey"):
    return hash_bucket(col, "juo", JV_BUCKETS) == JV_ORD_REV


def order_rev_sql(col: str = "o_orderkey") -> str:
    return f"({hash_bucket_sql(col, 'juo', JV_BUCKETS)} = {JV_ORD_REV})"


def cust_rev_flag(col: str = "c_custkey"):
    return hash_bucket(col, "juc", JV_BUCKETS) == JV_CUST_REV


def cust_rev_sql(col: str = "c_custkey") -> str:
    return f"({hash_bucket_sql(col, 'juc', JV_BUCKETS)} = {JV_CUST_REV})"


def _revised_price(rev):
    return F.when(rev, F.col("o_totalprice") + F.lit(UPD_PRICE_DELTA)).otherwise(
        F.col("o_totalprice")
    )


def _resegmented(rev):
    return F.when(rev, F.concat(F.lit("R_"), F.col("c_mktsegment"))).otherwise(
        F.col("c_mktsegment")
    )


def upsert_ripple_join_view(
    orders: DataFrame,
    customer: DataFrame,
    view_store: DataFrame | None = None,
) -> DataFrame:
    """UPSERT maintenance (q285) — and the join-view-specific twist: a
    revised ORDER touches one view row (retract old price, add new —
    the q259 shape), but a revised DIMENSION ATTRIBUTE (customer
    re-segmented to ``R_<segment>``) ripples to EVERY view row of that
    customer, MOVING them between rollup groups: the old segment's
    group loses rows it never saw change, the new segment's group
    appears.  Maintenance is delta-sided through :func:`apply`: the
    revised entities' stored rows retract by key, their t1 rows enter,
    and every group that lost OR gained a row is ``adjusted`` (both
    ends of a move).

    The DuckDB oracle computes the full t1 join with old/new-segment
    provenance from the same flags, so the driver hash-match proves
    retract + re-derivation == recompute, group moves included.
    Scale: O(|store| + |revised slices| joins); the view is never
    rebuilt.

    With a persisted ``view_store`` the t1 rows re-derive from two
    delta joins (revised orders x t1 customers; unrevised orders x
    revised customers — disjoint by construction, so nothing double
    counts).  The in-plan default has no persisted store: a revised
    pair's t1 row is its stored row revised in place (keys never
    change), so one materialized join serves both sides (round 12,
    guide §1.2/§2.4: 6 joins + 24 scans → 1 join + 2 scans,
    oracle-verified hash-identical)."""
    o_rev = order_rev_flag()
    c_rev = cust_rev_flag()
    store = _t0_store(orders, customer, view_store, o_rev, c_rev)
    gone = F.col("__o") | F.col("__c")
    if view_store is None:
        added = store.filter(gone).withColumns({
            "o_totalprice": _revised_price(F.col("__o")),
            "c_mktsegment": _resegmented(F.col("__c")),
        })
    else:
        t1_o = orders.withColumn("o_totalprice", _revised_price(o_rev))
        t1_c = customer.withColumn("c_mktsegment", _resegmented(c_rev))
        added = join_view_rows(t1_o.filter(o_rev), t1_c).unionByName(
            join_view_rows(t1_o.filter(~o_rev), t1_c.filter(c_rev))
        )
    return apply(store, gone, added)


def upsert_ripple_join_view_sql(
    orders: str = "orders", customer: str = "customer"
) -> str:
    """Full t1 join with moved-group provenance: a group is adjusted
    iff a revised row lives there NOW (seg1) or lived there at t0
    (seg0) — both ends of a dimension-attribute move."""
    N = _N()
    return f"""
    WITH j AS (
      SELECT c_custkey, o_orderstatus,
             CASE WHEN {order_rev_sql()}
                  THEN o_totalprice + {UPD_PRICE_DELTA}
                  ELSE o_totalprice END AS o_totalprice,
             CASE WHEN {cust_rev_sql()} THEN 'R_' || c_mktsegment
                  ELSE c_mktsegment END AS seg1,
             c_mktsegment AS seg0,
             ({order_rev_sql()} OR {cust_rev_sql()}) AS rev
      FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
    ),
    touched AS (
      SELECT DISTINCT seg1 AS c_mktsegment, o_orderstatus FROM j WHERE rev
      UNION
      SELECT DISTINCT seg0, o_orderstatus FROM j WHERE rev
    )
    SELECT j.seg1 AS c_mktsegment, j.o_orderstatus,
           CASE WHEN t.c_mktsegment IS NOT NULL THEN 'adjusted'
                ELSE 'carried' END AS src,
           count(*) AS n_orders,
           count(DISTINCT j.c_custkey) AS n_customers,
           {N.exact_sum_sql('j.o_totalprice')} AS sum_totalprice
    FROM j LEFT JOIN touched t
      ON j.seg1 = t.c_mktsegment AND j.o_orderstatus = t.o_orderstatus
    GROUP BY 1, 2, 3
    """
