"""Materialized aggregate-view maintenance — the OLAP-store counterpart
of the index maintenance matrix (round 10).

The view is a monthly sales rollup over ``lineitem``:

    GROUP BY ship_month (= month of l_shipdate), l_returnflag
    AGG n_rows (count), sum_qty, revenue (exact decimals), max_price

and the maintained object is the PHYSICAL view store — the thing a
production pipeline refreshes instead of re-scanning 100 TB per query.
The design leans on Spark's own aggregation model: COUNT/SUM partials
are mergeable state (the map-side-combine algebra), so

* **insert** is a union of partials + one |groups|-sized combine —
  never a corpus re-scan;
* **delete/upsert** subtract exact decimal partials; MAX is NOT
  self-maintainable under retraction, so affected groups recompute it
  from THEIR remaining rows only (the q229/q247 bounded-recompute
  discipline applied to an aggregate);
* **stream** appends one partial-aggregate file set per micro-batch
  (append-only mergeable state — the Flink/Delta retract-stream shape)
  and serves by combine-on-read;
* **vacuum** compacts accreted partials — including NEGATIVE retraction
  partials from a deletion cycle — into one net row per group, dropping
  emptied groups and recomputing max for retraction-dirty groups.

Money/quantity arithmetic stays in exact decimals end-to-end (the
SURVEY §7.4 risk-7 rule): decimal partial sums are associative, so
merge order — store vs batch, 3 micro-batches, 8 accreted files —
cannot move a cent, and every maintained result hash-matches the full
DuckDB recompute.

Reference anchor: extension of ``hw2/BDM_hw2_final.py:203-206`` (the
reference recomputes its groupBy rollups from scratch every run; it has
no persisted view, no retraction handling, and no streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64, portable_hash64_sql


def _N():
    # lazy: plans/__init__ imports queries which imports THIS module —
    # a module-level `from ..plans import numerics` closes the cycle and
    # dies when tests import aggview first
    from ..plans import numerics

    return numerics

#: view group keys
VIEW_KEYS = ("ship_month", "l_returnflag")

#: deterministic order-level slices (own salts — independent of the
#: document-store events; an order arrives/deletes/revises wholesale)
AGV_BUCKETS = 10
AGV_INS_HIST = 8   # salt "iagv": buckets 0-7 = store, 8-9 = arrival batch
AGV_DEL_BUCKET = 0  # salt "dagv": bucket 0 = deleted
AGV_UPD_BUCKET = 0  # salt "uagv": bucket 0 = revised
#: the q259 revision: exact-in-double increments, so decimal casts stay
#: lossless on the revised values too
UPD_QTY_DELTA = 5.0
UPD_PRICE_DELTA = 100.0

STREAM_AGV_BATCHES = 3  # lineitem arrives as 3 hash-sliced micro-batches


def _flag(col: str, salt: str):
    return portable_hash64(F.col(col).cast("string"), salt=salt) % AGV_BUCKETS


def _flag_sql(col: str, salt: str) -> str:
    return (
        f"({portable_hash64_sql(f'cast({col} as varchar)', salt)}"
        f" % {AGV_BUCKETS})"
    )


def arrival_flag(col: str = "l_orderkey"):
    """True for rows of ARRIVING orders (20% hash slice, salt "iagv")."""
    return _flag(col, "iagv") >= AGV_INS_HIST


def arrival_flag_sql(col: str = "l_orderkey") -> str:
    return f"({_flag_sql(col, 'iagv')} >= {AGV_INS_HIST})"


def deleted_flag(col: str = "l_orderkey"):
    """True for rows of DELETED orders (10% hash slice, salt "dagv")."""
    return _flag(col, "dagv") == AGV_DEL_BUCKET


def deleted_flag_sql(col: str = "l_orderkey") -> str:
    return f"({_flag_sql(col, 'dagv')} = {AGV_DEL_BUCKET})"


def updated_flag(col: str = "l_orderkey"):
    """True for rows of REVISED orders (10% hash slice, salt "uagv")."""
    return _flag(col, "uagv") == AGV_UPD_BUCKET


def updated_flag_sql(col: str = "l_orderkey") -> str:
    return f"({_flag_sql(col, 'uagv')} = {AGV_UPD_BUCKET})"


def stream_batch_flag(col: str = "l_orderkey"):
    """Micro-batch id 0..2 per order (salt "sagv")."""
    return (
        portable_hash64(F.col(col).cast("string"), salt="sagv")
        % STREAM_AGV_BATCHES
    )


def stream_batch_sql(col: str = "l_orderkey") -> str:
    return (
        f"({portable_hash64_sql(f'cast({col} as varchar)', 'sagv')}"
        f" % {STREAM_AGV_BATCHES})"
    )


# -- partial-aggregate algebra ------------------------------------------------

#: exact decimal widths for the STORE: wide enough that partial sums never
#: overflow at any SF (decimal(20,2) rows summed into (30,2)/(30,4))
SUM_QTY_DEC = "decimal(30,2)"
REVENUE_DEC = "decimal(30,4)"


def _with_keys(li: DataFrame) -> DataFrame:
    # month as 'yyyy-MM' string: engine-portable (DATE columns cross the
    # Arrow/DuckDB comparison boundary with mismatched dtypes)
    return li.withColumn(
        "ship_month", F.date_format(F.col("l_shipdate"), "yyyy-MM")
    )


def agg_partials(li: DataFrame, *extra_keys) -> DataFrame:
    """Mergeable partial aggregates of a row set: COUNT/SUM in exact
    decimals (associative — merge order cannot move a cent), plus the
    per-partial MAX (mergeable under union, NOT under retraction).

    ``extra_keys`` appends slice columns to the grouping (the round-11
    one-pass derivations: ONE corpus scan produces per-slice partials
    whose associative combines reproduce every slice aggregate the
    maintenance cells previously re-scanned the corpus for — guide
    §1.2 "remove unnecessary passes")."""
    N = _N()
    return (
        _with_keys(li)
        .groupBy(*VIEW_KEYS, *extra_keys)
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(N.dec(F.col("l_quantity"))).cast(SUM_QTY_DEC).alias("sum_qty"),
            F.sum(N.revenue(F.col("l_extendedprice"), F.col("l_discount")))
            .cast(REVENUE_DEC)
            .alias("revenue"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


def combine_partials(parts: DataFrame, *extra) -> DataFrame:
    """Associative merge of partials: one |groups|-sized combine (sum
    the sums, max the maxes) — the map-side-combine algebra run
    store-side.  The ONE copy of the merge algebra: every maintenance
    cell (q257 merge, q260 serve, q261 vacuum net) routes through it,
    passing its provenance aggregates via ``extra``.  Under retraction
    partials the summed columns net correctly (negative rows cancel);
    MAX does not — retraction rows carry NULL max_price (ignored by
    ``F.max``) and the caller re-derives dirty groups (q261)."""
    return parts.groupBy(*VIEW_KEYS).agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("sum_qty").cast(SUM_QTY_DEC).alias("sum_qty"),
        F.sum("revenue").cast(REVENUE_DEC).alias("revenue"),
        F.max("max_price").alias("max_price"),
        *extra,
    )


def _as_output(view: DataFrame, *extra: str) -> DataFrame:
    """Store decimals -> comparable doubles at the output boundary."""
    return view.select(
        "ship_month",
        "l_returnflag",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("revenue").cast("double").alias("revenue"),
        "max_price",
        *extra,
    )


def _view_aggs_sql() -> str:
    N = _N()
    revenue = N.dbl_sql(
        f"sum({N.revenue_sql('l_extendedprice', 'l_discount')})"
    )
    return f"""
       count(*) AS n_rows,
       {N.exact_sum_sql('l_quantity')} AS sum_qty,
       {revenue}
         AS revenue,
       max(l_extendedprice) AS max_price"""


def _view_sql(table: str, src_expr: str) -> str:
    """Full-recompute DuckDB twin over ``table`` with a provenance
    column — the identity every maintenance cell must reproduce."""
    return f"""
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           l_returnflag,{_view_aggs_sql()},
           {src_expr} AS src
    FROM {table}
    GROUP BY 1, 2
    """


# -- insert (q257) ------------------------------------------------------------

def incremental_agg_view(
    li: DataFrame, view_store: DataFrame | None = None
) -> DataFrame:
    """INSERT maintenance (q257 — the q227 arrival shape on the OLAP
    view): the 20% arrival batch aggregates to partials, and the
    maintained view is one associative combine of store ∪ batch
    partials — O(|groups| + |batch|), never a corpus re-scan.  COUNT and
    the exact decimal SUMs merge by addition, MAX by max; provenance is
    'carried' (store-only group), 'new' (batch-only), 'merged' (both).

    The DuckDB oracle is the full rollup over the whole corpus with the
    same provenance split — the driver hash-match proves merge ==
    recompute every round.  ``view_store`` injects the persisted t0
    view (roundtrip test); default derives BOTH side's partials from
    ONE corpus scan grouped by (keys, arrival slice) — round 11, the
    base/batch split previously cost two scans (guide §1.2)."""
    if view_store is not None:
        store = view_store
        dv = agg_partials(li.filter(arrival_flag()))
        tagged = store.withColumn("in_store", F.lit(1)).withColumn(
            "in_batch", F.lit(0)
        ).unionByName(
            dv.withColumn("in_store", F.lit(0)).withColumn("in_batch", F.lit(1))
        )
    else:
        parts = agg_partials(li, arrival_flag().alias("arr"))
        tagged = parts.select(
            *VIEW_KEYS,
            "n_rows",
            "sum_qty",
            "revenue",
            "max_price",
            F.when(F.col("arr"), F.lit(0)).otherwise(F.lit(1)).alias("in_store"),
            F.when(F.col("arr"), F.lit(1)).otherwise(F.lit(0)).alias("in_batch"),
        )
    merged = combine_partials(
        tagged,
        F.max("in_store").alias("in_store"),
        F.max("in_batch").alias("in_batch"),
    )
    return _as_output(
        merged.withColumn(
            "src",
            F.when(F.col("in_store") + F.col("in_batch") == 2, "merged")
            .when(F.col("in_batch") == 1, "new")
            .otherwise("carried"),
        ),
        "src",
    )


def incremental_agg_view_sql(table: str = "lineitem") -> str:
    src = (
        f"CASE WHEN bool_or({arrival_flag_sql()})"
        f"          AND bool_or(NOT {arrival_flag_sql()}) THEN 'merged'"
        f"     WHEN bool_or({arrival_flag_sql()}) THEN 'new'"
        f"     ELSE 'carried' END"
    )
    return _view_sql(table, src)


# -- delete (q258) ------------------------------------------------------------

def apply_retractions(
    store: DataFrame,
    dead_partials: DataFrame,
    remaining_rows: DataFrame | None,
    remax: DataFrame | None = None,
) -> DataFrame:
    """Subtract the dead rows' exact partials (pre-aggregated by the
    caller, who also owns their materialization) from the store and
    recompute MAX for the affected groups only: COUNT/SUM retract by
    decimal subtraction (exact), groups emptied by the retraction drop
    out (n_rows = 0), and — since MAX is not self-maintainable under
    deletion — each affected group re-scans ITS remaining rows for the
    new max (semi-join bounded, the q229 discipline).  A caller that
    already holds per-group surviving maxima (the round-11 one-pass
    partials) passes them as ``remax`` and skips the row re-scan."""
    dd = dead_partials
    keys = list(VIEW_KEYS)
    carried = store.join(dd.select(*keys), keys, "left_anti")
    adj = (
        store.alias("s")
        .join(dd.alias("d"), keys)
        .select(
            *keys,
            (F.col("s.n_rows") - F.col("d.n_rows")).cast("long").alias("n_rows"),
            (F.col("s.sum_qty") - F.col("d.sum_qty"))
            .cast(SUM_QTY_DEC)
            .alias("sum_qty"),
            (F.col("s.revenue") - F.col("d.revenue"))
            .cast(REVENUE_DEC)
            .alias("revenue"),
        )
        .filter(F.col("n_rows") > 0)
    )
    if remax is None:
        remax = (
            _with_keys(remaining_rows)
            .join(dd.select(*keys), keys, "left_semi")
            .groupBy(*keys)
            .agg(F.max("l_extendedprice").alias("max_price"))
        )
    return carried.unionByName(adj.join(remax, keys))


def delete_aware_agg_view(
    li: DataFrame, view_store: DataFrame | None = None
) -> DataFrame:
    """DELETE maintenance (q258 — the q229 tombstone shape on the OLAP
    view): the 10% deleted-order slice retracts from the persisted view
    by exact decimal subtraction; MAX recomputes for affected groups
    from their remaining rows only (:func:`apply_retractions`).  The
    DuckDB oracle is the full rollup over the remaining corpus (with
    'adjusted'/'carried' provenance), so the driver hash-match proves
    subtraction + bounded max-recompute == recompute.  ``view_store``
    injects the persisted t0 view (roundtrip test); the default path
    derives store/dead/surviving-max partials from ONE corpus scan
    grouped by (keys, deleted slice) — round 11, previously three
    scans (guide §1.2): the store is the associative combine over both
    slices, the retraction is the deleted slice, and the surviving
    per-group max is the live slice's partial max (max over a
    partition of rows is the partition-wise max — no row re-scan)."""
    from ..checkpoints import local_checkpoint

    keys = list(VIEW_KEYS)
    if view_store is not None:
        store = local_checkpoint(view_store, eager=False)
        dd = local_checkpoint(
            agg_partials(li.filter(deleted_flag())), eager=False
        )
        out = apply_retractions(store, dd, li.filter(~deleted_flag()))
    else:
        parts = local_checkpoint(
            agg_partials(li, deleted_flag().alias("dead")), eager=False
        )
        store = combine_partials(parts)
        dd = local_checkpoint(
            parts.filter(F.col("dead")).drop("dead"), eager=False
        )
        remax = (
            parts.filter(~F.col("dead"))
            .select(*keys, "max_price")
        )
        out = apply_retractions(store, dd, None, remax=remax)
    dd_keys = dd.select(*VIEW_KEYS).withColumn("touched", F.lit(1))
    return _as_output(
        out.join(dd_keys, list(VIEW_KEYS), "left").withColumn(
            "src",
            F.when(F.col("touched") == 1, "adjusted").otherwise("carried"),
        ),
        "src",
    )


def delete_aware_agg_view_sql(table: str = "lineitem") -> str:
    """Full rollup over the remaining corpus; a group is 'adjusted' iff
    the deletion touched it (FILTER-ed aggregates over the full table so
    the provenance can see the deleted rows)."""
    N = _N()
    aggs = f"""
       count(*) FILTER (WHERE NOT {deleted_flag_sql()}) AS n_rows,
       cast(sum(cast(l_quantity as {N.DEC}))
            FILTER (WHERE NOT {deleted_flag_sql()}) as double) AS sum_qty,
       cast(sum({N.revenue_sql('l_extendedprice', 'l_discount')})
            FILTER (WHERE NOT {deleted_flag_sql()}) as double) AS revenue,
       max(l_extendedprice) FILTER (WHERE NOT {deleted_flag_sql()})
         AS max_price"""
    return f"""
    SELECT * FROM (
      SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
             l_returnflag,{aggs},
             CASE WHEN bool_or({deleted_flag_sql()}) THEN 'adjusted'
                  ELSE 'carried' END AS src
      FROM {table}
      GROUP BY 1, 2
    ) WHERE n_rows > 0
    """


# -- upsert (q259) ------------------------------------------------------------

def upsert_aware_agg_view(
    li: DataFrame, view_store: DataFrame | None = None
) -> DataFrame:
    """UPSERT maintenance (q259 — the q231 revision shape on the OLAP
    view): a deterministic 10% order slice is revised between snapshots
    (quantity +5, price +100 — exact-in-double increments, so decimals
    stay lossless).  Group keys are revision-stable, so the maintained
    view subtracts the revised rows' OLD partials and adds their NEW
    partials in one pass (n_rows provably unchanged — an UPDATE is a
    retraction + insertion of equal cardinality); MAX recomputes for
    affected groups from their t1 rows (bounded semi-join).

    The DuckDB oracle is the full rollup over the t1 corpus with
    'revised'/'carried' provenance — hash-match proves the retract+add
    algebra.  ``view_store`` injects the persisted t0 view (roundtrip
    test); the default path derives store/old/new/t1-max partials from
    ONE corpus scan grouped by (keys, revised slice) with dual
    old-value/new-value aggregates per row — round 11, previously four
    scans (guide §1.2).  Exactness carries: the per-row revised values
    are the same expressions the t1 projection applied, and every
    combine is associative decimal/max algebra."""
    changed = updated_flag()
    t1 = li.withColumn(
        "l_quantity",
        F.when(changed, F.col("l_quantity") + F.lit(UPD_QTY_DELTA)).otherwise(
            F.col("l_quantity")
        ),
    ).withColumn(
        "l_extendedprice",
        F.when(
            changed, F.col("l_extendedprice") + F.lit(UPD_PRICE_DELTA)
        ).otherwise(F.col("l_extendedprice")),
    )
    from ..checkpoints import local_checkpoint

    keys = list(VIEW_KEYS)
    if view_store is not None:
        store = local_checkpoint(view_store, eager=False)
        old = local_checkpoint(agg_partials(li.filter(changed)), eager=False)
        new = local_checkpoint(agg_partials(t1.filter(changed)), eager=False)
        remax = (
            _with_keys(t1)
            .join(old.select(*keys), keys, "left_semi")
            .groupBy(*keys)
            .agg(F.max("l_extendedprice").alias("max_price"))
        )
    else:
        N = _N()
        new_price = F.col("l_extendedprice") + F.lit(UPD_PRICE_DELTA)
        parts = local_checkpoint(
            _with_keys(li)
            .groupBy(*keys, changed.alias("chg"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(N.dec(F.col("l_quantity")))
                .cast(SUM_QTY_DEC)
                .alias("sum_qty"),
                F.sum(N.revenue(F.col("l_extendedprice"), F.col("l_discount")))
                .cast(REVENUE_DEC)
                .alias("revenue"),
                F.max("l_extendedprice").alias("max_price"),
                F.sum(N.dec(F.col("l_quantity") + F.lit(UPD_QTY_DELTA)))
                .cast(SUM_QTY_DEC)
                .alias("sum_qty_new"),
                F.sum(N.revenue(new_price, F.col("l_discount")))
                .cast(REVENUE_DEC)
                .alias("revenue_new"),
                F.max(new_price).alias("max_price_new"),
            ),
            eager=False,
        )
        store = combine_partials(parts)
        old = parts.filter(F.col("chg")).select(
            *keys, "n_rows", "sum_qty", "revenue", "max_price"
        )
        new = parts.filter(F.col("chg")).select(
            *keys,
            "n_rows",
            F.col("sum_qty_new").alias("sum_qty"),
            F.col("revenue_new").alias("revenue"),
            F.col("max_price_new").alias("max_price"),
        )
        # per-group max over the t1 rows: revised rows contribute their
        # shifted max, unrevised rows their original — one combine of
        # the same partials, no row re-scan
        remax = parts.groupBy(*keys).agg(
            F.max(
                F.when(F.col("chg"), F.col("max_price_new")).otherwise(
                    F.col("max_price")
                )
            ).alias("max_price")
        )
    carried = store.join(old.select(*keys), keys, "left_anti").withColumn(
        "src", F.lit("carried")
    )
    revised = (
        store.alias("s")
        .join(old.alias("o"), keys)
        .join(new.alias("n"), keys)
        .select(
            *keys,
            F.col("s.n_rows").cast("long").alias("n_rows"),
            (F.col("s.sum_qty") - F.col("o.sum_qty") + F.col("n.sum_qty"))
            .cast(SUM_QTY_DEC)
            .alias("sum_qty"),
            (F.col("s.revenue") - F.col("o.revenue") + F.col("n.revenue"))
            .cast(REVENUE_DEC)
            .alias("revenue"),
        )
        .join(remax, keys)
        .withColumn("src", F.lit("revised"))
    )
    return _as_output(
        carried.select(*keys, "n_rows", "sum_qty", "revenue", "max_price", "src")
        .unionByName(
            revised.select(*keys, "n_rows", "sum_qty", "revenue", "max_price", "src")
        ),
        "src",
    )


def upsert_aware_agg_view_sql(table: str = "lineitem") -> str:
    t1 = (
        f"(SELECT l_orderkey, l_returnflag, l_shipdate, l_discount,"
        f" CASE WHEN {updated_flag_sql()}"
        f"      THEN l_quantity + {UPD_QTY_DELTA} ELSE l_quantity END"
        f"   AS l_quantity,"
        f" CASE WHEN {updated_flag_sql()}"
        f"      THEN l_extendedprice + {UPD_PRICE_DELTA}"
        f"      ELSE l_extendedprice END AS l_extendedprice"
        f" FROM {table}) t1"
    )
    src = (
        f"CASE WHEN bool_or({updated_flag_sql()}) THEN 'revised'"
        f" ELSE 'carried' END"
    )
    return _view_sql(t1, src)


# -- vacuum / compaction (q261) -------------------------------------------------

def vacuumed_agg_view(
    spark, li: DataFrame, stage_dir: str | None = None
) -> DataFrame:
    """The full OLAP-store lifecycle in one query (q261 — the q235
    mechanism on the aggregate view, completing its arrival-shape
    matrix): the t0 view accretes as FOUR positive partial file sets
    (the per-refresh appends a combine-on-read store produces), a
    deletion cycle appends NEGATIVE retraction partials (the
    Flink/Delta retract-record shape: counts and exact decimal sums
    negated, max NULLed and the group marked dirty — max cannot be
    retracted algebraically), and the VACUUM compacts the store to one
    NET row per group: sums telescope exactly, emptied groups drop
    (n_rows = 0), and dirty groups recompute max from THEIR remaining
    rows only (bounded semi-join).  The compacted view is committed as
    the next store version, and the NEXT q257 insert refresh runs off
    the vacuumed store read back from parquet.

    The DuckDB oracle is the q257 incremental recompute over the
    remaining corpus, so one driver hash-match proves retraction
    algebra, dirty-group max recovery, compaction, swap, and
    post-vacuum refresh together; file/row shrinkage is pinned in
    ``tests/test_aggview.py``.

    Scale: vacuum is O(|store|) combine + one bounded max re-scan + one
    write on the compaction cadence; the refresh stays O(|batch| +
    |groups|); the corpus is never re-rolled-up.  Reference anchor:
    extension of ``hw2/BDM_hw2_final.py:203-206`` (the reference
    recomputes every rollup per run)."""
    from functools import reduce

    from ..checkpoints import local_checkpoint
    from ..sources.publish import publish_version, read_current
    from ..staging import staging_dir

    root = stage_dir or staging_dir(prefix="bdm_aggview_vacuum_")
    t0 = li.filter(~arrival_flag())
    # ONE t0 scan produces per-(keys, sub-slice, deleted) partials; every
    # accreted file set, the retraction partials, and the surviving
    # per-group maxima are associative combines of it (round 11 — the
    # accretion loop alone previously re-scanned the corpus four times,
    # guide §1.2)
    sub = portable_hash64(F.col("l_orderkey").cast("string"), salt="vagv") % 4
    slices = local_checkpoint(
        agg_partials(t0, sub.alias("sub"), deleted_flag().alias("dead")),
        eager=False,
    )
    # accretion: four positive partial file sets (sub-slices, salt
    # "vagv"); each is the sub-slice's combine — row-identical to the
    # direct per-slice aggregate, reading cached partials not the corpus
    positive = [
        combine_partials(slices.filter(F.col("sub") == i)).withColumn(
            "is_retract", F.lit(0)
        )
        for i in range(4)
    ]
    # deletion cycle: retraction partials (restricted to t0 orders)
    retract = combine_partials(slices.filter(F.col("dead"))).select(
        *VIEW_KEYS,
        (-F.col("n_rows")).cast("long").alias("n_rows"),
        (-F.col("sum_qty")).cast(SUM_QTY_DEC).alias("sum_qty"),
        (-F.col("revenue")).cast(REVENUE_DEC).alias("revenue"),
        F.lit(None).cast("double").alias("max_price"),
        F.lit(1).alias("is_retract"),
    )
    # every file set lands in v1 before its commit (a union keeps each
    # input's files)
    accreted = reduce(DataFrame.unionByName, positive + [retract])
    publish_version(root, 1, {"view_store": accreted})
    # vacuum: net combine + dirty-group max recovery, published as v2
    parts = read_current(spark, root, "view_store", accreted.schema)
    net = combine_partials(parts, F.max("is_retract").alias("dirty")).filter(
        F.col("n_rows") > 0
    )
    keys = list(VIEW_KEYS)
    # surviving max per dirty group = combine of the live slices' partial
    # maxima (max over a partition of rows is the partition-wise max)
    remax = (
        slices.filter(~F.col("dead"))
        .groupBy(*keys)
        .agg(F.max("max_price").alias("max_price"))
        .join(net.filter(F.col("dirty") == 1).select(*keys), keys, "left_semi")
    )
    clean = net.filter(F.col("dirty") == 0).select(
        *keys, "n_rows", "sum_qty", "revenue", "max_price"
    )
    repaired = (
        net.filter(F.col("dirty") == 1)
        .drop("max_price", "dirty")
        .join(remax, keys)
        .select(*keys, "n_rows", "sum_qty", "revenue", "max_price")
    )
    net_view = clean.unionByName(repaired)
    publish_version(root, 2, {"view_store": net_view.coalesce(1)})
    # next insert refresh off the vacuumed store
    remaining = li.filter(~(deleted_flag() & ~arrival_flag()))
    return incremental_agg_view(
        remaining,
        view_store=read_current(spark, root, "view_store", net_view.schema),
    )


def vacuumed_agg_view_sql(table: str = "lineitem") -> str:
    """DuckDB twin: the q257 incremental recompute over the REMAINING
    corpus (deletions restricted to pre-arrival orders) — the identity
    the vacuumed-store refresh must reproduce."""
    remaining = (
        f"(SELECT * FROM {table} WHERE NOT ({deleted_flag_sql()}"
        f" AND NOT {arrival_flag_sql()})) remaining"
    )
    return incremental_agg_view_sql(remaining)


# -- lattice derivability (q263) ------------------------------------------------

def derived_quarterly_view(
    li: DataFrame, view_store: DataFrame | None = None
) -> DataFrame:
    """Cube-lattice derivability (q263): the QUARTERLY rollup answered
    from the persisted MONTHLY view — never from the corpus.  COUNT/SUM
    partials re-combine by addition (exact decimals — associativity is
    what makes the lattice edge exact, not approximate) and MAX by max,
    so coarsening the granularity is one |monthly groups|-sized combine:
    the classic OLAP view-based query-answering claim, proven here by
    the DuckDB oracle computing the quarterly rollup DIRECTLY from
    lineitem — the driver hash-match is the derivability proof.

    ``view_store`` injects the persisted monthly view (roundtrip test);
    default derives it in-plan (one corpus scan to build the view, then
    the derivation itself never re-touches lineitem).

    Scale: at 100 TB the monthly view is the persisted store, so a
    quarterly (or yearly — same edge, coarser) query costs |months ×
    flags| rows instead of a corpus re-scan.  Reference anchor:
    extension of ``hw2/BDM_hw2_final.py:203-206``."""
    monthly = view_store if view_store is not None else agg_partials(li)
    quarter = F.concat(
        F.substring("ship_month", 1, 4),
        F.lit("-Q"),
        ((F.substring("ship_month", 6, 2).cast("int") + 2) / 3)
        .cast("int")
        .cast("string"),
    )
    return (
        monthly.withColumn("ship_quarter", quarter)
        .groupBy("ship_quarter", "l_returnflag")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_qty").cast("double").alias("sum_qty"),
            F.sum("revenue").cast("double").alias("revenue"),
            F.max("max_price").alias("max_price"),
        )
    )


def maintained_quarterly_view(
    li: DataFrame, view_store: DataFrame | None = None
) -> DataFrame:
    """TWO-LEVEL lattice maintenance (q274): the q257 insert refresh
    and the q263 derivability edge CHAINED — the arrival batch merges
    into the persisted monthly view (one :func:`combine_partials`),
    and the quarterly view re-derives from the REFRESHED monthly
    partials, never from the corpus.  This is the consistency claim a
    real view hierarchy needs: after maintenance, every coarser view
    derived from the maintained store equals the direct recompute over
    the new corpus — maintenance and derivability COMMUTE (both are
    exact-decimal partial algebra, which is the whole reason the store
    holds decimals).

    Per-quarter provenance: ``touched`` ⇔ any batch partial landed in
    the quarter (the maintenance footprint a refresh scheduler uses to
    invalidate caches above it), else ``carried``.  The DuckDB oracle
    is the quarterly rollup DIRECTLY from lineitem with the same
    bool_or-of-arrival provenance — the driver hash-match proves the
    chained maintenance, not just one level.

    ``view_store`` injects the persisted monthly view (roundtrip
    test); default derives it in-plan from the base slice.

    Scale: the merge is |monthly groups|+|batch|-sized, the derivation
    |monthly groups|-sized — corpus never re-touched; at 100 TB this
    chain is the nightly view-refresh DAG in one plan.  Reference
    anchor: extension of ``hw2/BDM_hw2_final.py:203-206``."""
    if view_store is not None:
        tagged = view_store.withColumn("in_batch", F.lit(0)).unionByName(
            agg_partials(li.filter(arrival_flag())).withColumn(
                "in_batch", F.lit(1)
            )
        )
    else:
        # one corpus scan grouped by (keys, arrival) replaces the
        # base/batch double scan (round 11, guide §1.2)
        tagged = agg_partials(li, arrival_flag().alias("arr")).select(
            *VIEW_KEYS,
            "n_rows",
            "sum_qty",
            "revenue",
            "max_price",
            F.col("arr").cast("int").alias("in_batch"),
        )
    monthly = combine_partials(tagged, F.max("in_batch").alias("in_batch"))
    quarter = F.concat(
        F.substring("ship_month", 1, 4),
        F.lit("-Q"),
        ((F.substring("ship_month", 6, 2).cast("int") + 2) / 3)
        .cast("int")
        .cast("string"),
    )
    return (
        monthly.withColumn("ship_quarter", quarter)
        .groupBy("ship_quarter", "l_returnflag")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_qty").cast("double").alias("sum_qty"),
            F.sum("revenue").cast("double").alias("revenue"),
            F.max("max_price").alias("max_price"),
            F.max("in_batch").alias("in_batch"),
        )
        .select(
            "ship_quarter",
            "l_returnflag",
            "n_rows",
            "sum_qty",
            "revenue",
            "max_price",
            F.when(F.col("in_batch") == 1, F.lit("touched"))
            .otherwise(F.lit("carried"))
            .alias("src"),
        )
    )


def maintained_quarterly_view_sql(table: str = "lineitem") -> str:
    """DuckDB twin: the quarterly rollup directly from the corpus with
    the per-quarter maintenance-footprint provenance."""
    return f"""
    SELECT strftime(l_shipdate, '%Y') || '-Q' ||
           cast((cast(strftime(l_shipdate, '%m') as int) + 2) // 3 as varchar)
             AS ship_quarter,
           l_returnflag,{_view_aggs_sql()},
           CASE WHEN bool_or({arrival_flag_sql()})
                THEN 'touched' ELSE 'carried' END AS src
    FROM {table}
    GROUP BY 1, 2
    """


def derived_quarterly_view_sql(table: str = "lineitem") -> str:
    """DuckDB twin: the quarterly rollup computed DIRECTLY from the
    corpus — the identity the monthly-view derivation must reproduce."""
    return f"""
    SELECT strftime(l_shipdate, '%Y') || '-Q' ||
           cast((cast(strftime(l_shipdate, '%m') as int) + 2) // 3 as varchar)
             AS ship_quarter,
           l_returnflag,{_view_aggs_sql()}
    FROM {table}
    GROUP BY 1, 2
    """
