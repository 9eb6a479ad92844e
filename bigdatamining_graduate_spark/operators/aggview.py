"""Materialized aggregate-view maintenance — the OLAP-store counterpart
of the index maintenance matrix (round 10).

The view is a monthly sales rollup over ``lineitem``:

    GROUP BY ship_month (= month of l_shipdate), l_returnflag
    AGG n_rows (count), sum_qty, revenue (exact decimals), max_price

and the maintained object is the PHYSICAL view store — the thing a
production pipeline refreshes instead of re-scanning 100 TB per query.
The design leans on Spark's own aggregation model: COUNT/SUM partials
are mergeable state (the map-side-combine algebra), so a change to the
view is a signed DELTA of partials (the counting algorithm of Gupta,
Mumick and Subrahmanian, as generalised by DBSP): an insert is +1, a
delete −1, an upsert −old +new.  :func:`weigh` gives partials their
weight — COUNT/SUM scale, and MAX, which cannot be retracted, turns
NULL — and ONE :func:`apply` nets a store with its deltas: an
associative combine per group that drops emptied groups and takes each
dirty (retracted) group's max from a bounded recompute.  Every cell is
an input shape of that one function — insert (q257), delete (q258),
upsert (q259), stream serve (q260: append-only partials, combined on
read), vacuum (q261: the accreted positive and NEGATIVE partials
compacted to one net row per group) and the two-level lattice refresh
(q274) — whether the store is the in-plan one-pass derivation or an
injected or persisted store.  The month -> quarter lattice edge (q263,
q274) is one shared rollup of netted partials.

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

from ..functions.hashing import hash_bucket, hash_bucket_sql


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


def arrival_flag(col: str = "l_orderkey"):
    """True for rows of ARRIVING orders (20% hash slice, salt "iagv")."""
    return hash_bucket(col, "iagv", AGV_BUCKETS) >= AGV_INS_HIST


def arrival_flag_sql(col: str = "l_orderkey") -> str:
    return f"({hash_bucket_sql(col, 'iagv', AGV_BUCKETS)} >= {AGV_INS_HIST})"


def deleted_flag(col: str = "l_orderkey"):
    """True for rows of DELETED orders (10% hash slice, salt "dagv")."""
    return hash_bucket(col, "dagv", AGV_BUCKETS) == AGV_DEL_BUCKET


def deleted_flag_sql(col: str = "l_orderkey") -> str:
    return f"({hash_bucket_sql(col, 'dagv', AGV_BUCKETS)} = {AGV_DEL_BUCKET})"


def updated_flag(col: str = "l_orderkey"):
    """True for rows of REVISED orders (10% hash slice, salt "uagv")."""
    return hash_bucket(col, "uagv", AGV_BUCKETS) == AGV_UPD_BUCKET


def updated_flag_sql(col: str = "l_orderkey") -> str:
    return f"({hash_bucket_sql(col, 'uagv', AGV_BUCKETS)} = {AGV_UPD_BUCKET})"


def stream_batch_flag(col: str = "l_orderkey"):
    """Micro-batch id 0..2 per order (salt "sagv")."""
    return hash_bucket(col, "sagv", STREAM_AGV_BATCHES)


def stream_batch_sql(col: str = "l_orderkey") -> str:
    return hash_bucket_sql(col, "sagv", STREAM_AGV_BATCHES)


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


def weigh(parts: DataFrame, w) -> DataFrame:
    """``parts`` as a signed delta of weight ``w`` (an int, or an int
    Column evaluated per row): +1 inserts the partials, −1 retracts
    them, and 0 is a slice the store holds and the same pass retracts
    (the two net in place).  COUNT/SUM scale by the weight — exact
    decimals, so a retraction cancels to the cent; MAX cannot be
    retracted, so below +1 ``max_price`` turns NULL, which marks the
    group dirty for :func:`apply`.  Slice-tag columns pass through."""
    w = F.lit(w) if isinstance(w, int) else w
    return parts.withColumns({
        "n_rows": (F.col("n_rows") * w).cast("long"),
        "sum_qty": (F.col("sum_qty") * w).cast(SUM_QTY_DEC),
        "revenue": (F.col("revenue") * w).cast(REVENUE_DEC),
        "max_price": F.when(w == 1, F.col("max_price")),
    })


def apply(parts: DataFrame, remax: DataFrame | None, *extra) -> DataFrame:
    """The view's ONE netting rule: an associative combine of ``parts``
    — a store's partials unioned with signed deltas (:func:`weigh`) —
    per view group, the map-side-combine algebra run store-side.
    COUNT and the exact decimal SUMs add (retractions cancel), MAX
    maxes, and groups netting to ``n_rows = 0`` drop.  A group holding
    a NULL-max (retracted) partial is ``dirty``: MAX is not self-
    maintainable, so its max is the per-group max of ``remax`` — rows
    (keys, max_price) over what survives: the live slices' partials
    in-plan, a bounded semi-join over the surviving rows with a
    persisted store (the q229/q247 bounded-recompute discipline).
    ``remax`` is None where the combine's own max already is the
    surviving one: every retracted slice netted in place (weight 0),
    so only live partials carry a max.  ``extra`` are the cell's
    provenance aggregates over the same union.

    Every maintenance cell routes through it: insert (q257), delete
    (q258), upsert (q259), stream serve (q260), vacuum (q261) and the
    two-level lattice refresh (q274).  The lattice edge itself
    (:func:`_quarterly`, q263/q274) carries no delta, so it is a plain
    rollup of the netted partials."""
    keys = list(VIEW_KEYS)
    net = parts.groupBy(*keys).agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("sum_qty").cast(SUM_QTY_DEC).alias("sum_qty"),
        F.sum("revenue").cast(REVENUE_DEC).alias("revenue"),
        F.max("max_price").alias("max_price"),
        F.max(F.col("max_price").isNull()).alias("dirty"),
        *extra,
    ).filter(F.col("n_rows") > 0)
    if remax is None:
        return net
    live = remax.groupBy(*keys).agg(F.max("max_price").alias("live_max"))
    return net.join(live, keys, "left").withColumn(
        "max_price",
        F.when(F.col("dirty"), F.col("live_max")).otherwise(F.col("max_price")),
    ).drop("live_max")


def _remax(rows: DataFrame, touched: DataFrame) -> DataFrame:
    """The surviving ``rows`` of the groups ``touched`` names, as (keys,
    max_price) — the bounded semi-join a persisted store's dirty groups
    recompute their max from."""
    keys = list(VIEW_KEYS)
    return (
        _with_keys(rows)
        .join(touched.select(*keys), keys, "left_semi")
        .select(*keys, F.col("l_extendedprice").alias("max_price"))
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

def _with_arrivals(li: DataFrame, view_store: DataFrame | None) -> DataFrame:
    """The t0 store's partials ∪ the arrival batch's, tagged ``arr``:
    the injected store plus the batch, or — with no store — ONE corpus
    scan grouped by (keys, arrival slice) whose non-arrival rows are
    the in-plan t0 store (round 11: the base/batch split previously
    cost two scans, guide §1.2)."""
    if view_store is None:
        return agg_partials(li, arrival_flag().alias("arr"))
    batch = agg_partials(li.filter(arrival_flag()))
    return view_store.withColumn("arr", F.lit(False)).unionByName(
        batch.withColumn("arr", F.lit(True))
    )


def incremental_agg_view(
    li: DataFrame, view_store: DataFrame | None = None
) -> DataFrame:
    """INSERT maintenance (q257 — the q227 arrival shape on the OLAP
    view): the 20% arrival batch aggregates to +1 partials, and the
    maintained view is :func:`apply` over store ∪ batch —
    O(|groups| + |batch|), never a corpus re-scan.  Provenance is
    'carried' (store-only group), 'new' (batch-only), 'merged' (both).

    The DuckDB oracle is the full rollup over the whole corpus with the
    same provenance split — the driver hash-match proves merge ==
    recompute every round.  ``view_store`` injects the persisted t0
    view (roundtrip test); default derives both sides in one scan
    (:func:`_with_arrivals`)."""
    net = apply(
        _with_arrivals(li, view_store),
        None,
        F.max("arr").alias("in_batch"),
        F.min("arr").alias("batch_only"),
    )
    src = (
        F.when(F.col("batch_only"), "new")
        .when(F.col("in_batch"), "merged")
        .otherwise("carried")
    )
    return _as_output(net.withColumn("src", src), "src")


def incremental_agg_view_sql(table: str = "lineitem") -> str:
    src = (
        f"CASE WHEN bool_or({arrival_flag_sql()})"
        f"          AND bool_or(NOT {arrival_flag_sql()}) THEN 'merged'"
        f"     WHEN bool_or({arrival_flag_sql()}) THEN 'new'"
        f"     ELSE 'carried' END"
    )
    return _view_sql(table, src)


# -- delete (q258) ------------------------------------------------------------

def delete_aware_agg_view(
    li: DataFrame, view_store: DataFrame | None = None
) -> DataFrame:
    """DELETE maintenance (q258 — the q229 tombstone shape on the OLAP
    view): the 10% deleted-order slice retracts from the persisted view
    as −1 partials through :func:`apply` — exact decimal subtraction,
    emptied groups drop, and MAX recomputes for the dirty groups from
    their remaining rows only.  The DuckDB oracle is the full rollup
    over the remaining corpus (with 'adjusted'/'carried' provenance:
    adjusted ⇔ dirty), so the oracle hash-match proves subtraction +
    bounded max-recompute == recompute.  ``view_store`` injects the
    persisted t0 view (roundtrip test); the default path derives store
    and retraction from ONE corpus scan grouped by (keys, deleted
    slice) — round 11, previously three scans (guide §1.2): a deleted
    slice is a store partial retracted in the same pass (weight 0), so
    the live slices' partial max is the surviving max (max over a
    partition of rows is the partition-wise max — no row re-scan)."""
    from ..checkpoints import local_checkpoint

    if view_store is None:
        # materialized like the persisted store it stands in for: the
        # serving plan reads the store, not the corpus (the scan audit
        # in tests/expected_scans.json pins 0 corpus scans)
        parts = local_checkpoint(
            agg_partials(li, deleted_flag().alias("dead")), eager=False
        )
        net = apply(weigh(parts, F.when(F.col("dead"), 0).otherwise(1)), None)
    else:
        gone = local_checkpoint(
            agg_partials(li.filter(deleted_flag())), eager=False
        )
        net = apply(
            view_store.unionByName(weigh(gone, -1)),
            _remax(li.filter(~deleted_flag()), gone),
        )
    src = F.when(F.col("dirty"), "adjusted").otherwise("carried")
    return _as_output(net.withColumn("src", src), "src")


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
    stay lossless).  Group keys are revision-stable, so an UPDATE is
    the signed delta −old +new of equal cardinality (n_rows provably
    unchanged), netted through :func:`apply`; the retraction dirties
    the revised groups, whose max recomputes from their t1 rows
    (bounded semi-join).

    The DuckDB oracle is the full rollup over the t1 corpus with
    'revised'/'carried' provenance — hash-match proves the retract+add
    algebra.  ``view_store`` injects the persisted t0 view (roundtrip
    test); the default path is ONE scan of the t1 rows grouped by
    (keys, revised slice) — round 11, previously four scans (guide
    §1.2): a revised slice's store partial, its −old and its +new net
    in place to the slice's t1 partial, so the combine's max is the t1
    max with no row re-scan.  Exactness carries: the per-row revised
    values are the same expressions the t1 projection applied, and
    every combine is associative decimal/max algebra."""
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

    if view_store is None:
        # materialized like the persisted store it stands in for (q258)
        parts = local_checkpoint(
            agg_partials(t1, changed.alias("chg")), eager=False
        )
        remax = None
    else:
        old = local_checkpoint(agg_partials(li.filter(changed)), eager=False)
        delta = weigh(old, -1).unionByName(agg_partials(t1.filter(changed)))
        parts = view_store.withColumn("chg", F.lit(False)).unionByName(
            delta.withColumn("chg", F.lit(True))
        )
        remax = _remax(t1, old)
    net = apply(parts, remax, F.max("chg").alias("chg"))
    src = F.when(F.col("chg"), "revised").otherwise("carried")
    return _as_output(net.withColumn("src", src), "src")


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
    # per-group maxima are slices of it (round 11 — the accretion loop
    # alone previously re-scanned the corpus four times, guide §1.2)
    slices = local_checkpoint(
        agg_partials(
            t0,
            hash_bucket("l_orderkey", "vagv", 4).alias("sub"),
            deleted_flag().alias("dead"),
        ),
        eager=False,
    )
    # accretion: four positive partial file sets (sub-slices, salt
    # "vagv") and the deletion cycle's −1 retraction partials — every
    # file set lands in v1 before its commit (a union keeps each input's
    # files)
    file_sets = [slices.filter(F.col("sub") == i) for i in range(4)]
    file_sets.append(weigh(slices.filter(F.col("dead")), -1))
    accreted = reduce(DataFrame.unionByName, file_sets).drop("sub", "dead")
    publish_version(root, 1, {"view_store": accreted})
    # vacuum: the net of the accreted store, published as v2; a dirty
    # group's surviving max is its live slices' partial max (max over a
    # partition of rows is the partition-wise max)
    net_view = apply(
        read_current(spark, root, "view_store", accreted.schema),
        slices.filter(~F.col("dead")),
    ).drop("dirty")
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


# -- lattice derivability (q263, q274) ------------------------------------------

def _quarterly(monthly: DataFrame, *flags: str) -> DataFrame:
    """The lattice edge month -> quarter over monthly partials: COUNT/
    SUM re-combine by addition (exact decimals — associativity is what
    makes the edge exact, not approximate) and MAX by max, one
    |monthly groups|-sized combine.  ``flags`` are boolean provenance
    columns, OR-ed up the edge.  Nothing retracts across the edge, so
    it needs no netting and rolls up straight to output doubles."""
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
            *[F.max(f).alias(f) for f in flags],
        )
    )


def _quarterly_sql(table: str, src: str) -> str:
    """DuckDB twin: the quarterly rollup DIRECTLY from the corpus, with
    ``src`` (a provenance select item, or empty) appended."""
    return f"""
    SELECT strftime(l_shipdate, '%Y') || '-Q' ||
           cast((cast(strftime(l_shipdate, '%m') as int) + 2) // 3 as varchar)
             AS ship_quarter,
           l_returnflag,{_view_aggs_sql()}{src}
    FROM {table}
    GROUP BY 1, 2
    """


def derived_quarterly_view(
    li: DataFrame, view_store: DataFrame | None = None
) -> DataFrame:
    """Cube-lattice derivability (q263): the QUARTERLY rollup answered
    from the persisted MONTHLY view — never from the corpus — through
    the lattice edge :func:`_quarterly` (shared with q274), so
    coarsening the granularity is one |monthly groups|-sized combine:
    the classic OLAP view-based query-answering claim, proven here by
    the DuckDB oracle computing the quarterly rollup DIRECTLY from
    lineitem — the oracle hash-match is the derivability proof.

    ``view_store`` injects the persisted monthly view (roundtrip test);
    default derives it in-plan (one corpus scan to build the view, then
    the derivation itself never re-touches lineitem).

    Scale: at 100 TB the monthly view is the persisted store, so a
    quarterly (or yearly — same edge, coarser) query costs |months ×
    flags| rows instead of a corpus re-scan.  Reference anchor:
    extension of ``hw2/BDM_hw2_final.py:203-206``."""
    return _quarterly(view_store if view_store is not None else agg_partials(li))


def maintained_quarterly_view(
    li: DataFrame, view_store: DataFrame | None = None
) -> DataFrame:
    """TWO-LEVEL lattice maintenance (q274): the q257 insert refresh
    and the q263 derivability edge CHAINED — the arrival batch merges
    into the persisted monthly view (one :func:`apply`), and the
    quarterly view re-derives from the REFRESHED monthly partials,
    never from the corpus.  This is the consistency claim a real view
    hierarchy needs: after maintenance, every coarser view derived from
    the maintained store equals the direct recompute over the new
    corpus — maintenance and derivability COMMUTE (both are
    exact-decimal partial algebra, which is the whole reason the store
    holds decimals).

    Per-quarter provenance: ``touched`` ⇔ any batch partial landed in
    the quarter (the maintenance footprint a refresh scheduler uses to
    invalidate caches above it), else ``carried``.  The DuckDB oracle
    is the quarterly rollup DIRECTLY from lineitem with the same
    bool_or-of-arrival provenance — the driver hash-match proves the
    chained maintenance, not just one level.

    ``view_store`` injects the persisted monthly view (roundtrip
    test); default derives it in-plan from the base slice, in the same
    one scan as q257 (:func:`_with_arrivals`).

    Scale: the merge is |monthly groups|+|batch|-sized, the derivation
    |monthly groups|-sized — corpus never re-touched; at 100 TB this
    chain is the nightly view-refresh DAG in one plan.  Reference
    anchor: extension of ``hw2/BDM_hw2_final.py:203-206``."""
    monthly = apply(
        _with_arrivals(li, view_store), None, F.max("arr").alias("arr")
    )
    src = F.when(F.col("arr"), "touched").otherwise("carried")
    return _quarterly(monthly, "arr").select(
        "ship_quarter",
        "l_returnflag",
        "n_rows",
        "sum_qty",
        "revenue",
        "max_price",
        src.alias("src"),
    )


def maintained_quarterly_view_sql(table: str = "lineitem") -> str:
    """DuckDB twin: the quarterly rollup directly from the corpus with
    the per-quarter maintenance-footprint provenance."""
    return _quarterly_sql(
        table,
        f""",
           CASE WHEN bool_or({arrival_flag_sql()})
                THEN 'touched' ELSE 'carried' END AS src""",
    )


def derived_quarterly_view_sql(table: str = "lineitem") -> str:
    """DuckDB twin: the quarterly rollup computed DIRECTLY from the
    corpus — the identity the monthly-view derivation must reproduce."""
    return _quarterly_sql(table, "")
