"""Materialized DISTINCT-COUNT view maintenance — the auxiliary-state
member of the view-maintenance family.

The view is ``n_users = COUNT(DISTINCT user_id)`` per ``event_type``
over ``events``.  Unlike COUNT/SUM (self-maintainable partials,
``operators/aggview.py``) distinct counts are NOT self-maintainable:
a deletion removes a distinct user only when the user's LAST event of
that type dies, which the scalar count cannot know.  The classical fix
(incremental view maintenance with duplicate counts) is a REFERENCE-
COUNTED auxiliary store:

    aux(event_type, user_id, refcount)   — |distinct pairs|-sized

maintained by pure signed-count algebra (the counting algorithm of
Gupta, Mumick and Subrahmanian): arrivals are ``+n`` deltas, deletions
``-n`` deltas, and ONE :func:`apply` nets the store with them by a
(type, user)-keyed combine — pairs netting to 0 are the lost users,
which a vacuum drops.  ONE :func:`serve` is the |aux|-sized per-type
rollup: ``n_users = count(live pairs)``, ``n_events = sum(refcount)``
— the event corpus is never re-scanned.  Both cells run through the
pair: the maintenance cycle (q281) and the post-vacuum refresh (q286,
which adds only its store audit), off an in-plan, injected or
persisted store alike.

The per-type provenance exposes exactly the hard part: ``users_lost``
counts users whose refcount hit 0 (their last event died) and
``users_gained`` counts users the arrival batch introduced — a user
who lost SOME events but not all is in neither.  The DuckDB oracle
recomputes both from full distinct-pair sets at t0 and t1, so the
driver hash-match proves the refcount algebra tracks distinctness
transitions exactly.

Scale: the auxiliary store is the honest price of exact distinct
maintenance — |distinct (type, user)| rows, clustered by its own group
key, maintained by |batch|-sided partials + one aux-sized combine.
(The ε-bounded alternative is the mergeable HLL register store —
q54/q139 — which trades the aux store for a fixed-width sketch; this
module is the EXACT lane.)  Reference anchor: extension of the A-family
distinct aggregates (``hw2/BDM_hw2_final.py:203-206`` recomputes
``countDistinct`` from scratch per run).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash_bucket, hash_bucket_sql

DCV_BUCKETS = 10
DCV_INS_HIST = 8   # salt "dcvi": buckets 0-7 = t0 store, 8-9 arriving (20%)
DCV_DEL_BUCKET = 0  # salt "dcvd": bucket 0 of t0 events deleted (10%)


def arrival_flag(col: str = "event_id"):
    return hash_bucket(col, "dcvi", DCV_BUCKETS) >= DCV_INS_HIST


def arrival_sql(col: str = "event_id") -> str:
    return f"({hash_bucket_sql(col, 'dcvi', DCV_BUCKETS)} >= {DCV_INS_HIST})"


def deleted_flag(col: str = "event_id"):
    return hash_bucket(col, "dcvd", DCV_BUCKETS) == DCV_DEL_BUCKET


def deleted_sql(col: str = "event_id") -> str:
    return f"({hash_bucket_sql(col, 'dcvd', DCV_BUCKETS)} = {DCV_DEL_BUCKET})"


KEYS = ("event_type", "user_id")


def refcount_partials(ev: DataFrame, sign: int) -> DataFrame:
    """Signed (type, user) duplicate-count partials of a row set."""
    return ev.groupBy(*KEYS).agg(
        (F.count("*") * F.lit(sign)).cast("long").alias("refcount")
    )


def apply(signed: DataFrame) -> DataFrame:
    """The view's ONE refcount netting rule: ``signed`` is the t0 aux
    store (``in_t0`` = 1) unioned with signed (type, user) deltas
    (``in_t0`` = 0) — +n arrivals, −n deletions, as partials or as
    event rows of weight ±1 — netted by one (type, user) combine into
    aux1(event_type, user_id, refcount, in_t0).  Pairs netting to 0
    stay: :func:`serve` reports them as lost, a vacuum drops them."""
    return signed.groupBy(*KEYS).agg(
        F.sum("refcount").cast("long").alias("refcount"),
        F.max("in_t0").alias("in_t0"),
    )


def serve(aux1: DataFrame) -> DataFrame:
    """The |aux|-sized per-type rollup of a netted aux store:
    ``n_users`` = live pairs, ``n_events`` = their refcounts, with the
    distinctness transitions — ``users_gained`` (live, not in t0) and
    ``users_lost`` (netted to 0, in t0)."""
    live = F.col("refcount") > 0
    return aux1.groupBy("event_type").agg(
        F.count(F.when(live, 1)).alias("n_users"),
        F.coalesce(F.sum(F.when(live, F.col("refcount"))), F.lit(0))
        .cast("long")
        .alias("n_events"),
        F.count(F.when(live & (F.col("in_t0") == 0), 1)).alias("users_gained"),
        F.count(F.when(~live & (F.col("in_t0") == 1), 1)).alias("users_lost"),
    )


def maintained_distinct_view(
    ev: DataFrame, aux_store: DataFrame | None = None
) -> DataFrame:
    """One insert + delete maintenance cycle (q281) on the distinct-
    count view: t0 aux store ∪ arrival ``+n`` deltas ∪ deletion ``-n``
    deltas, netted by :func:`apply`; :func:`serve` rolls the aux up per
    type with distinctness-transition provenance.

    The deletion slice is a 10 % hash slice of t0 EVENTS (not users —
    so most touched users survive with a lower refcount, and only
    users whose every t0 event died AND who have no arriving events
    count as lost).  ``aux_store`` injects the persisted t0 aux
    (roundtrip test); default derives it in-plan.

    One-pass maintenance (round 12, guide §1.2/§2.3): the deltas are
    the arriving and deleted event rows themselves, weighted ±1, so
    apply's one (type, user) aggregation is the only pass over the
    event corpus.  Without a store the t0 events join the same pass as
    +1 store rows — a deleted t0 event's +1 and −1 net in place — so
    the whole cycle is one groupBy (3 scans + 3-way union → 1 scan;
    oracle-verified hash-identical)."""
    arr = arrival_flag()
    dead = deleted_flag()
    if aux_store is None:
        # per-row refcount contribution: batch +1; surviving t0 +1;
        # deleted t0 +1 (aux0) − 1 (retraction) = 0.  in_t0 ⇔ the pair
        # has ANY t0 event (aux0 membership), deleted or not.
        signed = ev.select(
            *KEYS,
            F.when(arr | ~dead, 1).otherwise(0).alias("refcount"),
            F.when(~arr, 1).otherwise(0).alias("in_t0"),
        )
    else:
        signed = aux_store.withColumn("in_t0", F.lit(1)).unionByName(
            ev.filter(arr | dead).select(
                *KEYS,
                F.when(arr, 1).otherwise(-1).alias("refcount"),
                F.lit(0).alias("in_t0"),
            )
        )
    return serve(apply(signed))


def maintained_distinct_view_sql(table: str = "events") -> str:
    """DuckDB twin: distinct-pair sets at t0 and t1 (t1 = t0 − deleted
    ∪ arrivals), full-outer per pair — recomputed distinctness
    transitions, a physically different derivation from the refcount
    algebra."""
    return f"""
    WITH u0 AS (
      SELECT event_type, user_id FROM {table}
      WHERE NOT {arrival_sql()} GROUP BY 1, 2
    ),
    t1 AS (
      SELECT event_type, user_id FROM {table}
      WHERE {arrival_sql()}
         OR (NOT {arrival_sql()} AND NOT {deleted_sql()})
    ),
    u1 AS (
      SELECT event_type, user_id, count(*) AS refcount
      FROM t1 GROUP BY 1, 2
    ),
    pairs AS (
      SELECT coalesce(u1.event_type, u0.event_type) AS event_type,
             coalesce(u1.refcount, 0) AS refcount,
             (u0.user_id IS NOT NULL) AS in_t0
      FROM u1 FULL OUTER JOIN u0
        ON u1.event_type = u0.event_type AND u1.user_id = u0.user_id
    )
    SELECT event_type,
           count(*) FILTER (WHERE refcount > 0) AS n_users,
           cast(coalesce(sum(refcount) FILTER (WHERE refcount > 0), 0)
                as bigint) AS n_events,
           count(*) FILTER (WHERE refcount > 0 AND NOT in_t0)
             AS users_gained,
           count(*) FILTER (WHERE refcount = 0 AND in_t0) AS users_lost
    FROM pairs GROUP BY 1
    """


# -- vacuum / compaction (q286) ----------------------------------------------

def vacuumed_distinct_view(
    spark, ev: DataFrame, stage_dir: str | None = None
) -> DataFrame:
    """The aux store's full lifecycle (q286 — the q261 mechanism on the
    distinct-count view): the t0 refcount store accretes as FOUR
    positive partial file sets plus one NEGATIVE retraction file from
    the deletion cycle (the signed algebra persisted as-is — the
    Flink/Delta retract-record shape on duplicate counts), the VACUUM
    nets the store to one row per surviving pair (zero-netted pairs —
    users whose last event of a type died — physically drop) and
    commits 5 file sets as 1, and the NEXT insert refresh merges
    the arrival batch onto the vacuumed store read back from parquet.

    The serve carries an ``n_store_rows`` audit column — the RAW store
    row count per type.  Post-vacuum it equals the surviving distinct
    pair count; a skipped vacuum leaves sub-slice duplicates and
    retraction rows in the store and the driver row turns red (the
    q251 vocab-audit discipline).  File/row shrinkage is pinned in
    ``tests/test_ivm_views.py``.

    Scale: vacuum is one |aux|-sized combine + rewrite on the
    compaction cadence; the refresh stays |batch|-sided.  Reference
    anchor: extension of ``hw2/BDM_hw2_final.py:203-206``.

    One-pass accretion (round 12, guide §1.2): the four positive
    sub-slice partials, the retraction partials AND the refresh batch's
    partials all derive from ONE corpus scan + one (type, user)
    aggregation with per-slice conditional counts (the q257
    ``agg_partials`` discipline); the six file-set writes then filter a
    checkpointed aux-sized frame instead of re-scanning the corpus
    (6 corpus scans → 1).  The vacuum's net and the refresh are both
    :func:`apply`; the refresh serves through :func:`serve`."""
    from functools import reduce

    from ..checkpoints import local_checkpoint
    from ..sources.publish import publish_version, read_current
    from ..staging import staging_dir

    root = stage_dir or staging_dir(prefix="bdm_dcv_vacuum_")
    arr = arrival_flag()
    dead = deleted_flag()
    sub = hash_bucket("event_id", "dcvv", 4)
    t0_sub = lambda i: (~arr) & (sub == i)  # noqa: E731
    parts = local_checkpoint(
        ev.groupBy(*KEYS).agg(
            *[
                F.count(F.when(t0_sub(i), 1)).alias(f"s{i}")
                for i in range(4)
            ],
            F.count(F.when((~arr) & dead, 1)).alias("d"),
            F.count(F.when(arr, 1)).alias("b"),
        ),
        eager=False,
    )
    # accretion: four positive partial file sets (sub-slices, salt
    # "dcvv") and, from the deletion cycle, one negative retraction file
    # set — all in v1 before its commit (a union keeps each input's files)
    file_sets = [
        parts.filter(F.col(f"s{i}") > 0).select(
            *KEYS, F.col(f"s{i}").cast("long").alias("refcount")
        )
        for i in range(4)
    ] + [
        parts.filter(F.col("d") > 0).select(
            *KEYS, (-F.col("d")).cast("long").alias("refcount")
        )
    ]
    accreted = reduce(DataFrame.unionByName, file_sets)
    publish_version(root, 1, {"aux_store": accreted})
    # vacuum: the net of the accreted store, zero-netted pairs dropped,
    # published as v2
    net = (
        apply(
            read_current(spark, root, "aux_store", accreted.schema)
            .withColumn("in_t0", F.lit(1))
        )
        .filter(F.col("refcount") > 0)
        .drop("in_t0")
    )
    publish_version(root, 2, {"aux_store": net.coalesce(1)})
    # next insert refresh off the vacuumed store
    aux0 = read_current(spark, root, "aux_store", net.schema)
    raw_rows = aux0.groupBy("event_type").agg(
        F.count("*").alias("n_store_rows")
    )
    batch = parts.filter(F.col("b") > 0).select(
        *KEYS, F.col("b").cast("long").alias("refcount"), F.lit(0).alias("in_t0")
    )
    aux1 = apply(aux0.withColumn("in_t0", F.lit(1)).unionByName(batch))
    return serve(aux1).drop("users_lost").join(raw_rows, "event_type")


def vacuumed_distinct_view_sql(table: str = "events") -> str:
    """DuckDB twin: distinctness over the surviving corpus, with the
    store audit = the surviving t0 pair count (what a NETTED store must
    hold — sub-slice duplicates or retraction rows red the row)."""
    return f"""
    WITH u0 AS (
      SELECT event_type, user_id FROM {table}
      WHERE NOT {arrival_sql()} AND NOT {deleted_sql()} GROUP BY 1, 2
    ),
    t1 AS (
      SELECT event_type, user_id FROM {table}
      WHERE {arrival_sql()}
         OR (NOT {arrival_sql()} AND NOT {deleted_sql()})
    ),
    u1 AS (
      SELECT event_type, user_id, count(*) AS refcount
      FROM t1 GROUP BY 1, 2
    ),
    pairs AS (
      SELECT u1.event_type, u1.refcount,
             (u0.user_id IS NOT NULL) AS in_t0
      FROM u1 LEFT JOIN u0
        ON u1.event_type = u0.event_type AND u1.user_id = u0.user_id
    )
    SELECT event_type,
           count(*) AS n_users,
           cast(sum(refcount) as bigint) AS n_events,
           count(*) FILTER (WHERE NOT in_t0) AS users_gained,
           count(*) FILTER (WHERE in_t0) AS n_store_rows
    FROM pairs GROUP BY 1
    """
