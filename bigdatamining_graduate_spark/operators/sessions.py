"""Incremental SESSIONIZATION — the session store joins the merge
discipline (q190 builds the full session view; q262 proved the
merge-from-current-row rule on SCD2; this applies it to 30-minute-gap
user sessions).

The arrival batch is everything past an event-time frontier
(``max(ts) − 12 h``, a 1-row broadcast — the q262 shape).  Because the
batch is in event-time order w.r.t. history (every batch event is
later than every stored event), a new event can only (a) extend the
user's FINAL stored session, or (b) chain new sessions after it — no
batch event can bridge two historical sessions, since bridging would
need an event strictly between them in time.  The merge therefore
needs exactly:

* each affected user's final stored session, re-emitted as a SEED row
  (its start and event count collapse into one pseudo-event at the
  session's last-event timestamp), plus
* that user's batch events,

re-islanded with the standard ``gap >= 30 min`` lag pass.  Every other
stored session — all sessions of unaffected users, every non-final
session of affected users — carries VERBATIM, which is the whole
claim: maintenance cost is O(|batch| + |affected users|), not a
re-sessionization of the corpus.

The DuckDB oracle is the FULL q190 recompute over all events with
per-session provenance (``merged`` ⇔ the session belongs to a user
with batch events AND contains either a post-frontier event or the
user's last pre-frontier event — i.e. it is the re-derived set), so
the driver hash-match proves carried ∪ re-derived == recompute,
including the not-extended seed (re-emitted unchanged but re-derived)
and the brand-new user (no seed at all).

Scale: one shuffle on user_id serves the history sessionization (at
100 TB the session store is persisted — here it is derived in-plan as
the driver-contract stand-in); the merge pass shuffles only seed +
batch rows.  Each cell is one step over its t0 session view:
:func:`merge_sessions_step` (insert, q282/q284) and
:func:`delete_sessions_step` (q283).  Reference parity: extension;
the reference has no sessionization (``hw2``'s time rollups are fixed
calendar buckets).

OPTIMIZER HAZARD (why the in-plan store uses the derived island pass,
not the native API): composing a ``groupBy(session_window(...), ...)``
aggregation under downstream operators that reference the window-start
key is UNSOUND on Spark 4.1.2 — Catalyst treats ``session_window`` as
an ordinary grouping key and pushes equi-joins / max-aggregates on
``session_window.start`` BELOW the ``MergingSessions`` node, where the
per-row pre-merge windows (start = each event's own ts) are visible:
an anti-join on (user_id, session_start_us) then removes/keeps EVENT
fragments instead of merged sessions (observed: a 2-event session
split, one fragment leaking as a phantom 1-event session), and
``max(session_start_us)`` silently becomes ``max(event ts)``.  The
explicit lag/new_s/sid pass (:func:`full_sessions_derived`) groups by
a plain computed column, which no rewrite can push through; q190
hash-pins native == derived == oracle for the standalone aggregation,
and ``tests/test_ivm_views.py`` pins the composed-plan divergence so
a Spark upgrade that fixes the rewrite is noticed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

GAP_S = 1800
GAP_US = GAP_S * 1_000_000
#: arrival frontier: everything in the last 12 h of event time is the
#: batch (leaves a real carried set: ~40 of 150 users have no batch
#: events at sf0.01)
LOOKBACK_US = 12 * 3600 * 1_000_000

_SESSION_COLS = ("user_id", "session_start_us", "session_end_us", "n_events")


def full_sessions(ev: DataFrame) -> DataFrame:
    """The stored session view (q190 semantics, native
    ``session_window``): 30-min-gap sessions per user, timestamps as
    epoch-micros bigints."""
    return (
        ev.groupBy(
            F.session_window("ts", f"{GAP_S} seconds").alias("sw"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("session_start_us"),
            F.unix_micros("sw.end").alias("session_end_us"),
            "n_events",
        )
    )


def _sessions_from_rows(rows: DataFrame) -> DataFrame:
    """The gaps-and-islands pass over pre-projected (user_id, tus,
    event_id) rows — factored from :func:`full_sessions_derived` so the
    incremental cells can feed it from ONE shared projected scan of the
    corpus (round 12, guide §1.2/§2.3) instead of re-scanning per
    consumer."""
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    lag = F.lag("tus").over(w)
    new_s = F.when(
        lag.isNull() | (F.col("tus") - lag >= GAP_US), 1
    ).otherwise(0)
    sid = F.sum(new_s).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rows.select("user_id", "tus", "event_id")
        .withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(
            F.min("tus").alias("session_start_us"),
            (F.max("tus") + F.lit(GAP_US)).alias("session_end_us"),
            F.count("*").alias("n_events"),
        )
        .drop("sid")
    )


def full_sessions_derived(ev: DataFrame) -> DataFrame:
    """The stored session view via the explicit gaps-and-islands pass —
    bit-identical to :func:`full_sessions` (q190 pins both against the
    oracle) but safe to COMPOSE under joins/aggregates on the session
    keys: the island id is a plain computed column, so Catalyst cannot
    push operators below the session merge (see module docstring)."""
    tus = F.unix_micros("ts")
    return _sessions_from_rows(
        ev.select("user_id", tus.alias("tus"), "event_id")
    )


def merge_sessions_step(s0: DataFrame, batch_rows: DataFrame) -> DataFrame:
    """ONE in-order merge step: ``s0`` is the stored session view,
    ``batch_rows`` (user_id, tus, event_id) are all later in event time
    than every stored event.  Re-islands each affected user's final
    session (collapsed to a seed pseudo-event at its last-event
    timestamp) with that user's batch rows; everything else carries.
    The factored step is what the streaming cell (q284) chains per
    trigger — the same shape q264 uses for the SCD2 merge."""
    affected = batch_rows.select("user_id").distinct()
    finals = (
        s0.groupBy("user_id")
        .agg(
            F.max(
                F.struct("session_start_us", "session_end_us", "n_events")
            ).alias("b")
        )
        .join(affected, "user_id", "left_semi")
        .select(
            "user_id",
            F.col("b.session_start_us").alias("session_start_us"),
            F.col("b.session_end_us").alias("session_end_us"),
            F.col("b.n_events").alias("n_events"),
        )
    )
    carried = s0.join(
        finals.select("user_id", "session_start_us"),
        ["user_id", "session_start_us"],
        "left_anti",
    ).withColumn("src", F.lit("carried"))
    # seed pseudo-event: the final session collapsed to its last-event
    # timestamp, carrying its start and count; event_id -1 sorts it
    # before any real tie (none can exist: seed tus < every batch tus)
    seed = finals.select(
        "user_id",
        (F.col("session_end_us") - F.lit(GAP_US)).alias("tus"),
        F.col("session_start_us").alias("start_us"),
        F.col("n_events").alias("n"),
        F.lit(-1).cast("long").alias("event_id"),
    )
    bev = batch_rows.select(
        "user_id",
        "tus",
        F.col("tus").alias("start_us"),
        F.lit(1).cast("long").alias("n"),
        "event_id",
    )
    rows = seed.unionByName(bev)
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    lag = F.lag("tus").over(w)
    new_s = F.when(
        lag.isNull() | (F.col("tus") - lag >= GAP_US), 1
    ).otherwise(0)
    sid = F.sum(new_s).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = (
        rows.withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(
            F.min("start_us").alias("session_start_us"),
            (F.max("tus") + F.lit(GAP_US)).alias("session_end_us"),
            F.sum("n").cast("long").alias("n_events"),
        )
        .drop("sid")
        .withColumn("src", F.lit("merged"))
    )
    cols = [*_SESSION_COLS, "src"]
    return carried.select(*cols).unionByName(merged.select(*cols))


def merge_incremental_sessions(ev: DataFrame) -> DataFrame:
    """q282: merge the post-frontier batch into the stored session view
    from each affected user's final session only
    (:func:`merge_sessions_step`).  The t0 view derives in-plan via the
    compose-safe island pass — NOT the native ``session_window``; see
    the optimizer hazard in the module docstring."""
    from ..checkpoints import local_checkpoint

    tus = F.unix_micros("ts")
    fr = ev.agg((F.max(tus) - F.lit(LOOKBACK_US)).alias("frontier"))
    # ONE projected pass over the corpus serves both sides of the
    # frontier split (round 12, guide §1.2/§2.3: the old plan re-scanned
    # events per consumer — hist under the store derivation, batch twice
    # inside the merge step — 12 scans → 2, the second being the 1-row
    # frontier aggregate)
    rows = local_checkpoint(
        ev.select("user_id", tus.alias("tus"), "event_id").crossJoin(
            F.broadcast(fr)
        ),
        eager=False,
    )
    hist = rows.filter(F.col("tus") < F.col("frontier"))
    batch = rows.filter(F.col("tus") >= F.col("frontier"))
    # the stored view is consumed twice (finals + carried): materialize
    # the in-plan stand-in once instead of re-sessionizing per consumer
    # (the q258 recomputed-subtree discipline, pinned by the scan
    # ratchet)
    s0 = local_checkpoint(_sessions_from_rows(hist), eager=False)
    return merge_sessions_step(
        s0, batch.select("user_id", "tus", "event_id")
    )


def merge_incremental_sessions_sql(table: str = "events") -> str:
    """DuckDB twin: the full sessionization recompute with re-derived
    provenance — the identity carried ∪ merged must reproduce."""
    return f"""
    WITH f AS (
      SELECT max(epoch_us(ts)) - {LOOKBACK_US} AS frontier FROM {table}
    ),
    g AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM {table}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ),
    au AS (
      SELECT DISTINCT user_id FROM g, f WHERE tus >= frontier
    ),
    lastpre AS (
      SELECT user_id, max(tus) AS last_pre FROM g, f
      WHERE tus < frontier GROUP BY 1
    )
    SELECT s.user_id,
           min(s.tus) AS session_start_us,
           max(s.tus) + {GAP_US} AS session_end_us,
           count(*) AS n_events,
           CASE WHEN bool_or(au.user_id IS NOT NULL)
                     AND (bool_or(s.tus >= f.frontier)
                          OR bool_or(s.tus = lp.last_pre))
                THEN 'merged' ELSE 'carried' END AS src
    FROM s
    CROSS JOIN f
    LEFT JOIN au ON s.user_id = au.user_id
    LEFT JOIN lastpre lp ON s.user_id = lp.user_id
    GROUP BY s.user_id, s.sid
    """


# -- delete shape (q283) ------------------------------------------------------

from ..functions.hashing import hash_bucket, portable_hash64_sql  # noqa: E402

SESS_BUCKETS = 10
SESS_DEL_BUCKET = 0  # salt "sdel": bucket 0 of events retracted (10%)


def deleted_flag(col: str = "event_id"):
    return hash_bucket(col, "sdel", SESS_BUCKETS) == SESS_DEL_BUCKET


def deleted_sql(col: str = "event_id") -> str:
    h = portable_hash64_sql(f"cast({col} as varchar)", "sdel")
    return f"(({h} % {SESS_BUCKETS}) = {SESS_DEL_BUCKET})"


def delete_aware_sessions(ev: DataFrame) -> DataFrame:
    """q283 — the DELETE shape on the session store, and the reason
    sessions need their own deletion rule: retracting an event can
    SPLIT a session in two (the deleted event was the only bridge
    between its neighbors), merge nothing, or shrink counts — none of
    which any per-session algebra can express.  What bounds the work is
    per-user independence (the q268 erasure property): sessions never
    cross users, so the maintenance re-islands ONLY the affected users'
    surviving events (|affected-users' events|-sized) while every other
    user's sessions carry verbatim from the store
    (:func:`delete_sessions_step`).

    The DuckDB oracle re-sessionizes the surviving corpus with
    ``rederived``/``carried`` provenance, so the driver hash-match
    proves bounded re-derivation == full recompute — including the
    bridge-split (planted in ``tests/test_ivm_views.py``, the q229
    bridge-split discipline applied to time instead of graphs).

    Scale: O(|store| anti-join + |affected users' events|) per deletion
    cycle; unaffected users never re-sessionize.

    One projected pass over the corpus (round 12, guide §1.2/§2.3)
    carries the deletion flag as a column and serves the affected-user
    derivation, the in-plan t0 view, and the surviving-rows
    re-derivation (6 scans → 1)."""
    from ..checkpoints import local_checkpoint

    rows = local_checkpoint(_event_rows(ev), eager=False)
    s0 = local_checkpoint(_sessions_from_rows(rows), eager=False)
    return delete_sessions_step(s0, rows)


def _event_rows(ev: DataFrame) -> DataFrame:
    """(user_id, tus, event_id, __d): the events projected for the
    island pass, with the q283 deletion flag as column ``__d``."""
    return ev.select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        deleted_flag().alias("__d"),
    )


def delete_sessions_step(s0: DataFrame, rows: DataFrame) -> DataFrame:
    """ONE delete step: ``s0`` is the stored session view, ``rows`` the
    t0 events (:func:`_event_rows`) with the retracted ones flagged
    ``__d``.  Every user with a retracted event re-islands its
    surviving events (``rederived``); every other user's sessions carry
    from ``s0``."""
    from ..checkpoints import local_checkpoint

    # consumed twice (carried anti-join + surviving semi-join)
    affected = local_checkpoint(
        rows.filter(F.col("__d")).select("user_id").distinct(),
        eager=False,
    )
    carried = s0.join(affected, "user_id", "left_anti").withColumn(
        "src", F.lit("carried")
    )
    surviving = rows.filter(~F.col("__d")).join(
        affected, "user_id", "left_semi"
    )
    rederived = _sessions_from_rows(surviving).withColumn(
        "src", F.lit("rederived")
    )
    cols = [*_SESSION_COLS, "src"]
    return carried.select(*cols).unionByName(rederived.select(*cols))


def delete_aware_sessions_sql(table: str = "events") -> str:
    """DuckDB twin: full re-sessionization of the surviving corpus with
    affected-user provenance."""
    return f"""
    WITH du AS (
      SELECT DISTINCT user_id FROM {table} WHERE {deleted_sql()}
    ),
    g AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM {table} WHERE NOT {deleted_sql()}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    )
    SELECT s.user_id,
           min(s.tus) AS session_start_us,
           max(s.tus) + {GAP_US} AS session_end_us,
           count(*) AS n_events,
           CASE WHEN bool_or(du.user_id IS NOT NULL)
                THEN 'rederived' ELSE 'carried' END AS src
    FROM s LEFT JOIN du ON s.user_id = du.user_id
    GROUP BY s.user_id, s.sid
    """
