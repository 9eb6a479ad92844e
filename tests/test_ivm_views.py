"""Planted-fixture tests for the IVM family (q279-q286): join-view
delta rule / delete ripple / upsert group-moves, reference-counted
distinct view + its aux-store vacuum, incremental / delete-aware /
streaming sessionization — plus the pinned Catalyst session_window
composition hazard that forced the derived island pass."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bigdatamining_graduate_spark.operators import distinctview as DV
from bigdatamining_graduate_spark.operators import joinview as JV
from bigdatamining_graduate_spark.operators import sessions as SN

from .conftest import SF_SMOKE


def _bucket(key, salt: str) -> int:
    """Python twin of the engine's salted portable hash bucket."""
    h = hashlib.md5((salt + str(key)).encode()).hexdigest()[:15]
    return int(h, 16) % 10


def _find_key(pred, start: int = 1) -> int:
    k = start
    while not pred(k):
        k += 1
    return k


# --------------------------------------------------------------------------
# q279/q280 join view
# --------------------------------------------------------------------------

def test_late_customer_joins_exactly_once(spark):
    """The referential-integrity ripple: a BASE order referencing a
    LATE-arriving customer is absent from the t0 view and must appear
    exactly once, in the O0 x dC term."""
    c_late = _find_key(lambda k: _bucket(k, "jvc") >= JV.JV_CUST_HIST)
    c_base = _find_key(lambda k: _bucket(k, "jvc") < JV.JV_CUST_HIST)
    o_base = _find_key(lambda k: _bucket(k, "jvo") < JV.JV_ORD_HIST)
    o_base2 = _find_key(
        lambda k: _bucket(k, "jvo") < JV.JV_ORD_HIST, start=o_base + 1
    )
    o_new = _find_key(lambda k: _bucket(k, "jvo") >= JV.JV_ORD_HIST)
    customer = spark.createDataFrame(
        [Row(c_custkey=c_late, c_mktsegment="SEG_LATE"),
         Row(c_custkey=c_base, c_mktsegment="SEG_BASE")]
    )
    orders = spark.createDataFrame(
        [Row(o_orderkey=o_base, o_custkey=c_late, o_orderstatus="O",
             o_totalprice=10.0),
         Row(o_orderkey=o_base2, o_custkey=c_base, o_orderstatus="O",
             o_totalprice=20.0),
         Row(o_orderkey=o_new, o_custkey=c_base, o_orderstatus="O",
             o_totalprice=30.0)]
    )
    out = {
        (r.c_mktsegment, r.src): (r.n_orders, r.sum_totalprice)
        for r in JV.incremental_join_view(orders, customer).collect()
    }
    # base order + late customer: exactly one row, in d_cust, never base
    assert out[("SEG_LATE", "d_cust")] == (1, 10.0)
    assert ("SEG_LATE", "base") not in out
    assert out[("SEG_BASE", "base")] == (1, 20.0)
    assert out[("SEG_BASE", "d_orders")] == (1, 30.0)


def test_join_view_store_roundtrip(spark):
    """Injecting the persisted t0 view reproduces the in-plan result."""
    from bigdatamining_graduate_spark.sources.catalog import load_table
    from bigdatamining_graduate_spark.staging import staging_dir

    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    stage = staging_dir(prefix="bdm_jv_roundtrip_")
    store_path = f"{stage}/jv_store"
    JV.join_view_rows(
        orders.filter(~JV.order_arrival_flag()),
        customer.filter(~JV.cust_arrival_flag()),
    ).write.parquet(store_path)
    injected = JV.incremental_join_view(
        orders, customer, view_store=spark.read.parquet(store_path)
    )
    derived = JV.incremental_join_view(orders, customer)
    assert sorted(map(tuple, injected.collect())) == sorted(
        map(tuple, derived.collect())
    )


def test_erased_customer_ripples_all_their_orders(spark):
    """q280: one erased customer retracts EVERY view row of that
    customer, not just one."""
    c_dead = _find_key(lambda k: _bucket(k, "jdc") == JV.JV_CUST_DEAD)
    c_ok = _find_key(lambda k: _bucket(k, "jdc") != JV.JV_CUST_DEAD)
    live_order = lambda start: _find_key(  # noqa: E731
        lambda k: _bucket(k, "jdo") != JV.JV_ORD_DEAD, start=start
    )
    o1 = live_order(1)
    o2 = live_order(o1 + 1)
    o3 = live_order(o2 + 1)
    customer = spark.createDataFrame(
        [Row(c_custkey=c_dead, c_mktsegment="SEG_DEAD"),
         Row(c_custkey=c_ok, c_mktsegment="SEG_OK")]
    )
    orders = spark.createDataFrame(
        [Row(o_orderkey=o1, o_custkey=c_dead, o_orderstatus="O",
             o_totalprice=1.0),
         Row(o_orderkey=o2, o_custkey=c_dead, o_orderstatus="O",
             o_totalprice=2.0),
         Row(o_orderkey=o3, o_custkey=c_ok, o_orderstatus="O",
             o_totalprice=3.0)]
    )
    out = {
        (r.c_mktsegment, r.src): r.n_orders
        for r in JV.delete_ripple_join_view(orders, customer).collect()
    }
    # both of the erased customer's orders died -> group gone entirely
    assert not any(seg == "SEG_DEAD" for seg, _ in out)
    assert out[("SEG_OK", "carried")] == 1


# --------------------------------------------------------------------------
# q281 distinct-count view
# --------------------------------------------------------------------------

def _event_key(arrival: bool, dead: bool, start: int = 1) -> int:
    def ok(k: int) -> bool:
        a = _bucket(k, "dcvi") >= DV.DCV_INS_HIST
        d = _bucket(k, "dcvd") == DV.DCV_DEL_BUCKET
        return a == arrival and d == dead

    return _find_key(ok, start=start)


def test_distinct_transitions(spark):
    """A user is lost only when their LAST event of the type dies;
    a batch-only user is gained; a partial loser is neither."""
    e_lost = _event_key(arrival=False, dead=True)
    e_keep1 = _event_key(arrival=False, dead=False)
    e_keep2 = _event_key(arrival=False, dead=True, start=e_lost + 1)
    e_new = _event_key(arrival=True, dead=False)
    rows = [
        # user 1: single t0 event, dies -> lost
        Row(event_id=e_lost, user_id=1, event_type="x"),
        # user 2: two t0 events, one dies -> survives, not lost
        Row(event_id=e_keep1, user_id=2, event_type="x"),
        Row(event_id=e_keep2, user_id=2, event_type="x"),
        # user 3: arrival only -> gained
        Row(event_id=e_new, user_id=3, event_type="x"),
    ]
    out = {
        r.event_type: r
        for r in DV.maintained_distinct_view(
            spark.createDataFrame(rows)
        ).collect()
    }
    x = out["x"]
    assert (x.n_users, x.n_events) == (2, 2)  # users 2, 3 / one event each
    assert x.users_gained == 1
    assert x.users_lost == 1


def test_distinct_aux_store_roundtrip(spark):
    from bigdatamining_graduate_spark.sources.catalog import load_table
    from bigdatamining_graduate_spark.staging import staging_dir

    ev = load_table(spark, SF_SMOKE, "events")
    stage = staging_dir(prefix="bdm_dcv_roundtrip_")
    store_path = f"{stage}/aux_store"
    DV.refcount_partials(
        ev.filter(~DV.arrival_flag()), +1
    ).write.parquet(store_path)
    injected = DV.maintained_distinct_view(
        ev, aux_store=spark.read.parquet(store_path)
    )
    derived = DV.maintained_distinct_view(ev)
    assert sorted(map(tuple, injected.collect())) == sorted(
        map(tuple, derived.collect())
    )


# --------------------------------------------------------------------------
# q282 incremental sessions
# --------------------------------------------------------------------------

_H = 3600 * 1_000_000
_MIN = 60 * 1_000_000


def _ev_df(spark, rows):
    return spark.createDataFrame(
        [Row(event_id=i, user_id=u, tus=t) for i, (u, t) in enumerate(rows)]
    ).select(
        "event_id",
        "user_id",
        F.timestamp_micros(F.col("tus")).alias("ts"),
    )


def test_planted_merge_shapes(spark):
    """All four merge shapes at once: extension across the frontier,
    a final session that does NOT extend, a brand-new user, and an
    untouched user carried verbatim."""
    T = 1_700_000_000 * 1_000_000  # anchor epoch micros
    fr = T - 12 * _H  # frontier given max ts == T
    rows = [
        # u1 extends: hist session of 2 events ends 4 min before the
        # frontier; batch event 4 min after -> gap 8 min < 30
        (1, fr - 20 * _MIN), (1, fr - 4 * _MIN), (1, fr + 4 * _MIN),
        # u2 does not extend: hist at fr-2h, batch at fr+1h (gap 3h);
        # plus an earlier separate session at fr-5h (carried)
        (2, fr - 5 * _H), (2, fr - 2 * _H), (2, fr + 1 * _H),
        # u3 brand-new: two batch events 10 min apart; last one is T
        (3, T - 10 * _MIN), (3, T),
        # u4 unaffected: one hist session
        (4, fr - 3 * _H),
    ]
    out = sorted(
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, r.src)
        for r in SN.merge_incremental_sessions(_ev_df(spark, rows)).collect()
    )
    G = SN.GAP_US
    expect = sorted([
        (1, fr - 20 * _MIN, fr + 4 * _MIN + G, 3, "merged"),
        (2, fr - 5 * _H, fr - 5 * _H + G, 1, "carried"),
        (2, fr - 2 * _H, fr - 2 * _H + G, 1, "merged"),   # re-emitted seed
        (2, fr + 1 * _H, fr + 1 * _H + G, 1, "merged"),
        (3, T - 10 * _MIN, T + G, 2, "merged"),
        (4, fr - 3 * _H, fr - 3 * _H + G, 1, "carried"),
    ])
    assert out == expect


def test_session_store_roundtrip(spark):
    from bigdatamining_graduate_spark.sources.catalog import load_table
    from bigdatamining_graduate_spark.staging import staging_dir

    ev = load_table(spark, SF_SMOKE, "events")
    tus = F.unix_micros("ts")
    fr = ev.agg((F.max(tus) - F.lit(SN.LOOKBACK_US)).alias("frontier"))
    hist = ev.crossJoin(F.broadcast(fr)).filter(tus < F.col("frontier"))
    stage = staging_dir(prefix="bdm_sess_roundtrip_")
    store_path = f"{stage}/session_store"
    SN.full_sessions_derived(hist).write.parquet(store_path)
    rows = ev.select("user_id", tus.alias("tus"), "event_id").crossJoin(
        F.broadcast(fr)
    )
    injected = SN.merge_sessions_step(
        spark.read.parquet(store_path),
        rows.filter(F.col("tus") >= F.col("frontier")).select(
            "user_id", "tus", "event_id"
        ),
    )
    derived = SN.merge_incremental_sessions(ev)
    assert sorted(map(tuple, injected.collect())) == sorted(
        map(tuple, derived.collect())
    )


def test_delete_session_store_roundtrip(spark):
    """q283 through a PERSISTED t0 session view: the store written and
    read back gives the in-plan delete-aware result."""
    from bigdatamining_graduate_spark.sources.catalog import load_table
    from bigdatamining_graduate_spark.staging import staging_dir

    ev = load_table(spark, SF_SMOKE, "events")
    stage = staging_dir(prefix="bdm_sess_del_roundtrip_")
    store_path = f"{stage}/session_store"
    SN.full_sessions_derived(ev).write.parquet(store_path)
    injected = SN.delete_sessions_step(
        spark.read.parquet(store_path), SN._event_rows(ev)
    )
    derived = SN.delete_aware_sessions(ev)
    assert sorted(map(tuple, injected.collect())) == sorted(
        map(tuple, derived.collect())
    )


def test_native_session_window_compose_hazard_still_present(spark):
    """Pins the Catalyst hazard that forced full_sessions_derived: an
    anti-join on (user_id, session_start_us) composed over the NATIVE
    session_window aggregation gets pushed below MergingSessions and
    operates on per-event pre-merge windows, leaking phantom session
    fragments.  The derived island pass is immune.  If this assertion
    ever FAILS, Spark fixed the rewrite — consider dropping the
    workaround in operators/sessions.py (and this test)."""
    from bigdatamining_graduate_spark.sources.catalog import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    tus = F.unix_micros("ts")
    fr = ev.agg((F.max(tus) - F.lit(SN.LOOKBACK_US)).alias("frontier"))
    hist = ev.crossJoin(F.broadcast(fr)).filter(tus < F.col("frontier"))

    def composed(s0):
        finals = s0.groupBy("user_id").agg(
            F.max("session_start_us").alias("session_start_us")
        )
        return s0.join(
            finals, ["user_id", "session_start_us"], "left_anti"
        ).count()

    n_native = composed(SN.full_sessions(hist))
    n_derived = composed(SN.full_sessions_derived(hist))
    # standalone, the two implementations agree bit-for-bit...
    a = sorted(map(tuple, SN.full_sessions(hist).collect()))
    b = sorted(map(tuple, SN.full_sessions_derived(hist).collect()))
    assert a == b
    # ...composed under the key-referencing anti-join, native diverges
    assert n_native != n_derived, (
        "session_window composition now matches the derived pass - "
        "Spark may have fixed the pushdown; revisit the workaround"
    )


# --------------------------------------------------------------------------
# q283 delete-aware sessions / q285 upsert ripple / q286 aux vacuum
# --------------------------------------------------------------------------

def test_deleted_bridge_event_splits_session(spark):
    """q283: the deleted event was the only bridge — its session must
    split into two, while an untouched user's identical session
    carries."""
    def ev_key(dead: bool, start: int = 1) -> int:
        return _find_key(
            lambda k: (_bucket(k, "sdel") == SN.SESS_DEL_BUCKET) == dead,
            start=start,
        )

    T = 1_700_000_000 * 1_000_000
    a = ev_key(dead=False)
    b = ev_key(dead=True)
    c = ev_key(dead=False, start=a + 1)
    d = ev_key(dead=False, start=c + 1)
    G = SN.GAP_US
    rows = spark.createDataFrame(
        [
            # user 1: A -20min- B(dead) -20min- C : one session at t0
            Row(event_id=a, user_id=1, tus=T),
            Row(event_id=b, user_id=1, tus=T + 20 * _MIN),
            Row(event_id=c, user_id=1, tus=T + 40 * _MIN),
            # user 2: same shape, nothing deleted
            Row(event_id=d, user_id=2, tus=T),
        ]
    ).select(
        "event_id", "user_id", F.timestamp_micros(F.col("tus")).alias("ts")
    )
    out = sorted(
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, r.src)
        for r in SN.delete_aware_sessions(rows).collect()
    )
    assert out == sorted([
        (1, T, T + G, 1, "rederived"),
        (1, T + 40 * _MIN, T + 40 * _MIN + G, 1, "rederived"),
        (2, T, T + G, 1, "carried"),
    ])


def test_resegmented_customer_moves_groups(spark):
    """q285: a re-segmented customer's unchanged orders move between
    rollup groups — old group shrinks, R_ group appears, both
    adjusted."""
    c_rev = _find_key(lambda k: _bucket(k, "juc") == JV.JV_CUST_REV)
    c_ok = _find_key(lambda k: _bucket(k, "juc") != JV.JV_CUST_REV)
    o_plain = lambda start: _find_key(  # noqa: E731
        lambda k: _bucket(k, "juo") != JV.JV_ORD_REV, start=start
    )
    o1 = o_plain(1)
    o2 = o_plain(o1 + 1)
    o3 = o_plain(o2 + 1)
    customer = spark.createDataFrame(
        [Row(c_custkey=c_rev, c_mktsegment="SEG"),
         Row(c_custkey=c_ok, c_mktsegment="SEG")]
    )
    orders = spark.createDataFrame(
        [Row(o_orderkey=o1, o_custkey=c_rev, o_orderstatus="O",
             o_totalprice=1.0),
         Row(o_orderkey=o2, o_custkey=c_rev, o_orderstatus="O",
             o_totalprice=2.0),
         Row(o_orderkey=o3, o_custkey=c_ok, o_orderstatus="O",
             o_totalprice=4.0)]
    )
    out = {
        (r.c_mktsegment, r.src): (r.n_orders, r.sum_totalprice)
        for r in JV.upsert_ripple_join_view(orders, customer).collect()
    }
    assert out[("R_SEG", "adjusted")] == (2, 3.0)
    assert out[("SEG", "adjusted")] == (1, 4.0)  # lost rows -> adjusted


def test_distinct_vacuum_shrinks_store(spark):
    """q286: the accreted 5-file-set store nets to ONE file holding
    exactly one row per surviving pair."""
    import glob
    import os

    from bigdatamining_graduate_spark.sources.catalog import load_table
    from bigdatamining_graduate_spark.staging import staging_dir

    ev = load_table(spark, SF_SMOKE, "events")
    stage = staging_dir(prefix="bdm_dcv_vac_test_")
    out = DV.vacuumed_distinct_view(spark, ev, stage_dir=stage)
    out.collect()  # drive the lifecycle
    from bigdatamining_graduate_spark.sources.publish import live_dir

    store_dir = live_dir(stage, "aux_store")
    files = glob.glob(os.path.join(store_dir, "part-*.parquet"))
    assert len(files) == 1, f"vacuum left {len(files)} files"
    survivors = (
        ev.filter(~DV.arrival_flag())
        .filter(~DV.deleted_flag())
        .select(*DV.KEYS)
        .distinct()
        .count()
    )
    assert spark.read.parquet(store_dir).count() == survivors


@pytest.mark.parametrize(
    "view",
    [JV.delete_ripple_join_view, JV.upsert_ripple_join_view],
    ids=["q280", "q285"],
)
def test_join_store_roundtrip(spark, tmp_path, view):
    """q280/q285: maintenance off the PERSISTED t0 join view equals the
    in-plan derivation."""
    from bigdatamining_graduate_spark.sources.catalog import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    JV.join_view_rows(orders, customer).write.parquet(str(tmp_path / "jv"))
    injected = view(
        orders, customer, view_store=spark.read.parquet(str(tmp_path / "jv"))
    )
    derived = sorted(map(tuple, view(orders, customer).collect()))
    assert derived and sorted(map(tuple, injected.collect())) == derived
