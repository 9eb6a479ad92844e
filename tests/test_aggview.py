"""Aggregate-view maintenance (q257–q261): the OLAP-store matrix.

The driver oracle proves maintained == full recompute at sf0.01; these
tests pin the sharp edges the fixture may not exercise deterministically:

* max-owner deletion — the deleted row OWNS the group max, so carrying
  the stored max would be wrong; the bounded re-scan must find the
  runner-up;
* group-emptying deletion — a group whose every row is retracted must
  disappear, not linger at n_rows = 0;
* revision algebra — n_rows conservation under upsert (an UPDATE is a
  retraction + insertion of equal cardinality);
* store roundtrips — maintenance off a PERSISTED parquet view equals the
  in-plan derivation (the shape a production refresh actually runs);
* vacuum — net-combine compaction (positive + retraction partials)
  physically shrinks the store and drops emptied groups.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from bigdatamining_graduate_spark.operators import aggview as AV

from .conftest import SF_SMOKE


def _load(spark):
    from bigdatamining_graduate_spark.sources.catalog import load_table

    return load_table(spark, SF_SMOKE, "lineitem")


def _rows_key(df, *cols):
    out = []
    for r in df.collect():
        d = r.asDict()
        out.append(tuple(
            round(d[c], 6) if isinstance(d[c], float) else d[c]
            for c in cols
        ))
    return sorted(out)


KEY_COLS = ("ship_month", "l_returnflag", "n_rows", "sum_qty", "revenue",
            "max_price", "src")


def _mk_li(spark, rows):
    """lineitem-shaped frame: (orderkey, qty, price, discount, flag, date)."""
    return spark.createDataFrame(
        [
            (ok, float(q), float(p), float(d), fl,
             datetime.datetime(2024, m, 1))
            for ok, q, p, d, fl, m in rows
        ],
        "l_orderkey long, l_quantity double, l_extendedprice double, "
        "l_discount double, l_returnflag string, l_shipdate timestamp",
    )


def _some_keys(spark, flag_fn, want, n=2):
    """First n orderkeys (probing 1..400) whose hash flag is `want`."""
    df = spark.range(1, 401).select(F.col("id").alias("l_orderkey"))
    rows = df.withColumn("f", flag_fn("l_orderkey")).filter(
        F.col("f") == F.lit(want)
    ).limit(n).collect()
    assert len(rows) == n
    return [r.l_orderkey for r in rows]


def test_insert_store_roundtrip_and_provenance(spark, tmp_path):
    li = _load(spark)
    out = AV.incremental_agg_view(li)
    got = _rows_key(out, *KEY_COLS)
    assert {g[-1] for g in got} >= {"merged"}  # arrival touches real groups

    AV.agg_partials(li.filter(~AV.arrival_flag())).write.parquet(
        str(tmp_path / "view")
    )
    rt = AV.incremental_agg_view(
        li, view_store=spark.read.parquet(str(tmp_path / "view"))
    )
    assert _rows_key(rt, *KEY_COLS) == got


def test_delete_max_owner_and_group_emptying(spark):
    """Planted: the deleted order owns one group's max (recompute must
    find the runner-up) and is the ONLY member of another (group must
    vanish)."""
    (del_a, del_b) = _some_keys(
        spark, lambda c: AV.deleted_flag(c).cast("int"), 1
    )
    (keep_a,) = _some_keys(
        spark, lambda c: AV.deleted_flag(c).cast("int"), 0, n=1
    )
    li = _mk_li(spark, [
        # group (2024-01, N): deleted order owns the max 900.0
        (del_a, 10, 900.0, 0.0, "N", 1),
        (keep_a, 10, 500.0, 0.0, "N", 1),
        (keep_a, 10, 400.0, 0.0, "N", 1),
        # group (2024-02, N): only member is deleted -> group vanishes
        (del_b, 10, 777.0, 0.0, "N", 2),
        # group (2024-03, R): untouched, carries verbatim
        (keep_a, 10, 650.0, 0.0, "R", 3),
    ])
    out = AV.delete_aware_agg_view(li)
    got = {(r.ship_month, r.l_returnflag): r for r in out.collect()}
    assert set(got) == {("2024-01", "N"), ("2024-03", "R")}
    jan = got[("2024-01", "N")]
    assert jan.max_price == 500.0 and jan.n_rows == 2 and jan.src == "adjusted"
    mar = got[("2024-03", "R")]
    assert mar.max_price == 650.0 and mar.src == "carried"


def test_upsert_conserves_counts_and_roundtrip(spark, tmp_path):
    li = _load(spark)
    out = AV.upsert_aware_agg_view(li)
    got = _rows_key(out, *KEY_COLS)
    assert {g[-1] for g in got} == {"carried", "revised"}

    # an UPDATE never changes group cardinality (keys are revision-stable)
    full_counts = _rows_key(
        AV.agg_partials(li), "ship_month", "l_returnflag", "n_rows"
    )
    assert _rows_key(out, "ship_month", "l_returnflag", "n_rows") == full_counts

    AV.agg_partials(li).write.parquet(str(tmp_path / "view"))
    rt = AV.upsert_aware_agg_view(
        li, view_store=spark.read.parquet(str(tmp_path / "view"))
    )
    assert _rows_key(rt, *KEY_COLS) == got


def test_vacuum_compacts_and_drops_emptied_groups(spark, tmp_path):
    import glob
    import os

    li = _load(spark)
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    out = AV.vacuumed_agg_view(spark, li, stage_dir=stage)

    from bigdatamining_graduate_spark.plans.queries import ORACLE

    from .oracle import assert_matches

    assert_matches(out, ORACLE["q261_agg_view_vacuum"], SF_SMOKE)

    from bigdatamining_graduate_spark.sources.publish import live_dir

    store = live_dir(stage, "view_store")
    files = glob.glob(os.path.join(store, "*.parquet"))
    assert len(files) == 1, f"store not compacted: {len(files)} files"
    kept = spark.read.parquet(store)
    assert kept.filter(F.col("n_rows") <= 0).count() == 0
    # the compacted store IS the t0-remaining view, exactly
    t0_rem = li.filter(~AV.arrival_flag()).filter(~AV.deleted_flag())
    exp = _rows_key(
        AV.agg_partials(t0_rem),
        "ship_month", "l_returnflag", "n_rows", "max_price",
    )
    assert _rows_key(
        kept, "ship_month", "l_returnflag", "n_rows", "max_price"
    ) == exp


def test_quarterly_derivation_roundtrip(spark, tmp_path):
    """q263: the quarterly rollup served from a PERSISTED monthly view
    equals the in-plan derivation (and, via the driver oracle, the
    direct corpus rollup) — the lattice edge is store-serveable."""
    li = _load(spark)
    got = _rows_key(
        AV.derived_quarterly_view(li),
        "ship_quarter", "l_returnflag", "n_rows", "sum_qty", "revenue",
        "max_price",
    )
    AV.agg_partials(li).write.parquet(str(tmp_path / "monthly"))
    rt = AV.derived_quarterly_view(
        li, view_store=spark.read.parquet(str(tmp_path / "monthly"))
    )
    assert _rows_key(
        rt, "ship_quarter", "l_returnflag", "n_rows", "sum_qty", "revenue",
        "max_price",
    ) == got
    assert got and all(g[0].count("-Q") == 1 for g in got)


#: injected-store cases: the maintained view run off a PERSISTED t0
#: store must equal the in-plan one-pass derivation
STORE_CASES = {
    "q258": (AV.delete_aware_agg_view, lambda li: AV.agg_partials(li)),
    "q274": (
        AV.maintained_quarterly_view,
        lambda li: AV.agg_partials(li.filter(~AV.arrival_flag())),
    ),
}


@pytest.mark.parametrize("case", sorted(STORE_CASES))
def test_store_roundtrip(spark, tmp_path, case):
    view, t0_store = STORE_CASES[case]
    li = _load(spark)
    derived = view(li)
    t0_store(li).write.parquet(str(tmp_path / "store"))
    injected = view(li, view_store=spark.read.parquet(str(tmp_path / "store")))
    got = _rows_key(derived, *derived.columns)
    assert got and _rows_key(injected, *derived.columns) == got
