"""Store vacuum / compaction (q235) — tombstone GC for the persisted
signature/pair/label stores the incremental family (q227-q232) accretes
(VERDICT r8 missing #2).

Invariants:

* vacuum physically SHRINKS the store: tombstoned rows gone, small
  files rewritten to the compaction target;
* the next refresh through the VACUUMED stores == the same refresh
  through the UNVACUUMED stores (where tombstones are filtered at read
  time) == the full recompute over the remaining corpus;
* the post-q229 label store compacts losslessly (it already excludes
  deleted docs, so its vacuum is pure file rewrite).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from bigdatamining_graduate_spark.operators import dedup as DD
from bigdatamining_graduate_spark.sources import publish as PB

from .conftest import SF_SMOKE

THRESH = 0.5


def _docs(spark):
    from bigdatamining_graduate_spark.sources.catalog import load_table

    return load_table(spark, SF_SMOKE, "documents")


def _pairs_key(df):
    rows = df.select("doc_a", "doc_b", "sig_match", "src").collect()
    return sorted((r.doc_a, r.doc_b, round(r.sig_match, 9), r.src) for r in rows)


def _n_files(d):
    return len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))


def test_vacuum_shrinks_and_preserves(spark, tmp_path):
    """File count drops to the target, tombstoned rows are physically
    gone, surviving rows are byte-identical."""
    docs = _docs(spark)
    sig = DD.minhash_signatures(docs.filter(~DD._incr_delta_flag()))
    root = str(tmp_path / "root")
    PB.publish_version(root, 1, {"sig_store": sig.repartition(8)})
    store = PB.live_dir(root, "sig_store")
    before_files = _n_files(store)
    assert before_files >= 8
    tomb = docs.filter(DD._incr_deleted_flag()).select("doc_id")
    n_tomb_in_store = sig.join(tomb, "doc_id", "left_semi").count()
    assert n_tomb_in_store > 0  # the fixture genuinely tombstones rows
    expected = sorted(
        r.doc_id for r in sig.join(tomb, "doc_id", "left_anti").collect()
    )
    audit = DD.vacuum_parquet_store(spark, root, {"sig_store": ("doc_id",)}, tomb)[
        "sig_store"
    ]
    assert audit["files_before"] == before_files
    assert audit["files_after"] == 1
    assert audit["rows_after"] == audit["rows_before"] - n_tomb_in_store
    back = spark.read.parquet(PB.live_dir(root, "sig_store"))
    assert sorted(r.doc_id for r in back.collect()) == expected
    assert back.join(tomb, "doc_id", "left_semi").count() == 0


def test_vacuumed_refresh_equals_unvacuumed_and_recompute(spark, tmp_path):
    """The three-way identity: refresh(vacuumed stores) ==
    refresh(unvacuumed stores with read-time tombstone filtering) ==
    full incremental recompute over the remaining corpus."""
    docs = _docs(spark)
    remaining = docs.filter(~DD._incr_deleted_flag())
    vac = DD.vacuumed_refresh_pairs(
        spark, docs, THRESH, stage_dir=str(tmp_path / "stage")
    )
    # unvacuumed path: same stores, tombstones filtered at read time
    t0 = docs.filter(~DD._incr_delta_flag())
    sig_t0 = DD.minhash_signatures(t0)
    pairs_t0 = DD.lsh_candidate_pairs(sig_t0, THRESH).select("doc_a", "doc_b")
    deleted = DD._incr_deleted_flag()
    unvac = DD._lsh_refresh(
        sig_t0.filter(~deleted),
        pairs_t0.filter(
            ~DD._incr_deleted_flag("doc_a") & ~DD._incr_deleted_flag("doc_b")
        ),
        remaining.filter(DD._incr_delta_flag()),
        THRESH,
    )
    # in-plan recompute over the remaining corpus
    recompute = DD.incremental_lsh_pairs(remaining, THRESH)
    assert _pairs_key(vac) == _pairs_key(unvac) == _pairs_key(recompute)


def test_label_store_compaction_lossless(spark, tmp_path):
    """The post-q229 label store holds no deleted rows — its vacuum is
    pure small-file compaction and must be a byte-identical rewrite."""
    docs = _docs(spark)
    labels = DD.delete_aware_components(docs, THRESH)
    root = str(tmp_path / "root")
    PB.publish_version(root, 1, {"label_store": labels.repartition(8)})
    expected = sorted(
        (r.doc_id, r.component, r.csize) for r in labels.collect()
    )
    audit = DD.vacuum_parquet_store(spark, root, {"label_store": ()})["label_store"]
    assert audit["files_after"] == 1
    assert audit["rows_after"] == audit["rows_before"]
    back = spark.read.parquet(PB.live_dir(root, "label_store"))
    assert sorted((r.doc_id, r.component, r.csize) for r in back.collect()) == expected


def test_triggered_vacuum_fires_selectively_and_matches(spark, tmp_path):
    """q267: under the 10% deletion the SIGNATURE store's audit fires
    (≥ 5%) and compacts 8→1 files; the PAIR store's does NOT (dead
    fraction ~19% < the 50% policy bar) and stays accreted at 8 files —
    and the refresh against that MIXED state still equals the in-plan
    incremental recompute over the remaining corpus (the q235
    identity via a physically different path)."""
    import glob
    import os

    docs = _docs(spark)
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    out = DD.triggered_vacuum_refresh(spark, docs, THRESH, stage_dir=stage)

    sig_files = glob.glob(os.path.join(PB.live_dir(stage, "sig_store"), "*.parquet"))
    pair_files = glob.glob(os.path.join(PB.live_dir(stage, "pair_store"), "*.parquet"))
    assert len(sig_files) == 1, "signature store should have fired + compacted"
    assert len(pair_files) == 8, "pair store should have stayed accreted"
    # the unvacuumed pair store still physically holds dead rows...
    dead_kept = (
        spark.read.parquet(PB.live_dir(stage, "pair_store"))
        .filter(DD._incr_deleted_flag("doc_a") | DD._incr_deleted_flag("doc_b"))
        .count()
    )
    assert dead_kept > 0
    # ...but the read-path tombstone filter hides them exactly
    remaining = docs.filter(~DD._incr_deleted_flag())
    recompute = DD.incremental_lsh_pairs(remaining, THRESH)
    assert _pairs_key(out) == _pairs_key(recompute)


def test_scd2_gdpr_erase_physically_removes_user_history(spark, tmp_path):
    """q268: after the erasure rewrite, the raw parquet store holds
    ZERO rows for erased users (physical deletion, not filtering), the
    small-file accretion is compacted, and the follow-up merge emits
    only surviving users."""
    from pyspark.sql import functions as F

    from bigdatamining_graduate_spark.plans import queries as Q
    from bigdatamining_graduate_spark.sources.catalog import load_table

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "ts", Q._q179_tier().alias("tier")
    )
    erased = ev.select("user_id").distinct().filter(Q._gdpr_erased_flag())
    n_erased = erased.count()
    assert n_erased > 0  # the fixture genuinely erases someone
    out = Q.scd2_gdpr_erase(spark, ev, stage_dir=str(tmp_path))
    store_dir = PB.live_dir(str(tmp_path), "scd2_store")
    # compaction: the 8-file accretion rewrote to the target (1 file)
    assert _n_files(store_dir) == 1
    # physical erasure: the raw store bytes hold no erased-user rows
    raw = spark.read.parquet(store_dir)
    assert raw.filter(Q._gdpr_erased_flag()).count() == 0
    assert raw.count() > 0
    # and the merged output never resurrects them
    assert out.filter(Q._gdpr_erased_flag()).count() == 0
    # the survivors' merge equals the full recompute over surviving
    # events (the oracle identity, asserted engine-side too)
    survivors_ev = ev.filter(~Q._gdpr_erased_flag())
    expected = {
        (r.user_id, r.version): (r.tier, r.valid_from_us, r.is_current)
        for r in Q._scd2_history(survivors_ev).collect()
    }
    got = {
        (r.user_id, r.version): (r.tier, r.valid_from_us, r.is_current)
        for r in out.collect()
    }
    assert got == expected


def test_scd2_horizon_compaction_prunes_and_serves(spark, tmp_path):
    """q273: versions closed at or before the retention horizon are
    physically gone, open + recent rows survive verbatim, the store
    shrinks, and point-in-time serving (the q217 consumer) stays EXACT
    for every as-of timestamp after the horizon."""
    from pyspark.sql import functions as F

    from bigdatamining_graduate_spark.plans import queries as Q
    from bigdatamining_graduate_spark.sources.catalog import load_table

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "ts", Q._q179_tier().alias("tier")
    )
    hz_us = ev.agg(
        F.unix_micros(
            F.date_trunc("DAY", F.max("ts"))
            - F.expr(f"INTERVAL {Q._Q273_HORIZON_DAYS} DAYS")
        ).alias("hz")
    ).collect()[0]["hz"]
    out = Q.scd2_horizon_compact(spark, ev, stage_dir=str(tmp_path))
    store_dir = PB.live_dir(str(tmp_path), "scd2_store")
    raw = spark.read.parquet(store_dir)
    # pruning is real on this fixture AND physical in the bytes
    full_hist = Q._scd2_history(ev.crossJoin(
        F.broadcast(ev.agg((F.date_trunc("DAY", F.max("ts"))
                            - F.expr("INTERVAL 6 DAYS")).alias("cut")))
    ).filter(F.col("ts") <= F.col("cut")).drop("cut"))
    n_full = full_hist.count()
    n_kept = raw.count()
    assert 0 < n_kept < n_full, (n_kept, n_full)
    assert raw.filter(
        F.col("valid_to_us").isNotNull() & (F.col("valid_to_us") <= hz_us)
    ).count() == 0
    # every user's CURRENT row survives compaction (what the merge needs)
    assert (
        full_hist.filter(F.col("is_current")).count()
        == raw.filter(F.col("is_current")).count()
    )
    # PIT serving equivalence after the horizon: the interval containing
    # any post-horizon timestamp is identical off compacted vs full store
    probe = hz_us + 3_600_000_000  # one hour past the horizon
    pick = lambda df: sorted(  # noqa: E731
        (r.user_id, r.version, r.tier)
        for r in df.filter(
            (F.col("valid_from_us") <= probe)
            & (F.col("valid_to_us").isNull() | (F.col("valid_to_us") > probe))
        ).collect()
    )
    assert pick(raw) == pick(full_hist)
    # and the merged output equals the horizon-filtered q262 result
    assert out.filter(
        F.col("valid_to_us").isNotNull() & (F.col("valid_to_us") <= hz_us)
    ).count() == 0
