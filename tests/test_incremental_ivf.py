"""Incremental IVF/ANN index maintenance (q233/q234) — the q227
discipline on the vector store (VERDICT r8 next-round #2).

Four invariants:

* maintained assignment (carried ∪ fresh under the frozen quantizer) ==
  assigning the whole corpus under that quantizer, value-for-value;
* the same through a PERSISTED parquet index roundtrip — quantizer
  stats, seed centroids, and base assignments written, read back, and
  merged with a freshly-assigned batch (the shape a daily refresh runs);
* search recall through the MAINTAINED index ≥ recall through a fully
  REFIT index − ε, measured against brute-force ground truth (staleness
  is bounded, not assumed);
* the retrain trigger actually FIRES when the batch drifts (the fixture
  batch is i.i.d., so q234 is all-zero there — this injects a shifted
  batch and asserts drift/overload trip).
"""

from __future__ import annotations

from pyspark.sql import functions as F

import bigdatamining_graduate_spark.operators.similarity as S

from .conftest import SF_SMOKE

RECALL_EPS = 0.1
K = 5
NPROBE = 3
def _query_pred():
    return F.col("vec_id") % 100 == 0


def _emb(spark):
    from bigdatamining_graduate_spark.sources.catalog import load_table

    return load_table(spark, SF_SMOKE, "embeddings")


def _key(df):
    return sorted(
        (r.vec_id, r.cell, r.d2, r.src)
        for r in df.select("vec_id", "cell", "d2", "src").collect()
    )


def test_maintained_equals_full_frozen_assignment(spark):
    emb = _emb(spark)
    maintained = S.incremental_ivf_assign(emb)
    base = emb.filter(~S._ivf_delta_flag())
    stats = S.ivf_quant_stats(base)
    seeds = S.ivf_seeds(base, stats)
    full = S.ivf_assign(emb, stats, seeds).withColumn(
        "src",
        F.when(S._ivf_delta_flag(), F.lit("fresh")).otherwise(F.lit("carried")),
    )
    assert _key(maintained) == _key(full)
    # the split is a real partition at this fixture
    by_src = dict(maintained.groupBy("src").count().rdd.map(tuple).collect())
    assert set(by_src) == {"carried", "fresh"}
    # every vector assigned exactly once
    assert maintained.count() == emb.count()


def test_index_store_roundtrip(spark, tmp_path):
    """The persisted-index path: quantizer stats, seed centroids, and
    base assignments written to parquet (the 'previous run'), read back,
    merged with a freshly-assigned batch — byte-equal to the in-plan
    maintenance."""
    emb = _emb(spark)
    base = emb.filter(~S._ivf_delta_flag())
    stats = S.ivf_quant_stats(base)
    seeds = S.ivf_seeds(base, stats)
    base_assign = S.ivf_assign(base, stats, seeds)
    stats.write.parquet(str(tmp_path / "stats"))
    seeds.write.parquet(str(tmp_path / "seeds"))
    base_assign.write.parquet(str(tmp_path / "assign"))
    roundtrip = S.ivf_apply(
        spark.read.parquet(str(tmp_path / "stats")),
        spark.read.parquet(str(tmp_path / "seeds")),
        spark.read.parquet(str(tmp_path / "assign")),
        None,
        emb.filter(S._ivf_delta_flag()),
    )
    assert _key(roundtrip) == _key(S.incremental_ivf_assign(emb))


def test_maintained_recall_within_eps_of_refit(spark):
    """The staleness bound the maintenance loop relies on: serving the
    frozen quantizer between retrains costs at most ε recall vs a full
    refit, measured against exact brute force."""
    emb = _emb(spark)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_bruteforce(emb, _query_pred(), k=K).collect()
    }
    assert truth

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & truth) / len(truth)

    r_maint = recall(
        S.portable_ivf_search(emb, _query_pred(), k=K, nprobe=NPROBE, refit=False)
    )
    r_refit = recall(
        S.portable_ivf_search(emb, _query_pred(), k=K, nprobe=NPROBE, refit=True)
    )
    assert r_maint >= r_refit - RECALL_EPS, (r_maint, r_refit)
    # and probing all cells degenerates to (near-)exhaustive search
    r_all = recall(
        S.portable_ivf_search(
            emb, _query_pred(), k=K, nprobe=S.IVF_P_CELLS, refit=False
        )
    )
    assert r_all >= 0.99, r_all


def test_retrain_trigger_fires_on_drifted_batch(spark):
    """q234 is all-zero on the i.i.d. fixture (expected); a genuinely
    shifted batch must trip it.  Audit a crafted assignment table whose fresh
    rows (a) land 2x farther from their centroids than the base mean
    (drift) and (b) pile onto one cell (overload)."""
    emb = _emb(spark)
    honest = S.incremental_ivf_assign(emb)
    assert (
        S._retrain_audit(honest)
        .agg(F.sum("retrain"))
        .collect()[0][0]
        == 0
    )
    drifted = honest.withColumn(
        "d2",
        F.when(F.col("src") == "fresh", F.col("d2") * 3).otherwise(F.col("d2")),
    ).withColumn(
        "cell",
        F.when(F.col("src") == "fresh", F.lit(0)).otherwise(F.col("cell")),
    )
    flags = S._retrain_audit(drifted)
    row0 = flags.filter(F.col("cell") == 0).collect()[0]
    assert row0.overload == 1  # every fresh vector landed in cell 0
    assert row0.drift == 1  # and 3x the distance trips the 5/4 bar
    assert row0.retrain == 1


# -- arrival-shape closure: delete (q236) / upsert (q237) / vacuum (q239) ----


def test_delete_aware_equals_full_frozen_on_survivors(spark):
    """q236: tombstone-filtering the maintained postings table must
    equal the full frozen assignment of the remaining corpus — and no
    tombstoned vec_id may survive."""
    emb = _emb(spark)
    out = S.delete_aware_ivf_assign(emb)
    base = emb.filter(~S._ivf_delta_flag())
    stats = S.ivf_quant_stats(base)
    seeds = S.ivf_seeds(base, stats)
    full = (
        S.ivf_assign(emb, stats, seeds)
        .withColumn(
            "src",
            F.when(S._ivf_delta_flag(), F.lit("fresh")).otherwise(
                F.lit("carried")
            ),
        )
        .filter(~S._ivf_deleted_flag())
    )
    assert _key(out) == _key(full)
    assert out.filter(S._ivf_deleted_flag()).count() == 0
    # deletion is a real slice at this fixture, and occupancy is exact
    assert out.count() < emb.count()
    occ = {
        (r.cell, r.cell_n)
        for r in out.select("cell", "cell_n").distinct().collect()
    }
    truth = {
        (r.cell, r["count"]) for r in out.groupBy("cell").count().collect()
    }
    assert occ == truth


def test_delete_aware_store_roundtrip(spark, tmp_path):
    """q236 through a PERSISTED postings store: write the maintained
    assignment, read it back, tombstone-filter — byte-equal to in-plan."""
    emb = _emb(spark)
    S.incremental_ivf_assign(emb).write.parquet(str(tmp_path / "assign"))
    roundtrip = S.ivf_apply(
        None,
        None,
        spark.read.parquet(str(tmp_path / "assign")),
        S._ivf_deleted_flag(),
        None,
    )
    assert _key(roundtrip) == _key(S.delete_aware_ivf_assign(emb))


def test_upsert_aware_equals_full_t1_assignment(spark):
    """q237: carried ∪ refreshed must equal assigning the whole t1
    corpus (changed slice re-embedded) under the t0-frozen quantizer —
    and the re-embedding must actually MOVE at least one vector's cell
    (the update is real, not cosmetic)."""
    emb = _emb(spark)
    out = S.upsert_aware_ivf_assign(emb)
    stats = S.ivf_quant_stats(emb)
    seeds = S.ivf_seeds(emb, stats)
    full = S.ivf_assign(S.ivf_t1_embeddings(emb), stats, seeds).withColumn(
        "src",
        F.when(S._ivf_updated_flag(), F.lit("refreshed")).otherwise(
            F.lit("carried")
        ),
    )
    assert _key(out) == _key(full)
    assert out.count() == emb.count()  # every vector assigned exactly once
    # the refreshed slice exists, and reversal moved >= 1 vector's cell
    t0 = S.ivf_assign(emb, stats, seeds).select(
        "vec_id", F.col("cell").alias("cell_t0")
    )
    moved = (
        out.filter(F.col("src") == "refreshed")
        .join(t0, "vec_id")
        .filter(F.col("cell") != F.col("cell_t0"))
        .count()
    )
    assert moved > 0


def test_upsert_aware_store_roundtrip(spark, tmp_path):
    """q237 through the PERSISTED index: stats, seeds, and t0 postings
    written, read back, merged with the re-assigned changed slice —
    byte-equal to the in-plan maintenance."""
    emb = _emb(spark)
    stats = S.ivf_quant_stats(emb)
    seeds = S.ivf_seeds(emb, stats)
    stats.write.parquet(str(tmp_path / "stats"))
    seeds.write.parquet(str(tmp_path / "seeds"))
    S.ivf_assign(emb, stats, seeds).write.parquet(str(tmp_path / "assign"))
    roundtrip = S.ivf_apply(
        spark.read.parquet(str(tmp_path / "stats")),
        spark.read.parquet(str(tmp_path / "seeds")),
        spark.read.parquet(str(tmp_path / "assign")),
        S._ivf_updated_flag(),
        S.ivf_t1_embeddings(emb).filter(S._ivf_updated_flag()),
        fresh="refreshed",
    )
    assert _key(roundtrip) == _key(S.upsert_aware_ivf_assign(emb))


def test_ivf_vacuum_shrinks_store_and_preserves_semantics(spark, tmp_path):
    """q239: vacuuming the postings store (a) physically compacts the
    8-file accretion to 1, (b) drops exactly the tombstoned rows, and
    (c) the next refresh reading the vacuumed index back equals the
    in-plan delete-aware identity (q236 minus the occupancy column) —
    two independent code paths, one semantics."""
    import glob
    import os

    from bigdatamining_graduate_spark.operators.dedup import (
        vacuum_parquet_store,
    )
    from bigdatamining_graduate_spark.sources.publish import live_dir, publish_version

    emb = _emb(spark)
    base = emb.filter(~S._ivf_delta_flag())
    stats = S.ivf_quant_stats(base)
    seeds = S.ivf_seeds(base, stats)
    root = str(tmp_path / "root")
    publish_version(root, 1, {"assign_store": S.ivf_assign(base, stats, seeds).repartition(8)})
    tomb = emb.filter(S._ivf_deleted_flag()).select("vec_id")
    audit = vacuum_parquet_store(spark, root, {"assign_store": ("vec_id",)}, tomb)[
        "assign_store"
    ]
    assign_dir = live_dir(root, "assign_store")
    assert audit["files_before"] == 8 and audit["files_after"] == 1
    assert audit["rows_after"] < audit["rows_before"]
    # no tombstoned vec_id survives the vacuum
    survivors = spark.read.parquet(assign_dir)
    assert survivors.filter(S._ivf_deleted_flag()).count() == 0
    # the full lifecycle == the in-plan delete-aware assignment
    vac = S.vacuumed_ivf_refresh(spark, emb, stage_dir=str(tmp_path / "st"))
    inplan = S.delete_aware_ivf_assign(emb).drop("cell_n")
    assert _key(vac) == _key(inplan)


def test_stream_ivf_equals_batch_assignment(spark):
    """q238: the drained stream's accumulated emission must equal the
    batch assignment of the whole corpus under the batch-0-frozen
    quantizer, with arrived = the hash-slice batch id."""
    import bigdatamining_graduate_spark.streaming.jobs as SJ

    streamed = SJ.stream_incremental_ivf_assign(spark, SF_SMOKE)
    emb = _emb(spark).select("vec_id", "embedding")
    b0 = emb.filter(SJ._stream_ivf_batch_flag() == 0)
    stats = S.ivf_quant_stats(b0)
    seeds = S.ivf_seeds(b0, stats)
    batch = S.ivf_assign(emb, stats, seeds).withColumn(
        "arrived", SJ._stream_ivf_batch_flag().cast("bigint")
    )
    got = sorted(
        (r.vec_id, r.cell, r.d2, r.arrived)
        for r in streamed.select("vec_id", "cell", "d2", "arrived").collect()
    )
    exp = sorted(
        (r.vec_id, r.cell, r.d2, r.arrived)
        for r in batch.select("vec_id", "cell", "d2", "arrived").collect()
    )
    assert got == exp
    # all three micro-batches actually emitted
    arrived = {r.arrived for r in streamed.select("arrived").distinct().collect()}
    assert arrived == {0, 1, 2}


def test_search_recall_after_delete_and_upsert(spark):
    """The serving-path bound for the mutated index states: kNN recall
    through the index AFTER a deletion cycle (tombstoned corpus) and
    AFTER a re-embedding cycle (t1 corpus) stays within ε of the
    brute-force ground truth computed on the SAME corpus state — i.e.
    mutations tombstone/reassign postings without degrading the
    index's serving quality beyond the frozen-quantizer bound."""
    emb = _emb(spark)

    def recall_on(corpus):
        truth = {
            (r.query_id, r.neighbor_id)
            for r in S.knn_bruteforce(corpus, _query_pred(), k=K).collect()
        }
        assert truth
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.portable_ivf_search(
                corpus, _query_pred(), k=K, nprobe=NPROBE, refit=False
            ).collect()
        }
        return len(got & truth) / len(truth)

    # post-delete corpus: survivors only (the q236 state)
    r_del = recall_on(emb.filter(~S._ivf_deleted_flag()))
    # post-upsert corpus: the t1 snapshot (the q237 state)
    r_ups = recall_on(S.ivf_t1_embeddings(emb))
    # the intact-corpus maintained recall is the reference point
    r_base = recall_on(emb)
    assert r_del >= r_base - RECALL_EPS, (r_del, r_base)
    assert r_ups >= r_base - RECALL_EPS, (r_ups, r_base)


# -- retrain-loop closure (q249) ----------------------------------------------


def test_retrain_trigger_fires_on_drifted_arrival(spark):
    """The q249 scenario is self-proving only if the trigger actually
    fires on the drifted wave — pin that it does (the oracle assumes
    the refit ran; a silent non-fire would show up as a driver hash
    mismatch, but pin it locally too)."""
    emb = _emb(spark)
    cur = S.ivf_drifted_embeddings(emb)
    delta = S._ivf_delta_flag()
    wave2 = S._ivf_wave2_flag()
    base = cur.filter(~delta)
    wave1 = cur.filter(delta & ~wave2)
    stats0 = S.ivf_quant_stats(base)
    seeds0 = S.ivf_seeds(base, stats0)
    maintained = (
        S.ivf_assign(base, stats0, seeds0)
        .withColumn("src", F.lit("carried"))
        .unionByName(
            S.ivf_assign(wave1, stats0, seeds0).withColumn(
                "src", F.lit("fresh")
            )
        )
    )
    fired = (
        S._retrain_audit(maintained)
        .agg(F.sum("retrain"))
        .collect()[0][0]
    )
    assert fired >= 1


def test_retrained_refresh_equals_refit_recompute(spark, tmp_path):
    """q249 end-to-end through the persisted stores == assigning the
    final corpus under the REFIT quantizer, value-for-value (the same
    identity the driver oracle checks, plus the store plumbing)."""
    emb = _emb(spark)
    out = S.retrained_ivf_refresh(spark, emb, stage_dir=str(tmp_path))
    cur = S.ivf_drifted_embeddings(emb)
    wave2 = S._ivf_wave2_flag()
    corpus1 = cur.filter(~wave2)
    stats1 = S.ivf_quant_stats(corpus1)
    seeds1 = S.ivf_seeds(corpus1, stats1)
    full = S.ivf_assign(cur, stats1, seeds1).withColumn(
        "src", F.when(wave2, F.lit("fresh")).otherwise(F.lit("refit"))
    )
    assert _key(out) == _key(full)
    # both waves actually arrived and the refit rows dominate
    by_src = dict(out.groupBy("src").count().rdd.map(tuple).collect())
    assert set(by_src) == {"refit", "fresh"}
    assert by_src["refit"] > by_src["fresh"]


def test_retrain_swap_improves_recall_on_drifted_corpus(spark):
    """The recall gate VERDICT r9 #2 names: on the drifted corpus
    (base ∪ drifted wave 1), serving recall through the POST-SWAP refit
    index ≥ recall through the PRE-SWAP maintained index, against
    brute-force ground truth on the same corpus — and the swap is a
    real quantizer change (stats rows differ)."""
    emb = _emb(spark)
    cur = S.ivf_drifted_embeddings(emb)
    delta = S._ivf_delta_flag()
    wave2 = S._ivf_wave2_flag()
    corpus1 = cur.filter(~wave2)
    base = cur.filter(~delta)
    stats0 = S.ivf_quant_stats(base)
    seeds0 = S.ivf_seeds(base, stats0)
    stats1 = S.ivf_quant_stats(corpus1)
    seeds1 = S.ivf_seeds(corpus1, stats1)
    assert stats0.collect() != stats1.collect()  # the refit moved the codebook
    truth = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_bruteforce(corpus1, _query_pred(), k=K).collect()
    }
    assert truth

    def recall(stats, seeds):
        assigned = S.ivf_assign(corpus1, stats, seeds)
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.ivf_search_index(
                corpus1, stats, seeds, assigned, _query_pred(), k=K, nprobe=NPROBE
            ).collect()
        }
        return len(got & truth) / len(truth)

    r_pre = recall(stats0, seeds0)
    r_post = recall(stats1, seeds1)
    assert r_post >= r_pre, (r_pre, r_post)
