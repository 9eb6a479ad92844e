"""Physical-plan guards: the scale claims in SCALE.md §2 ("never a raw
cross join") held once — this keeps them held. Every registered query's
plan is audited for CartesianProduct / BroadcastNestedLoopJoin; the only
allowed occurrences are 1-row broadcast aggregates (bounds / corpus
size / mixture minimum), the documented exact-kNN baselines, and MLlib's
internal ALS recommend-for-all cartesian."""

from __future__ import annotations

import re

from bigdatamining_graduate_spark.plans.queries import QUERIES

from .conftest import SF_SMOKE, SWEEP_PLANS, build_query

#: queries whose nested-loop/cartesian is intentional and documented
ALLOWED = {
    "q03_minmax_normalize",      # 1-row global-bounds broadcast
    "q29_knn_bruteforce",        # exact similarity baseline (documented)
    "q31_tfidf_top_terms",       # 1-row corpus-size broadcast
    "q32_als_recommendations",   # MLlib-internal recommendForAllUsers
    "q222_als_surfaces",         # MLlib-internal recommendForAll{Users,Items}
    "q74_ann_recall",            # contains the exact baseline side
    "q81_balanced_mixture",      # 1-row min-count broadcast
    "q88_pmi_collocations",      # 1-row corpus-size broadcast (q31 pattern)
    "q98_funnel_conversion",     # 1-row stage-count crossJoins (3 x 1-row)
    "q55_ivf_knn",               # 1-row quantizer-stats + 1-row seed-array broadcasts (q233 pattern)
    "q103_unigram_logprob",      # 1-row corpus-total broadcast (q31 pattern)
    "q106_bm25_search",          # 1-row avgdl/N-docs broadcast (q31 pattern)
    "q109_parts_in_all_regions", # 1-row |region| divisor broadcast
    "q205_two_table_join_size",  # 1-row per-side stats broadcasts (q31 pattern)
    "q211_shard_rebalance_cost", # 1-row balance-stat broadcast (q31 pattern)
    "q218_pareto_coverage",      # 1-row total broadcast (q31 pattern)
    "q219_range_split_points",   # 1-row total broadcast (q31 pattern)
    "q220_stream_cmsketch_heavy_users",  # 1-row sketch-total broadcast
    "q111_embedding_quantization",  # 1-row per-dim min/max arrays broadcast
    "q125_gap_fill_locf",        # 1-row spine-bounds broadcast (q03 pattern)
    "q128_dormant_prospects",    # 1-row global-average broadcast (q03 pattern)
    "q130_source_temperature_mix",  # 1-row weight-total broadcast (q03 pattern)
    "q149_benford_audit",        # 1-row digit-total broadcast onto 9-row table
    "q163_theta_segment_overlap",  # |types|-row sketch-table pair self-join
    "q168_cmsketch_heavy_hitters",  # 1-row stream-total broadcast (q31 pattern)
    "q171_mincost_supplier",     # 1-row supplier-count broadcast (partsupp derive)
    "q172_important_stock",      # partsupp derive + 1-row global-total broadcast
    "q173_excess_stock_suppliers",  # 1-row supplier-count broadcast (partsupp derive)
    "q185_bigram_lm_quality",    # 1-row vocab-size broadcast (q31 pattern)
    "q192_kmv_theta_overlap",    # |types|-row sketch-stat pair self-join (q163 pattern)
    "q233_incremental_ivf_assign",  # 1-row quantizer-stats + 1-row seed-array broadcasts
    "q234_ivf_retrain_trigger",  # same quantizer broadcasts via the q233 assignment
    "q236_delete_aware_ivf",     # same quantizer broadcasts via the q233 assignment
    "q237_upsert_aware_ivf",     # 1-row stats + 1-row seed-array broadcasts (t0-frozen)
    "q239_ivf_store_vacuum",     # 1-row stats + seed-array broadcasts on the fresh side
    "q241_rrf_hybrid_search",    # 1-row corpus-stats + 1-row anchor-vector broadcasts
    "q242_incremental_bm25",     # 1-row avgdl/n_docs-stats broadcast (q106 pattern)
    "q243_delete_aware_bm25",    # 1-row avgdl/n_docs-stats broadcast (q106 pattern)
    "q244_upsert_aware_bm25",    # 1-row avgdl/n_docs-stats broadcast (q106 pattern)
    "q245_stream_incremental_bm25",  # same 1-row stats broadcast on the post-drain read
    "q251_full_vocab_bm25",      # 1-row avgdl-stats (q106 pattern) + 1-row vocab-audit broadcasts
    "q262_scd2_incremental_merge",  # 1-row event-time frontier broadcast (q03 pattern)
    "q268_scd2_gdpr_erase",      # 1-row event-time frontier broadcast (q262 pattern)
    "q269_bm25_store_vacuum",    # 1-row avgdl-stats + 1-row vocab-audit broadcasts (q251 pattern)
    "q273_scd2_horizon_compaction",  # 1-row frontier/horizon broadcast (q262 pattern)
    "q282_incremental_sessions",  # 1-row event-time frontier broadcast (q262 pattern)
}


def _formatted(spark, name: str) -> str:
    """Formatted physical plan of one registered query, explained ONCE
    per test session (recorded by the registry sweep, see ``conftest``)."""
    if name not in SWEEP_PLANS:
        build_query(spark, name)
    return SWEEP_PLANS[name]


def _all_plans(spark) -> dict[str, str]:
    """Formatted plan per registered query, shared by every
    whole-registry guard below."""
    return {name: _formatted(spark, name) for name in sorted(QUERIES)}


def test_no_accidental_cross_joins(spark):
    offenders = {}
    for name, plan in _all_plans(spark).items():
        flags = [k for k in ("CartesianProduct", "BroadcastNestedLoopJoin") if k in plan]
        if flags and name not in ALLOWED:
            offenders[name] = flags
    assert not offenders, f"unexpected nested-loop joins: {offenders}"


def test_scan_counts_do_not_regress(spark):
    """Permanent form of the round-5 scans audit (SCALE.md §6l): a
    query's physical plan must not scan parquet MORE times than the
    audited golden count in ``tests/expected_scans.json`` — extra scans
    mean a derived subtree silently started recomputing (the q168 class
    caught by hand in r5). Counts use formatted-mode plans, which list
    each scan twice (tree + node details); the guard is monotone so the
    doubling is harmless. Fewer scans than golden is an improvement —
    reported, and the golden file should be regenerated
    (``python tools/gen_expected_scans.py``) to ratchet it down."""
    import json
    from pathlib import Path

    golden = json.loads(
        (Path(__file__).resolve().parent / "expected_scans.json").read_text()
    )
    scan_re = re.compile(r"\b(?:File)?Scan parquet\b")
    plans = _all_plans(spark)
    worse, better = {}, {}
    for name, expected in golden.items():
        assert name in plans, f"golden entry {name} no longer registered"
        got = len(scan_re.findall(plans[name]))
        if got > expected:
            worse[name] = (expected, got)
        elif got < expected:
            better[name] = (expected, got)
    assert not worse, (
        f"parquet-scan regressions (expected, got): {worse} — if the plan "
        "change is intentional, regenerate tests/expected_scans.json"
    )
    if better:  # ratchet hint, not a failure
        print(f"scan-count improvements, regen golden: {better}")


def test_boilerplate_flagback_is_broadcast(spark):
    """q86's flag-back join (line stream x boilerplate set) must stay a
    BroadcastHashJoin — if it ever degrades to sort-merge, the widest
    relation in the plan re-shuffles (SCALE.md q86 note)."""
    plan = _formatted(spark, "q86_boilerplate_lines")
    assert "BroadcastHashJoin" in plan, plan


def test_star_join_stays_broadcast(spark):
    """q06's three dimension joins (customer→nation→region side) must all
    plan as BroadcastHashJoin — a sort-merge fallback means the fact
    table re-shuffles per dim (SCALE.md §2)."""
    plan = _formatted(spark, "q06_revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_runtime_bloom_filter_injects_on_selective_fact_join(spark):
    """Spark's runtime bloom-filter join pruning (on by default) must be
    able to inject a `might_contain` pre-filter on the probe-side scan of
    our fact-fact equi-joins — the 100 TB lever that turns a selective
    orders->lineitem join into a semi-join pushdown at the scan. The
    default thresholds (10 GB probe-side scan) are deliberately not met
    at fixture scale, so this test lowers them for the session to prove
    the join SHAPE is bloom-compatible (plain equi-key, no expression
    wrapper that would block injection)."""
    from pyspark.sql import functions as F

    from bigdatamining_graduate_spark.sources.catalog import load_table

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        od = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_SMOKE, "lineitem")
        j = (
            li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_q157_is_scan_only(spark):
    """TPC-H Q6 must stay a pure scan-and-sum: every range predicate
    (shipdate window, discount band, quantity cap) reaches the parquet
    reader as a pushed filter and the plan has NO shuffle exchange —
    at 100 TB the whole query is row-group skipping plus a partial agg."""
    plan = _formatted(spark, "q157_forecast_revenue_change")
    assert "hashpartitioning" not in plan, plan
    pushed = plan[plan.index("PushedFilters"):]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed.split("\n")[0], plan


def test_q158_disjunction_pushes_to_both_scans(spark):
    """The Q19 OR-of-ANDs mixes columns from both join sides; Catalyst
    must factor it so BOTH scans still receive an Or(...) pushed filter
    (a plan that reads either table unfiltered is the scale bug this
    query exists to catch)."""
    import re

    plan = _formatted(spark, "q158_disjunctive_discounts")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    or_sides = [p for p in pushed if "Or(" in p]
    assert len(or_sides) >= 2, plan


def test_q160_scans_lineitem_once(spark):
    """The waiting-supplier reformulation exists to avoid the textbook
    EXISTS + NOT-EXISTS lineitem self-joins: the fact must be scanned
    exactly once and never shuffled on l_suppkey (only the per-order
    aggregation key)."""
    plan = _formatted(spark, "q160_waiting_supplier")
    assert plan.count("lineitem.parquet") == 1, plan
    assert "hashpartitioning(l_suppkey" not in plan, plan


def test_aqe_splits_skewed_join(spark):
    """SCALE.md §2/§3 lean on AQE skew-join splitting as the fallback for
    hot keys that salting doesn't cover — this proves the mechanism
    actually fires in this engine's session. A join where 75% of the
    left side carries ONE key is executed under lowered skew thresholds
    (the fixture is small; production thresholds are size-scaled) and
    the AQE final plan must carry the SortMergeJoin(skew=true) marker,
    i.e. the hot partition was split across tasks instead of landing on
    one straggler. The count pins correctness of the split join."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        left = spark.range(0, 400_000).select(
            F.when(F.col("id") % 4 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = left.join(right, "k").groupBy().agg(F.count("*").alias("n"))
        # 300,000 rows on hot key 0 + 250 uniform keys (0,4,...,996)
        assert j.collect()[0]["n"] == 300_250
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
