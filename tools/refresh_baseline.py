#!/usr/bin/env python
"""Regenerate the engine-BENCH table in BASELINE.md from a bench JSON.

Hand-editing the recorded table row-by-row invites transcription drift;
this rewrites the whole block between the table header and the
``**headline_queries_total**`` row from ``bench.py`` output, keeping the
per-query plan notes (which are facts about the plan, not the run) in
one place here.

Usage: python bench.py > /tmp/bench.json   # full record is the FIRST line;
       python tools/refresh_baseline.py /tmp/bench.json [--date YYYY-MM-DD]
       # (also accepts BENCH_FULL.json, or a capture holding only the final
       # summary line — the summary's full_record pointer is followed)
"""

from __future__ import annotations

import argparse
import datetime
import json
import re

NOTES = {
    "q157_forecast_revenue_change": "all 3 range predicates pushed to scan",
    "q160_waiting_supplier": "per-order agg replaces EXISTS/NOT-EXISTS self-joins",
    "q01_pricing_summary": "pushed shipdate filter, 1 shuffle",
    "q03_minmax_normalize": "broadcast bounds, no window",
    "q06_revenue_by_nation": "3x broadcast-hash star join",
    "q14_top5_words_per_lang": "pre-agg before window rank",
    "q15_best_order_per_customer": "row_number top-1",
    "q17_hourly_event_stats": "one-pass rollup (vs 48 joins in ref)",
    "q20_wordcount_top100": "TakeOrderedAndProject(100)",
    "q25_ngram_jaccard_pairs": "postings + chained posexplode pair emission",
    "q26_minhash_lsh_pairs": "1 md5/gram + affine mixing",
    "q29_knn_bruteforce": "queries x corpus, zip_with dot",
    "q31_tfidf_top_terms": "broadcast corpus-size agg",
    "q36_stream_hourly_counts": "availableNow drain, memory sink",
    "q44_last_signup_asof": "as-of via running conditional max",
    "q47_stream_session_windows": "streaming session windows",
    "q62_clicks_before_error": "binned range join (equi-join on time-bin)",
    "q63_curated_corpus": "quality -> exact dedup -> LSH near-dup removal",
    "q71_neardup_components": "fused-init min-label CC over pair graph",
    "q74_ann_recall": "single-pass recall vs exact ground truth",
    "q78_shard_packing": "two-pass prefix sum, checkpointed base",
    "q80_benchmark_decontaminate": "broadcast benchmark gram set",
    "q86_boilerplate_lines": "line-fp df count + broadcast flag-back",
    "q87_zorder_layout": "shared-arithmetic Morton interleave",
    "q88_pmi_collocations": "broadcast df tables onto pair stream",
    "q89_frequent_itemsets": "FPGrowth, bounded item vocabulary",
    "q94_shipping_priority": "all-pushed filters, TakeOrderedAndProject",
    "q95_large_volume_customers": "HAVING semi filter; hinted SMJ on orders",
    "q99_gopher_quality_rules": "zero-shuffle rule battery, 2-col scan",
    "q101_shared_passages": "capped inverted index, 8-token windows",
    "q106_bm25_search": "filtered postings, broadcast idf/avgdl",
    "q107_part_pagerank": "6 integer rounds, 2-round checkpoint cadence",
    "q108_small_qty_revenue": "per-key avg join (decorrelated Q17)",
    "q111_embedding_quantization": "zero-shuffle int8 codes",
    "q113_skipgram_pairs": "per-row array arithmetic, 1 agg shuffle",
    "q127_nation_market_share": "4x broadcast star + decimal share window",
    "q129_semdedup_discards": "sign-bucket equi-join, scalar groupBy",
    "q132_peak_concurrency": "split prefix sum (day partials + carry)",
    "q133_mad_outliers": "two-pass exact MAD, checkpointed thin proj",
    "q141_volume_shipping": "5x broadcast dims, nation joined twice",
    "q146_ppjoin_pairs": "rarest-prefix postings (4.7x fewer), lossless",
    "q110_part_triangles": "oriented adjacency arrays, intersect per edge",
    "q165_zorder_roundtrip": "range-shuffle z-sort write + pruned read-back",
    "q166_datasource_roundtrip": "delimtext Python source, per-file partitions",
    "q167_bucketed_join_roundtrip": "cold = bucketed write; warm = exchange-free SMJ",
    "q168_cmsketch_heavy_hitters": "portable-hash CM sketch, 2048 mergeable cells",
    "q169_part_communities": "3 sync LPA rounds, argmax via max(struct)",
    "q170_part_kcore": "sync peel, scalar-only convergence loop",
    "q171_mincost_supplier": "Q2 argmin as one min(struct) hash agg",
    "q174_profit_by_nation_year": "Q9 star, formula-bound supplycost, 1 shuffle",
    "q175_part_bfs_hops": "frontier loop, per-level checkpoint",
    "q176_shipmode_priority": "Q12 derived-mode filters pushed below join",
    "q177_context_packing": "bucket-sharded window, no global sort",
    "q179_scd2_user_tiers": "lag+running-version fused in one WindowExec",
    "q183_position_attribution": "struct-min conversion + per-user windows",
    "q185_bigram_lm_quality": "HOF bigrams, vocab joins, 1-row V broadcast",
    "q187_token_entropy": "one (doc,word) shuffle, doc-local window",
    "q188_containment_pairs": "q25 postings shape, 2-struct explode directions",
    "q189_snapshot_diff": "two pushed-filter aggs + one full-outer join",
    "q190_session_window_batch": "native session agg, 1 shuffle",
    "q191_portable_hll_users": "md5 registers, integer harmonic sum",
    "q193_hll_merge_rollup": "weekly shards, register-max merge",
    "q194_ndcg_ranking_eval": "integer ranks/grades, 2 per-cust windows",
    "q196_histogram_quantiles": "map-combine to 64 bins, broadcast bounds",
    "q197_top_session_paths": "1 user shuffle, sorted-struct collect",
    "q198_table_checksums": "map-combine to 64 digests, 0 joins",
    "q200_join_key_skew_report": "count-of-counts collapse, tiny windows",
    "q204_join_size_estimate": "cc-collapse, no joins, 1 tiny window",
    "q211_shard_rebalance_cost": "explode x10 weights, max_by argmax agg",
    "q217_scd2_point_in_time_join": "q179 window build + user-key PIT join",
    "q223_multiset_setops": "bag set-ops: per-key count agg, no join/sort",
    "q224_lsh_rerank_topk": "LSH bucket equi-join + exact rerank window",
    "q225_bloom_prefilter": "32-row bloom broadcast, 4 probes/user",
    "q226_prefixspan_patterns": "PrefixSpan fit over (user,day) seqs",
    "q249_ivf_retrain_refresh": "drift-triggered refit + version commit",
    "q250_triangle_store_vacuum": "weighted-edge GC rewrite + refresh",
    "q251_full_vocab_bm25": "token-IN pushed to range-clustered store",
    "q252_incremental_phash_pairs": "batch-only fingerprint + chunk join",
    "q253_delete_aware_phash_pairs": "2 anti-joins, no fingerprint kernel",
    "q254_upsert_aware_phash_pairs": "changed payloads re-fingerprint only",
    "q255_stream_incremental_phash": "3 triggers vs parquet phash store",
    "q256_phash_store_vacuum": "tombstone GC + 8->1 compaction + refresh",
    "q257_incremental_agg_view": "store∪batch partials, 1 combine",
    "q258_delete_aware_agg_view": "decimal retraction + bounded max re-scan",
    "q259_upsert_aware_agg_view": "retract old + add new, counts conserved",
    "q260_stream_agg_view": "partials per trigger, combine-on-read",
    "q261_agg_view_vacuum": "retraction partials netted, version commit",
    "q262_scd2_incremental_merge": "seed-from-current-row window merge",
    "q263_derived_quarterly_view": "monthly->quarterly partial re-combine",
    "q264_stream_scd2_merge": "chained store_v{bid} functional merges",
    "q265_scd2_late_backfill": "per-user re-derivation, semi-join pruned",
    "q266_store_gc_trigger": "dead-row audit vs per-store policy bars",
    "q268_scd2_gdpr_erase": "user-history anti-join + compaction + merge",
    "q269_bm25_store_vacuum": "postings GC, range-clustered rewrite",
    "q270_upsert_aware_triangles": "one-pass support net, 2 delta kernels",
    "q271_atomic_cross_store_publish": "2-store refresh, 1 pointer flip",
    "q272_published_version_diff": "v1 vs v2 store join, no corpus access",
    "q273_scd2_horizon_compaction": "retention filter + version commit + merge",
    "q274_maintained_quarterly_view": "merge + lattice re-derivation chained",
    "q275_stream_published_store": "3 per-trigger pointer commits + serve",
    "q276_publish_version_gc": "v3 publish, retain-2 GC, pointer read",
    "q277_schema_evolved_store": "mergeSchema read, legacy rows coalesced",
    "q278_manifest_pruned_rollup": "file-pruned read, exact re-filter",
    "q246_incremental_triangles": "delta closure; carried from edge store",
    "q247_delete_aware_triangles": "weighted-store deaths; carried from store",
    "q270_upsert_aware_triangles": "one-pass support net, 2 delta kernels",
}

TABLE_HEAD = "| Query | sf | sec (warm) | sec (cold) | Notes | Run date |"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("bench_json")
    ap.add_argument("--date", default=str(datetime.date.today()))
    ap.add_argument("--baseline", default="BASELINE.md")
    args = ap.parse_args()

    with open(args.bench_json) as f:
        raw = f.read().strip()
    # accept: a single JSON document (BENCH_FULL.json), a bench.py stdout
    # capture ([full, summary] lines), or just the final summary line —
    # prefer whichever record carries the complete per-query map, else
    # follow the summary's full_record sidecar pointer
    try:
        records = [json.loads(raw)]
    except json.JSONDecodeError:
        records = [
            json.loads(ln) for ln in raw.splitlines() if ln.lstrip().startswith("{")
        ]
    if not records:
        raise SystemExit(
            f"{args.bench_json}: no JSON record found — is this a bench.py "
            "capture? (expected a JSON document or JSON lines)"
        )
    bench = next((r for r in records if "queries_cold" in r), None)
    if bench is None:
        import os
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(repo, records[-1].get("full_record", "BENCH_FULL.json"))) as f:
            bench = json.load(f)
        # the sidecar must belong to the same run as the capture's summary
        summary = records[-1]
        if "value" in summary and abs(bench.get("value", -1) - summary["value"]) > 1e-6:
            raise SystemExit(
                f"sidecar {records[-1].get('full_record', 'BENCH_FULL.json')} total "
                f"({bench.get('value')}) != capture summary total ({summary['value']}) "
                "— sidecar is from a different run; re-run bench.py"
            )
    sf = bench["sf"]
    rows = [TABLE_HEAD, "|---|---|---|---|---|---|"]
    for q, warm in bench["queries"].items():
        cold = bench["queries_cold"].get(q, "")
        note = NOTES.get(q, "")
        rows.append(f"| {q} | {sf} | {warm:.2f} | {cold:.2f} | {note} | {args.date} |")
    rows.append(
        f"| **headline_queries_total** | {sf} | **{bench['value']:.2f}** "
        f"| **{bench['cold_total']:.2f}** ({len(bench['queries'])} queries) "
        f"| warm = median of 3 | {args.date} |"
    )
    table = "\n".join(rows)

    with open(args.baseline) as f:
        text = f.read()
    pattern = re.compile(
        re.escape(TABLE_HEAD) + r".*?\*\*headline_queries_total\*\*[^\n]*\n",
        re.S,
    )
    if not pattern.search(text):
        raise SystemExit("BENCH table block not found in BASELINE.md")
    with open(args.baseline, "w") as f:
        f.write(pattern.sub(table + "\n", text, count=1))
    print(f"refreshed {args.baseline}: {len(bench['queries'])} rows, sf={sf}")


if __name__ == "__main__":
    main()
