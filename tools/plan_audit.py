#!/usr/bin/env python
"""Physical-plan audit: one row per registered query summarizing the plan
properties that matter at scale — shuffle (Exchange) count, join
strategies, scan pushdown evidence, whole-stage-codegen span count, and
sort/limit compilation — written to PLANS.md.

This is the per-query receipt that the declarative plans compile to the
physical strategies the 100 TB design intends (SCALE.md); regenerate after
plan-affecting changes:  python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatamining_graduate_spark.session import get_spark  # noqa: E402

#: build-phase queries: explain() would run their whole job, so no row
from gen_expected_scans import SKIP_PREFIXES  # noqa: E402


def summarize(plan: str) -> dict[str, object]:
    def count(pat: str) -> int:
        return len(re.findall(pat, plan))

    joins: list[str] = []
    for jt, label in [
        ("BroadcastHashJoin", "BHJ"),
        ("SortMergeJoin", "SMJ"),
        ("ShuffledHashJoin", "SHJ"),
        ("BroadcastNestedLoopJoin", "BNLJ"),
        ("CartesianProduct", "CART"),
    ]:
        n = count(rf"\b{jt}\b")
        if n:
            joins.append(f"{n}x{label}")
    return {
        "exchanges": count(r"\bExchange (?:hash|range|Single)"),
        "scans": count(r"\b(?:File)?Scan parquet\b"),
        "broadcasts": count(r"\bBroadcastExchange\b"),
        "joins": "+".join(joins) or "-",
        "pushed": "y" if re.search(r"PushedFilters: \[[^\]]", plan) else "-",
        "topk": "y" if "TakeOrderedAndProject" in plan else "-",
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(
        app_name="plan-audit", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    from bigdatamining_graduate_spark.plans.queries import QUERIES

    rows = []
    for name in sorted(QUERIES):
        if name.startswith(SKIP_PREFIXES):
            rows.append((name, None))
            continue
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        rows.append((name, summarize(plan)))

    with open(os.path.join(os.path.dirname(os.path.dirname(__file__)), "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit of every registered query\n\n"
            f"Generated by `tools/plan_audit.py` at `{sf_dir}` "
            "(AQE final plans may further coalesce/convert at runtime).\n\n"
            "Columns: shuffles = `Exchange` nodes (hash/range); bcast = "
            "`BroadcastExchange` nodes; joins = physical join strategies; "
            "pushed = parquet `PushedFilters` present; topk = sort+limit "
            "compiled to `TakeOrderedAndProject`; scans = parquet scan "
            "nodes (a scan count far above the number of source tables "
            "flags a recompute pattern — e.g. a derived table consumed "
            "N times without ReusedExchange, the round-5 q168 find). "
            "(WholeStageCodegen spans only appear in finalized AQE plans, "
            "so they are not audited here.)\n\n"
            "| query | shuffles | bcast | joins | pushed | topk | scans |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for name, s in rows:
            if s is None:
                f.write(
                    f"| {name} | (runs at build: streaming/iterative — "
                    "see SCALE.md) | | | | | |\n"
                )
            else:
                f.write(
                    f"| {name} | {s['exchanges']} | {s['broadcasts']} | {s['joins']} "
                    f"| {s['pushed']} | {s['topk']} | {s['scans']} |\n"
                )
    print("wrote PLANS.md", len(rows), "queries")


if __name__ == "__main__":
    main()
