#!/usr/bin/env python3
"""Regenerate ``tests/expected_scans.json`` — the golden parquet-scan
count per registered query at sf0.001.

The round-5 scans audit (SCALE.md §6l) caught a recomputed subtree
(3 scans where 1 suffices) only because a human read PLANS.md.
``tests/test_plan_guards.py::test_scan_counts_do_not_regress`` makes the
audit permanent: it fails whenever a query's physical plan scans parquet
MORE times than this golden file records. Every count here is the
audited state — self-joins and multi-pass queries legitimately scan a
table twice and are captured as such. After an INTENTIONAL plan change,
re-run this tool and review the diff like any golden-file update:

    python tools/gen_expected_scans.py
"""
from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from bigdatamining_graduate_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SCAN_RE = re.compile(r"\b(?:File)?Scan parquet\b")

#: queries that EXECUTE work at plan-build time (streams drain, ML fits,
#: iterative loops run, sinks write) — their scan behavior is pinned by
#: their own executing tests; explain() here is not a static audit.
#: ``tools/plan_audit.py`` imports this same tuple.
SKIP_PREFIXES = (
    "q32", "q33", "q34", "q35", "q36", "q37", "q38", "q47", "q48",
    "q57", "q65", "q67", "q71", "q76", "q78", "q84", "q89", "q90", "q91",
    "q102", "q104", "q107", "q110", "q122", "q125", "q133", "q136", "q137",
    "q165", "q166",  # sink round-trips: the write action runs at plan-build
    "q167",  # bucketed-table round-trip: saveAsTable runs at plan-build
    "q169", "q170", "q175",  # iterative LPA / k-core / BFS: rounds run at plan-build
    "q209", "q220",  # stream-maintained sketches: the stream drains at plan-build
    "q228",  # incremental CC: base labeling + contraction loop run at plan-build
    "q229",  # delete-aware CC: prev labeling + bounded reclose run at plan-build
    "q230",  # streaming LSH maintenance: the stream drains at plan-build
    "q232",  # upsert CC: two-phase reclose+contract loops run at plan-build
    "q235",  # store vacuum: builds, vacuums, and swaps stores at plan-build
    "q238",  # streaming IVF maintenance: the stream drains at plan-build
    "q239",  # IVF store vacuum: builds, vacuums, and swaps stores at plan-build
    "q245",  # streaming BM25 maintenance: the stream drains at plan-build
    "q246",  # incremental triangles: base closure + checkpoints run at plan-build
    "q247",  # delete-aware triangles: t0 closure + checkpoints run at plan-build
    "q248",  # streaming triangles: the stream drains at plan-build
)


def count_scans(plan: str) -> int:
    return len(SCAN_RE.findall(plan))


def main() -> None:
    spark = get_spark(
        app_name="gen-expected-scans",
        master="local[4]",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from bigdatamining_graduate_spark.plans.queries import QUERIES

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    out: dict[str, int] = {}
    for name in sorted(QUERIES):
        if name.startswith(SKIP_PREFIXES):
            continue
        plan = (
            QUERIES[name](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .explainString(mode)
        )
        out[name] = count_scans(plan)
    path = REPO / "tests" / "expected_scans.json"
    path.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"wrote {path} ({len(out)} queries)")


if __name__ == "__main__":
    main()
