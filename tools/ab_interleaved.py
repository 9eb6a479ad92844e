#!/usr/bin/env python
"""Interleaved same-session A/B for a module rewrite (rounds 11-12).

Single-session benchmark numbers on this box swing up to 2x (cold
codegen, page cache, checkpoint first-materialization), so a plain
before/after pair of runs cannot decide a 10-25% question.  This tool
alternates VARIANTS of one module inside ONE JVM/session (file swap +
importlib.reload), N reps each, and reports per-query medians — drift
affects both variants equally, so the sign of the difference is
trustworthy.  Round 11 used it to adjudicate the _attributed_delta_counts
rewrite (kept: two-join adjacency attach; rejected: exploded-probe +
regroup, 10-24% slower); round 12 uses it for the stream-handler
checkpoint question (VERDICT r11 #1) and the graph/IVM rewrites.

Usage:
    python tools/ab_interleaved.py <module> <old_path> <new_path> \
        <qname> [<qname> ...] [--reps N]

<module> is the dotted module under bigdatamining_graduate_spark, e.g.
``operators.graph`` or ``streaming.jobs``.  The tool leaves the NEW
variant in place on exit.  On every swap the whole package is imported
afresh (every loaded ``bigdatamining_graduate_spark`` module is dropped
and ``plans.queries`` re-imported), so a module that bound a swapped
symbol with ``from X import f`` binds the new variant too.
"""
import argparse
import importlib
import importlib.util
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatamining_graduate_spark.session import get_spark  # noqa: E402

PKG = "bigdatamining_graduate_spark"


def fresh_package():
    """Drop every loaded package module and import ``plans.queries``
    (and with it the package) again; returns (queries, checkpoints)."""
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    return (
        importlib.import_module(f"{PKG}.plans.queries"),
        importlib.import_module(f"{PKG}.checkpoints"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("module")
    ap.add_argument("old_path")
    ap.add_argument("new_path")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    spark = get_spark(
        app_name="ab-interleaved",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    target_path = importlib.import_module(f"{PKG}.{args.module}").__file__
    variants = {"old": args.old_path, "new": args.new_path}

    QM, CK = fresh_package()
    res = {v: {n: [] for n in args.names} for v in variants}
    # warmup once (smallest fixture, not measured)
    QM.QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()
    CK.release_checkpoints()
    for rep in range(args.reps):
        for v, src in variants.items():
            shutil.copy(src, target_path)
            # a same-size variant copied within the same second would
            # otherwise pass the bytecode cache's mtime+size check
            pyc = importlib.util.cache_from_source(target_path)
            if os.path.exists(pyc):
                os.remove(pyc)
            QM, CK = fresh_package()
            for n in args.names:
                spark.sparkContext.setJobDescription(f"ab[{v}] rep{rep}: {n}")
                t0 = time.perf_counter()
                QM.QUERIES[n](spark, args.sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                CK.release_checkpoints()
                res[v][n].append(round(dt, 2))
    shutil.copy(args.new_path, target_path)
    out = {
        v: {n: sorted(ts)[len(ts) // 2] for n, ts in d.items()}
        for v, d in res.items()
    }
    print(json.dumps({"medians": out, "raw": res}))


if __name__ == "__main__":
    main()
