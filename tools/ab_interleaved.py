#!/usr/bin/env python
"""Interleaved same-session A/B of two checkouts of the engine.

Single-session benchmark numbers on a shared box swing up to 2x (cold
codegen, page cache, checkpoint first-materialization), so a plain
before/after pair of runs cannot decide a 10-25% question.  This tool
runs both VARIANTS of the package inside ONE JVM/session, N reps each,
alternating which variant goes first, and reports per-query medians —
drift affects both variants equally, so the sign of the difference is
trustworthy.

Usage:
    python tools/ab_interleaved.py <old_root> <qname> [<qname> ...] \
        [--new-root DIR] [--reps N] [--sf DIR]

<old_root> is a second checkout of the repository holding the old
variant — a ``git worktree`` of the parent commit, or the parent
unpacked with ``git archive HEAD~1 | tar -x -C DIR``; ``--new-root``
defaults to the checkout this tool lives in.  A change may span any
number of modules, and the tool never edits either tree.  On every
swap the other root leaves ``sys.path``, this root goes first, and every
loaded ``bigdatamining_graduate_spark`` module is dropped and
``plans.queries`` re-imported, so each variant runs only its own code
in this Python process.

Python UDF workers import from the working tree (the directory the tool
is started from), not from the variant's root: code that runs inside a
Python/pandas UDF is the same in both variants, so a change confined to
UDF bodies cannot be A/B'd this way.

Before timing, each named query runs once per variant on the ``--sf``
fixture itself (untimed, checkpoints released), so the medians exclude
both first-run JIT/codegen cost and the first read of the measured
fixture, which would otherwise land on whichever variant goes first in
rep 0.

Each (variant, query, rep) runs under its own job group.  Beside the
wall-time medians the tool reports that run's work counters, read from
Spark's status store the way ``perfbench/tracing.py`` reads them: jobs,
stages, tasks, shuffle read and write bytes, input bytes and spilled
bytes.  The jobs of a stream the query starts run in a job group named
by the stream's run id, which a ``StreamingQueryListener`` collects, so
a streaming query's triggers count too.  Counters are deterministic for
a fixed plan and fixture up to adaptive execution's runtime choices
(an A/A run shows which move); ``work_diff`` lists, per query, every
counter whose median differs between the variants, and ``work_raw``
holds each rep's counters.  ``work_rise`` lists, per query, every
counter whose smallest value over the new variant's reps is above its
largest value over the old variant's reps — a rise no rep of the old
code reaches, which adaptive-execution noise between reps does not
produce alone.

An A/A run (both roots at the same commit) gives the noise floor.
"""
import argparse
import importlib
import json
import os
import statistics
import sys
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

PKG = "bigdatamining_graduate_spark"
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def fresh_package(root: str, roots: set[str]):
    """Put ``root`` first on ``sys.path`` with no other of ``roots`` on
    it, drop every loaded package module and import ``plans.queries``
    (and with it the package) again; returns (queries, checkpoints)."""
    root = os.path.realpath(root)
    sys.path[:] = [p for p in sys.path if os.path.realpath(p or ".") not in roots]
    sys.path.insert(0, root)
    importlib.invalidate_caches()
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    queries = importlib.import_module(f"{PKG}.plans.queries")
    if not os.path.realpath(queries.__file__).startswith(root + os.sep):
        raise RuntimeError(f"{queries.__file__} was not imported from {root}")
    return queries, importlib.import_module(f"{PKG}.checkpoints")


COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
    "spill_bytes",
)


class StreamRuns(StreamingQueryListener):
    """Run ids of the streams started while a query is built; a stream's
    micro-batch jobs run in the job group named by its run id."""

    def __init__(self):
        self.started: list[str] = []
        self.done: set[str] = set()

    def onQueryStarted(self, event):
        self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.done.add(str(event.runId))

    def take(self, timeout_s: float = 30.0) -> list[str]:
        """The run ids started since the last call, once each stream's
        termination event has arrived (its jobs precede it on the bus)."""
        runs, self.started = self.started, []
        deadline = time.monotonic() + timeout_s
        while not self.done.issuperset(runs) and time.monotonic() < deadline:
            time.sleep(0.01)
        return runs


def work_counters(sc, groups: list[str]) -> dict[str, int]:
    """Status-store work of every job in ``groups``: skipped stages (a
    reused shuffle) are not counted, as in ``perfbench/tracing.py``."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    out = dict.fromkeys(COUNTERS, 0)
    out["jobs"] = len(jobs)
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never attempted
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["input_bytes"] += sd.inputBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old_root")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--new-root", default=HERE)
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    variants = {"old": os.path.realpath(args.old_root), "new": os.path.realpath(args.new_root)}
    roots = set(variants.values())
    QM, CK = fresh_package(variants["new"], roots)
    spark = importlib.import_module(f"{PKG}.session").get_spark(
        app_name="ab-interleaved",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    runs = StreamRuns()
    spark.streams.addListener(runs)

    res = {v: {n: [] for n in args.names} for v in variants}
    work = {v: {n: [] for n in args.names} for v in variants}
    for v in variants:  # untimed first runs on the measured fixture
        QM, CK = fresh_package(variants[v], roots)
        for n in args.names:
            QM.QUERIES[n](spark, args.sf).write.format("noop").mode("overwrite").save()
            CK.release_checkpoints()
    for rep in range(args.reps):
        order = ("old", "new") if rep % 2 == 0 else ("new", "old")
        for v in order:
            QM, CK = fresh_package(variants[v], roots)
            for n in args.names:
                group = f"ab-{v}-{rep}-{n}"
                sc.setJobGroup(group, f"ab[{v}] rep{rep}: {n}")
                runs.take(0)
                t0 = time.perf_counter()
                QM.QUERIES[n](spark, args.sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                sc.setLocalProperty("spark.jobGroup.id", None)
                CK.release_checkpoints()
                res[v][n].append(round(dt, 2))
                work[v][n].append(work_counters(sc, [group, *runs.take()]))
    spark.streams.removeListener(runs)
    out = {v: {n: statistics.median(ts) for n, ts in d.items()} for v, d in res.items()}
    work_med = {
        v: {n: {c: statistics.median(w[c] for w in ws) for c in COUNTERS} for n, ws in d.items()}
        for v, d in work.items()
    }
    work_diff = {
        n: {c: [work_med["old"][n][c], work_med["new"][n][c]] for c in COUNTERS
            if work_med["old"][n][c] != work_med["new"][n][c]}
        for n in args.names
    }
    work_rise = {
        n: {c: [max(w[c] for w in work["old"][n]), min(w[c] for w in work["new"][n])]
            for c in COUNTERS
            if min(w[c] for w in work["new"][n]) > max(w[c] for w in work["old"][n])}
        for n in args.names
    }
    print(json.dumps({
        "roots": variants,
        "medians": out,
        "work": work_med,
        "work_diff": {n: d for n, d in work_diff.items() if d},
        "work_rise": {n: d for n, d in work_rise.items() if d},
        "raw": res,
        "work_raw": work,
    }))


if __name__ == "__main__":
    main()
