"""Measuring worker: one Spark session runs one workload's passes.

Started by ``run.py`` with ``--t0``, the wall-clock time just before this
process was spawned, so ``setup_s`` runs from process start until the
session is up, ``plans.queries`` is imported and the warm-up query has
run.  Then:

1. a cold pass over the workload's queries (every plan new), which is
   also the oracle gate: each result is served by collecting it and
   comparing it with its DuckDB oracle (``tests/oracle.py``); the time
   spent on the DuckDB side is not counted;
2. warm passes until ``--seconds`` have passed since the cold pass began,
   at least ``MIN_WARM`` of them.  With ``--trace 1`` the warm passes
   run untraced and traced (``tracing.Tracer``) in ABBA order, at least
   ``MIN_TRACED`` of each, and the per-layer metrics come from the traced
   ones.

One warm operation is one query: ``QUERIES[name](spark, fixture)``
(build), a ``noop`` write (serve), then ``release_checkpoints()``.  A
pass's time is the sum of its operations' times.  The seed sets the
order of the queries in every pass.  The result goes to ``--result``; a
run record (seed, cores, fixture rows, query list, Spark version,
per-query times, stolen CPU per pass) and, when traced, the spans go
under ``perfbench/.work``.

End-to-end metrics always come from an untraced run: with ``--trace 1``
the result holds only the per-layer metrics, which include the peak
resident memory (``VmHWM``) of the Spark JVM plus the Python driver.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import math
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
#: least warm passes in an untraced run; a traced run makes at least
#: MIN_TRACED untraced and MIN_TRACED traced ones
MIN_WARM = 2
MIN_TRACED = 2
_MB = 1024 * 1024

OPERATOR_MODULES = ("dedup", "similarity", "graph", "lexical", "aggview", "joinview",
                    "distinctview", "sessions")
#: every per-layer metric with its unit, in output order
PER_LAYER = (
    [("session.start_s", "s"), ("plans.import_s", "s"), ("warmup_s", "s"),
     ("plans.build_s", "s"), ("plans.serve_s", "s"), ("traced_warm_pass_s", "s"),
     ("peak_rss_mb", "MB")]
    + [(f"operators.{m}.{k}", u) for m in OPERATOR_MODULES
       for k, u in (("self_s", "s"), ("calls", "count"))]
    + [("ml.pipelines.self_s", "s"), ("ml.pipelines.calls", "count"),
       ("streaming.jobs.self_s", "s"), ("streaming.triggers", "count"),
       ("streaming.trigger_p50_ms", "ms"), ("streaming.trigger_tail_ms", "ms"),
       ("streaming.add_batch_s", "s"), ("streaming.input_rows", "count"),
       ("checkpoints.count", "count"), ("checkpoints.self_s", "s"),
       ("checkpoints.release_s", "s"), ("checkpoints.held_peak", "count"),
       ("staging.dirs", "count"), ("staging.mb", "MB"), ("staging.peak_mb", "MB"),
       ("sources.catalog.loads", "count"), ("sources.publish.self_s", "s"),
       ("sources.publish.calls", "count"), ("sources.sinks.self_s", "s"),
       ("sources.manifest.self_s", "s"),
       ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.executor_run_s", "s"), ("spark.gc_s", "s"), ("spark.spill_mb", "MB"),
       ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
       ("spark.input_mb", "MB"), ("spark.output_mb", "MB"),
       ("sql.scan_ms", "ms"), ("sql.broadcast_ms", "ms"), ("sql.wscg_pipeline_ms", "ms"),
       ("sql.write_ms", "ms"),
       ("trace_overhead", "ratio")]
)
END_TO_END = (("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
              ("warm_geomean_s", "s"))


def _no_span(layer: str, fn: str):
    return contextlib.nullcontext()


class Run:
    """One workload in one session: runs operations and counts failures."""

    def __init__(self, spark, fixture, check):
        from bigdatamining_graduate_spark.checkpoints import release_checkpoints
        from bigdatamining_graduate_spark.plans.queries import QUERIES

        self.spark, self.fixture = spark, fixture
        self._check, self._build, self._release = check, QUERIES, release_checkpoints
        self.attempted = self.failed = self.checked = 0
        self.errors: list[str] = []
        self.pass_steal_s: list[float] = []  # CPU the hypervisor took during each pass

    def operation(self, name: str, check: bool = False, tracer=None, pass_no: int = 0):
        """Time one query; None if it raised or its result mismatched."""
        self.attempted += 1
        build_s = serve_s = 0.0
        ok = True
        if tracer is not None:
            tracer.begin(pass_no, name)
        span = tracer.span if tracer is not None else _no_span
        try:
            t0 = time.perf_counter()
            with span("plans", "build"):
                df = self._build[name](self.spark, self.fixture)
            t1 = time.perf_counter()
            oracle_s = 0.0
            with span("plans", "serve"):
                if check:
                    self.checked += 1
                    oracle_s = self._check(name, df)
                else:
                    df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            build_s, serve_s = t1 - t0, t2 - t1 - oracle_s
        except Exception:  # a failed query is counted, and the run goes on
            ok = False
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)[-600:]}")
            print(f"perfbench: {name} failed\n{traceback.format_exc()}", file=sys.stderr)
        finally:
            t3 = time.perf_counter()
            self._release()
            release_s = time.perf_counter() - t3
        if tracer is not None:
            tracer.end(build_s, serve_s, release_s)
        return build_s + serve_s + release_s if ok else None

    def run_pass(self, order, check=False, tracer=None, pass_no=0) -> dict[str, float]:
        # start every pass from a collected heap, so garbage of the previous
        # pass (and Spark's cleanup of its shuffles) does not land in this one
        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        times = {}
        steal0 = _steal_s()
        for name in order:
            t = self.operation(name, check=check, tracer=tracer, pass_no=pass_no)
            if t is not None:
                times[name] = t
        self.pass_steal_s.append(_steal_s() - steal0)
        return times


def make_checker(fixture_dir: str, cache_dir: str):
    """The oracle gate: ``tests.oracle.assert_matches`` with the DuckDB side
    cached per fixture: the cache key holds the fixture files' digest and
    the oracle SQL.  ``check`` returns the seconds spent on the DuckDB
    side, so the caller can leave them out of the serve time."""
    import pandas as pd

    import tests.oracle as oracle
    from bigdatamining_graduate_spark.plans.queries import ORACLE, TOLERANT_FLOATS

    run_oracle = oracle.run_oracle
    digest = hashlib.sha1()
    for name in sorted(os.listdir(fixture_dir)):
        with open(os.path.join(fixture_dir, name), "rb") as f:
            digest.update(name.encode() + b"\0" + f.read())
    fixture_key = digest.hexdigest()

    oracle_s = [0.0]

    def cached_run_oracle(sql: str, sf_dir: str):
        t0 = time.perf_counter()
        key = hashlib.sha1(f"{fixture_key}\0{sql}".encode()).hexdigest()
        path = os.path.join(cache_dir, f"{key}.pkl")
        if os.path.isfile(path):
            df = pd.read_pickle(path)  # written by this function only
        else:
            df = run_oracle(sql, sf_dir)
            os.makedirs(cache_dir, exist_ok=True)
            df.to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        oracle_s[0] += time.perf_counter() - t0
        return df

    oracle.run_oracle = cached_run_oracle

    def check(name, df) -> float:
        oracle_s[0] = 0.0
        tol = 1e-9 if name in TOLERANT_FLOATS else 0.0
        oracle.assert_matches(df, ORACLE[name], fixture_dir, float_tol=tol)
        return oracle_s[0]

    return check


def _fixture_rows(fixture_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {name: pq.ParquetFile(os.path.join(fixture_dir, name)).metadata.num_rows
            for name in sorted(os.listdir(fixture_dir))}


def _steal_s() -> float:
    """CPU seconds, summed over all CPUs, that the hypervisor gave to other
    guests while this one had work (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _pass_total(times: dict[str, float]) -> float:
    return sum(times.values())


def _geomean(values) -> float:
    logs = [math.log(v) for v in values]
    return math.exp(statistics.fmean(logs)) if logs else 0.0


def _tail_ms(samples: list[float]) -> float:
    """Highest of p99.9/p99/p90/p75/p50 with at least ten samples beyond
    it; the maximum when there are fewer than twenty samples."""
    if not samples:
        return 0.0
    s = sorted(samples)
    for p in (0.999, 0.99, 0.9, 0.75, 0.5):
        if len(s) * (1 - p) >= 10:
            return s[min(len(s) - 1, int(math.ceil(p * len(s))) - 1)]
    return s[-1]


def layer_metrics(records: list[dict], n_passes: int) -> dict[str, float]:
    """Per-pass means of the traced records' counters."""
    out = {name: 0.0 for name, _ in PER_LAYER}
    triggers: list[float] = []
    for r in records:
        out["plans.build_s"] += r["build_s"]
        out["plans.serve_s"] += r["serve_s"]
        out["checkpoints.release_s"] += r["release_s"]
        for layer, s in r["self_s"].items():
            out[f"{layer}.self_s"] = out.get(f"{layer}.self_s", 0.0) + s
        for layer in ("ml.pipelines", "sources.publish", *(f"operators.{m}" for m in OPERATOR_MODULES)):
            out[f"{layer}.calls"] += r["calls"].get(layer, 0)
        fn = r["fn_calls"]
        out["checkpoints.count"] += fn.get("checkpoints.local_checkpoint", 0)
        out["staging.dirs"] += fn.get("staging.staging_dir", 0)
        out["sources.catalog.loads"] += fn.get("sources.catalog.load_table", 0)
        out["streaming.triggers"] += len(r["triggers"])
        out["streaming.add_batch_s"] += r["add_batch_ms"] / 1e3
        out["streaming.input_rows"] += r["input_rows"]
        out["checkpoints.held_peak"] = max(out["checkpoints.held_peak"], r["held_peak"])
        triggers.extend(r["triggers"])
        for k, v in r.items():
            if k.startswith(("spark.", "sql.")):
                out[k] += v
    for k in list(out):
        if k != "checkpoints.held_peak":
            out[k] /= max(1, n_passes)
    # staged trees stay on disk until the session ends, so the root only grows
    out["staging.mb"] = sum(r["staging_grew"] for r in records) / _MB / max(1, n_passes)
    out["staging.peak_mb"] = max((r["staging_bytes"] for r in records), default=0) / _MB
    out["streaming.trigger_p50_ms"] = statistics.median(triggers) if triggers else 0.0
    out["streaming.trigger_tail_ms"] = _tail_ms(triggers)
    return {k: out[k] for k, _ in PER_LAYER}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    from workloads import BASE_DIR, WARMUP_DIR, WARMUP_QUERY, WORKLOADS

    queries = WORKLOADS[args.workload]
    fixture_dir = BASE_DIR
    nproc = len(os.sched_getaffinity(0))

    from bigdatamining_graduate_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp files (and no hsperfdata) inside the checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.time()
    from bigdatamining_graduate_spark.plans.queries import QUERIES

    t_import = time.time()
    QUERIES[WARMUP_QUERY](spark, WARMUP_DIR).write.format(
        "noop"
    ).mode("overwrite").save()
    t_setup = time.time()

    run = Run(spark, fixture_dir, make_checker(fixture_dir, os.path.join(WORK, "oracle")))
    rng = random.Random(args.seed)

    def order():
        return rng.sample(queries, len(queries))

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)

    t_measure = time.perf_counter()
    cold = run.run_pass(order(), check=True)
    warm: list[dict[str, float]] = []
    traced: list[dict[str, float]] = []
    while True:
        if tracer is None:
            enough = len(warm) >= MIN_WARM
        else:
            enough = min(len(warm), len(traced)) >= MIN_TRACED
        if enough and time.perf_counter() - t_measure >= args.seconds:
            break
        # untraced and traced passes in ABBA order, so JIT warm-up over the
        # run does not bias trace_overhead
        if tracer is not None and (len(warm) + len(traced)) % 4 in (1, 2):
            tracer.install()
            try:
                traced.append(run.run_pass(order(), tracer=tracer, pass_no=len(traced) + 1))
            finally:
                tracer.uninstall()
        else:
            warm.append(run.run_pass(order()))

    warm_totals = [_pass_total(p) for p in warm]
    best = {q: min(p[q] for p in warm if q in p) for q in queries if any(q in p for p in warm)}
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    rss_mb = {"python": _vm_hwm_kb("self") / 1024, "jvm": _vm_hwm_kb(jvm_pid) / 1024}

    if tracer is None:
        metrics = {
            "setup_s": t_setup - args.t0,
            "cold_pass_s": _pass_total(cold),
            # the fastest warm pass: the first warm pass still pays JIT
            # compilation, and a slower pass is mostly CPU stolen from the VM
            "warm_pass_s": min(warm_totals),
            "warm_geomean_s": _geomean(best.values()),
        }
        units = dict(END_TO_END)
    else:
        metrics = layer_metrics(tracer.records, len(traced))
        traced_total = statistics.median([_pass_total(p) for p in traced])
        untraced_total = statistics.median(warm_totals)
        metrics.update({
            "session.start_s": t_session - args.t0,
            "plans.import_s": t_import - t_session,
            "warmup_s": t_setup - t_import,
            "traced_warm_pass_s": traced_total,
            "peak_rss_mb": rss_mb["python"] + rss_mb["jvm"],
            "trace_overhead": traced_total / untraced_total if untraced_total else 0.0,
        })
        units = dict(PER_LAYER)

    result = {
        "correct": run.failed == 0 and run.checked == len(queries),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}"
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "spark_version": spark.version,
        "fixture_rows": _fixture_rows(fixture_dir), "queries": queries,
        "checked": run.checked, "errors": run.errors, "peak_rss_mb": rss_mb,
        "cold": cold, "warm": warm, "traced": traced, "pass_steal_s": run.pass_steal_s,
        "result": result,
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if tracer is not None:
        tracer.dump(os.path.join(WORK, "traces", f"{tag}.jsonl"))
    with open(args.result, "w") as f:
        json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main()
