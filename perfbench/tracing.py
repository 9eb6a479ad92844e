"""Per-layer tracing for the benchmark's traced run.

``Tracer.install()`` wraps every public function of the traced engine
modules (``LAYERS``) in every package namespace that binds it — a
``from ..checkpoints import local_checkpoint`` in ``plans.queries`` is a
second binding of the same function object, and patching only the
defining module would miss it.  ``uninstall()`` restores every binding,
so untraced passes run the engine exactly as shipped.

Spans are kept in memory (query, pass, layer, function, start, end,
parent) and written out by ``dump``.  A span's self time is its duration
minus the time its child spans cover; a span opened on another thread
(a ``foreachBatch`` callback) is a child of the main thread's open span.

Besides spans, each query's record holds counters read from outside the
engine once the query is done: Spark's status store (through the job
group the query ran in, and the run ids of the streams it started), the
SQL status store's operator metrics, a ``StreamingQueryListener``'s
trigger progress, and the size of the staging root.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import re
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

PKG = "bigdatamining_graduate_spark"

#: defining module -> layer name used in the metric names
LAYERS = {
    f"{PKG}.operators.{m}": f"operators.{m}"
    for m in ("dedup", "similarity", "graph", "lexical", "aggview", "joinview",
              "distinctview", "sessions")
}
LAYERS.update({
    f"{PKG}.ml.pipelines": "ml.pipelines",
    f"{PKG}.streaming.jobs": "streaming.jobs",
    f"{PKG}.checkpoints": "checkpoints",
    f"{PKG}.staging": "staging",
    f"{PKG}.sources.catalog": "sources.catalog",
    f"{PKG}.sources.publish": "sources.publish",
    f"{PKG}.sources.sinks": "sources.sinks",
    f"{PKG}.sources.manifest": "sources.manifest",
})

#: SQL operator metric name -> rolled-up metric (all reported in ms)
SQL_METRICS = {
    "scan time": "sql.scan_ms",
    "time to broadcast": "sql.broadcast_ms",
    "time to build": "sql.broadcast_ms",
    "time to collect": "sql.broadcast_ms",
    "duration": "sql.wscg_pipeline_ms",  # WholeStageCodegen pipeline run time
    "task commit time": "sql.write_ms",
    "job commit time": "sql.write_ms",
}
_DURATION = re.compile(r"([0-9.]+)\s*(ms|s|m|h)\b")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_MB = 1024 * 1024


class _Listener(StreamingQueryListener):
    """Forwards stream events to the tracer.  ``onQueryStarted`` runs
    synchronously inside ``start()``, so the stream is attributed to the
    query being built; progress and termination arrive later on the
    listener bus and are matched by run id."""

    def __init__(self, tracer: "Tracer"):
        self._t = tracer

    def onQueryStarted(self, event):
        self._t._stream_started(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        self._t._stream_progress(str(p.runId), dict(p.durationMs), p.numInputRows)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self._t._stream_terminated(str(event.runId))


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[list] = []
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[list] = []
        self._main_ident = threading.main_thread().ident
        self._patched: list[tuple] = []
        self._listener = _Listener(self)
        self._rec: dict | None = None
        self._runs: dict[str, dict] = {}  # stream run id -> its query's record
        from bigdatamining_graduate_spark import checkpoints, staging

        self._tracked_count = checkpoints.tracked_count
        self._staging = staging

    # ---- install / uninstall ------------------------------------------------
    def install(self) -> None:
        wrapped = {}
        for mod_name, layer in LAYERS.items():
            mod = importlib.import_module(mod_name)
            for attr, fn in vars(mod).items():
                if inspect.isfunction(fn) and fn.__module__ == mod_name and not attr.startswith("_"):
                    wrapped[id(fn)] = (fn, self._wrap(fn, layer))
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrapped.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, val))
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        self.spark.streams.removeListener(self._listener)
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    def _wrap(self, fn, layer: str):
        name = fn.__name__
        held = layer == "checkpoints" and name == "local_checkpoint"

        # functools.wraps keeps __module__/__qualname__, so cloudpickle
        # ships a wrapped function to Python workers by reference and they
        # run the original.
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self._open(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(span)
                if held and self._rec is not None:
                    self._rec["held_peak"] = max(self._rec["held_peak"], self._tracked_count())

        return traced

    # ---- spans --------------------------------------------------------------
    def _stack(self) -> list:
        if threading.get_ident() == self._main_ident:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, layer: str, fn: str) -> list:
        st = self._stack()
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        rec = self._rec
        # [layer, fn, start, end, child_s, parent_index, query, index]
        span = [layer, fn, time.perf_counter(), 0.0, 0.0,
                parent[7] if parent else -1, rec["query"] if rec else None, 0]
        with self._lock:
            span[7] = len(self.spans)
            self.spans.append(span)
        st.append(span)
        return span

    def _close(self, span: list) -> None:
        span[3] = time.perf_counter()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        dur = span[3] - span[2]
        with self._lock:
            if span[5] >= 0:
                self.spans[span[5]][4] += dur
            rec = self._rec
            if rec is not None:
                rec["self_s"][span[0]] += dur - span[4]
                rec["calls"][span[0]] += 1
                rec["fn_calls"][f"{span[0]}.{span[1]}"] += 1

    @contextlib.contextmanager
    def span(self, layer: str, fn: str):
        """A span around a call made from the benchmark itself."""
        s = self._open(layer, fn)
        try:
            yield
        finally:
            self._close(s)

    # ---- per-query records ----------------------------------------------------
    def begin(self, pass_no: int, query: str) -> None:
        group = f"perfbench-{pass_no}-{query}"
        self._rec = {
            "pass": pass_no, "query": query, "group": group, "runs": [],
            "self_s": defaultdict(float), "calls": defaultdict(int),
            "fn_calls": defaultdict(int), "held_peak": self._tracked_count(),
            "triggers": [], "add_batch_ms": 0.0, "input_rows": 0,
            "staging_before": self._staging_bytes(),
            "last_execution": self._last_execution_id(),
        }
        self.spark.sparkContext.setJobGroup(group, query)

    def end(self, build_s: float, serve_s: float, release_s: float) -> dict:
        rec = self._rec
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self._drain(rec)
        self._rec = None
        staged = self._staging_bytes()
        rec.update(build_s=build_s, serve_s=serve_s, release_s=release_s,
                   staging_bytes=staged, staging_grew=staged - rec.pop("staging_before"))
        rec.update(self._spark_counters(rec))
        for k in ("self_s", "calls", "fn_calls"):
            rec[k] = dict(rec[k])
        self.records.append(rec)
        return rec

    def _drain(self, rec: dict, timeout_s: float = 30.0) -> None:
        """Wait until every stream the query started has reported its
        termination (its progress events precede it on the bus)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if all(self._runs[r].get("done") for r in rec["runs"]):
                    return
            time.sleep(0.01)
        print(f"perfbench: stream events for {rec['query']} not drained", file=sys.stderr)

    def _stream_started(self, run_id: str) -> None:
        with self._lock:
            rec = self._rec
            self._runs[run_id] = {"rec": rec, "done": False}
            if rec is not None:
                rec["runs"].append(run_id)

    def _stream_progress(self, run_id: str, duration_ms: dict, input_rows: int) -> None:
        with self._lock:
            rec = self._runs.get(run_id, {}).get("rec")
            if rec is None:
                return
            rec["triggers"].append(float(duration_ms.get("triggerExecution", 0)))
            rec["add_batch_ms"] += float(duration_ms.get("addBatch", 0))
            rec["input_rows"] += int(input_rows)

    def _stream_terminated(self, run_id: str) -> None:
        with self._lock:
            self._runs.setdefault(run_id, {"rec": None})["done"] = True

    def _staging_bytes(self) -> int:
        root = self._staging._ROOT
        total = 0
        if root is None:
            return 0
        for dirpath, _, files in os.walk(root):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
        return total

    # ---- Spark status stores ----------------------------------------------------
    def _spark_counters(self, rec: dict) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = []
        for group in [rec["group"], *rec["runs"]]:
            jobs.extend(tracker.getJobIdsForGroup(group))
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = defaultdict(float)
        out["spark.jobs"] = len(jobs)
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never attempted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += sd.numCompleteTasks()
            out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
            out["spark.gc_s"] += sd.jvmGcTime() / 1e3
            out["spark.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
            out["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            out["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
            out["spark.input_mb"] += sd.inputBytes() / _MB
            out["spark.output_mb"] += sd.outputBytes() / _MB
        out.update(self._sql_metrics(rec["last_execution"]))
        return dict(out)

    def _last_execution_id(self) -> int:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        return sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def _sql_metrics(self, since: int) -> dict:
        """Roll up by ``SQL_METRICS`` the operator metrics of the SQL
        executions newer than ``since`` — those of the query just run, as
        one query is in flight at a time."""
        out = defaultdict(float)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        tail = sql.executionsList(max(0, n - 400), 400)  # ascending by id
        for i in range(tail.size() - 1, -1, -1):
            ex = tail.apply(i)
            if ex.executionId() <= since:
                break
            names = {}
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = SQL_METRICS.get(m.name())
                if key is not None:
                    names[m.accumulatorId()] = key
            if not names:
                continue
            values = sql.executionMetrics(ex.executionId())
            for acc, key in names.items():
                value = values.get(acc)  # scala Option[String]
                if not value.isEmpty():
                    out[key] += _parse_ms(value.get())
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for layer, fn, start, end, child, parent, query, idx in self.spans:
                f.write(json.dumps({
                    "id": idx, "parent": parent, "query": query, "layer": layer,
                    "fn": fn, "start": start, "end": end, "self_s": end - start - child,
                }) + "\n")


def _parse_ms(text: str) -> float:
    """A formatted SQL timing metric in ms.  Multi-task metrics read
    ``total (min, med, max ...)\\n<total> (...)``; the total comes first
    on the second line."""
    line = text.split("\n")[-1]
    m = _DURATION.search(line)
    return float(m.group(1)) * _UNIT_MS[m.group(2)] if m else 0.0
