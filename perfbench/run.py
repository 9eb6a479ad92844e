#!/usr/bin/env python3
"""Benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload mining --seed 1 --seconds 20 --trace 0

Runs one measuring worker process (``worker.py``) on the fixtures under
``perfbench/data`` and prints its result as the last line of standard
output: one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones.

Everything the benchmark writes stays under ``perfbench/.work``; each
child runs in its own process group, which is killed and waited for
before this script exits.  Exits 2 without a result when the engine
package is not beside this directory, 1 when a child fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

#: repository files the benchmark needs besides its own directory
REQUIRED = (
    "bigdatamining_graduate_spark/plans/queries.py",
    "tests/oracle.py",
)
WORKER_TIMEOUT_S = 165


def _child_env(run_dir: str) -> dict[str, str]:
    """Private temp and Spark local dirs, and the checkout on the path."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYTHONPATH=os.pathsep.join([ROOT, HERE, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_PYTHON=sys.executable,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # no /tmp/hsperfdata from spark-class
    )
    return env


def _run_child(argv: list[str], run_dir: str, timeout: float) -> int:
    """Run ``argv`` in ``run_dir`` as a new process group; its output goes
    to our stderr so stdout keeps only the result line.  Every process
    left in the group (the Spark JVM) is killed and waited for."""
    proc = subprocess.Popen(
        argv, cwd=run_dir, env=_child_env(run_dir), stdout=sys.stderr,
        stderr=sys.stderr, stdin=subprocess.DEVNULL, start_new_session=True,
    )
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {argv[1]} timed out after {timeout:.0f} s", file=sys.stderr)
        return -1
    finally:
        _reap_group(proc)


def _reap_group(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    # a terminated launcher still reaps its children (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not in a checkout of the engine (missing {missing})", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result_path = os.path.join(run_dir, "result.json")
    try:
        t0 = time.time()  # set-up is timed from here: the worker's process start
        rc = _run_child(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--t0", repr(t0), "--result", result_path],
            run_dir, WORKER_TIMEOUT_S,
        )
        if rc != 0 or not os.path.isfile(result_path):
            print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
