"""The staged-stream harness (`streaming.jobs.run_staged_stream`): a
trigger's outputs are committed through the store protocol
(`sources/publish.py`) as version ``bid + 1`` only after its observed
checks pass; a failed or unobservable check or a crashed commit leaves
readers on the previous version, and a replayed committed batch id runs
no handler and leaves exactly one copy."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdatamining_graduate_spark.sources import publish as PB
from bigdatamining_graduate_spark.streaming import jobs as SJ


def _read_all(spark, root):
    return spark.read.option("recursiveFileLookup", "true").parquet(root)


def test_planted_violation_fails_trigger_and_publishes_nothing(spark, tmp_path):
    stage = str(tmp_path / "stage")
    df = spark.range(90).select("id")

    def handle(t):
        # id 40 lands in batch 1 (40 % 3): that trigger's check fails
        out = t.observe(t.batch, bad_planted=F.count_if(F.col("id") == 40))
        return {"out": out}

    with pytest.raises(Exception, match="bad_planted = 1"):
        SJ.run_staged_stream(df, F.col("id") % 3, 3, stage, handle)
    root = os.path.join(stage, "out")
    # batch 0 was published; nothing of batch 1 is left, not even uncommitted
    assert sorted(os.listdir(root)) == ["v1"]
    assert PB.current_version(stage) == 1
    got = _read_all(spark, root)
    assert got.count() == 30
    assert got.filter(F.col("id") % 3 != 0).count() == 0


def test_version_past_current_is_invisible_to_readers(spark, tmp_path):
    stream = SJ.StagedStream(spark, str(tmp_path))
    stream.run_trigger(lambda t: {"out": t.batch}, spark.range(5), 0)
    PB.write_store_version(spark.range(7), str(tmp_path), "out", 2)
    assert stream.read("out").count() == 5


def test_missing_metric_raises(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(SJ, "OBSERVE_WAIT_S", 1.0)
    stream = SJ.StagedStream(spark, str(tmp_path))

    def handle(t):
        # observed on a frame the write never runs
        t.observe(t.batch.select("id"), n=F.count(F.lit(1)))
        return {"out": t.batch}

    with pytest.raises(AssertionError, match="never observed"):
        stream.run_trigger(handle, spark.range(10), 0)
    assert not os.path.exists(os.path.join(str(tmp_path), "out", "v1"))
    assert not os.path.exists(os.path.join(str(tmp_path), "CURRENT"))


def test_failed_requirement_raises(spark, tmp_path):
    stream = SJ.StagedStream(spark, str(tmp_path))

    def handle(t):
        out = t.observe(t.batch, n=F.count(F.lit(1)))
        t.require("ten rows arrive", lambda m: m["n"] == 10)
        return {"out": out}

    with pytest.raises(AssertionError, match="ten rows arrive"):
        stream.run_trigger(handle, spark.range(11), 0)
    stream.run_trigger(handle, spark.range(10), 0)
    assert stream.read("out").count() == 10
    assert stream.metrics[0] == {"n": 10}


def test_replayed_batch_leaves_one_copy(spark, tmp_path):
    stream = SJ.StagedStream(spark, str(tmp_path))
    calls = []

    def handle(t):
        calls.append(t.bid)
        return {"out": t.observe(t.batch, bad_none=F.count_if(F.lit(False)))}

    batch = spark.range(100)
    stream.run_trigger(handle, batch, 0)
    # Spark may rerun a micro-batch: same id, same payload
    stream.run_trigger(handle, batch, 0)
    assert calls == [0]  # a committed batch id runs no handler
    assert sorted(os.listdir(os.path.join(str(tmp_path), "out"))) == ["v1"]
    assert stream.read("out").count() == 100
    stream.run_trigger(handle, batch, 1)
    assert stream.read("out").count() == 200
    assert stream.read("out", 1).count() == 100


def test_crashed_commit_keeps_readers_on_previous_trigger(spark, tmp_path, monkeypatch):
    root = str(tmp_path)
    stream = SJ.StagedStream(spark, root)

    def handle(t):
        return {"out": t.batch}

    stream.run_trigger(handle, spark.range(10), 0)

    def crash(r, version):
        raise RuntimeError(f"crashed before committing v{version}")

    monkeypatch.setattr(PB, "commit_version", crash)
    with pytest.raises(RuntimeError, match="crashed before committing v2"):
        stream.run_trigger(handle, spark.range(10, 15), 1)
    monkeypatch.undo()
    assert PB.current_version(root) == 1
    assert PB.versions(root, "out") == [1]
    assert stream.read("out").count() == 10
    # the rerun of batch 1 publishes
    stream.run_trigger(handle, spark.range(10, 15), 1)
    assert PB.current_version(root) == 2
    assert stream.read("out").count() == 15
    assert stream.read("out", 1).count() == 5
