"""The staged-stream harness (`streaming.jobs.run_staged_stream`): a
trigger's outputs are published only after its observed checks pass,
a failed or unobservable check publishes nothing, and a replayed batch
id leaves exactly one copy."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

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
    # batch 0 was published; nothing of batch 1 is left, not even its tmp
    assert sorted(os.listdir(root)) == ["batch0"]
    got = _read_all(spark, root)
    assert got.count() == 30
    assert got.filter(F.col("id") % 3 != 0).count() == 0


def test_tmp_outputs_are_invisible_to_readers(spark, tmp_path):
    root = str(tmp_path / "sink")
    spark.range(5).write.parquet(os.path.join(root, "batch0"))
    spark.range(7).write.parquet(os.path.join(root, "_tmp_batch1"))
    assert _read_all(spark, root).count() == 5


def test_missing_metric_raises(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(SJ, "OBSERVE_WAIT_S", 1.0)
    stream = SJ.StagedStream(spark, str(tmp_path))

    def handle(t):
        # observed on a frame the write never runs
        t.observe(t.batch.select("id"), n=F.count(F.lit(1)))
        return {"out": t.batch}

    with pytest.raises(AssertionError, match="never observed"):
        stream.run_trigger(handle, spark.range(10), 0)
    assert not os.path.exists(os.path.join(str(tmp_path), "out", "batch0"))
    assert not os.path.exists(os.path.join(str(tmp_path), "out", "_tmp_batch0"))


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

    def handle(t):
        return {"out": t.observe(t.batch, bad_none=F.count_if(F.lit(False)))}

    batch = spark.range(100)
    stream.run_trigger(handle, batch, 0)
    # Spark may rerun a micro-batch: same id, same payload
    stream.run_trigger(handle, batch, 0)
    assert sorted(os.listdir(os.path.join(str(tmp_path), "out"))) == ["batch0"]
    assert stream.read("out").count() == 100
    stream.run_trigger(handle, batch, 1)
    assert stream.read("out").count() == 200
    assert stream.read("out", 1).count() == 100
