"""The explicit checkpoint-release contract (VERDICT r6 What's-wrong #1).

``localCheckpoint`` blocks used to be freed only when Python GC dropped
the DataFrame wrapper (bench.py papered over it with a per-query
``gc.collect()``).  The ledger in ``checkpoints.py`` makes the lifetime
deterministic: every engine checkpoint is tracked, and
``release_checkpoints()`` unpersists all tracked blocks on demand.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatamining_graduate_spark import checkpoints as CK


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_frees_blocks(spark):
    CK.release_checkpoints()  # start from a clean ledger
    base = _n_persistent(spark)
    df = CK.local_checkpoint(spark.range(10_000).select("id", (F.col("id") * 2).alias("v")))
    assert df.count() == 10_000
    assert CK.tracked_count() >= 1
    assert _n_persistent(spark) > base
    assert CK.release_checkpoints() >= 1
    assert CK.tracked_count() == 0
    assert _n_persistent(spark) == base


def test_lazy_checkpoint_tracked_and_released(spark):
    CK.release_checkpoints()
    df = CK.local_checkpoint(spark.range(1_000), eager=False)
    assert CK.tracked_count() == 1
    assert df.count() == 1_000  # materializes here
    CK.release_checkpoints()
    assert _n_persistent(spark) == 0


def test_release_previous_is_selective(spark):
    CK.release_checkpoints()
    a = CK.local_checkpoint(spark.range(100))
    b = CK.local_checkpoint(spark.range(200))
    a.count(), b.count()
    CK.release_previous(a)
    assert CK.tracked_count() == 1  # b still owned
    assert b.count() == 200  # b's blocks untouched
    CK.release_checkpoints()


def test_release_previous_tolerates_none_and_plain_frames(spark):
    CK.release_previous(None)
    CK.release_previous(spark.range(5))  # not a checkpoint: no-op


def test_iterative_operators_leave_no_blocks(spark):
    """End-to-end: the checkpoint-heavy operators (CC, PageRank, BFS)
    free every block after release — nothing left for GC."""
    from bigdatamining_graduate_spark.plans.queries import QUERIES

    from .conftest import SF_SMOKE

    CK.release_checkpoints()
    for q in ("q71_neardup_components", "q107_part_pagerank", "q175_part_bfs_hops"):
        QUERIES[q](spark, SF_SMOKE).write.format("noop").mode(
            "overwrite"
        ).save()
        CK.release_checkpoints()
        assert _n_persistent(spark) == 0, q


def test_bench_has_no_gc_fallback():
    """bench.py must rely on the explicit contract, not gc.collect()."""
    import pathlib

    src = (pathlib.Path(__file__).resolve().parent.parent / "bench.py").read_text()
    assert "gc.collect" not in src
    assert "release_checkpoints" in src


def test_scoped_release_spares_callers_blocks(spark):
    """The token API (ADVICE r8): code running inside someone else's
    query — a foreachBatch handler, a library operator — snapshots the
    ledger with ``tracked_ids()`` and releases only its own delta with
    ``release_new_since``; the caller's blocks stay resident."""
    CK.release_checkpoints()
    callers = CK.local_checkpoint(spark.range(500))
    callers.count()
    before = CK.tracked_ids()
    inner = CK.local_checkpoint(spark.range(300))
    inner.count()
    assert CK.tracked_count() == 2
    assert CK.release_new_since(before) == 1
    assert CK.tracked_count() == 1  # caller's entry survives
    assert callers.count() == 500  # caller's blocks untouched
    # releasing an empty delta is a no-op
    assert CK.release_new_since(CK.tracked_ids()) == 0
    CK.release_checkpoints()


def test_fixpoint_linear_recurrence_runs_uncut(spark):
    """A plan that grows by one node a round stays one uncut plan below
    the bound: no checkpoint is taken and the rounds compose."""
    CK.release_checkpoints()
    out = CK.fixpoint(
        lambda s, i: s.select((F.col("id") + i).alias("id")), spark.range(5), 4
    )
    assert CK.tracked_count() == 0
    assert CK._plan_nodes(out) <= CK.PLAN_NODE_BOUND
    assert sorted(r.id for r in out.collect()) == [10, 11, 12, 13, 14]


def test_fixpoint_cuts_a_three_reference_recurrence(spark):
    """BFS-shaped: each round references the state three times, so the
    uncut plan triples per round; the returned state's plan stays under
    the bound, at most two loop checkpoints are ever held, and none are
    left after release."""
    CK.release_checkpoints()
    held = []

    def step(s, i):
        held.append(CK.tracked_count())
        grown = s.filter(F.col("hop") == i - 1).select(
            (F.col("node") + 1).alias("node"), F.lit(i).alias("hop")
        )
        new = grown.join(s.select("node"), "node", "left_anti")
        return s.unionByName(new)

    start = spark.range(1).select(F.col("id").alias("node"), F.lit(0).alias("hop"))
    out = CK.fixpoint(step, start, 8)
    assert CK._plan_nodes(out) <= CK.PLAN_NODE_BOUND
    assert CK.tracked_count() >= 1  # the loop did cut
    assert max(held) <= 2
    assert sorted((r.node, r.hop) for r in out.collect()) == [(h, h) for h in range(9)]
    CK.release_checkpoints()
    assert _n_persistent(spark) == 0


def test_fixpoint_measure_stops_when_it_repeats(spark):
    """Halving 0..7 shrinks the distinct count 8 -> 4 -> 2 -> 1 -> 1: the
    loop stops on round 4, the first that repeats the count, holding at
    most two loop checkpoints while it runs."""
    CK.release_checkpoints()
    rounds, held = [], []

    def halve(s, i):
        rounds.append(i)
        return s.select((F.col("id") / 2).cast("long").alias("id")).distinct()

    def count(s):
        held.append(CK.tracked_count())
        return s.count()

    out = CK.fixpoint(halve, spark.range(8), 10, measure=count)
    assert rounds == [1, 2, 3, 4]
    assert [r.id for r in out.collect()] == [0]
    assert max(held) <= 2
    assert CK.tracked_count() == 1  # only the returned state
    CK.release_checkpoints()
    assert _n_persistent(spark) == 0


def test_fixpoint_measure_raises_when_rounds_run_out(spark):
    CK.release_checkpoints()
    halve = lambda s, i: s.select((F.col("id") / 2).cast("long").alias("id")).distinct()
    with pytest.raises(RuntimeError, match="after 2 rounds"):
        CK.fixpoint(halve, spark.range(8), 2, measure=lambda s: s.count())
    CK.release_checkpoints()
    assert _n_persistent(spark) == 0
