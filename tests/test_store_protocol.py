"""Crash safety of the store protocol (``sources/publish.py``): every
persisted store is replaced by writing its next version and flipping
one pointer, so a crash at any point leaves the last committed version
readable and the next publish on the same root succeeds.

* every store-lifecycle entry point that takes a publish root is
  crashed at its replacing commit: each store must read back exactly
  the rows it held at the last successful commit, and one more publish
  must succeed without exposing anything the crash left behind;
* q275's staged stream, whose triggers commit through the same
  pointer, is crashed at its second trigger's commit;
* at the protocol level: a crash before the commit, a crash after the
  commit but before GC, and a stale uncommitted version left by an
  earlier crash;
* a store read back with the schema just written runs no Spark job.
"""

from __future__ import annotations

import os
import re

import pytest

from bigdatamining_graduate_spark.operators import dedup as DD
from bigdatamining_graduate_spark.sources import publish as PB

from .conftest import SF_SMOKE


class Crash(RuntimeError):
    """Stands in for the process dying at an injected point."""


def _table(spark, name):
    from bigdatamining_graduate_spark.sources.catalog import load_table

    return load_table(spark, SF_SMOKE, name)


def _events_tiered(spark):
    from bigdatamining_graduate_spark.plans import queries as Q

    return _table(spark, "events").select(
        "user_id", "event_id", "ts", Q._q179_tier().alias("tier")
    )


def _entry(name):
    """Entry point ``name`` as a callable of (spark, root)."""
    from bigdatamining_graduate_spark.operators import aggview as AV
    from bigdatamining_graduate_spark.operators import distinctview as DV
    from bigdatamining_graduate_spark.operators import graph as G
    from bigdatamining_graduate_spark.operators import lexical as LX
    from bigdatamining_graduate_spark.operators import multimodal as MM
    from bigdatamining_graduate_spark.operators import similarity as S
    from bigdatamining_graduate_spark.plans import queries as Q

    return {
        "q235": lambda sp, r: DD.vacuumed_refresh_pairs(sp, _table(sp, "documents"), 0.5, r),
        "q239": lambda sp, r: S.vacuumed_ivf_refresh(sp, _table(sp, "embeddings"), r),
        "q249": lambda sp, r: S.retrained_ivf_refresh(sp, _table(sp, "embeddings"), r),
        "q250": lambda sp, r: G.vacuumed_triangle_refresh(sp, _table(sp, "lineitem"), r),
        "q256": lambda sp, r: MM.vacuumed_phash_refresh(sp, _table(sp, "documents"), r),
        "q261": lambda sp, r: AV.vacuumed_agg_view(sp, _table(sp, "lineitem"), r),
        "q267": lambda sp, r: DD.triggered_vacuum_refresh(sp, _table(sp, "documents"), 0.5, r),
        "q268": lambda sp, r: Q.scd2_gdpr_erase(sp, _events_tiered(sp), r),
        "q269": lambda sp, r: LX.vacuumed_bm25_refresh(sp, _table(sp, "documents"), r),
        "q271": lambda sp, r: DD.atomic_published_refresh(sp, _table(sp, "documents"), 0.5, r),
        "q273": lambda sp, r: Q.scd2_horizon_compact(sp, _events_tiered(sp), r),
        "q286": lambda sp, r: DV.vacuumed_distinct_view(sp, _table(sp, "events"), r),
    }[name]


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def _stores(root):
    return sorted(s for s in os.listdir(root) if os.path.isdir(os.path.join(root, s)))


def _assert_nothing_left_over(root):
    """Only committed version directories and the pointer remain."""
    cur = PB.current_version(root)
    assert sorted(set(os.listdir(root)) - set(_stores(root))) == ["CURRENT"]
    for store in _stores(root):
        names = os.listdir(os.path.join(root, store))
        assert all(re.fullmatch(r"v\d+", n) for n in names), (store, names)
        assert max(PB.versions(root, store)) <= cur, (store, names)


@pytest.mark.parametrize(
    "name",
    ["q235", "q239", "q249", "q250", "q256", "q261", "q267", "q268", "q269", "q271", "q273", "q286"],
)
def test_crash_at_replacing_commit_keeps_last_committed(spark, tmp_path, monkeypatch, name):
    root = str(tmp_path / "root")
    os.makedirs(root)
    committed: dict[str, list[str]] = {}
    real_commit = PB.commit_version

    def commit_or_crash(r, version):
        if os.path.exists(os.path.join(r, "CURRENT")):
            raise Crash(f"crashed before committing v{version}")
        real_commit(r, version)
        for store in _stores(r):
            committed[store] = _rows(PB.read_current(spark, r, store))

    monkeypatch.setattr(PB, "commit_version", commit_or_crash)
    with pytest.raises(Crash):
        _entry(name)(spark, root)
    monkeypatch.undo()

    assert committed, "the entry point committed nothing before its replacing commit"
    for store, rows in committed.items():
        assert _rows(PB.read_current(spark, root, store)) == rows, store
    # one more publish, rewriting only one store: the crashed publish's
    # uncommitted versions of the others must not become visible
    first = sorted(committed)[0]
    PB.publish_version(
        root, PB.current_version(root) + 1, {first: PB.read_current(spark, root, first)}
    )
    for store, rows in committed.items():
        assert _rows(PB.read_current(spark, root, store)) == rows, store
    _assert_nothing_left_over(root)


def test_stream_commit_crash_keeps_previous_trigger(spark, tmp_path, monkeypatch):
    """q275: a crash at trigger 2's commit leaves the signature store at
    exactly trigger 1's rows, with no uncommitted version left behind."""
    from bigdatamining_graduate_spark.streaming import jobs as SJ

    committed: dict[int, list[str]] = {}
    roots: list[str] = []
    real_commit = PB.commit_version

    def commit_or_crash(r, version):
        if version == 2:
            raise Crash(f"crashed before committing v{version}")
        real_commit(r, version)
        roots.append(r)
        committed[version] = _rows(PB.read_current(spark, r, "sig"))

    monkeypatch.setattr(PB, "commit_version", commit_or_crash)
    with pytest.raises(Exception, match="crashed before committing v2"):
        SJ.stream_published_store(spark, SF_SMOKE)
    monkeypatch.undo()

    root = roots[-1]
    assert sorted(committed) == [0, 1]
    assert len(committed[1]) > len(committed[0])
    assert PB.current_version(root) == 1
    assert _rows(PB.read_current(spark, root, "sig")) == committed[1]
    _assert_nothing_left_over(root)


def _mk(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x long")


def _vals(df):
    return sorted(r.x for r in df.collect())


def test_crash_before_commit(spark, tmp_path, monkeypatch):
    """The new versions are fully written, the pointer never moves:
    readers keep the committed pair, and a retry commits cleanly."""
    root = str(tmp_path / "root")
    PB.publish_version(root, 1, {"a": _mk(spark, [1, 2]), "b": _mk(spark, [10])})

    def crash(r, version):
        raise Crash()

    monkeypatch.setattr(PB, "commit_version", crash)
    with pytest.raises(Crash):
        PB.publish_version(root, 2, {"a": _mk(spark, [3]), "b": _mk(spark, [30])})
    monkeypatch.undo()
    assert PB.current_version(root) == 1
    assert _vals(PB.read_current(spark, root, "a")) == [1, 2]
    assert _vals(PB.read_current(spark, root, "b")) == [10]
    PB.publish_version(root, 2, {"a": _mk(spark, [3]), "b": _mk(spark, [30])})
    assert _vals(PB.read_current(spark, root, "a")) == [3]
    assert _vals(PB.read_current(spark, root, "b")) == [30]
    _assert_nothing_left_over(root)


def test_crash_after_commit_before_gc(spark, tmp_path, monkeypatch):
    """A vacuum whose commit landed but whose GC never ran: readers see
    the vacuumed store, the old versions are plain garbage, and the
    next GC collects them without touching any live version."""
    root = str(tmp_path / "root")
    PB.publish_version(root, 1, {"a": _mk(spark, [1, 2, 3]), "b": _mk(spark, [10])})
    PB.publish_version(root, 2, {"a": _mk(spark, [1, 2, 3, 4])})

    def crash(r, retain=2):
        raise Crash()

    monkeypatch.setattr(PB, "gc_versions", crash)
    with pytest.raises(Crash):
        DD.vacuum_parquet_store(spark, root, {"a": ("x",)}, _mk(spark, [2]))
    monkeypatch.undo()
    assert PB.current_version(root) == 3
    assert _vals(PB.read_current(spark, root, "a")) == [1, 3, 4]
    assert _vals(PB.read_current(spark, root, "b")) == [10]
    assert PB.versions(root, "a") == [1, 2, 3]
    audit = PB.gc_versions(root)
    # b's only version is live, so GC keeps it outside the window
    assert audit["removed"] == [("a", 1)]
    assert _vals(PB.read_current(spark, root, "b")) == [10]
    _assert_nothing_left_over(root)


def test_stale_uncommitted_version_is_never_exposed(spark, tmp_path):
    """An earlier crash left v2 of both stores uncommitted.  The next
    publish rewrites only store a: a must hold exactly the new rows
    (nothing appended to the leftover), and b must stay at v1 rather
    than pick up its leftover v2 when the pointer reaches 2."""
    root = str(tmp_path / "root")
    PB.publish_version(root, 1, {"a": _mk(spark, [1]), "b": _mk(spark, [10])})
    PB.write_store_version(_mk(spark, [2]), root, "a", 2)
    PB.write_store_version(_mk(spark, [20]), root, "b", 2)
    PB.publish_version(root, 2, {"a": _mk(spark, [3])})
    assert _vals(PB.read_current(spark, root, "a")) == [3]
    assert _vals(PB.read_current(spark, root, "b")) == [10]
    assert PB.versions(root, "b") == [1]
    _assert_nothing_left_over(root)


def test_known_schema_read_runs_no_job(spark, tmp_path):
    """Reading a just-committed store with the schema it was written
    with launches no Spark job; without it, schema inference does."""
    root = str(tmp_path / "root")
    df = _mk(spark, [1, 2])
    PB.publish_version(root, 1, {"a": df})
    sc = spark.sparkContext

    def jobs_of(group, read):
        sc.setJobGroup(group, group)
        try:
            read()
        finally:
            sc.setJobGroup("", "")
        return sc.statusTracker().getJobIdsForGroup(group)

    assert jobs_of("known-schema", lambda: PB.read_current(spark, root, "a", df.schema)) == []
    assert jobs_of("inferred-schema", lambda: PB.read_current(spark, root, "a")) != []
    assert _vals(PB.read_current(spark, root, "a", df.schema)) == [1, 2]
