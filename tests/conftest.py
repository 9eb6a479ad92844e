from __future__ import annotations

import pytest

from bigdatamining_graduate_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

#: One registry sweep per test session: every query is built and executed
#: once.  The oracle-parity tests build each oracled query through
#: :func:`build_query` and mark it executed; ``test_all_queries_run``
#: executes only the queries not yet in ``SWEEP_EXECUTED``, and the
#: whole-registry plan guards read ``SWEEP_PLANS``, building only what is
#: missing (so any test file run alone still covers the full registry).
SWEEP_PLANS: dict[str, str] = {}
SWEEP_EXECUTED: set[str] = set()


def build_query(spark, name: str):
    """Build registered query ``name`` at ``SF_SMOKE`` and record its
    formatted physical plan in ``SWEEP_PLANS`` (planning before the
    action is free: the action reuses the same query execution)."""
    from bigdatamining_graduate_spark.plans.queries import QUERIES

    df = QUERIES[name](spark, SF_SMOKE)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    SWEEP_PLANS[name] = df._jdf.queryExecution().explainString(mode)
    return df


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="bdm-tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_checkpoints_after_each_test():
    """The session-scoped suite runs hundreds of queries; without this,
    localCheckpoint blocks from checkpoint-heavy operators (CC, PageRank,
    LPA, ...) would accumulate for the whole session (ADVICE r7).  A
    test's consuming actions have all finished by teardown, so the
    release is safe here — any test that needs blocks to survive across
    tests would have to pin them itself (none do)."""
    yield
    from bigdatamining_graduate_spark.checkpoints import release_checkpoints

    release_checkpoints()
