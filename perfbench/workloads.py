"""Workload definitions and fixture paths (standard library only).

A workload is a fixed list of registered queries over the base fixture.
The benchmark's ``--seed`` sets the order of the queries in each pass.
The fixtures under ``data/`` are byte copies of the engine's test
fixtures (``sf0.01``, and the ``lineitem`` table of ``sf0.001`` for the
warm-up query); they never change, so oracle answers are cached per
fixture.
"""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))

#: the set-up warm-up: one query on the small fixture (``setup_s`` includes it)
WARMUP_DIR = os.path.join(HERE, "data", "sf0.001")
WARMUP_QUERY = "q01_pricing_summary"
#: the fixture the workloads read (60k lineitem rows, 10k events, 500 documents)
BASE_DIR = os.path.join(HERE, "data", "sf0.01")

#: workload -> its queries.  Why each was chosen is in BENCHMARK.json;
#: which layer metric should move which end-to-end metric is in README.md.
WORKLOADS: dict[str, list[str]] = {
    # hw3 and final-project mining: similarity, graph, near-duplicate and
    # lexical operators
    "mining": [
        "q29_knn_bruteforce",  # operators.similarity
        "q169_part_communities",  # operators.graph, checkpoints
        "q188_containment_pairs",  # operators.dedup
        "q242_incremental_bm25",  # operators.lexical, checkpoints
    ],
    # the maintenance path: a foreachBatch stream into a staged aggregate
    # view, incrementally maintained views and a clustered sink
    "maintain": [
        "q260_stream_agg_view",  # streaming.jobs, operators.aggview, staging, checkpoints
        "q279_incremental_join_view",  # operators.joinview
        "q281_distinct_count_view",  # operators.distinctview
        "q165_zorder_roundtrip",  # sources.sinks
    ],
}
