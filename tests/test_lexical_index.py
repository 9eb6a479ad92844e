"""Incrementally maintained inverted index (q242/q243) — the q227
maintenance discipline on the LEXICAL index.

Four invariants:

* maintained search (merged persisted stores + freshly-indexed batch)
  == full-rebuild search, value-for-value;
* the same through a PERSISTED parquet store roundtrip (dl + postings
  written, read back, merged — the shape a daily refresh runs);
* deletion TOMBSTONES postings but must RESCORE survivors: the
  surviving docs' BM25 values change when the corpus shrinks (N,
  avgdl, df all move), so a carry-the-scores design is provably wrong
  — the test that pins why the stores hold postings, not scores;
* store vacuum (the q235 mechanism on dl/tf stores) preserves the
  delete-aware result exactly while compacting files.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import bigdatamining_graduate_spark.operators.lexical as LX
from bigdatamining_graduate_spark.operators.dedup import (
    _incr_deleted_flag,
    _incr_delta_flag,
    vacuum_parquet_store,
)
from bigdatamining_graduate_spark.sources.publish import live_dir, publish_version

from .conftest import SF_SMOKE


def _docs(spark):
    from bigdatamining_graduate_spark.sources.catalog import load_table

    return load_table(spark, SF_SMOKE, "documents")


def _key(df):
    return sorted((r.doc_id, r.bm25) for r in df.collect())


def test_incremental_equals_full_rebuild(spark):
    docs = _docs(spark)
    maintained = LX.incremental_bm25(docs)
    full = LX._bm25_from_stores(
        LX.doc_lengths(docs), LX.term_postings(docs)
    )
    assert _key(maintained) == _key(full)
    assert maintained.count() > 0


def test_index_store_roundtrip(spark, tmp_path):
    docs = _docs(spark)
    base = docs.filter(~_incr_delta_flag())
    LX.doc_lengths(base).write.parquet(str(tmp_path / "dl"))
    LX.term_postings(base).write.parquet(str(tmp_path / "tf"))
    roundtrip = LX._bm25_from_stores(
        *LX.postings_apply(
            spark.read.parquet(str(tmp_path / "dl")),
            spark.read.parquet(str(tmp_path / "tf")),
            None,
            docs.filter(_incr_delta_flag()),
        )
    )
    assert _key(roundtrip) == _key(LX.incremental_bm25(docs))


def test_delete_store_roundtrip(spark, tmp_path):
    """q243 through a PERSISTED t0 index: the dl/tf stores of the whole
    corpus written, read back and tombstoned give the in-plan
    delete-aware result."""
    docs = _docs(spark)
    LX.doc_lengths(docs).write.parquet(str(tmp_path / "dl"))
    LX.term_postings(docs).write.parquet(str(tmp_path / "tf"))
    roundtrip = LX._bm25_from_stores(
        *LX.postings_apply(
            spark.read.parquet(str(tmp_path / "dl")),
            spark.read.parquet(str(tmp_path / "tf")),
            _incr_deleted_flag(),
            None,
        )
    )
    assert _key(roundtrip) == _key(LX.delete_aware_bm25(docs))


def test_delete_rescores_survivors(spark):
    """The design-pinning test: after deletion the top-20 must equal
    the full rebuild over the remaining corpus — and at least one
    SURVIVING doc's score must differ from its pre-delete value
    (idf/avgdl moved), so carrying scores across a delete would be
    wrong, not merely stale."""
    docs = _docs(spark)
    after = LX.delete_aware_bm25(docs)
    full_remaining = LX._bm25_from_stores(
        LX.doc_lengths(docs.filter(~_incr_deleted_flag())),
        LX.term_postings(docs.filter(~_incr_deleted_flag())),
    )
    assert _key(after) == _key(full_remaining)
    # no tombstoned doc in the result
    assert after.filter(_incr_deleted_flag()).count() == 0
    before = {r.doc_id: r.bm25 for r in LX._bm25_from_stores(
        LX.doc_lengths(docs), LX.term_postings(docs)
    ).collect()}
    moved = [
        r for r in after.collect()
        if r.doc_id in before and r.bm25 != before[r.doc_id]
    ]
    assert moved, "deletion moved no survivor's score — fixture degenerate"


def test_store_vacuum_preserves_search(spark, tmp_path):
    """q243 through the PHYSICAL store lifecycle: dl/tf stores written
    as 4 small files each, tombstoned via the q235 vacuum (rows
    dropped, files compacted to 1), then searched — identical to the
    in-plan delete-aware result."""
    docs = _docs(spark)
    root = str(tmp_path / "root")
    publish_version(
        root,
        1,
        {
            "dl": LX.doc_lengths(docs).repartition(4),
            "tf": LX.term_postings(docs).repartition(4),
        },
    )
    tomb = docs.filter(_incr_deleted_flag()).select("doc_id")
    audits = vacuum_parquet_store(spark, root, {"dl": ("doc_id",), "tf": ("doc_id",)}, tomb)
    a1, a2 = audits["dl"], audits["tf"]
    dl_dir, tf_dir = live_dir(root, "dl"), live_dir(root, "tf")
    assert a1["files_before"] == 4 and a1["files_after"] == 1
    assert a2["rows_after"] <= a2["rows_before"]
    vacuumed = LX._bm25_from_stores(
        spark.read.parquet(dl_dir), spark.read.parquet(tf_dir)
    )
    assert _key(vacuumed) == _key(LX.delete_aware_bm25(docs))


def test_upsert_rescores_and_tf_identical_but_dl_moves(spark, tmp_path):
    """q244's sharp edge: the revision suffix contains no query term,
    so the changed docs' tf postings are VALUE-IDENTICAL across
    snapshots — yet scores must still move because dl grew.  Pins (a)
    maintained == full t1 rebuild, (b) the tf-identity, (c) the store
    roundtrip, (d) at least one score moved vs t0."""
    from bigdatamining_graduate_spark.operators.dedup import (
        INCR_UPD_SUFFIX,
        _incr_updated_flag,
    )

    docs = _docs(spark)
    out = LX.upsert_aware_bm25(docs)
    t1 = docs.withColumn(
        "text",
        F.when(
            _incr_updated_flag(), F.concat(F.col("text"), F.lit(INCR_UPD_SUFFIX))
        ).otherwise(F.col("text")),
    )
    full_t1 = LX._bm25_from_stores(LX.doc_lengths(t1), LX.term_postings(t1))
    assert _key(out) == _key(full_t1)
    # (b) tf postings of changed docs identical t0 vs t1
    tf0 = {(r.doc_id, r.token): r.tf for r in LX.term_postings(
        docs.filter(_incr_updated_flag())
    ).collect()}
    tf1 = {(r.doc_id, r.token): r.tf for r in LX.term_postings(
        t1.filter(_incr_updated_flag())
    ).collect()}
    assert tf0 == tf1, "suffix leaked a query term — fixture invalid"
    # (c) persisted-store roundtrip
    LX.doc_lengths(docs).write.parquet(str(tmp_path / "dl"))
    LX.term_postings(docs).write.parquet(str(tmp_path / "tf"))
    roundtrip = LX._bm25_from_stores(
        *LX.postings_apply(
            spark.read.parquet(str(tmp_path / "dl")),
            spark.read.parquet(str(tmp_path / "tf")),
            _incr_updated_flag(),
            t1.filter(_incr_updated_flag()),
        )
    )
    assert _key(roundtrip) == _key(out)
    # (d) the dl-only change moved at least one score
    before = {r.doc_id: r.bm25 for r in LX._bm25_from_stores(
        LX.doc_lengths(docs), LX.term_postings(docs)
    ).collect()}
    assert any(
        r.doc_id in before and r.bm25 != before[r.doc_id]
        for r in out.collect()
    ), "upsert moved no score — fixture degenerate"


def test_stream_bm25_equals_batch(spark):
    """q245: the drained stream's accumulated stores must answer the
    fixed-term query exactly as the batch pipeline over the whole
    corpus, with arrived = the doc's micro-batch id."""
    import bigdatamining_graduate_spark.streaming.jobs as SJ

    streamed = SJ.stream_incremental_bm25(spark, SF_SMOKE)
    docs = _docs(spark)
    batch = LX._bm25_from_stores(
        LX.doc_lengths(docs), LX.term_postings(docs)
    ).select(
        "doc_id", "bm25", SJ._stream_lsh_batch_flag().cast("bigint").alias("arrived")
    )
    got = sorted((r.doc_id, r.bm25, r.arrived) for r in streamed.collect())
    exp = sorted((r.doc_id, r.bm25, r.arrived) for r in batch.collect())
    assert got == exp
    assert {r[2] for r in got} <= {0, 1, 2} and len({r[2] for r in got}) > 1


# -- production index shape: full vocabulary + pruned read (q251) --------------


def test_full_vocab_search_equals_three_term_build(spark, tmp_path):
    """q251: a full-vocabulary postings store must answer the fixed
    query with EXACTLY the scores of the 3-term fixture build (the
    pruned read selects the same posting lists) — and the store really
    is full-vocab (vocab_size far exceeds the 3 fixture terms, and
    equals the corpus-wide distinct-token count)."""
    docs = _docs(spark)
    out = LX.full_vocab_bm25(spark, docs, stage_dir=str(tmp_path))
    three = LX.incremental_bm25(docs)
    got = sorted((r.doc_id, r.bm25, r.src) for r in out.collect())
    exp = sorted((r.doc_id, r.bm25, r.src) for r in three.collect())
    assert got == exp
    vocab = out.select("vocab_size").first()[0]
    true_vocab = (
        LX._doc_tokens(docs)
        .select(F.explode("tokens").alias("token"))
        .agg(F.countDistinct("token"))
        .first()[0]
    )
    assert vocab == true_vocab
    # a real vocabulary, strictly larger than the 3 fixture terms
    # (the synthetic sf0.001 corpus has ~31 distinct tokens)
    assert vocab > len(LX.BM25_TERMS) * 3


def test_full_vocab_query_read_is_posting_list_pruned(spark, tmp_path):
    """The serving plan must push the term predicate INTO the parquet
    scan of the persisted postings store (PushedFilters carries the
    In(token, ...) filter over the term-range-clustered files) — query
    cost is the query terms' posting lists, not a full-store scan."""
    docs = _docs(spark)
    LX.full_vocab_bm25(spark, docs, stage_dir=str(tmp_path))  # builds stores
    import os

    tf = spark.read.parquet(os.path.join(str(tmp_path), "tf_store")).filter(
        F.col("token").isin(*LX.BM25_TERMS)
    )
    plan = tf._jdf.queryExecution().executedPlan().toString()
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "In(token" in pushed, pushed
    # and the range-clustered layout makes the skip real: every file
    # holds a contiguous token range (row-group stats discriminate)
    files = spark.read.parquet(
        os.path.join(str(tmp_path), "tf_store")
    ).select(
        F.input_file_name().alias("f"), "token"
    ).groupBy("f").agg(
        F.min("token").alias("lo"), F.max("token").alias("hi")
    ).collect()
    assert len(files) > 1


def test_vacuumed_full_vocab_refresh_lifecycle(spark, tmp_path):
    """q269: the full-vocab dl/tf stores accrete small files, vacuum
    tombstones the deleted docs and compacts — PRESERVING the token
    range-clustering the pruned read depends on — and the post-vacuum
    refresh equals the delete-then-insert recompute."""
    import glob
    import os

    docs = _docs(spark)
    out = LX.vacuumed_bm25_refresh(spark, docs, stage_dir=str(tmp_path))
    rows = out.collect()  # forces the lifecycle (stores written+vacuumed)
    dl_dir = live_dir(str(tmp_path), "dl_store")
    tf_dir = live_dir(str(tmp_path), "tf_store")

    def n_files(d):
        return len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))

    # compaction targets: dl 8->1, tf 8->4 (range-clustered rewrite)
    assert n_files(dl_dir) == 1
    assert n_files(tf_dir) == 4
    # physical erasure: no deleted doc's postings survive in the bytes
    for d in (dl_dir, tf_dir):
        raw = spark.read.parquet(d)
        assert raw.filter(_incr_deleted_flag()).count() == 0
        assert raw.count() > 0
    # the vacuumed rewrite kept the pruned-read layout: the term filter
    # still reaches the parquet scan as a pushed In(), and every file
    # holds a contiguous token range
    tf = spark.read.parquet(tf_dir).filter(F.col("token").isin(*LX.BM25_TERMS))
    plan = tf._jdf.queryExecution().executedPlan().toString()
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "In(token" in pushed, pushed
    spans = sorted(
        (r.lo, r.hi)
        for r in spark.read.parquet(tf_dir)
        .select(F.input_file_name().alias("f"), "token")
        .groupBy("f")
        .agg(F.min("token").alias("lo"), F.max("token").alias("hi"))
        .collect()
    )
    assert len(spans) == 4
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next  # contiguous, non-interleaved ranges
    # refresh identity: vacuumed-store refresh == in-plan recompute over
    # the remaining corpus (the oracle identity, engine-side)
    remaining = docs.filter(~_incr_deleted_flag())
    expected = sorted(
        (r.doc_id, r.bm25, r.src)
        for r in LX.incremental_bm25(remaining).collect()
    )
    assert sorted((r.doc_id, r.bm25, r.src) for r in rows) == expected
