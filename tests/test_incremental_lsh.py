"""Incremental MinHash-LSH maintenance (q227): the merge-equals-recompute
proof (VERDICT r7 #6 — the q203/q209 "incremental == full" discipline
applied to the q26/q71 LSH pipeline).

Three invariants:

* merged (carried ∪ fresh) pair set == full recompute over the whole
  corpus, value-for-value;
* the same through a PERSISTED parquet store roundtrip — base signatures
  and carried pairs written, read back, and merged with a freshly-banded
  batch (the shape a daily refresh actually runs);
* the component closure over merged pairs == closure over full pairs
  (dedup decisions, not just candidate pairs, are refresh-stable).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatamining_graduate_spark.operators import dedup as DD
from bigdatamining_graduate_spark.operators.zset import pair_apply

from .conftest import SF_SMOKE

THRESH = 0.5


def _docs(spark):
    from bigdatamining_graduate_spark.sources.catalog import load_table

    return load_table(spark, SF_SMOKE, "documents")


def _pairs_key(df):
    """Sorted (doc_a, doc_b, sig_match) tuples — provenance-blind."""
    rows = df.select("doc_a", "doc_b", "sig_match").collect()
    return sorted((r.doc_a, r.doc_b, round(r.sig_match, 9)) for r in rows)


def test_merged_equals_full_recompute(spark):
    docs = _docs(spark)
    merged = DD.incremental_lsh_pairs(docs, THRESH)
    full = DD.lsh_candidate_pairs(DD.minhash_signatures(docs), THRESH)
    assert _pairs_key(merged) == _pairs_key(full)
    # and the split is a real partition: both provenances non-empty at
    # this fixture, no pair carries both tags
    by_src = dict(
        merged.groupBy("src").count().rdd.map(tuple).collect()
    )
    assert set(by_src) == {"carried", "fresh"}
    assert merged.groupBy("doc_a", "doc_b").count().filter(
        F.col("count") > 1
    ).count() == 0


def test_store_roundtrip_equals_full(spark, tmp_path):
    """The persisted-store path: base signatures + carried pairs written
    to parquet (the 'previous run'), read back, merged with a
    freshly-banded batch — byte-equal to the full recompute."""
    docs = _docs(spark)
    base_docs = docs.filter(~DD._incr_delta_flag())
    sig_store = str(tmp_path / "sig_store")
    pair_store = str(tmp_path / "pair_store")
    base_sig = DD.minhash_signatures(base_docs)
    base_sig.write.mode("overwrite").parquet(sig_store)
    DD.lsh_candidate_pairs(base_sig, THRESH).select(
        "doc_a", "doc_b"
    ).write.mode("overwrite").parquet(pair_store)

    merged = DD._lsh_refresh(
        spark.read.parquet(sig_store),
        spark.read.parquet(pair_store),
        docs.filter(DD._incr_delta_flag()),
        THRESH,
    )
    full = DD.lsh_candidate_pairs(DD.minhash_signatures(docs), THRESH)
    assert _pairs_key(merged) == _pairs_key(full)


def test_components_merged_equals_full(spark):
    """Transitive closure (the actual dedup decision) is refresh-stable:
    components from merged pairs == components from a full recompute."""
    docs = _docs(spark)
    merged = DD.incremental_lsh_pairs(docs, THRESH)
    full = DD.lsh_candidate_pairs(DD.minhash_signatures(docs), THRESH)

    def comp_key(pairs):
        rows = DD.neardup_components(docs, pairs).collect()
        return sorted((r.doc_id, r.component, r.csize) for r in rows)

    assert comp_key(merged) == comp_key(full)


def test_delete_aware_store_roundtrip(spark, tmp_path):
    """q229's persisted-store path: the previous labeling AND the pair
    store written to parquet, read back, advanced through the deletion
    slice — equal to a full CC recompute over the remaining corpus.
    Also pins that the bounded path touches real work at this fixture
    (affected components exist and deleted docs sit inside >1-size
    clusters)."""
    docs = _docs(spark)
    pairs = DD.lsh_candidate_pairs(
        DD.minhash_signatures(docs), THRESH
    ).select("doc_a", "doc_b")
    prev = DD.neardup_components(docs, pairs)
    assert (
        prev.filter(DD._incr_deleted_flag()).filter("csize > 1").count()
        > 0
    ), "deletion slice misses every cluster — the bounded path is idle"
    lbl_store = str(tmp_path / "labels")
    pair_store = str(tmp_path / "pairs")
    prev.select("doc_id", "component").write.mode("overwrite").parquet(
        lbl_store
    )
    pairs.write.mode("overwrite").parquet(pair_store)

    deleted = DD._incr_deleted_flag()
    inc = DD.components_apply(
        spark.read.parquet(lbl_store),
        spark.read.parquet(pair_store),
        gone=deleted,
    ).filter(~deleted)
    remaining = docs.filter(~DD._incr_deleted_flag())
    full_pairs = DD.lsh_candidate_pairs(
        DD.minhash_signatures(remaining), THRESH
    )
    full = DD.neardup_components(remaining, full_pairs)

    def key(df):
        return sorted(
            (r.doc_id, r.component, r.csize) for r in df.collect()
        )

    assert key(inc) == key(full)


def test_delete_aware_bridge_split(spark):
    """The semantics insert-only maintenance cannot express: deleting a
    BRIDGE doc splits its component.  Crafted store: A—B—C (B bridges),
    D—E untouched, F singleton; delete B.  The bounded recompute must
    split {A,B,C} into {A} and {C}, keep {D,E} verbatim, and never
    touch F."""
    from pyspark.sql import functions as F

    prev = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)],
        "doc_id: long, component: long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a: long, doc_b: long"
    )
    gone = F.col("doc_id") == 2
    out = DD.components_apply(prev, pairs, gone=gone).filter(~gone)
    got = sorted((r.doc_id, r.component, r.csize) for r in out.collect())
    assert got == [
        (1, 1, 1),  # split off
        (3, 3, 1),  # split off, relabeled to its own min id
        (4, 4, 2),  # untouched component, label verbatim
        (5, 4, 2),
        (6, 6, 1),  # singleton untouched
    ]


def test_upsert_aware_store_roundtrip(spark, tmp_path):
    """q231's persisted-store path: the t0 pair store written to
    parquet, read back, advanced through the content-change slice —
    equal to a full LSH recompute over the t1 corpus.  Also pins that
    the revision is REAL work: at least one changed doc's pair set
    differs between t0 and t1 (otherwise the stale-drop/re-band path
    would be vacuous)."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    t0_pairs = DD.lsh_candidate_pairs(
        DD.minhash_signatures(docs), THRESH
    ).select("doc_a", "doc_b")
    store = str(tmp_path / "t0_pairs")
    t0_pairs.write.mode("overwrite").parquet(store)

    sig1, revised = DD._revised_sig(DD.minhash_signatures(docs), docs)
    inc = pair_apply(
        sig1,
        spark.read.parquet(store),
        DD._incr_updated_flag,
        revised,
        DD._lsh_keys,
        DD._sig_match(THRESH),
        fresh="refreshed",
    )
    t1 = docs.withColumn(
        "text",
        F.when(
            DD._incr_updated_flag(),
            F.concat(F.col("text"), F.lit(DD.INCR_UPD_SUFFIX)),
        ).otherwise(F.col("text")),
    )
    full = DD.lsh_candidate_pairs(DD.minhash_signatures(t1), THRESH)
    assert _pairs_key(inc) == _pairs_key(full)

    # the revision is REAL re-signing work: changed docs' signatures
    # genuinely differ between snapshots (the pair SET may legitimately
    # be stable — a one-sided suffix drops an exact-dup pair's
    # sig_match from 1.0 to ~0.81, still above the 0.5 threshold — but
    # the sig_match VALUES and the signatures must move)
    def sigs(src_docs):
        return {
            r["doc_id"]: tuple(r[f"mh{i}"] for i in range(DD.MINHASH_K))
            for r in DD.minhash_signatures(
                src_docs.filter(DD._incr_updated_flag())
            ).collect()
        }

    s0, s1 = sigs(docs), sigs(t1)
    moved = [d for d in s0 if s0[d] != s1[d]]
    assert moved, (
        "content revision changed no changed-doc signature — the "
        "upsert path is vacuous at this fixture"
    )


def test_upsert_components_split_and_merge(spark):
    """The general maintenance case BOTH simpler shapes miss: one
    changed doc simultaneously SPLITS its old component and MERGES into
    another.  Crafted t0: {1,2,3} chained via bridge 2, {4,5}, {6};
    doc 2's content changes — its stale edges (1,2),(2,3) drop and a
    fresh edge (2,4) appears.  Expected t1: {1}, {3}, {2,4,5}, {6}."""
    from pyspark.sql import functions as F

    prev = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)],
        "doc_id: long, component: long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a: long, doc_b: long"
    )
    fresh = spark.createDataFrame([(2, 4)], "doc_a: long, doc_b: long")
    out = DD.components_apply(
        prev, pairs, gone=F.col("doc_id") == 2, fresh=fresh
    )
    got = sorted((r.doc_id, r.component, r.csize) for r in out.collect())
    assert got == [
        (1, 1, 1),  # split off the old bridge component
        (2, 2, 3),  # the changed doc, merged into {4,5}
        (3, 3, 1),  # split off, relabeled
        (4, 2, 3),
        (5, 2, 3),
        (6, 6, 1),  # untouched singleton
    ]


def test_upsert_components_store_roundtrip(spark, tmp_path):
    """q232's persisted-store path: t0 labels + t0 pairs from parquet,
    advanced through the content-change slice — equal to a full CC
    recompute over the t1 pair graph."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    pairs = DD.lsh_candidate_pairs(
        DD.minhash_signatures(docs), THRESH
    ).select("doc_a", "doc_b")
    prev = DD.neardup_components(docs, pairs).select("doc_id", "component")
    lbl_store = str(tmp_path / "labels")
    pair_store = str(tmp_path / "pairs")
    prev.write.mode("overwrite").parquet(lbl_store)
    pairs.write.mode("overwrite").parquet(pair_store)

    sig1, revised = DD._revised_sig(DD.minhash_signatures(docs), docs)
    fresh = pair_apply(
        sig1, None, None, revised, DD._lsh_keys, DD._sig_match(THRESH)
    ).select("doc_a", "doc_b")
    inc = DD.components_apply(
        spark.read.parquet(lbl_store),
        spark.read.parquet(pair_store),
        gone=DD._incr_updated_flag(),
        fresh=fresh,
    )
    t1 = docs.withColumn(
        "text",
        F.when(
            DD._incr_updated_flag(),
            F.concat(F.col("text"), F.lit(DD.INCR_UPD_SUFFIX)),
        ).otherwise(F.col("text")),
    )
    full = DD.neardup_components(
        t1, DD.lsh_candidate_pairs(DD.minhash_signatures(t1), THRESH)
    )

    def key(df):
        return sorted(
            (r.doc_id, r.component, r.csize) for r in df.collect()
        )

    assert key(inc) == key(full)


def test_incremental_components_label_store_roundtrip(spark, tmp_path):
    """q228's persisted-store path: the base labeling written to
    parquet (the 'previous run'), read back, and advanced with the
    batch's fresh pairs via the contraction graph — equal to a full CC
    recompute over all pairs.  (The in-plan path is driver-checked by
    q228's full-closure oracle; this pins the read-back path.)"""
    docs = _docs(spark)
    base_docs = docs.filter(~DD._incr_delta_flag())
    base_pairs = DD.lsh_candidate_pairs(
        DD.minhash_signatures(base_docs), THRESH
    )
    store = str(tmp_path / "label_store")
    DD.neardup_components(base_docs, base_pairs).select(
        "doc_id", "component"
    ).write.mode("overwrite").parquet(store)

    sig, _base_sig, batch_sig = DD._signed_slices(docs)
    fresh = pair_apply(
        sig, None, None, batch_sig, DD._lsh_keys, DD._sig_match(THRESH)
    ).select("doc_a", "doc_b")
    inc = DD.components_apply(
        spark.read.parquet(store),
        added=docs.filter(DD._incr_delta_flag()).select("doc_id"),
        fresh=fresh,
    )
    full_pairs = DD.lsh_candidate_pairs(DD.minhash_signatures(docs), THRESH)
    full = DD.neardup_components(docs, full_pairs)

    def key(df):
        return sorted(
            (r.doc_id, r.component, r.csize) for r in df.collect()
        )

    assert key(inc) == key(full)


def test_stream_store_replay_idempotent(spark, tmp_path):
    """The q230 sink contract (ADVICE r8): every micro-batch lands in its
    own committed store version, so a REPLAYED batch (Spark may retry a
    foreachBatch micro-batch after failure) is skipped instead of
    double-appending.  This pins the staged-stream harness that q230
    publishes through — publish the same batch id twice, read the sink
    back, exactly one copy — and that the drained stream's emission is
    deterministic across full re-runs."""
    from bigdatamining_graduate_spark.streaming.jobs import (
        StagedStream,
        stream_incremental_lsh_pairs,
    )

    stream = StagedStream(spark, str(tmp_path))
    batch = spark.range(100).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )

    def handle(t):
        return {"pairs_out": t.batch}

    stream.run_trigger(handle, batch, 0)
    # the retry: same batch id, same payload — must replace, not add
    stream.run_trigger(handle, batch, 0)
    assert stream.read("pairs_out").count() == 100
    # a second batch lands beside it, both visible to the reader
    stream.run_trigger(handle, batch, 1)
    assert stream.read("pairs_out").count() == 200


    r1 = stream_incremental_lsh_pairs(spark, SF_SMOKE, THRESH)
    r2 = stream_incremental_lsh_pairs(spark, SF_SMOKE, THRESH)
    assert _pairs_key(r1) == _pairs_key(r2)


# -- phash near-dup store: the q227 insert shape on q143 (q252) ----------------


def test_incremental_phash_equals_full_and_store_roundtrip(spark, tmp_path):
    """q252 ON NON-EMPTY DATA (the shipped corpus has no byte-positional
    near-dups — q143's fixture-scale result is legitimately empty, per
    test_payload_phash_finds_planted_near_dups): stage the fixture with
    PLANTED same-length variants, then assert (a) carried ∪ fresh ==
    the full q143 recompute with batch-touching provenance, (b) both
    provenance classes fire, (c) byte-equal through a PERSISTED
    signature + pair store roundtrip (only the batch is re-fingerprinted
    on that path), and (d) the staged run cross-checks against the
    DuckDB oracle."""
    import os

    from bigdatamining_graduate_spark.operators import multimodal as MM
    from bigdatamining_graduate_spark.plans.queries import ORACLE, QUERIES
    from bigdatamining_graduate_spark.sources.catalog import TABLES, table_path

    from .oracle import assert_matches

    for t in TABLES:
        if t != "documents":
            os.symlink(table_path(SF_SMOKE, t), str(tmp_path / f"{t}.parquet"))
    docs0 = spark.read.parquet(table_path(SF_SMOKE, "documents"))
    planted = docs0.limit(20).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.lit("Q"), F.substring("text", 2, 100), F.lit("Z"),
            F.expr("substring(text, 103)"),
        ).alias("text"),
        "lang", "source", "n_chars",
    ).filter(F.length("text") > 120)
    docs0.select("doc_id", "text", "lang", "source", "n_chars").unionByName(
        planted
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    out = QUERIES["q252_incremental_phash_pairs"](spark, sf)
    got = sorted((r.doc_a, r.doc_b, r.hamming, r.src) for r in out.collect())
    assert_matches(out, ORACLE["q252_incremental_phash_pairs"], sf)

    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    wp = MM.with_binary_payload(docs)
    delta = DD._incr_delta_flag()
    batch_ids = {r.doc_id for r in docs.filter(delta).select("doc_id").collect()}
    exp = sorted(
        (
            r.doc_a,
            r.doc_b,
            r.hamming,
            "fresh" if (r.doc_a in batch_ids or r.doc_b in batch_ids) else "carried",
        )
        for r in MM.phash_pairs(wp).collect()
    )
    assert got == exp and got
    assert {g[3] for g in got} == {"carried", "fresh"}

    # store roundtrip: signatures + t0 pairs persisted, read back, merged
    base = wp.filter(~delta)
    MM.payload_phash(base).write.parquet(str(tmp_path / "ph"))
    MM.phash_pairs(base).write.parquet(str(tmp_path / "pairs"))
    roundtrip = MM._phash_refresh(
        spark.read.parquet(str(tmp_path / "ph")),
        spark.read.parquet(str(tmp_path / "pairs")),
        wp.filter(delta),
    )
    assert sorted(
        (r.doc_a, r.doc_b, r.hamming, r.src) for r in roundtrip.collect()
    ) == got


# -- phash maintenance matrix completion: delete/upsert/stream/vacuum ---------
# (q253/q254/q255/q256 — round 10; q252 above is the insert cell)


def _stage_phash_fixture(spark, tmp_path, extra_plants=None):
    """Stage the fixture with PLANTED same-length byte variants (the
    shipped corpus has no byte-positional near-dups — q143's
    fixture-scale result is legitimately empty), plus optional extra
    planted rows for the cell under test.  Returns the staged sf dir."""
    import os

    from bigdatamining_graduate_spark.sources.catalog import TABLES, table_path

    for t in TABLES:
        if t != "documents":
            os.symlink(table_path(SF_SMOKE, t), str(tmp_path / f"{t}.parquet"))
    docs0 = spark.read.parquet(table_path(SF_SMOKE, "documents"))
    planted = docs0.limit(20).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.lit("Q"), F.substring("text", 2, 100), F.lit("Z"),
            F.expr("substring(text, 103)"),
        ).alias("text"),
        "lang", "source", "n_chars",
    ).filter(F.length("text") > 120)
    staged = docs0.select("doc_id", "text", "lang", "source", "n_chars").unionByName(
        planted
    )
    if extra_plants is not None:
        staged = staged.unionByName(extra_plants)
    staged.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_delete_aware_phash_filter_equals_recompute(spark, tmp_path):
    """q253: the two anti-filters on the persisted pair store equal the
    full recompute over the remaining corpus (chunk collisions and
    hamming are pairwise — deletions never add or rescore pairs), the
    deletion genuinely drops pairs, and the step (``pair_apply``) over a
    crafted tombstone set kills exactly the pairs touching that doc."""
    from bigdatamining_graduate_spark.operators import multimodal as MM
    from bigdatamining_graduate_spark.plans.queries import ORACLE, QUERIES

    from .oracle import assert_matches

    sf = _stage_phash_fixture(spark, tmp_path)
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    wp = MM.with_binary_payload(docs)
    t0 = sorted(
        (r.doc_a, r.doc_b, r.hamming) for r in MM.phash_pairs(wp).collect()
    )
    assert t0, "fixture must plant near-dup pairs"

    out = QUERIES["q253_delete_aware_phash_pairs"](spark, sf)
    got = sorted((r.doc_a, r.doc_b, r.hamming) for r in out.collect())
    assert_matches(out, ORACLE["q253_delete_aware_phash_pairs"], sf)

    deleted = {
        r.doc_id
        for r in docs.filter(DD._incr_deleted_flag()).select("doc_id").collect()
    }
    exp = [p for p in t0 if p[0] not in deleted and p[1] not in deleted]
    assert got == exp

    # crafted tombstone: kill one known pair's endpoint, others intact
    victim = t0[0][0]
    store = MM.phash_pairs(wp)
    pruned = pair_apply(
        None,
        store,
        spark.createDataFrame([(victim,)], ["doc_id"]),
        None,
        MM._phash_keys,
        MM._hamming,
    )
    got2 = sorted((r.doc_a, r.doc_b, r.hamming) for r in pruned.collect())
    assert got2 == [p for p in t0 if victim not in (p[0], p[1])]
    assert len(got2) < len(t0)


def test_upsert_aware_phash_equals_full_and_store_roundtrip(spark, tmp_path):
    """q254: carried ∪ fresh == the full recompute over the t1 corpus
    (revised payloads re-fingerprinted end to end), BOTH provenance
    classes fire (twins planted for revised docs so a refreshed pair
    provably exists), and the persisted-store roundtrip — only changed
    payloads re-run the kernel — is byte-equal."""
    from bigdatamining_graduate_spark.operators import multimodal as MM
    from bigdatamining_graduate_spark.operators.dedup import (
        INCR_UPD_SUFFIX,
        _incr_updated_flag,
    )
    from bigdatamining_graduate_spark.plans.queries import ORACLE, QUERIES
    from bigdatamining_graduate_spark.sources.catalog import table_path

    from .oracle import assert_matches

    # twins of REVISED texts: for changed docs, plant (orig + suffix)
    # perturbed at byte 0 under an id OUTSIDE the iupd slice, so at t1
    # the revised doc and its twin differ by one byte -> a refreshed pair
    docs0 = spark.read.parquet(table_path(SF_SMOKE, "documents"))
    rev_twins = (
        docs0.filter(_incr_updated_flag())
        .filter(F.length("text") > 120)
        .limit(10)
        .select(
            (F.col("doc_id") + 20_000_000).alias("doc_id"),
            F.concat(
                F.lit("Q"),
                F.expr(f"substring(text || '{INCR_UPD_SUFFIX}', 2)"),
            ).alias("text"),
            "lang", "source", "n_chars",
        )
        .filter(~_incr_updated_flag())  # twin id must stay unchanged at t1
    )
    sf = _stage_phash_fixture(spark, tmp_path, extra_plants=rev_twins)

    out = QUERIES["q254_upsert_aware_phash_pairs"](spark, sf)
    got = sorted((r.doc_a, r.doc_b, r.hamming, r.src) for r in out.collect())
    assert_matches(out, ORACLE["q254_upsert_aware_phash_pairs"], sf)
    assert {g[3] for g in got} == {"carried", "refreshed"}

    # full t1 recompute with provenance == the maintained union
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    changed = {
        r.doc_id
        for r in docs.filter(_incr_updated_flag()).select("doc_id").collect()
    }
    t1 = docs.withColumn(
        "text",
        F.when(
            _incr_updated_flag(), F.concat(F.col("text"), F.lit(INCR_UPD_SUFFIX))
        ).otherwise(F.col("text")),
    )
    exp = sorted(
        (
            r.doc_a,
            r.doc_b,
            r.hamming,
            "refreshed" if (r.doc_a in changed or r.doc_b in changed) else "carried",
        )
        for r in MM.phash_pairs(MM.with_binary_payload(t1)).collect()
    )
    assert got == exp

    # store roundtrip: t0 signatures + pairs persisted and read back
    wp0 = MM.with_binary_payload(docs)
    MM.payload_phash(wp0).write.parquet(str(tmp_path / "ph"))
    MM.phash_pairs(wp0).write.parquet(str(tmp_path / "pairs"))
    roundtrip = MM._phash_revise(
        spark.read.parquet(str(tmp_path / "ph")),
        spark.read.parquet(str(tmp_path / "pairs")),
        docs,
    )
    assert sorted(
        (r.doc_a, r.doc_b, r.hamming, r.src) for r in roundtrip.collect()
    ) == got


def test_stream_phash_equals_batch(spark, tmp_path):
    """q255: the drained stream-maintained pair store equals the full
    batch recompute with first_seen provenance (stream == batch), on a
    staged corpus with planted near-dups so the identity is non-vacuous."""
    from bigdatamining_graduate_spark.plans.queries import ORACLE, QUERIES

    from .oracle import assert_matches

    sf = _stage_phash_fixture(spark, tmp_path)
    out = QUERIES["q255_stream_incremental_phash"](spark, sf)
    rows = sorted(
        (r.doc_a, r.doc_b, r.hamming, r.first_seen) for r in out.collect()
    )
    assert rows, "planted near-dups must surface through the stream"
    assert_matches(out, ORACLE["q255_stream_incremental_phash"], sf)


def test_vacuumed_phash_refresh_and_shrinkage(spark, tmp_path):
    """q256: the post-vacuum q252 refresh off the compacted stores
    equals the incremental recompute over the remaining corpus (the
    DuckDB oracle), the vacuum physically compacts 8 files -> 1 per
    store, and no tombstoned doc survives in either store."""
    import glob
    import os

    from bigdatamining_graduate_spark.operators import multimodal as MM
    from bigdatamining_graduate_spark.plans.queries import ORACLE
    from bigdatamining_graduate_spark.sources.catalog import load_table
    from bigdatamining_graduate_spark.sources.publish import live_dir

    from .oracle import assert_matches

    sf = _stage_phash_fixture(spark, tmp_path)
    docs = load_table(spark, sf, "documents")
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    out = MM.vacuumed_phash_refresh(spark, docs, stage_dir=stage)
    assert_matches(out, ORACLE["q256_phash_store_vacuum"], sf)

    for store, keys in (("phash_store", ("doc_id",)), ("pair_store", ("doc_a", "doc_b"))):
        files = glob.glob(os.path.join(live_dir(stage, store), "*.parquet"))
        assert len(files) == 1, f"{store} not compacted: {len(files)} files"
        kept = spark.read.parquet(live_dir(stage, store))
        for k in keys:
            n_dead = kept.filter(DD._incr_deleted_flag(k)).count()
            assert n_dead == 0, f"{store}.{k} kept {n_dead} tombstoned rows"
