"""One delta rule for the self-join indexes: the near-duplicate pair
stores of ``dedup`` (MinHash-LSH bands) and ``multimodal`` (phash
chunks).

A pair store is R⋈R restricted to pairs that share a bucket key and
pass a score.  Read a change to R as a Z-set — ``gone`` rows weigh −1,
``added`` rows +1 — and the join's bilinear delta (DBSP, Budiu et al.,
VLDB 2023) splits the new pair set in two:

* carried = store pairs that touch no gone row, kept as stored;
* fresh   = added rows bucket-joined against (store − gone) ∪ added,
  canonicalized (doc_a < doc_b) and kept by the score.

A pair's keys and score are functions of its two rows alone, so
carried ∪ fresh equals a full recompute.  Insert, delete, upsert (a
revised row is both gone and added) and a stream trigger (no store) are
one :func:`pair_apply` with different arguments.
"""

from __future__ import annotations

from typing import Callable, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: rows whose pairs drop: a predicate builder over an id column name
#: (a deterministic hash slice), or a one-column DataFrame of ids
Gone = Union[Callable[[str], Column], DataFrame, None]


def drop_touching(pairs: DataFrame, gone: Gone) -> DataFrame:
    """``pairs`` without every pair that has an endpoint in ``gone``: two
    row filters for a hash slice, two anti-joins for an id set."""
    if gone is None:
        return pairs
    if callable(gone):
        return pairs.filter(~gone("doc_a") & ~gone("doc_b"))
    ids = gone.select(gone.columns[0])
    kept = pairs
    for c in ("doc_a", "doc_b"):
        kept = kept.join(ids.toDF(c), c, "left_anti")
    return kept.select(*pairs.columns)


def side(df: DataFrame, tag: str, keys: list[str]) -> DataFrame:
    """One side (``tag`` ``a`` or ``b``) of the self-join: ``doc_id``
    renamed ``doc_{tag}`` and every other column but the bucket
    ``keys`` suffixed ``_{tag}`` — one positional rename, so a wide
    signature costs one call, not one per column."""
    return df.toDF(
        *[
            c if c in keys else f"doc_{tag}" if c == "doc_id" else f"{c}_{tag}"
            for c in df.columns
        ]
    )


def pair_apply(
    sig: DataFrame | None,
    pairs: DataFrame | None,
    gone: Gone,
    added: DataFrame | None,
    keys: Callable[[DataFrame], DataFrame],
    score: Callable[[DataFrame], DataFrame],
    fresh: str = "fresh",
) -> DataFrame:
    """carried ∪ fresh (module docstring) as (doc_a, doc_b, <score>,
    src), src ``'carried'`` or ``fresh``.

    ``sig`` holds (doc_id, signature...) of (store − gone) ∪ added;
    ``added`` the arriving rows' signatures, or None (then the carried
    pairs are returned unscored).  ``pairs`` is the t0 store, or None.
    ``keys`` explodes a signature table to its bucket keys, keeping its
    columns; ``score`` adds one score column to self-joined rows (their
    signature columns suffixed ``_a``/``_b``) and keeps the pairs that
    pass.  Fresh pairs are scored in the bucket join, whose left side
    is |added|-sized — unless the store kept bare (doc_a, doc_b) ids:
    then carried ∪ fresh is scored once, by looking both endpoints up
    in ``sig``."""
    carried = None if pairs is None else drop_touching(pairs, gone)
    if added is None:
        return carried.withColumn("src", F.lit("carried"))
    bare = carried is not None and set(carried.columns) == {"doc_a", "doc_b"}
    keyed = keys(sig)
    bucket = [c for c in keyed.columns if c not in sig.columns]
    joined = (
        side(keys(added), "a", bucket)
        .join(side(keyed, "b", bucket), bucket)
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    hit = joined if bare else score(joined)
    out = (
        hit.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            *[c for c in hit.columns if c not in joined.columns],
        )
        .distinct()
        .withColumn("src", F.lit(fresh))
    )
    if carried is None:
        return out
    out = carried.withColumn("src", F.lit("carried")).unionByName(out)
    return score_pairs(out, sig, score) if bare else out


def score_pairs(pairs: DataFrame, sig: DataFrame, score) -> DataFrame:
    """(doc_a, doc_b[, extra...]) id pairs scored by looking both
    endpoints up in ``sig``, as (doc_a, doc_b, <score>, extra...)."""
    looked_up = pairs.join(side(sig, "a", []), "doc_a").join(
        side(sig, "b", []), "doc_b"
    )
    out = score(looked_up)
    return out.select(
        "doc_a",
        "doc_b",
        *[c for c in out.columns if c not in looked_up.columns],
        *[c for c in pairs.columns if c not in ("doc_a", "doc_b")],
    )
