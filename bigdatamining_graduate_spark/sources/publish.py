"""The store protocol: every persisted store is written, replaced and
collected through this module, the only one that knows its on-disk
layout.

* ``root/<store>/v<N>/`` — one directory per store version, immutable
  once committed: nothing writes into a committed version again;
* ``root/CURRENT`` — a one-line pointer naming the committed version.
  A store's LIVE version is its newest ``v<k>`` with ``k <= CURRENT``,
  so a publish writes only the stores it changes.

A publish writes every changed store's new version in full, then makes
one atomic ``os.replace`` of the pointer — the Delta Lake / Iceberg
metadata-pointer commit reduced to its kernel.  Dependent stores
(signatures + pairs, postings + doc lengths, a quantizer + its
postings) flip together: no reader resolves store A at the new version
and store B at the old one.  A crash at any point leaves the last
committed version readable: before the flip, the new directories are
past ``CURRENT``, where no reader looks, and the next publish removes
them before it builds (:func:`begin_version`); after it, the old
versions are garbage for :func:`gc_versions`, which never removes a
store's live version.

A staged stream's root is a publish root too: trigger ``bid`` writes
version ``bid + 1`` of each sink it feeds and commits it only once its
observed checks pass (``streaming/jobs.py``).  An APPEND sink holds one
delta per committed version, so every committed version of it is live
and it is read whole with :func:`read_committed`.  A stream root is
therefore never passed to :func:`gc_versions`, which keeps only each
store's newest committed version outside its window.

At 100 TB the pointer file is object-store metadata (a conditional-put
key); the data writes are the same parquet directories.  Crash points
are pinned in ``tests/test_publish.py`` and, for every store-lifecycle
query, in ``tests/test_store_protocol.py``.

Reference anchor: the reference (``hw3/hw3.py:125-172``) rebuilds its
stores from scratch per run and has no publish protocol at all.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _pointer(root: str) -> str:
    return os.path.join(root, "CURRENT")


def _stores(root: str) -> list[str]:
    return sorted(s for s in os.listdir(root) if os.path.isdir(os.path.join(root, s)))


def version_name(version: int) -> str:
    return f"v{version}"


def _version_dir(root: str, store: str, version: int) -> str:
    return os.path.join(root, store, version_name(version))


def versions(root: str, store: str) -> list[int]:
    """Every version of ``store`` on disk, committed or not, ascending."""
    sdir = os.path.join(root, store)
    names = os.listdir(sdir) if os.path.isdir(sdir) else ()
    return sorted(int(m.group(1)) for m in map(re.compile(r"v(\d+)").fullmatch, names) if m)


def current_version(root: str) -> int:
    with open(_pointer(root)) as f:
        return int(f.read().strip())


def live_version(root: str, store: str) -> int:
    """The version readers resolve: ``store``'s newest at or below CURRENT."""
    cur = current_version(root)
    return max(v for v in versions(root, store) if v <= cur)


def live_dir(root: str, store: str) -> str:
    return _version_dir(root, store, live_version(root, store))


def begin_version(root: str) -> int:
    """Remove every version directory past the committed one (what a
    publish that crashed before its commit left) and return the next
    version to build (1 on a new root)."""
    done = current_version(root) if os.path.exists(_pointer(root)) else 0
    for store in _stores(root) if os.path.isdir(root) else ():
        for v in versions(root, store):
            if v > done:
                shutil.rmtree(_version_dir(root, store, v))
    return done + 1


def write_store_version(df: DataFrame, root: str, store: str, version: int) -> None:
    """Write ONE store's new version, one file per partition of ``df``
    (the caller's partitioning is the layout).  Does NOT commit: the
    caller flips the pointer once every changed store is written."""
    if os.path.exists(_pointer(root)) and version <= current_version(root):
        raise ValueError(f"{store} {version_name(version)} is already committed")
    df.write.mode("overwrite").parquet(_version_dir(root, store, version))


def commit_version(root: str, version: int) -> None:
    """Atomically point readers at ``version`` — write-tmp +
    ``os.replace`` (atomic rename on POSIX; conditional-put on an
    object store).  This is the ONLY mutation readers can observe."""
    tmp = _pointer(root) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, _pointer(root))


def publish_version(root: str, version: int, stores: dict[str, DataFrame]) -> None:
    """The all-or-nothing publish: clear an earlier crash's leftovers,
    write EVERY given store's new version fully, then one pointer flip.
    Stores not given keep their live version."""
    begin_version(root)
    for name, df in stores.items():
        write_store_version(df, root, name, version)
    commit_version(root, version)


def read_current(
    spark: SparkSession, root: str, store: str, schema: StructType | None = None
) -> DataFrame:
    """Resolve ``store`` through the pointer to its live version."""
    return read_version(spark, root, store, live_version(root, store), schema)


def read_version(
    spark: SparkSession,
    root: str,
    store: str,
    version: int,
    schema: StructType | None = None,
) -> DataFrame:
    """TIME-TRAVEL read: pin ``store`` at an explicit version.  Committed
    versions are immutable, so any past snapshot is reproducible until
    :func:`gc_versions` collects it — the lakehouse ``VERSION AS OF``
    primitive behind the q272 version diff.  A caller that knows the
    store's ``schema`` (it just wrote it) passes it, which skips the
    schema-inference job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(_version_dir(root, store, version))


def read_committed(
    spark: SparkSession, root: str, store: str, schema: StructType | None = None
) -> DataFrame | None:
    """APPEND-sink read: every committed version of ``store`` at once
    (each is one trigger's delta, so all are live), or None before its
    first commit.  Versions past ``CURRENT`` are never read."""
    done = current_version(root) if os.path.exists(_pointer(root)) else -1
    paths = [_version_dir(root, store, v) for v in versions(root, store) if v <= done]
    if not paths:
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def gc_versions(root: str, retain: int = 2) -> dict:
    """Version GC — the retention half of the protocol: drop every
    version directory outside the ``retain`` most recent committed
    versions, across ALL stores under ``root``, except each store's
    live version.  Readers only resolve live versions, and time-travel
    readers pin versions inside the window.  Returns ``{removed:
    [(store, version), ...], kept_per_store: {store: n}}``."""
    cur = current_version(root)
    keep = {cur - i for i in range(retain)}
    removed: list[tuple[str, int]] = []
    kept: dict[str, int] = {}
    for store in _stores(root):
        vs = versions(root, store)
        live = max((v for v in vs if v <= cur), default=None)
        kept[store] = 0
        for v in vs:
            if v in keep or v == live:
                kept[store] += 1
            else:
                shutil.rmtree(_version_dir(root, store, v))
                removed.append((store, v))
    return {"removed": removed, "kept_per_store": kept}
