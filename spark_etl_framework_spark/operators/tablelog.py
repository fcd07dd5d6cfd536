"""Versioned parquet tables: commit log, snapshot reads, time travel.

The reference's Delta path (DeltaReader's ``versionAsOf``/
``timestampAsOf``, DeltaWriter's upserts —
DeltaPipelineTest.scala:24-30) needs the delta-spark jar, absent here.
This module implements the SEMANTICS jar-free, the way Delta itself
does at the storage layer: a ``_log/`` directory of JSON commit entries,
each listing the data files that make up that version (copy-on-write —
a new version references a fresh file set, old files are never
mutated), so

- ``read_version(path, n)`` = read exactly version n's file list
  (time travel is just resolving an older commit entry);
- ``latest_version(path)`` = max committed entry (readers never see a
  half-written commit: the JSON is written to a temp name and
  hard-linked into place — an exclusive create, so of two writers of
  one version exactly one wins — and the data files are fully written
  before the commit lands);
- ``write_version`` / ``merge_upsert`` append a new commit (upsert =
  read-latest ⟕ updates, keyed; the merge itself is ONE join, the same
  shape as operators/etl.py's SCD1/SCD2 family).

On a real object store the link-as-commit needs the store's
conditional-put (as Delta/Iceberg use); the layout and read path are
identical. Scale: the log is O(versions) tiny JSON; data files are
normal parquet, and a snapshot read costs exactly its own files.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import lakecore


def _log_dir(path: str) -> str:
    return os.path.join(path, "_log")


def latest_version(path: str) -> int:
    """Highest committed version, or -1 for an empty/absent table."""
    d = _log_dir(path)
    if not os.path.isdir(d):
        return -1
    versions = [
        int(f.split(".")[0]) for f in os.listdir(d) if f.endswith(".json")
    ]
    return max(versions, default=-1)


def _commit(path: str, version: int, files: list[str], op: str) -> None:
    entry = {"version": version, "op": op, "files": files}
    lakecore.publish_exclusive(
        os.path.join(_log_dir(path), f"{version:012d}.json"),
        lambda fh: json.dump(entry, fh),
        RuntimeError(
            f"concurrent commit: version {version} already exists at {path}"
        ),
    )


def _files_of(path: str, version: int) -> list[str]:
    f = os.path.join(_log_dir(path), f"{version:012d}.json")
    if not os.path.exists(f):
        raise FileNotFoundError(
            f"version {version} of {path} does not exist "
            f"(latest: {latest_version(path)})"
        )
    with open(f) as fh:
        return json.load(fh)["files"]


def write_version(df: DataFrame, path: str, op: str = "write") -> int:
    """Write ``df`` as the table's next version (full snapshot,
    copy-on-write); returns the new version number."""
    version = latest_version(path) + 1
    data_dir = os.path.join(path, f"v{version:012d}_{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(data_dir)
    files = sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    _commit(path, version, files, op)
    return version


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: the file list of ``version`` (default latest) —
    the ``versionAsOf`` time travel of the Delta reader."""
    v = latest_version(path) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no committed versions at {path}")
    return spark.read.parquet(*_files_of(path, v))


def merge_plan(current: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """The MERGE relation: rows matching on ``key`` are replaced by the
    update, unmatched update rows are inserted, everything else carries
    over — ONE left-anti join plus a union, never a full-outer join. The
    snapshot crosses at most one key-partitioned exchange (the anti
    join); the union is exchange-free. Factored out of
    :func:`merge_upsert` so plan-shape tests can pin exactly that
    (tests/test_plan_shapes.py)."""
    kept = current.join(updates.select(key), key, "left_anti")
    return kept.unionByName(updates)


def merge_upsert(
    spark: SparkSession, path: str, updates: DataFrame, key: str
) -> int:
    """SCD1 MERGE as a new version (:func:`merge_plan`), committed
    copy-on-write. Returns the new version."""
    merged = merge_plan(read_version(spark, path), updates, key)
    return write_version(merged, path, op="merge")


def vacuum(path: str, retain_last: int = 1) -> tuple[int, int]:
    """Retention for the versioned table — Delta's VACUUM semantics
    jar-free: expire every version except the newest ``retain_last``,
    deleting data files referenced ONLY by expired versions and dropping
    the expired commit entries, so time travel beyond the retention
    window fails loudly (version-not-found) instead of half-reading a
    gutted snapshot. Files are removed BEFORE their log entries: a crash
    between the two leaves an entry whose read fails on missing files,
    and re-running vacuum converges. Returns
    ``(versions_expired, files_removed)``.

    Scale: the referenced-file set is O(retained versions x files) of
    PATH STRINGS — driver-side metadata, same class as the commit log
    itself; data deletion is one os.remove per expired file (on an
    object store, a bulk-delete of the same list)."""
    import shutil

    if retain_last < 1:
        raise ValueError(f"vacuum: retain_last must be >= 1, got {retain_last}")
    latest = latest_version(path)
    if latest < 0:
        return (0, 0)
    cutoff = latest - retain_last + 1
    d = _log_dir(path)
    all_versions = sorted(
        int(f.split(".")[0]) for f in os.listdir(d) if f.endswith(".json")
    )
    expired = [v for v in all_versions if v < cutoff]
    if not expired:
        return (0, 0)
    keep_files: set[str] = set()
    for v in all_versions:
        if v >= cutoff:
            keep_files.update(_files_of(path, v))
    removed = 0
    for v in expired:
        for f in _files_of(path, v):
            if f not in keep_files and os.path.exists(f):
                os.remove(f)
                removed += 1
    for v in expired:
        os.remove(os.path.join(d, f"{v:012d}.json"))
    # sweep snapshot dirs whose parquet is fully gone (write markers like
    # _SUCCESS are all that remain)
    for entry in os.listdir(path):
        p = os.path.join(path, entry)
        if (
            entry.startswith("v")
            and os.path.isdir(p)
            and not any(f.endswith(".parquet") for f in os.listdir(p))
        ):
            shutil.rmtree(p)
    return (len(expired), removed)
