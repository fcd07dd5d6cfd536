"""The change feeds over one planner per format: Delta's
``table_changes`` and its two stream sources share ``_commit_changes``,
Iceberg's changelog and its stream source share ``_plan_changes``, and
both streams read their units through ``lakecore.read_change_unit`` as
Arrow batches."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from spark_etl_framework_spark.sources import deltalog as dl
from spark_etl_framework_spark.sources import iceberg as ice


def _stream_rows(source, options: dict, start: int, end: int) -> list[dict]:
    """Rows a stream source's reader yields for the offsets
    ``(start, end]`` (Delta versions) or ``[start, end)`` (Iceberg
    snapshot positions), read the way Spark's Python worker does."""
    ds = source(options)
    reader = ds.streamReader(ds.schema())
    key = "version" if source is dl.DeltaLogDataSource else "pos"
    names = ds.schema().fieldNames()
    out = []
    for part in reader.partitions({key: start}, {key: end}):
        for item in reader.read(part):
            if isinstance(item, pa.RecordBatch):
                out += item.to_pylist()
            else:
                out.append(dict(zip(names, item)))
    return out


def _restored(spark, loc):
    """ids 0-9 in one file; DV-delete id 1 (v1) and id 2 (v2); RESTORE
    to v1 (v3): a lone re-add carrying v1's deletion vector."""
    dl.write_delta(spark.range(10).coalesce(1), loc)
    dl.delete_where(spark, loc, "id = 1", use_dvs=True)
    dl.delete_where(spark, loc, "id = 2", use_dvs=True)
    assert dl.restore_table(spark, loc, 1) == 3
    assert sorted(r.id for r in dl.read_delta(spark, loc).collect()) == [
        0, *range(2, 10)
    ]


def test_restore_re_add_changes_only_the_revived_row(spark, tmp_path):
    """The v3 re-add revives id 2 (live at v1, dead at v2) and nothing
    else: every reader emits exactly one insert, never the dead id 1
    nor the rows that were live throughout."""
    loc = str(tmp_path / "t")
    _restored(spark, loc)
    batch = dl.table_changes(spark, loc, 3, 3).collect()
    assert [(r.id, r._change_type) for r in batch] == [(2, "insert")]
    cdf = _stream_rows(
        dl.DeltaLogDataSource,
        {"path": loc, "readChangeFeed": "true"}, 2, 3,
    )
    assert [(r["id"], r["_change_type"], r["_commit_version"]) for r in cdf] == [
        (2, "insert", 3)
    ]
    log = _stream_rows(dl.DeltaLogDataSource, {"path": loc}, 2, 3)
    assert [r["id"] for r in log] == [2]
    # a range past the head is empty, not an error
    assert dl.table_changes(spark, loc, 5).count() == 0


def test_clone_changes_skip_rows_dead_under_the_adds_own_dv(spark, tmp_path):
    """Version 0 of a shallow clone re-adds the source file with its
    deletion vector: the rows it kills are not inserts."""
    src, dst = str(tmp_path / "s"), str(tmp_path / "c")
    dl.write_delta(spark.range(10).coalesce(1), src)
    dl.delete_where(spark, src, "id = 1", use_dvs=True)
    dl.shallow_clone(spark, src, dst)
    want = [0, *range(2, 10)]
    batch = dl.table_changes(spark, dst, 0, 0).collect()
    assert sorted(r.id for r in batch) == want
    assert {r._change_type for r in batch} == {"insert"}
    cdf = _stream_rows(
        dl.DeltaLogDataSource, {"path": dst, "readChangeFeed": "true"}, -1, 0
    )
    assert sorted(r["id"] for r in cdf) == want
    log = _stream_rows(dl.DeltaLogDataSource, {"path": dst}, -1, 0)
    assert sorted(r["id"] for r in log) == want


def test_remove_emits_only_rows_live_at_the_parent(spark, tmp_path):
    """A copy-on-write DELETE without change files (the table's CDF is
    off, so the commit derives from its actions) removes a file that
    carries a deletion vector: its delete rows exclude the DV's."""
    loc = str(tmp_path / "t")
    dl.write_delta(spark.range(6).selectExpr("id", "id % 2 as g").coalesce(1), loc)
    dl.delete_where(spark, loc, "id = 0", use_dvs=True)
    v = dl.latest_version(loc)
    # a foreign remove: drop the whole file, no cdc files
    f = dl.snapshot(loc).files[0]
    with open(dl._commit_path(loc, v + 1), "w", encoding="utf-8") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": 1, "operation": "DELETE"}}) + "\n")
        fh.write(json.dumps({"remove": {"path": f.path, "dataChange": True}}) + "\n")
    got = dl.table_changes(spark, loc, v + 1, v + 1).collect()
    assert sorted((r.id, r._change_type) for r in got) == [
        (i, "delete") for i in range(1, 6)
    ]
    cdf = _stream_rows(
        dl.DeltaLogDataSource, {"path": loc, "readChangeFeed": "true"}, v, v + 1
    )
    assert sorted(r["id"] for r in cdf) == list(range(1, 6))


def test_batch_and_stream_read_one_commit_timestamp(spark, tmp_path):
    """A commit without ``commitInfo`` dates by its file's mtime in the
    batch feed, the stream and the history alike (the batch feed read
    null there)."""
    loc = str(tmp_path / "t")
    dl.write_delta(spark.range(3).coalesce(1), loc)
    p = dl._commit_path(loc, 0)
    with open(p, encoding="utf-8") as fh:
        lines = [x for x in fh if x.strip() and "commitInfo" not in json.loads(x)]
    with open(p, "w", encoding="utf-8") as fh:
        fh.writelines(lines)
    os.utime(p, (1_600_000_000, 1_600_000_000))
    want = 1_600_000_000_000
    assert dl._commit_timestamp(loc, 0) == want
    assert {r._commit_timestamp for r in dl.table_changes(spark, loc).collect()} == {want}
    cdf = _stream_rows(
        dl.DeltaLogDataSource, {"path": loc, "readChangeFeed": "true"}, -1, 0
    )
    assert {r["_commit_timestamp"] for r in cdf} == {want}
    assert dl.table_history(spark, loc).collect()[0].timestamp == want


@pytest.mark.parametrize("cdf", [False, True])
def test_stream_sources_yield_arrow_batches(spark, tmp_path, cdf):
    """Both formats' stream readers hand Spark ``pyarrow.RecordBatch``es
    in the source schema's column order, never per-row tuples."""
    dloc, iloc = str(tmp_path / "d"), str(tmp_path / "i")
    df = spark.range(5).selectExpr("id", "cast(id % 2 as int) as g")
    dl.write_delta(df.coalesce(1), dloc, partition_by=["g"])
    ice.write_iceberg(df.coalesce(1), iloc, partition_by=["g"])
    opts = {"readChangeFeed": "true"} if cdf else {}
    for source, loc, start, end in (
        (dl.DeltaLogDataSource, dloc, -1, 0),
        (ice.IcebergLogDataSource, iloc, 0, 1),
    ):
        ds = source({"path": loc, **opts})
        reader = ds.streamReader(ds.schema())
        key = "version" if source is dl.DeltaLogDataSource else "pos"
        items = [
            item
            for part in reader.partitions({key: start}, {key: end})
            for item in reader.read(part)
        ]
        assert items and all(isinstance(b, pa.RecordBatch) for b in items)
        assert all(b.schema.names == ds.schema().fieldNames() for b in items)
        rows = sorted((r["id"], r["g"]) for b in items for r in b.to_pylist())
        assert rows == [(i, i % 2) for i in range(5)]
