"""Iceberg Puffin statistics files — ANALYZE, table-metadata
registration, NDV reads, retention.

The Puffin container follows the spec layout byte-for-byte (magic,
blobs, JSON FileMetadata footer with int4-LE payload size + flags); the
NDV channel is the blob metadata's ``ndv`` property (the way the
jar/Trino consume estimates), cross-checked against the 8-byte payload.
"""

from __future__ import annotations

import os

import pytest

from spark_etl_framework_spark.sources import iceberg as ice


@pytest.fixture()
def loc(tmp_path):
    return str(tmp_path / "t")


def _write(spark, loc, n=50, mode="append", base=0):
    df = spark.createDataFrame(
        [(base + i, f"k{i % 7}", float(i % 13)) for i in range(n)],
        "id int, k string, v double",
    )
    return ice.write_iceberg(df.coalesce(1), loc, mode=mode)


def test_puffin_container_roundtrip(tmp_path):
    path = str(tmp_path / "x.stats")
    blobs = [
        ({"type": "ndv-long-v1", "fields": [1], "properties": {"ndv": "7"}},
         (7).to_bytes(8, "little")),
        ({"type": "other-blob", "fields": [2]}, b"opaque-payload"),
    ]
    size, footer = ice._write_puffin(path, blobs, {"who": "test"})
    assert size == os.path.getsize(path) and 0 < footer < size
    meta = ice.read_puffin(path)
    assert meta["properties"] == {"who": "test"}
    assert [b["type"] for b in meta["blobs"]] == ["ndv-long-v1", "other-blob"]
    assert meta["blobs"][0]["payload"] == (7).to_bytes(8, "little")
    assert meta["blobs"][1]["payload"] == b"opaque-payload"
    # spec layout: leading magic, trailing magic
    raw = open(path, "rb").read()
    assert raw[:4] == b"PFA1" and raw[-4:] == b"PFA1"


def test_analyze_publishes_stats_and_ndv_reads(spark, loc):
    _write(spark, loc, n=100)
    ndvs = ice.analyze_table(spark, loc)
    assert set(ndvs) == {"id", "k", "v"}
    # HLL++ at default rsd is exact at these cardinalities
    assert abs(ndvs["id"] - 100) <= 5
    assert ndvs["k"] == 7 and ndvs["v"] == 13
    # registered in table metadata, readable without a data scan
    meta = ice.load_metadata(loc)
    assert len(meta["statistics"]) == 1
    entry = meta["statistics"][0]
    assert entry["snapshot-id"] == ice._pick_snapshot(meta)["snapshot-id"]
    assert os.path.getsize(entry["statistics-path"]) == entry["file-size-in-bytes"]
    assert ice.table_ndv(loc) == ndvs
    # the metadata table lists it
    rows = ice.read_meta(spark, loc, "statistics").collect()
    assert len(rows) == 1 and rows[0].snapshot_id == entry["snapshot-id"]


def test_analyze_replaces_same_snapshot_stats(spark, loc):
    _write(spark, loc)
    ice.analyze_table(spark, loc, columns=["id"])
    first = ice.load_metadata(loc)["statistics"][0]["statistics-path"]
    ice.analyze_table(spark, loc, columns=["id", "k"])
    meta = ice.load_metadata(loc)
    assert len(meta["statistics"]) == 1, "one stats file per snapshot (spec)"
    assert not os.path.exists(first), "superseded stats file must be unlinked"
    assert set(ice.table_ndv(loc)) == {"id", "k"}


def test_stats_per_snapshot_and_ancestor_fallback(spark, loc):
    _write(spark, loc, n=20)
    ice.analyze_table(spark, loc)
    old_snap = ice._pick_snapshot(ice.load_metadata(loc))["snapshot-id"]
    _write(spark, loc, n=30, base=1000)  # new snapshot, no stats yet
    # exact pin still resolves the old snapshot's stats
    assert abs(ice.table_ndv(loc, snapshot_id=old_snap)["id"] - 20) <= 2
    # current snapshot has none -> newest registered stats serve
    assert ice.table_ndv(loc) == ice.table_ndv(loc, snapshot_id=old_snap)
    ice.analyze_table(spark, loc)
    meta = ice.load_metadata(loc)
    assert len(meta["statistics"]) == 2
    assert abs(ice.table_ndv(loc)["id"] - 50) <= 3


def test_expire_drops_stats_with_snapshot(spark, loc):
    _write(spark, loc, n=10)
    ice.analyze_table(spark, loc)
    p_old = ice.load_metadata(loc)["statistics"][0]["statistics-path"]
    _write(spark, loc, n=10)
    ice.analyze_table(spark, loc)
    res = ice.expire_snapshots(loc, retain_last=1)
    assert res["snapshots"] >= 1
    meta = ice.load_metadata(loc)
    assert len(meta["statistics"]) == 1
    assert not os.path.exists(p_old)
    assert os.path.exists(meta["statistics"][0]["statistics-path"])
    ice.table_ndv(loc)  # still readable


def test_analyze_unknown_column_refuses(spark, loc):
    _write(spark, loc)
    with pytest.raises(ValueError, match="unknown columns"):
        ice.analyze_table(spark, loc, columns=["nope"])
    with pytest.raises(FileNotFoundError, match="no statistics"):
        ice.table_ndv(loc)


# ---------------------------------------------------------------------------
# rewrite_position_delete_files + extended metadata tables
# ---------------------------------------------------------------------------


def test_rewrite_position_deletes_merges_files(spark, loc):
    _write(spark, loc, n=30)
    ice.delete_where(spark, loc, "id < 3")
    ice.delete_where(spark, loc, "id >= 27")
    ice.delete_where(spark, loc, "id = 10")
    before = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    # three delete commits -> three position-delete files
    _d, dels = ice._scan_snapshot(ice.load_metadata(loc),
                                  ice._pick_snapshot(ice.load_metadata(loc)))
    assert len(dels) == 3
    res = ice.rewrite_position_delete_files(spark, loc)
    assert res is not None and res["before"] == 3 and res["after"] == 1
    assert res["dangling_dropped"] == 0
    meta = ice.load_metadata(loc)
    _d2, dels2 = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    assert len(dels2) == 1
    # the merged file carries the spec's reserved field ids, like the
    # position deletes DELETE writes
    import pyarrow.parquet as pq

    fields = pq.read_schema(dels2[0]["file_path"])
    assert fields.field("file_path").metadata[b"PARQUET:field_id"] == b"2147483546"
    assert fields.field("pos").metadata[b"PARQUET:field_id"] == b"2147483545"
    assert sorted(r.id for r in ice.read_iceberg(spark, loc).collect()) == before
    # idempotent: one clean file -> nothing to do
    assert ice.rewrite_position_delete_files(spark, loc) is None


def test_rewrite_position_deletes_drops_dangling(spark, loc):
    """Dangling deletes cannot arise from THIS writer (its compactions
    drop delete manifests when they restage data), but a foreign
    engine's partial compaction leaves them: simulate one by publishing
    a snapshot that drops a data manifest while carrying the delete
    manifests forward, then assert the rewrite prunes the entries that
    name the vanished file."""
    import os as _os
    import uuid as _uuid

    from spark_etl_framework_spark.functions.avro_ocf import read_ocf, write_ocf

    _write(spark, loc, n=10)
    _write(spark, loc, n=10, base=100)
    ice.delete_where(spark, loc, "id = 0 or id = 100")  # hits both files
    meta = ice.load_metadata(loc)
    snap = ice._pick_snapshot(meta)
    _s, _m, mlist = read_ocf(snap["manifest-list"])
    mlist = [ice._as_v2_list_entry(mf) for mf in mlist]
    data_mfs = [mf for mf in mlist if mf.get("content", 0) == 0]
    del_mfs = [mf for mf in mlist if mf.get("content", 0) == 1]
    assert len(data_mfs) == 2 and len(del_mfs) == 1
    # foreign-shaped commit: drop the SECOND data manifest, keep deletes
    now_ms = meta["last-updated-ms"] + 1
    sid = snap["snapshot-id"] + 7
    lp = _os.path.join(loc, "metadata", f"snap-{sid}-1-{_uuid.uuid4().hex}.avro")
    write_ocf(lp, ice._MANIFEST_FILE_SCHEMA_V2, [data_mfs[0]] + del_mfs,
              metadata={"format-version": "2"})
    meta = dict(meta)
    meta["snapshots"] = meta["snapshots"] + [{
        "snapshot-id": sid, "parent-snapshot-id": snap["snapshot-id"],
        "sequence-number": meta.get("last-sequence-number", 0) + 1,
        "timestamp-ms": now_ms, "summary": {"operation": "replace"},
        "manifest-list": lp, "schema-id": 0,
    }]
    meta["last-sequence-number"] = meta.get("last-sequence-number", 0) + 1
    meta["current-snapshot-id"] = sid
    meta["snapshot-log"] = meta["snapshot-log"] + [
        {"timestamp-ms": now_ms, "snapshot-id": sid}]
    ice._publish_metadata(loc, ice.current_version(loc) + 1, meta)

    before = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    assert before == list(range(1, 10))  # file 2 gone, id=0 deleted
    res = ice.rewrite_position_delete_files(spark, loc)
    assert res is not None and res["dangling_dropped"] == 1  # the id=100 row
    assert sorted(r.id for r in ice.read_iceberg(spark, loc).collect()) == before


def test_rewrite_position_deletes_none_without_deletes(spark, loc):
    _write(spark, loc)
    assert ice.rewrite_position_delete_files(spark, loc) is None


def test_meta_tables_refs_manifests_partitions(spark, loc):
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(30)], "id int, part string"
    )
    ice.write_iceberg(df.coalesce(1), loc, mode="append", partition_by=["part"])
    ice.create_tag(loc, "v1")
    ice.create_branch(loc, "dev")

    refs = {r.name: r for r in ice.read_meta(spark, loc, "refs").collect()}
    assert refs["v1"].type == "tag" and refs["dev"].type == "branch"
    assert "main" in refs

    mfs = ice.read_meta(spark, loc, "manifests").collect()
    assert len(mfs) >= 1 and all(m.content == 0 for m in mfs)

    parts = {r.partition: r for r in
             ice.read_meta(spark, loc, "partitions").collect()}
    assert len(parts) == 3
    assert all(v.record_count == 10 for v in parts.values())

    with pytest.raises(ValueError, match="unknown metadata table"):
        ice.read_meta(spark, loc, "nope")


# ---------------------------------------------------------------------------
# rewrite_data_files strategies
# ---------------------------------------------------------------------------


def test_rewrite_binpack_compacts_small_files(spark, loc):
    for i in range(5):
        _write(spark, loc, n=10, base=i * 10)
    meta = ice.load_metadata(loc)
    data, _ = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    assert len(data) == 5
    before = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    sid = ice.rewrite_data_files(spark, loc, strategy="binpack")
    assert sid is not None
    meta = ice.load_metadata(loc)
    data2, _ = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    assert len(data2) < 5
    assert sorted(r.id for r in ice.read_iceberg(spark, loc).collect()) == before
    cur = ice._pick_snapshot(meta)
    assert cur["summary"]["rewrite-strategy"] == "binpack"
    # fold still no-ops without deletes
    assert ice.rewrite_data_files(spark, loc) is None


def test_rewrite_sort_and_zorder_improve_bounds(spark, loc):
    import random

    rnd = random.Random(3)
    rows = [(i, rnd.randrange(1000), float(rnd.randrange(1000)))
            for i in range(2000)]
    df = spark.createDataFrame(rows, "id int, x int, v double")
    # two full-range files: no bound can prune anything pre-rewrite
    ice.write_iceberg(df.filter("id % 2 = 0").coalesce(1), loc, mode="append")
    ice.write_iceberg(df.filter("id % 2 = 1").coalesce(1), loc, mode="append")
    before = sorted((r.id, r.x) for r in ice.read_iceberg(spark, loc).collect())

    ice.rewrite_data_files(
        spark, loc, strategy="sort", sort_by=["x"], target_file_size=8 * 1024
    )
    assert sorted(
        (r.id, r.x) for r in ice.read_iceberg(spark, loc).collect()
    ) == before
    # sorted layout: each file's x-bounds are narrow, so a low-x probe
    # decodes fewer x-bound-overlapping files than the file total
    meta = ice.load_metadata(loc)
    data, _ = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    assert len(data) > 2

    xid = next(f["id"] for f in ice.load_metadata(loc)["schema"]["fields"]
               if f["name"] == "x")

    def _overlaps(f):
        lo = {e["key"]: e["value"] for e in (f.get("lower_bounds") or [])}
        xlo = lo.get(xid)
        return xlo is None or ice._decode_bound(xlo, "int") < 50

    assert sum(1 for f in data if _overlaps(f)) < len(data)
    # the reader's own planner prunes too (bounds path, spec fields 125/128)
    meta2 = ice.load_metadata(loc)
    pruned = ice._prune_files_by_bounds(data, meta2, "x < 50")
    assert len(pruned) < len(data)
    full = ice.read_iceberg(spark, loc, where="x < 50")
    assert full.count() == sum(1 for _i, x in before if x < 50)

    ice.rewrite_data_files(
        spark, loc, strategy="zorder", zorder_by=["x", "v"],
        target_file_size=8 * 1024,
    )
    assert sorted(
        (r.id, r.x) for r in ice.read_iceberg(spark, loc).collect()
    ) == before
    meta = ice.load_metadata(loc)
    assert ice._pick_snapshot(meta)["summary"]["rewrite-strategy"] == "zorder"


def test_rewrite_strategy_validation(spark, loc):
    _write(spark, loc)
    with pytest.raises(ValueError, match="unknown strategy"):
        ice.rewrite_data_files(spark, loc, strategy="nope")
    with pytest.raises(ValueError, match="needs sort_by"):
        ice.rewrite_data_files(spark, loc, strategy="sort")
    with pytest.raises(ValueError, match="not in table"):
        ice.rewrite_data_files(spark, loc, strategy="sort", sort_by=["zz"])


def test_iceberg_actor_strategy_and_analyze(spark, tmp_path):
    from spark_etl_framework_spark.plans.runner import run_pipeline_file

    loc = tmp_path / "t"
    for i in range(3):
        _write(spark, str(loc), n=10, base=i * 10)
    ypath = tmp_path / "ice.yaml"
    ypath.write_text(f"""
version: 1.0.0
jobs:
  - name: main
    actions:
      - name: compact
        actor:
          type: iceberg-dml
          properties:
            op: optimize
            path: "{loc}"
            strategy: binpack
      - name: stats
        actor:
          type: iceberg-dml
          properties:
            op: analyze
            path: "{loc}"
            columns: "id, k"
      - name: compactdeletes
        actor:
          type: iceberg-dml
          properties:
            op: rewritePositionDeletes
            path: "{loc}"
""")
    run_pipeline_file(spark, str(ypath))
    meta = ice.load_metadata(str(loc))
    data, _ = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    assert len(data) < 3
    assert set(ice.table_ndv(str(loc))) == {"id", "k"}


# ---------------------------------------------------------------------------
# partition statistics files
# ---------------------------------------------------------------------------


def test_partition_stats_file_roundtrip(spark, tmp_path):
    import json as _json

    loc = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(30)], "id int, part string"
    )
    ice.write_iceberg(df.coalesce(1), loc, mode="append", partition_by=["part"])
    slow = {r.partition: (r.record_count, r.file_count)
            for r in ice.read_meta(spark, loc, "partitions").collect()}

    res = ice.compute_partition_stats(spark, loc)
    assert res["partitions"] == 3
    meta = ice.load_metadata(loc)
    assert len(meta["partition-statistics"]) == 1
    entry = meta["partition-statistics"][0]
    assert os.path.getsize(entry["statistics-path"]) == entry["file-size-in-bytes"]

    # the registered file now serves the metadata table — identically
    fast = {r.partition: (r.record_count, r.file_count)
            for r in ice.read_meta(spark, loc, "partitions").collect()}
    assert fast == slow
    assert set(_json.loads(k)["part"] for k in fast) == {"a", "b", "c"}


def test_partition_stats_with_deletes_and_expire(spark, tmp_path):
    loc = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2]) for i in range(20)], "id int, part string"
    )
    ice.write_iceberg(df.coalesce(1), loc, mode="append", partition_by=["part"])
    ice.delete_where(spark, loc, "id < 4")
    ice.compute_partition_stats(spark, loc)
    p_old = ice.load_metadata(loc)["partition-statistics"][0]["statistics-path"]
    rows = {r.partition: r for r in
            ice.read_meta(spark, loc, "partitions").collect()}
    # delete counts land on the unpartitioned "{}" row
    assert rows["{}"].position_delete_record_count == 4
    assert sum(r.record_count for r in rows.values()) == 20

    # stale snapshot -> fast path no longer applies; recompute replaces
    ice.write_iceberg(
        spark.createDataFrame([(100, "a")], "id int, part string"),
        loc, mode="append", partition_by=["part"],
    )
    ice.compute_partition_stats(spark, loc)
    meta = ice.load_metadata(loc)
    assert len(meta["partition-statistics"]) == 2
    ice.expire_snapshots(loc, retain_last=1)
    meta = ice.load_metadata(loc)
    assert len(meta["partition-statistics"]) == 1
    assert not os.path.exists(p_old)


def test_first_commit_bounds_key_by_the_table_field_ids(spark, loc):
    """A partitioned table's FIRST commit keys its bounds by the table
    schema's ids (identity partition columns hold ids of their own), so
    a filter on a data column skips first-commit files."""
    df = spark.createDataFrame(
        [(g, g * 100 + i) for g in range(2) for i in range(5)],
        "grp int, id long",
    )
    ice.write_iceberg(df.coalesce(1), loc, partition_by=["grp"])
    meta = ice.load_metadata(loc)
    ids = {f["name"]: f["id"] for f in meta["schema"]["fields"]}
    assert ids == {"grp": 1, "id": 2}
    files, _dels = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    assert len(files) == 2
    for f in files:
        assert {e["key"] for e in f["lower_bounds"]} == {ids["id"]}
        assert {e["key"] for e in f["upper_bounds"]} == {ids["id"]}
    kept = ice._prune_files_by_bounds(files, meta, "id >= 100")
    assert [f["partition"]["grp"] for f in kept] == [1]
    assert ice.read_iceberg(spark, loc, where="id >= 100").count() == 5
    # the partition column's id no longer holds the data column's bounds
    assert ice.read_iceberg(spark, loc, where="grp = 1").count() == 5


def test_legacy_miskeyed_bounds_keep_files_instead_of_raising(spark, loc):
    """First commits from the writer before it keyed bounds by the table
    schema's ids hold the data column's bounds under the partition
    column's id. A bound whose width does not fit that column's type
    keeps the file, and an identity partition's value wins over it."""
    import struct

    from spark_etl_framework_spark.functions.avro_ocf import read_ocf, write_ocf

    df = spark.createDataFrame(
        [(g, g * 100 + i) for g in range(2) for i in range(5)],
        "grp int, id long",
    )
    ice.write_iceberg(df.coalesce(1), loc, partition_by=["grp"])
    meta = ice.load_metadata(loc)
    ids = {f["name"]: f["id"] for f in meta["schema"]["fields"]}
    _s, _m, mlist = read_ocf(ice._pick_snapshot(meta)["manifest-list"])
    for mf in mlist:
        schema, fmeta, entries = read_ocf(mf["manifest_path"])
        for e in entries:
            f = e["data_file"]
            # the legacy shape: id's 8-byte bounds keyed as grp's field id
            g = f["partition"]["grp"]
            f["lower_bounds"] = [{"key": ids["grp"], "value": struct.pack("<q", g * 100)}]
            f["upper_bounds"] = [{"key": ids["grp"], "value": struct.pack("<q", g * 100 + 4)}]
        keep = {k: v for k, v in fmeta.items() if not k.startswith("avro.")}
        write_ocf(mf["manifest_path"], schema, entries, metadata=keep)

    assert ice._decode_bound(struct.pack("<q", 100), "int") is None
    files, _dels = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    assert all(len(f["lower_bounds"][0]["value"]) == 8 for f in files)
    kept = ice._prune_files_by_bounds(files, meta, "grp = 1")
    assert [f["partition"]["grp"] for f in kept] == [1]
    got = sorted(r.id for r in ice.read_iceberg(spark, loc, where="grp = 1").collect())
    assert got == [100, 101, 102, 103, 104]
    # a mis-keyed bound no partition value covers keeps every file
    assert len(ice._prune_files_by_bounds(
        [{**f, "partition": {}} for f in files], meta, "grp = 1")) == 2
