"""Pure-Python Delta Lake transaction-log protocol (sources/deltalog.py):
the REAL ``_delta_log`` on-disk format — JSON action commits, add/remove
reconciliation, parquet checkpoints + ``_last_checkpoint``, optimistic-
concurrency publish, time travel, txn idempotence, and the log-version
micro-batch streaming source. These un-gate the reference's Delta actors
(etl/source/DeltaReader.scala, etl/sink/DeltaWriter.scala,
etl/source/DeltaStreamReader.scala, etl/sink/DeltaStreamWriter.scala)
without the jar.
"""

from __future__ import annotations

import json
import os

import pytest

from spark_etl_framework_spark.plans.context import JobContext, PipelineContext
from spark_etl_framework_spark.sources import deltalog as dl


def _jctx(spark):
    return JobContext(PipelineContext(), spark)


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "t")


def _mk(spark, rows, schema="id int, name string, grp int"):
    return spark.createDataFrame(rows, schema)


def test_write_read_roundtrip_partitioned(spark, tbl):
    df = _mk(spark, [(i, f"n{i}", i % 3) for i in range(30)])
    v = dl.write_delta(df.coalesce(2), tbl, mode="overwrite", partition_by=["grp"])
    assert v == 0
    out = dl.read_delta(spark, tbl)
    # full schema back, partition column typed from the log, values exact
    assert [f.name for f in out.schema.fields] == ["id", "name", "grp"]
    assert dict(out.dtypes)["grp"] == "int"
    got = {(r.id, r.name, r.grp) for r in out.collect()}
    assert got == {(i, f"n{i}", i % 3) for i in range(30)}


def test_log_layout_is_spec_shaped(spark, tbl):
    dl.write_delta(_mk(spark, [(1, "a", 0)]).coalesce(1), tbl, partition_by=["grp"])
    commit = os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    acts = [json.loads(x) for x in open(commit, encoding="utf-8")]
    kinds = [next(iter(a)) for a in acts]
    assert kinds[0] == "commitInfo"
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    assert meta["format"]["provider"] == "parquet"
    assert meta["partitionColumns"] == ["grp"]
    add = next(a["add"] for a in acts if "add" in a)
    assert add["dataChange"] is True
    assert add["partitionValues"] == {"grp": "0"}
    assert json.loads(add["stats"])["numRecords"] == 1
    # data file really lives at the add path, hive-style
    assert os.path.exists(os.path.join(tbl, add["path"]))
    assert add["path"].startswith("grp=0/")


def test_append_and_overwrite_reconciliation(spark, tbl):
    dl.write_delta(_mk(spark, [(1, "a", 0), (2, "b", 1)]).coalesce(1), tbl,
                   partition_by=["grp"])
    dl.write_delta(_mk(spark, [(3, "c", 0)]).coalesce(1), tbl, mode="append",
                   partition_by=["grp"])
    assert dl.read_delta(spark, tbl).count() == 3
    dl.write_delta(_mk(spark, [(9, "z", 2)]).coalesce(1), tbl, mode="overwrite",
                   partition_by=["grp"])
    out = dl.read_delta(spark, tbl).collect()
    assert [(r.id, r.grp) for r in out] == [(9, 2)]
    # overwrite emitted remove tombstones for every previously-live file:
    # v0 wrote one file per partition value (grp=0, grp=1) + v1's append
    commit2 = os.path.join(tbl, "_delta_log", f"{2:020d}.json")
    acts = [json.loads(x) for x in open(commit2, encoding="utf-8")]
    assert sum(1 for a in acts if "remove" in a) == 3


def test_time_travel_by_version_and_timestamp(spark, tbl):
    dl.write_delta(_mk(spark, [(1, "a", 0)]).coalesce(1), tbl, partition_by=["grp"])
    dl.write_delta(_mk(spark, [(2, "b", 1)]).coalesce(1), tbl, mode="append",
                   partition_by=["grp"])
    assert dl.read_delta(spark, tbl, version_as_of=0).count() == 1
    assert dl.read_delta(spark, tbl, version_as_of=1).count() == 2
    ts0 = dl._commit_timestamp(tbl, 0)
    assert dl.read_delta(spark, tbl, timestamp_as_of=ts0).count() == 1
    with pytest.raises(ValueError):
        dl.read_delta(spark, tbl, version_as_of=9)
    with pytest.raises(ValueError):
        dl.read_delta(spark, tbl, timestamp_as_of=ts0 - 10_000)


def test_concurrent_commit_loses_cleanly(spark, tbl):
    dl.write_delta(_mk(spark, [(1, "a", 0)]).coalesce(1), tbl, partition_by=["grp"])
    # forge the next version before the writer publishes it
    forged = os.path.join(tbl, "_delta_log", f"{1:020d}.json")
    with open(forged, "w", encoding="utf-8") as fh:
        fh.write('{"commitInfo":{"timestamp":0,"operation":"WRITE"}}\n')
    with pytest.raises(dl.DeltaConcurrentModification):
        dl._publish_commit(tbl, 1, [{"commitInfo": {"timestamp": 1}}])


@pytest.mark.parametrize("tenth", ["append", "optimize"])
def test_checkpoint_written_consumed_and_bounds_replay(spark, tbl, tenth):
    """Whichever commit lands version CHECKPOINT_INTERVAL — an append
    or an OPTIMIZE — writes the checkpoint."""
    df = _mk(spark, [(1, "a", 0)]).coalesce(1)
    for i in range(dl.CHECKPOINT_INTERVAL):
        dl.write_delta(df, tbl, mode="append", partition_by=["grp"])
    if tenth == "optimize":
        done = dl.optimize_compact(spark, tbl)
        assert done["version"] == dl.CHECKPOINT_INTERVAL
    else:
        dl.write_delta(df, tbl, mode="append", partition_by=["grp"])
    dl.write_delta(df, tbl, mode="append", partition_by=["grp"])
    rows = dl.CHECKPOINT_INTERVAL + (2 if tenth == "append" else 1)
    cp = os.path.join(
        tbl, "_delta_log", f"{dl.CHECKPOINT_INTERVAL:020d}.checkpoint.parquet"
    )
    assert os.path.exists(cp)
    lc = json.load(open(os.path.join(tbl, "_delta_log", "_last_checkpoint")))
    assert lc["version"] == dl.CHECKPOINT_INTERVAL
    # delete every pre-checkpoint JSON commit: reads MUST still work,
    # proving the snapshot really comes from the checkpoint parquet
    assert dl.clean_log(tbl) == dl.CHECKPOINT_INTERVAL
    out = dl.read_delta(spark, tbl)
    assert out.count() == rows
    assert dict(out.dtypes)["grp"] == "int"  # metaData survives via checkpoint
    snap = dl.snapshot(tbl)
    assert snap.partition_columns == ["grp"]


def test_txn_action_makes_replay_idempotent(spark, tbl):
    df = _mk(spark, [(1, "a", 0)]).coalesce(1)
    v1 = dl.write_delta(df, tbl, mode="append", partition_by=["grp"],
                        txn=("app", 5))
    v2 = dl.write_delta(df, tbl, mode="append", partition_by=["grp"],
                        txn=("app", 5))
    assert v1 == v2 == 0  # replay skipped
    v3 = dl.write_delta(df, tbl, mode="append", partition_by=["grp"],
                        txn=("app", 6))
    assert v3 == 1
    assert dl.snapshot(tbl).txns == {"app": 6}


def test_partition_schema_mismatch_rejected(spark, tbl):
    dl.write_delta(_mk(spark, [(1, "a", 0)]).coalesce(1), tbl, partition_by=["grp"])
    with pytest.raises(ValueError, match="partition columns"):
        dl.write_delta(_mk(spark, [(2, "b", 1)]).coalesce(1), tbl, mode="append")


def test_foreign_log_non_hive_layout(spark, tbl, tmp_path):
    """A hand-written log whose data file lives at the table ROOT with
    partitionValues only in the log — the directory layout is NOT the
    source of truth, the log is (Delta spec). The reader must attach the
    typed partition column anyway."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(tbl, "_delta_log"))
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64())}),
        os.path.join(tbl, "part-foreign-0001.parquet"),
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "day", "type": "date", "nullable": True, "metadata": {}},
        ],
    }
    acts = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": ["day"], "configuration": {}}},
        {"add": {"path": "part-foreign-0001.parquet",
                 "partitionValues": {"day": "2024-03-01"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(tbl, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in acts)
    out = dl.read_delta(spark, tbl)
    assert dict(out.dtypes) == {"id": "bigint", "day": "date"}
    assert {(r.id, str(r.day)) for r in out.collect()} == {
        (1, "2024-03-01"), (2, "2024-03-01")}


def test_reader_actor_falls_back_with_time_travel(spark, tbl):
    from spark_etl_framework_spark.sources.connectors import DeltaReader

    dl.write_delta(_mk(spark, [(1, "a", 0)]).coalesce(1), tbl, partition_by=["grp"])
    dl.write_delta(_mk(spark, [(2, "b", 1)]).coalesce(1), tbl, mode="append",
                   partition_by=["grp"])
    r = DeltaReader(path=tbl)
    assert r.run(_jctx(spark), spark).count() == 2
    r0 = DeltaReader(path=tbl)
    r0._props["options.versionAsOf"] = "0"
    assert r0.run(_jctx(spark), spark).count() == 1


def test_writer_actor_falls_back(spark, tbl):
    from spark_etl_framework_spark.sinks.connectors import DeltaWriter

    _mk(spark, [(i, f"n{i}", i % 2) for i in range(8)]).createOrReplaceTempView(
        "dw_in"
    )
    DeltaWriter(view="dw_in", path=tbl, mode="overwrite", partitionBy="grp").run(
        _jctx(spark), spark
    )
    out = dl.read_delta(spark, tbl)
    assert out.count() == 8
    assert dl.snapshot(tbl).partition_columns == ["grp"]


def test_stream_reader_actor_replays_and_tails(spark, tbl):
    from spark_etl_framework_spark.streaming.readers import DeltaStreamReader

    dl.write_delta(_mk(spark, [(1, "a", 0), (2, "b", 1)]).coalesce(1), tbl,
                   partition_by=["grp"])
    dl.write_delta(_mk(spark, [(3, "c", 0)]).coalesce(1), tbl, mode="append",
                   partition_by=["grp"])
    sdf = DeltaStreamReader(path=tbl).run(_jctx(spark), spark)
    assert sdf.isStreaming
    q = (
        sdf.writeStream.format("memory").queryName("dl_sr")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    q.stop()
    rows = {(r.id, r.grp) for r in spark.sql("select * from dl_sr").collect()}
    assert rows == {(1, 0), (2, 1), (3, 0)}


def test_stream_writer_actor_commits_with_txn(spark, tbl, tmp_path):
    from spark_etl_framework_spark.streaming.writers import DeltaStreamWriter

    src = tmp_path / "src"
    dl.write_delta(_mk(spark, [(i, f"n{i}", i % 2) for i in range(6)]).coalesce(1),
                   str(src), partition_by=["grp"])
    from spark_etl_framework_spark.streaming.readers import DeltaStreamReader

    sdf = DeltaStreamReader(path=str(src)).run(_jctx(spark), spark)
    sdf.createOrReplaceTempView("dl_sw_in")
    ckpt = str(tmp_path / "ckpt")
    DeltaStreamWriter(
        view="dl_sw_in", path=tbl, partitionBy="grp", trigger_mode="once",
        checkpointLocation=ckpt, test_waittimeMS=30000,
    ).run(_jctx(spark), spark)
    out = dl.read_delta(spark, tbl)
    assert out.count() == 6
    snap = dl.snapshot(tbl)
    assert snap.txns == {f"deltastream:{ckpt}": 0}
    assert snap.partition_columns == ["grp"]


def test_read_plan_broadcasts_file_map_no_fact_shuffle(spark, tbl):
    """Scale shape: the partition-value attach is a BROADCAST join onto
    input_file_name() — the fact scan must not exchange."""
    dl.write_delta(
        _mk(spark, [(i, f"n{i}", i % 4) for i in range(40)]).coalesce(4),
        tbl, partition_by=["grp"],
    )
    plan = dl.read_delta(spark, tbl)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    first_exchange = plan.find("Exchange hashpartitioning")
    assert first_exchange == -1, f"fact side shuffled:\n{plan}"


def test_stream_restart_resumes_from_version_offset(spark, tbl, tmp_path):
    """Version-offset checkpoint recovery: a RESTARTED query must resume
    from the committed log version — new commits stream, old ones never
    replay (the same contract the kafka source pins)."""
    from spark_etl_framework_spark.streaming.readers import DeltaStreamReader

    dl.write_delta(_mk(spark, [(1, "a", 0), (2, "b", 1)]).coalesce(1), tbl,
                   partition_by=["grp"])
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        sdf = DeltaStreamReader(path=tbl).run(_jctx(spark), spark)
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    assert spark.read.parquet(out_dir).count() == 2
    dl.write_delta(_mk(spark, [(3, "c", 0)]).coalesce(1), tbl, mode="append",
                   partition_by=["grp"])
    run_once()
    got = spark.read.parquet(out_dir)
    assert got.count() == 3  # 2 + 1, no replays
    assert {r.id for r in got.collect()} == {1, 2, 3}


# ---------------------------------------------------------------------------
# row-level DELETE (round 8): pruned copy-on-write
# ---------------------------------------------------------------------------


def test_delete_where_rewrites_only_affected_files(spark, tbl):
    """DELETE rewrites exactly the files containing a match — a
    partition-column predicate prunes at file level, so untouched
    partitions keep their ORIGINAL physical files (the jar's DELETE
    planner does the same remove+add pruning, delta.io PROTOCOL.md)."""
    df = _mk(spark, [(i, f"n{i}", i % 3) for i in range(30)])
    dl.write_delta(df, tbl, mode="overwrite", partition_by=["grp"])
    before = {f.path for f in dl.snapshot(tbl).files}
    v = dl.delete_where(spark, tbl, "grp = 1 and id < 10")
    assert v == 1
    snap = dl.snapshot(tbl)
    after = {f.path for f in snap.files}
    # pruning is per FILE-containing-a-match: everything outside grp=1
    # is untouched, and every removed file sat in grp=1
    untouched_before = {p for p in before if "grp=1" not in p}
    assert untouched_before <= after
    removed = before - after
    assert removed and all("grp=1" in p for p in removed)
    out = dl.read_delta(spark, tbl)
    assert sorted(r.id for r in out.collect()) == [
        i for i in range(30) if not (i % 3 == 1 and i < 10)
    ]
    # history intact: version 0 still has all rows
    assert dl.read_delta(spark, tbl, version_as_of=0).count() == 30


def test_delete_where_null_predicate_rows_survive(spark, tbl):
    df = spark.createDataFrame(
        [(1, None), (2, 5), (3, 20)], "id int, score int"
    )
    dl.write_delta(df, tbl, mode="overwrite")
    dl.delete_where(spark, tbl, "score > 10")
    assert sorted(r.id for r in dl.read_delta(spark, tbl).collect()) == [1, 2]


def test_delete_where_no_match_no_commit_and_full_file_delete(spark, tbl):
    df = _mk(spark, [(i, "x", 0) for i in range(4)])
    dl.write_delta(df, tbl, mode="overwrite")
    assert dl.delete_where(spark, tbl, "id > 99") is None
    assert dl.latest_version(tbl) == 0
    # deleting EVERY row of the only file leaves a live, empty table
    assert dl.delete_where(spark, tbl, "id >= 0") == 1
    assert dl.read_delta(spark, tbl).count() == 0
    assert dl.snapshot(tbl).files == []


def test_update_where_pruned_cow(spark, tbl):
    """UPDATE rewrites only match-containing files; matched rows take the
    assignment (evaluated over the PRE-update row), neighbors pass
    through; a partition-column assignment moves rows across partitions."""
    df = _mk(spark, [(i, f"n{i}", i % 3) for i in range(12)])
    dl.write_delta(df, tbl, mode="overwrite", partition_by=["grp"])
    before = {f.path for f in dl.snapshot(tbl).files}
    v = dl.update_where(
        spark, tbl, "grp = 1 and id < 7", {"name": "concat(name, '!')", "id": "id + 100"}
    )
    assert v == 1
    out = {r.id: r for r in dl.read_delta(spark, tbl).collect()}
    assert 101 in out and out[101].name == "n1!"  # pre-update row fed the expr
    assert 4 not in out and 104 in out
    assert out[2].name == "n2" and out[0].name == "n0"  # untouched
    removed = {p for p in before if p not in {f.path for f in dl.snapshot(tbl).files}}
    assert removed and all("grp=1" in p for p in removed)
    # partition move: send grp 2 rows to grp 9
    dl.update_where(spark, tbl, "grp = 2", {"grp": "9"})
    moved = dl.read_delta(spark, tbl).filter("grp = 9").count()
    assert moved == 4
    assert dl.read_delta(spark, tbl).filter("grp = 2").count() == 0
    with __import__("pytest").raises(ValueError, match="unknown columns"):
        dl.update_where(spark, tbl, "true", {"nope": "1"})
    assert dl.update_where(spark, tbl, "id > 9999", {"name": "'x'"}) is None


def test_merge_upsert_pruned(spark, tbl):
    """MERGE: matched keys take the source row, new keys insert, only
    collision-containing files rewrite; an all-new-keys merge is a pure
    append (zero rewrites)."""
    dl.write_delta(
        _mk(spark, [(i, f"n{i}", i % 2) for i in range(8)]), tbl,
        mode="overwrite", partition_by=["grp"],
    )
    before = {f.path for f in dl.snapshot(tbl).files}
    src = _mk(spark, [(1, "UP1", 1), (3, "UP3", 1), (100, "NEW", 0)])
    v = dl.merge_upsert(spark, tbl, src, ["id"])
    assert v == 1
    out = {r.id: r.name for r in dl.read_delta(spark, tbl).collect()}
    assert out[1] == "UP1" and out[3] == "UP3" and out[100] == "NEW"
    assert out[0] == "n0" and len(out) == 9
    removed = before - {f.path for f in dl.snapshot(tbl).files}
    assert removed and all("grp=1" in p for p in removed)  # 1,3 live in grp=1
    # all-new keys: no file rewrites, just an append
    before2 = {f.path for f in dl.snapshot(tbl).files}
    dl.merge_upsert(spark, tbl, _mk(spark, [(200, "N2", 0)]), ["id"])
    assert before2 <= {f.path for f in dl.snapshot(tbl).files}
    assert dl.read_delta(spark, tbl).count() == 10
    with pytest.raises(ValueError, match="MERGE keys"):
        dl.merge_upsert(spark, tbl, src, ["nope"])


def test_table_history_and_vacuum(spark, tbl):
    """DESCRIBE HISTORY rows track the DML sequence; VACUUM(0) deletes
    exactly the unreferenced data + DV files, after which time travel
    beyond the current version is physically gone but the current read
    is intact."""
    dl.write_delta(_mk(spark, [(i, f"n{i}", 0) for i in range(6)]).coalesce(1),
                   tbl, mode="overwrite")
    dl.delete_where(spark, tbl, "id = 0", use_dvs=True)   # DV file
    dl.delete_where(spark, tbl, "id = 1")                 # COW: clears the DV
    dl.update_where(spark, tbl, "id = 2", {"name": "'X'"})
    dl.merge_upsert(spark, tbl, _mk(spark, [(9, "m", 0)]).coalesce(1), ["id"])
    hist = {r.version: r for r in dl.table_history(spark, tbl).collect()}
    assert [hist[v].operation for v in range(5)] == [
        "OVERWRITE", "DELETE", "DELETE", "UPDATE", "MERGE"
    ]
    assert hist[1].n_removed_files == 1 and hist[1].n_added_files == 1  # DV re-add
    assert json.loads(hist[2].operationParameters)["predicate"] == "id = 1"
    n = dl.vacuum(spark, tbl, retention_ms=0, dry_run=True)
    assert n > 0
    assert dl.vacuum(spark, tbl, retention_ms=0) == n
    out = {r.id: r.name for r in dl.read_delta(spark, tbl).collect()}
    assert out == {2: "X", 3: "n3", 4: "n4", 5: "n5", 9: "m"}
    # pre-vacuum versions now reference deleted files
    with pytest.raises(Exception):
        dl.read_delta(spark, tbl, version_as_of=0).collect()


def test_schema_enforcement_and_merge_schema(spark, tbl):
    """Writes with mismatched columns reject (delta's default); with
    merge_schema=True new columns evolve the metaData and old files read
    them back as null; type changes always reject."""
    dl.write_delta(_mk(spark, [(1, "a", 0)]).coalesce(1), tbl, mode="overwrite")
    wide = spark.createDataFrame(
        [(2, "b", 1, 9.5)], "id int, name string, grp int, score double"
    )
    with pytest.raises(ValueError, match="new columns.*score"):
        dl.write_delta(wide, tbl, mode="append")
    narrow = spark.createDataFrame([(3, "c")], "id int, name string")
    with pytest.raises(ValueError, match="absent columns"):
        dl.write_delta(narrow, tbl, mode="append")
    retyped = spark.createDataFrame([(4, "d", 2)], "id int, name string, grp long")
    with pytest.raises(ValueError, match="type changes"):
        dl.write_delta(retyped, tbl, mode="append", merge_schema=True)
    v = dl.write_delta(wide.coalesce(1), tbl, mode="append", merge_schema=True)
    assert v == 1
    out = dl.read_delta(spark, tbl)
    assert [f.name for f in out.schema.fields] == ["id", "name", "grp", "score"]
    rows = {r.id: r for r in out.collect()}
    assert rows[1].score is None and rows[2].score == 9.5  # old file → null


def test_data_skipping_prunes_file_list(spark, tbl):
    """File-level data skipping from add-action min/max stats: a
    skippable predicate shrinks the PLANNED file list (inputFiles), the
    result equals the unpruned filter exactly, and partition values
    participate as exact min==max intervals. Unsafe predicate shapes
    (OR) prune nothing but stay correct."""
    parts = []
    for lo in (0, 100, 200):  # three files with disjoint id ranges
        parts.append(
            spark.range(lo, lo + 50).selectExpr(
                "CAST(id AS INT) id", "CAST(id % 2 AS INT) grp"
            ).coalesce(1)
        )
    dl.write_delta(parts[0], tbl, mode="overwrite")
    for p in parts[1:]:
        dl.write_delta(p, tbl, mode="append")
    total_files = len(dl.snapshot(tbl).files)
    assert total_files >= 3
    # stats landed in the log
    st = json.loads(dl.snapshot(tbl).files[0].stats)
    assert "minValues" in st and "id" in st["minValues"]

    pruned = dl.read_delta(spark, tbl, where="id >= 200")
    assert len(pruned.inputFiles()) < total_files
    assert sorted(r.id for r in pruned.collect()) == list(range(200, 250))
    eq = dl.read_delta(spark, tbl, where="id = 123 and grp = 1")
    assert len(eq.inputFiles()) == 1
    assert [r.id for r in eq.collect()] == [123]
    # string literals prune too
    dl.write_delta(
        spark.createDataFrame([("aa", 1), ("bb", 2)], "name string, n int")
        .coalesce(1),
        str(tbl) + "_s", mode="overwrite",
    )
    s = dl.read_delta(spark, str(tbl) + "_s", where="name = 'zz'")
    assert s.count() == 0
    # OR is not skippable: full file list, correct rows
    ored = dl.read_delta(spark, tbl, where="id = 1 or id = 249")
    assert len(ored.inputFiles()) == total_files
    assert sorted(r.id for r in ored.collect()) == [1, 249]


def test_data_skipping_with_partition_values(spark, tbl):
    df = spark.range(0, 40).selectExpr(
        "CAST(id AS INT) id", "CAST(id % 4 AS INT) grp"
    )
    dl.write_delta(df, tbl, mode="overwrite", partition_by=["grp"])
    total = len(dl.snapshot(tbl).files)
    pruned = dl.read_delta(spark, tbl, where="grp = 2")
    assert len(pruned.inputFiles()) < total
    assert sorted(r.id for r in pruned.collect()) == list(range(2, 40, 4))


def test_change_data_feed_full_lifecycle(spark, tbl):
    """table_changes: inserts derive from append adds; DELETE / UPDATE /
    MERGE commits are described by their cdc files (pre/post images);
    overwrite derives deletes by re-reading the removed files with their
    remove-action partitionValues."""
    df = _mk(spark, [(i, f"n{i}", i % 2) for i in range(6)])
    dl.write_delta(df.coalesce(1), tbl, mode="overwrite", partition_by=["grp"])
    dl.delete_where(spark, tbl, "id = 0")                       # v1 COW
    dl.delete_where(spark, tbl, "id = 1", use_dvs=True)         # v2 DV
    dl.update_where(spark, tbl, "id = 2", {"name": "'UP'"})     # v3
    dl.merge_upsert(
        spark, tbl, _mk(spark, [(3, "M3", 1), (9, "NEW", 1)]).coalesce(1),
        ["id"],
    )                                                            # v4
    ch = dl.table_changes(spark, tbl, 0)
    assert set(ch.columns) == {
        "id", "name", "grp", "_change_type", "_commit_version",
        "_commit_timestamp",
    }
    rows = [(r.id, r._change_type, r._commit_version) for r in ch.collect()]
    assert (0, "insert", 0) in rows and len(
        [r for r in rows if r[2] == 0]) == 6
    assert (0, "delete", 1) in rows
    assert (1, "delete", 2) in rows
    assert (2, "update_preimage", 3) in rows
    assert (2, "update_postimage", 3) in rows
    v4 = {(r[0], r[1]) for r in rows if r[2] == 4}
    assert v4 == {(3, "update_preimage"), (3, "update_postimage"),
                  (9, "insert")}
    names = {(r.id, r._commit_version): r.name for r in ch.collect()}
    assert names[(2, 3)] in ("n2", "UP")  # both images present
    pre = [r for r in ch.collect()
           if r.id == 2 and r._change_type == "update_preimage"]
    assert pre[0].name == "n2"
    # version-range slicing
    assert dl.table_changes(spark, tbl, 3, 3).count() == 2
    # a table-replacing overwrite derives deletes from removed files
    dl.write_delta(_mk(spark, [(99, "z", 0)]).coalesce(1), tbl,
                   mode="overwrite", partition_by=["grp"])
    last = dl.latest_version(tbl)
    ov = dl.table_changes(spark, tbl, last, last)
    kinds = {(r.id, r._change_type) for r in ov.collect()}
    assert (99, "insert") in kinds
    assert all(k[1] in ("insert", "delete") for k in kinds)
    deleted_grps = {r.grp for r in ov.collect() if r._change_type == "delete"}
    assert deleted_grps <= {0, 1} and deleted_grps  # partition cols typed


def test_data_skipping_never_loses_rows_randomized(spark, tbl):
    """Property: for ANY predicate, the pruned read equals the unpruned
    read + row filter exactly — a wrong file prune would silently LOSE
    rows, the worst failure mode a scan optimization can have."""
    import random

    rng = random.Random(8)
    for lo in (0, 77, 200, 1000):
        df = spark.range(lo, lo + 60).selectExpr(
            "CAST(id AS INT) id",
            "CAST(id % 7 AS INT) grp",
            "CONCAT('s', LPAD(CAST(id AS STRING), 5, '0')) tag",
        ).coalesce(1)
        dl.write_delta(df, tbl, mode="overwrite" if lo == 0 else "append")
    full = dl.read_delta(spark, tbl)
    ops = ["<", "<=", "=", ">", ">="]
    preds = []
    for _ in range(24):
        kind = rng.randrange(3)
        if kind == 0:
            preds.append(f"id {rng.choice(ops)} {rng.randrange(-5, 1100)}")
        elif kind == 1:
            preds.append(
                f"id {rng.choice(ops)} {rng.randrange(0, 300)} and "
                f"grp {rng.choice(ops)} {rng.randrange(0, 7)}"
            )
        else:
            preds.append(f"tag {rng.choice(ops)} 's{rng.randrange(1100):05d}'")
    preds += ["id = 77", "id < 0", "id >= 1059", "tag = 's00205'",
              "grp = 3 and id > 994"]
    for p in preds:
        expect = sorted(r.id for r in full.filter(p).collect())
        got = sorted(r.id for r in dl.read_delta(spark, tbl, where=p).collect())
        assert got == expect, f"prune lost/invented rows for {p!r}"


# ---------------------------------------------------------------------------
# RESTORE (round 9)
# ---------------------------------------------------------------------------


def test_restore_rolls_back_as_a_new_commit(spark, tbl):
    df = _mk(spark, [(i, f"n{i}", i % 3) for i in range(12)])
    dl.write_delta(df.coalesce(1), tbl, mode="overwrite", partition_by=["grp"])
    dl.delete_where(spark, tbl, "id < 4")                     # v1
    dl.write_delta(_mk(spark, [(99, "x", 0)]).coalesce(1), tbl,
                   partition_by=["grp"])                      # v2
    assert dl.read_delta(spark, tbl).count() == 9
    v = dl.restore_table(spark, tbl, 0)
    assert v == 3  # history is append-only: the rollback IS a commit
    out = dl.read_delta(spark, tbl)
    assert sorted(r.id for r in out.collect()) == list(range(12))
    # the bad states stay time-travelable until vacuum
    assert dl.read_delta(spark, tbl, version_as_of=2).count() == 9
    # restore forward again works too (v2 state)
    dl.restore_table(spark, tbl, 2)
    assert sorted(r.id for r in dl.read_delta(spark, tbl).collect()) == [
        4, 5, 6, 7, 8, 9, 10, 11, 99,
    ]
    ops = [r.operation for r in dl.table_history(spark, tbl).collect()]
    assert ops.count("RESTORE") == 2


def test_restore_rolls_back_dv_state_and_schema(spark, tbl):
    df = _mk(spark, [(i, f"n{i}", i % 3) for i in range(8)])
    dl.write_delta(df.coalesce(1), tbl, mode="overwrite")
    dl.delete_where(spark, tbl, "id = 1", use_dvs=True)       # v1: DV
    dl.delete_where(spark, tbl, "id = 2", use_dvs=True)       # v2: DV union
    assert dl.read_delta(spark, tbl).count() == 6
    # restore to v1: same physical file, OLDER deletion vector
    dl.restore_table(spark, tbl, 1)
    assert sorted(r.id for r in dl.read_delta(spark, tbl).collect()) == [
        0, 2, 3, 4, 5, 6, 7,
    ]
    # restore to v0: no DV at all
    dl.restore_table(spark, tbl, 0)
    assert dl.read_delta(spark, tbl).count() == 8
    # schema/config roll back too: restore across a rename
    dl.enable_column_mapping(tbl)
    dl.rename_column(tbl, "name", "title")
    assert dl.read_delta(spark, tbl).columns == ["id", "title", "grp"]
    dl.restore_table(spark, tbl, 4)  # the pre-mapping restored state
    assert dl.read_delta(spark, tbl).columns == ["id", "name", "grp"]


def test_restore_refuses_past_vacuumed_files(spark, tbl):
    df = _mk(spark, [(i, "x", 0) for i in range(6)])
    dl.write_delta(df.coalesce(1), tbl, mode="overwrite")
    dl.write_delta(df.coalesce(1), tbl, mode="overwrite")  # v1 tombstones v0
    dl.vacuum(spark, tbl, retention_ms=0)                  # v0 files die
    with pytest.raises(ValueError, match="VACUUM already deleted"):
        dl.restore_table(spark, tbl, 0)


# ---------------------------------------------------------------------------
# CONVERT TO DELTA (round 9)
# ---------------------------------------------------------------------------


def test_convert_to_delta_in_place(spark, tmp_path):
    """A plain hive-partitioned parquet directory becomes a delta table
    with ZERO data rewrite: same bytes (collision renames are pure
    filesystem metadata), footer-harvested stats so skipping works from
    commit zero, and the converted table is fully delta (DML works)."""
    d = str(tmp_path / "lake")
    df = _mk(spark, [(i, f"n{i}", i % 3) for i in range(30)])
    df.write.partitionBy("grp").parquet(d)
    import hashlib

    def content_hashes():
        out = set()
        for root, _dirs, names in os.walk(d):
            if "_delta_log" in root:
                continue
            for n in names:
                if n.endswith(".parquet"):
                    out.add(hashlib.md5(
                        open(os.path.join(root, n), "rb").read()
                    ).hexdigest())
        return out

    before = content_hashes()
    v = dl.convert_to_delta(spark, d, partition_by=["grp"],
                            partition_schema="grp int")
    assert v == 0
    assert content_hashes() == before  # zero bytes rewritten
    out = dl.read_delta(spark, d)
    assert {(r.id, r.grp) for r in out.collect()} == {
        (i, i % 3) for i in range(30)
    }
    # stats harvested at convert time: data skipping from commit zero
    total = len(dl.read_delta(spark, d).inputFiles())
    pruned = dl.read_delta(spark, d, where="id < 3")
    assert len(pruned.inputFiles()) < total
    # full delta from here: DML, constraints
    dl.delete_where(spark, d, "id = 0")
    assert dl.read_delta(spark, d).count() == 29
    dl.merge_upsert(
        spark, d, _mk(spark, [(99, "m", 0)]), ["id"]
    )
    assert dl.read_delta(spark, d).count() == 30
    with pytest.raises(ValueError, match="already a delta table"):
        dl.convert_to_delta(spark, d, partition_by=["grp"],
                            partition_schema="grp int")


def test_convert_guards(spark, tmp_path):
    d = str(tmp_path / "flat")
    _mk(spark, [(1, "a", 0)]).drop("grp").write.parquet(d)
    dl.convert_to_delta(spark, d)  # unpartitioned needs no schema
    assert dl.read_delta(spark, d).count() == 1
    d2 = str(tmp_path / "p")
    _mk(spark, [(1, "a", 0)]).write.partitionBy("grp").parquet(d2)
    with pytest.raises(ValueError, match="partition_schema"):
        dl.convert_to_delta(spark, d2, partition_by=["grp"])
    with pytest.raises(ValueError, match="no parquet files"):
        dl.convert_to_delta(spark, str(tmp_path / "empty"))
