"""Delta column defaults (round-14 order item 4 — the delta half of the
iceberg ``add_column(default=)`` DDL; PROTOCOL.md §Column Default Values,
the ``allowColumnDefaults`` writer feature).

Contract: ``add_column(path, name, type, default=)`` is a metadata-only
commit that installs the feature and stamps CURRENT_DEFAULT /
EXISTS_DEFAULT into the field metadata. Reads substitute EXISTS_DEFAULT
for files that physically predate the column (footer-verified, stats as
positive evidence — the same rule as the iceberg side); writes that OMIT
the column fill CURRENT_DEFAULT; row-level DML predicates see the
defaults; tables carrying the metadata WITHOUT the feature flag refuse.
"""

from __future__ import annotations

import json
import os
import uuid as _uuid

import pytest

from spark_etl_framework_spark.sources import deltalog as dl


@pytest.fixture()
def loc(tmp_path):
    return str(tmp_path / "t")


def _write(spark, loc, rows, mode="append", **kw):
    df = spark.createDataFrame(rows, "id int, s string")
    return dl.write_delta(df.coalesce(1), loc, mode=mode, **kw)


def test_add_column_metadata_only(spark, loc):
    _write(spark, loc, [(1, "a")], mode="overwrite")
    v0 = dl.latest_version(loc)
    n_files = len(dl.snapshot(loc).files)
    dl.add_column(loc, "extra", "bigint")
    assert dl.latest_version(loc) == v0 + 1
    snap = dl.snapshot(loc)
    assert len(snap.files) == n_files  # zero data bytes moved
    got = dl.read_delta(spark, loc).collect()
    assert got[0].extra is None  # plain late-added column reads null


def test_add_column_default_end_to_end(spark, loc):
    _write(spark, loc, [(0, "a"), (1, "b")], mode="overwrite")
    dl.add_column(loc, "grade", "int", default=5)
    snap = dl.snapshot(loc)
    assert "allowColumnDefaults" in snap.protocol["writerFeatures"]
    # pre-existing rows read EXISTS_DEFAULT
    got = {r.id: r.grade for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: 5, 1: 5}
    # a write that OMITS the column fills CURRENT_DEFAULT
    dl.write_delta(
        spark.createDataFrame([(10, "x")], "id int, s string").coalesce(1),
        loc,
    )
    # a write WITH the column keeps explicit values, including null
    dl.write_delta(
        spark.createDataFrame(
            [(11, "y", 9), (12, "z", None)], "id int, s string, grade int"
        ).coalesce(1),
        loc,
    )
    got = {r.id: r.grade for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: 5, 1: 5, 10: 5, 11: 9, 12: None}


def test_dml_sees_defaults(spark, loc):
    _write(spark, loc, [(0, "a"), (1, "b")], mode="overwrite")
    dl.add_column(loc, "grade", "int", default=5)
    dl.write_delta(
        spark.createDataFrame(
            [(10, "x", 1)], "id int, s string, grade int"
        ).coalesce(1), loc,
    )
    # the defaulted value must match exactly the pre-addition rows
    dl.update_where(spark, loc, "grade = 5", {"s": "'D'"})
    got = {r.id: (r.s, r.grade) for r in dl.read_delta(spark, loc).collect()}
    assert got[0] == ("D", 5) and got[1] == ("D", 5)
    assert got[10] == ("x", 1)
    # and after the COW rewrite materialized the column, reads still agree
    dl.delete_where(spark, loc, "grade = 1")
    assert sorted(
        r.id for r in dl.read_delta(spark, loc).collect()
    ) == [0, 1]


def test_string_default_with_quote(spark, loc):
    _write(spark, loc, [(0, "a")], mode="overwrite")
    dl.add_column(loc, "tag", "string", default="it's")
    got = dl.read_delta(spark, loc).collect()
    assert got[0].tag == "it's"


def test_unsupported_default_type_refuses(spark, loc):
    _write(spark, loc, [(0, "a")], mode="overwrite")
    with pytest.raises(ValueError, match="not implemented"):
        dl.add_column(loc, "d", "date", default=19000)


def test_duplicate_column_refuses(spark, loc):
    _write(spark, loc, [(0, "a")], mode="overwrite")
    with pytest.raises(ValueError, match="already exists"):
        dl.add_column(loc, "s", "string")


def test_defaults_without_feature_refuse(spark, loc):
    """A foreign table carrying CURRENT_DEFAULT/EXISTS_DEFAULT metadata
    whose protocol never declared allowColumnDefaults is ill-formed —
    reading would guess at semantics the writer never promised."""
    from pyspark.sql import types as T

    _write(spark, loc, [(0, "a")], mode="overwrite")
    snap = dl.snapshot(loc)
    bad = T.StructType(
        list(snap.schema.fields)
        + [T.StructField(
            "grade", T.IntegerType(), True,
            {"CURRENT_DEFAULT": "5", "EXISTS_DEFAULT": "5"},
        )]
    )
    dl._commit_metadata_change(
        loc, snap, bad, snap.partition_columns, dict(snap.configuration),
        "ADD COLUMNS", {},
    )
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="allowColumnDefaults"):
        dl.read_delta(spark, loc).collect()


def test_optimize_materializes_defaults(spark, loc):
    """Compaction rewrites pre-addition rows THROUGH the defaulted scan,
    so the compacted file materializes the column — and the absence map
    (footer-checked) stops naming it."""
    _write(spark, loc, [(0, "a")], mode="overwrite")
    _write(spark, loc, [(1, "b")])
    dl.add_column(loc, "grade", "int", default=5)
    dl.optimize_compact(spark, loc, min_files=2)
    got = {r.id: r.grade for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: 5, 1: 5}
    snap = dl.snapshot(loc)
    import pyarrow.parquet as pq

    live_cols = {
        c
        for f in snap.files
        for c in pq.ParquetFile(
            os.path.join(loc, f.path)
        ).schema_arrow.names
    }
    assert "grade" in live_cols  # physically materialized by the rewrite


def test_streaming_substitutes_defaults(spark, loc):
    from spark_etl_framework_spark.sources.deltalog import DeltaLogDataSource
    from spark_etl_framework_spark.sources.pysource import (
        register_python_source,
    )

    _write(spark, loc, [(0, "a"), (1, "b")], mode="overwrite")
    dl.add_column(loc, "grade", "int", default=5)
    dl.write_delta(
        spark.createDataFrame(
            [(10, "x", 1), (11, "y", None)], "id int, s string, grade int"
        ).coalesce(1), loc,
    )
    register_python_source(spark, DeltaLogDataSource)
    qn = f"dcd_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("deltalog").option("path", loc).load()
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.id, r.grade) for r in spark.sql(f"select * from {qn}").collect()
    )
    batch = sorted(
        (r.id, r.grade) for r in dl.read_delta(spark, loc).collect()
    )
    assert got == batch == [(0, 5), (1, 5), (10, 1), (11, None)]


def test_stats_positive_evidence_only(spark, loc):
    """A stats JSON that omits the defaulted column (metrics cap /
    suppression) on a file that PHYSICALLY carries it must read stored
    values — footer fallback, mirroring the iceberg round-14 fix."""
    _write(spark, loc, [(0, "a")], mode="overwrite")
    dl.add_column(loc, "grade", "int", default=5)
    dl.write_delta(
        spark.createDataFrame(
            [(10, "x", 1)], "id int, s string, grade int"
        ).coalesce(1), loc,
    )
    # foreign-edit the last commit: strip grade from every stats map
    v = dl.latest_version(loc)
    p = dl._commit_path(loc, v)
    lines = []
    with open(p, encoding="utf-8") as fh:
        for line in fh:
            act = json.loads(line)
            if "add" in act and act["add"].get("stats"):
                st = json.loads(act["add"]["stats"])
                for key in ("minValues", "maxValues", "nullCount"):
                    (st.get(key) or {}).pop("grade", None)
                act["add"]["stats"] = json.dumps(st)
            lines.append(json.dumps(act))
    os.remove(p)
    with open(p, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    got = {r.id: r.grade for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: 5, 10: 1}  # stored value survives suppression


def _count_footer_reads(monkeypatch):
    """Monkeypatch pyarrow.parquet.ParquetFile with a counting wrapper.
    Counts DATA file footers only — checkpoint parquet replays under
    _delta_log are log reads, not the absence probe under test."""
    import pyarrow.parquet as pq

    calls = {"n": 0}
    real = pq.ParquetFile

    def counting(*a, **kw):
        if a and isinstance(a[0], str) and "_delta_log" not in a[0]:
            calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    return calls


def test_log_vintage_decides_absence_without_footer_reads(
    spark, loc, monkeypatch
):
    """Round-15 order 2 pin: files the LOG can date never cost a parquet
    footer read. The pre-DDL file (dataChange=true add at v0 < the
    EXISTS_DEFAULT arrival at v1) is absent by vintage; the post-DDL
    file (v2 >= v1) is present by vintage even when its stats suppress
    the column — the jar decides the same question from the log
    (etl/source/DeltaReader.scala:10-27)."""
    _write(spark, loc, [(0, "a")], mode="overwrite")            # v0
    dl.add_column(loc, "grade", "int", default=5)               # v1
    dl.write_delta(                                             # v2
        spark.createDataFrame(
            [(10, "x", 1)], "id int, s string, grade int"
        ).coalesce(1), loc,
    )
    # strip grade from the v2 stats so stats-positive-evidence can't
    # answer — only the vintage tier stands between us and a footer read
    v = dl.latest_version(loc)
    p = dl._commit_path(loc, v)
    lines = []
    with open(p, encoding="utf-8") as fh:
        for line in fh:
            act = json.loads(line)
            if "add" in act and act["add"].get("stats"):
                st = json.loads(act["add"]["stats"])
                for key in ("minValues", "maxValues", "nullCount"):
                    (st.get(key) or {}).pop("grade", None)
                act["add"]["stats"] = json.dumps(st)
            lines.append(json.dumps(act))
    with open(p, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    snap = dl.snapshot(loc)
    assert snap.default_since.get("grade") == 1
    calls = _count_footer_reads(monkeypatch)
    got = {r.id: r.grade for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: 5, 10: 1}
    assert calls["n"] == 0  # both files decided from the log alone


def _strip_arrival_stamp(loc, version):
    """Foreign-edit commit ``version``: drop the engine-native
    spark_etl.defaults.addedVersion stamp from the metaData's field
    metadata — the shape a jar-written defaulted table has."""
    p = dl._commit_path(loc, version)
    lines = []
    with open(p, encoding="utf-8") as fh:
        for line in fh:
            act = json.loads(line)
            if "metaData" in act:
                sch = json.loads(act["metaData"]["schemaString"])
                for f in sch["fields"]:
                    (f.get("metadata") or {}).pop(
                        "spark_etl.defaults.addedVersion", None
                    )
                act["metaData"]["schemaString"] = json.dumps(sch)
            lines.append(json.dumps(act))
    with open(p, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")


def test_native_arrival_stamp_survives_checkpoint(spark, loc, monkeypatch):
    """The field-metadata arrival stamp (the delta.typeChanges
    tableVersion precedent) rides the checkpoint's restated metaData, so
    a replay that lost every commit json still dates the default
    EXACTLY. On a row-tracked table the checkpoint also preserves each
    file's defaultRowCommitVersion — vintage d < arrival decides the
    pre-DDL file absent with ZERO footer reads even after cleanup (the
    100 TB shape: checkpointed million-file table, first post-DDL
    read)."""
    _write(spark, loc, [(0, "a")], mode="overwrite")        # v0
    dl.enable_row_tracking(spark, loc)                      # v1 (backfill)
    dl.add_column(loc, "grade", "int", default=5)           # v2
    dl.write_delta(
        spark.createDataFrame([(1, "b", 2)], "id int, s string, grade int")
        .coalesce(1), loc,
    )                                                       # v3
    dl.write_checkpoint_v2(loc)
    dl.clean_log(loc, expire_checkpoints=True)
    snap = dl.snapshot(loc)
    assert snap.default_since.get("grade") == 2  # exact via the stamp
    assert all(f.data_vintage is not None for f in snap.files)  # drcv
    calls = _count_footer_reads(monkeypatch)
    got = {r.id: r.grade for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: 5, 1: 2}
    assert calls["n"] == 0


def test_undatable_files_still_footer_checked(spark, loc, monkeypatch):
    """A FOREIGN defaulted table (no engine arrival stamp) whose log was
    checkpointed + cleaned keeps only an upper bound on the arrival —
    undatable files fall back to (pooled) footer reads and the answers
    stay right. The fallback is the jar-written/convert/clone-import
    path."""
    _write(spark, loc, [(0, "a")], mode="overwrite")
    dl.add_column(loc, "grade", "int", default=5)
    _strip_arrival_stamp(loc, dl.latest_version(loc))
    dl.write_delta(
        spark.createDataFrame([(1, "b", 2)], "id int, s string, grade int")
        .coalesce(1), loc,
    )
    dl.write_checkpoint_v2(loc)
    dl.clean_log(loc, expire_checkpoints=True)
    snap = dl.snapshot(loc)
    assert "grade" not in snap.default_since  # exact date lost
    assert snap.default_since_ub.get("grade") is not None
    calls = _count_footer_reads(monkeypatch)
    got = {r.id: r.grade for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: 5, 1: 2}
    assert calls["n"] >= 1  # the pre-DDL file had to be footer-verified


@pytest.mark.parametrize("checkpoint", ["none", "before", "after"])
def test_row_tracking_backfill_keeps_default_vintage(spark, loc, checkpoint):
    """enable_row_tracking restates every live file with the enabling
    version as its defaultRowCommitVersion; the bytes keep their own
    vintage, so rows written before an ADD COLUMN DEFAULT still read
    EXISTS_DEFAULT and later rows keep their stored values, genuine
    nulls included — with no checkpoint, or one (plus log cleanup)
    before or after the enablement."""
    _write(spark, loc, [(0, "a")], mode="overwrite")            # v0
    dl.add_column(loc, "grade", "int", default=5)               # v1
    dl.write_delta(
        spark.createDataFrame(
            [(1, "b", None), (2, "c", 7)], "id int, s string, grade int"
        ).coalesce(1), loc,
    )                                                           # v2
    if checkpoint == "before":
        dl.write_checkpoint_v2(loc)
        dl.clean_log(loc, expire_checkpoints=True)
    v_en = dl.enable_row_tracking(spark, loc)                   # v3
    if checkpoint == "after":
        dl.write_checkpoint_v2(loc)
        dl.clean_log(loc, expire_checkpoints=True)
    want = {0: 5, 1: None, 2: 7}
    got = {r.id: r.grade for r in dl.read_delta(spark, loc).collect()}
    assert got == want
    rows = dl.read_delta_with_row_ids(spark, loc).collect()
    assert {r.id: r.grade for r in rows} == want
    assert {r._row_commit_version for r in rows} == {v_en}


def test_shallow_clone_keeps_default_vintage(spark, loc, tmp_path):
    """A shallow clone reads what its source reads. The clone's adds
    keep the source's defaultRowCommitVersion (so _row_commit_version
    carries over), but those count SOURCE versions, which cannot date
    the bytes against the clone's own defaults arrival: rows written
    before ADD COLUMN DEFAULT still read EXISTS_DEFAULT."""
    _write(spark, loc, [(0, "a")], mode="overwrite")            # v0
    dl.add_column(loc, "grade", "int", default=5)               # v1
    dl.write_delta(
        spark.createDataFrame(
            [(1, "b", None), (2, "c", 7)], "id int, s string, grade int"
        ).coalesce(1), loc,
    )                                                           # v2
    dl.enable_row_tracking(spark, loc)                          # v3
    dst = str(tmp_path / "clone")
    dl.shallow_clone(spark, loc, dst)

    def rows(path):
        return sorted(
            (r.id, r.grade, r._row_commit_version)
            for r in dl.read_delta_with_row_ids(spark, path).collect()
        )

    assert [r[:2] for r in rows(loc)] == [(0, 5), (1, None), (2, 7)]
    assert rows(dst) == rows(loc)
    assert sorted(
        (r.id, r.grade) for r in dl.read_delta(spark, dst).collect()
    ) == [(0, 5), (1, None), (2, 7)]


def test_dv_restatement_carries_vintage(spark, loc, monkeypatch):
    """A DV delete re-adds the SAME path (same bytes) — the file's data
    vintage carries through the restatement, so a stats-suppressed
    post-DDL file still needs no footer read after row-level deletes."""
    _write(spark, loc, [(0, "a")], mode="overwrite")            # v0
    dl.add_column(loc, "grade", "int", default=5)               # v1
    dl.write_delta(
        spark.createDataFrame(
            [(10, "x", 1), (11, "y", 2)], "id int, s string, grade int"
        ).coalesce(1), loc,
    )                                                           # v2
    # strip grade from the v2 stats (metrics suppression)
    p = dl._commit_path(loc, dl.latest_version(loc))
    lines = []
    with open(p, encoding="utf-8") as fh:
        for line in fh:
            act = json.loads(line)
            if "add" in act and act["add"].get("stats"):
                st = json.loads(act["add"]["stats"])
                for key in ("minValues", "maxValues", "nullCount"):
                    (st.get(key) or {}).pop("grade", None)
                act["add"]["stats"] = json.dumps(st)
            lines.append(json.dumps(act))
    with open(p, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    dl.delete_where(spark, loc, "id = 11", use_dvs=True)        # v3 DV
    snap = dl.snapshot(loc)
    assert all(f.data_vintage is not None for f in snap.files)
    calls = _count_footer_reads(monkeypatch)
    got = {r.id: r.grade for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: 5, 10: 1}
    assert calls["n"] == 0


def test_restore_readd_of_pre_ddl_file_stays_absent(
    spark, loc, monkeypatch
):
    """A RESTORE re-adds old bytes with dataChange=true at a commit
    AFTER the default arrived — the seen-paths guard refuses to stamp
    the restore's own version, and the path-vintage memory hands the
    re-add its ORIGINAL v0 vintage instead (paths are write-once
    bytes), so the pre-DDL rows keep reading EXISTS_DEFAULT with zero
    footer reads."""
    _write(spark, loc, [(0, "a")], mode="overwrite")            # v0
    dl.add_column(loc, "grade", "int", default=5)               # v1
    dl.delete_where(spark, loc, "id = 0")                       # v2
    assert dl.read_delta(spark, loc).count() == 0
    dl.restore_table(spark, loc, 1)                             # v3 re-add
    snap = dl.snapshot(loc)
    assert snap.default_since.get("grade") == 1
    assert [f.data_vintage for f in snap.files] == [0]  # original vintage
    calls = _count_footer_reads(monkeypatch)
    got = {r.id: r.grade for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: 5}
    assert calls["n"] == 0


def test_defaults_on_column_mapped_table(spark, loc):
    """Interplay: add_column-with-default on a column-MAPPED table gets
    a fresh mapping id + physical name, and the absence map keys on the
    PHYSICAL name — reads still substitute, renames don't break it."""
    df = spark.createDataFrame([(0, "a"), (1, "b")], "id int, s string")
    dl.write_delta(df.coalesce(1), loc, mode="overwrite",
                   column_mapping="name")
    dl.add_column(loc, "grade", "int", default=5)
    snap = dl.snapshot(loc)
    f = snap.schema["grade"]
    assert (f.metadata or {}).get("delta.columnMapping.physicalName")
    got = {r.id: r.grade for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: 5, 1: 5}
    # post-addition write stores under the physical name; read by logical
    dl.write_delta(
        spark.createDataFrame(
            [(10, "x", 1)], "id int, s string, grade int"
        ).coalesce(1), loc,
    )
    # rename the defaulted column — metadata-only; substitution follows
    dl.rename_column(loc, "grade", "score")
    got = {r.id: r.score for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: 5, 1: 5, 10: 1}
    # DML through the renamed defaulted column
    dl.update_where(spark, loc, "score = 5", {"s": "'D'"})
    got = {r.id: r.s for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: "D", 1: "D", 10: "x"}


def test_cdf_documents_null_for_pre_addition_commits(spark, loc):
    """table_changes projects the whole range onto the END schema with
    columns-added-later reading as NULL for earlier commits (the
    documented CDF rule) — the defaulted column follows that rule, not
    the batch-scan substitution; this pin records the divergence as
    deliberate."""
    _write(spark, loc, [(0, "a")], mode="overwrite")
    dl.add_column(loc, "grade", "int", default=5)
    dl.write_delta(
        spark.createDataFrame(
            [(10, "x", 1)], "id int, s string, grade int"
        ).coalesce(1), loc,
    )
    ch = dl.table_changes(spark, loc)
    got = {(r.id, r._change_type): r.grade for r in ch.collect()}
    assert got[(0, "insert")] is None  # CDF's documented null rule
    assert got[(10, "insert")] == 1


def test_defaults_and_uniform_mutually_refuse(spark, loc):
    """The iceberg mirror's v1 metadata cannot carry EXISTS_DEFAULT — a
    mirror reader would silently read null where delta reads the
    default. Both orders refuse (the DV-on-UniForm rule), and both
    messages name the v3-mirror upgrade path (initial-default/
    write-default) as the way out — round-15 order 7 pin."""
    _write(spark, loc, [(0, "a")], mode="overwrite")
    dl.enable_uniform(loc)
    with pytest.raises(ValueError, match="initial-default"):
        dl.add_column(loc, "grade", "int", default=5)
    # the non-defaulted ADD COLUMN stays allowed (nulls mirror fine)
    dl.add_column(loc, "extra", "int")
    loc2 = loc + "2"
    _write(spark, loc2, [(0, "a")], mode="overwrite")
    dl.add_column(loc2, "grade", "int", default=5)
    with pytest.raises(ValueError, match="initial-default"):
        dl.enable_uniform(loc2)


def test_merge_fills_omitted_defaulted_column(spark, loc):
    """MERGE with a source that OMITS the defaulted column fills
    CURRENT_DEFAULT — the write_delta rule applied to the merge source
    (previously an AnalysisException)."""
    _write(spark, loc, [(0, "a"), (1, "b")], mode="overwrite")
    dl.add_column(loc, "grade", "int", default=5)
    dl.merge_upsert(
        spark, loc,
        spark.createDataFrame([(1, "B"), (2, "c")], "id int, s string"),
        ["id"],
    )
    got = {r.id: (r.s, r.grade) for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: ("a", 5), 1: ("B", 5), 2: ("c", 5)}


def test_cdf_stream_nulls_for_pre_addition_commits(spark, loc):
    """Streaming CDF replaying commits from BEFORE an ADD COLUMN emits
    NULL for the late-added column (the batch table_changes rule —
    previously a KeyError killed the stream)."""
    from spark_etl_framework_spark.sources.deltalog import DeltaLogDataSource
    from spark_etl_framework_spark.sources.pysource import (
        register_python_source,
    )

    _write(spark, loc, [(0, "a")], mode="overwrite")
    dl.add_column(loc, "grade", "int", default=5)
    dl.write_delta(
        spark.createDataFrame([(10, "x", 1)], "id int, s string, grade int")
        .coalesce(1), loc,
    )
    register_python_source(spark, DeltaLogDataSource)
    qn = f"cdfd_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("deltalog").option("path", loc)
        .option("readChangeFeed", "true").load()
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.id, r._change_type): r.grade
        for r in spark.sql(f"select * from {qn}").collect()
    }
    assert got[(0, "insert")] is None  # pre-addition commit: null
    assert got[(10, "insert")] == 1


def test_defaults_survive_checkpoint_replay_and_clone(spark, loc):
    """The feature flag and the default metadata ride the checkpoint's
    restated protocol/metaData (replay from a cleaned log keeps both),
    and a shallow clone carries them — an omitted-column write on the
    CLONE fills the default too."""
    _write(spark, loc, [(0, "a")], mode="overwrite")
    dl.add_column(loc, "grade", "int", default=5)
    dl.write_delta(
        spark.createDataFrame([(1, "b", 2)], "id int, s string, grade int")
        .coalesce(1), loc,
    )
    dl.write_checkpoint_v2(loc)
    dl.clean_log(loc, expire_checkpoints=True)
    got = {r.id: r.grade for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: 5, 1: 2}
    snap = dl.snapshot(loc)
    assert "allowColumnDefaults" in (snap.protocol.get("writerFeatures") or [])
    tgt = loc + "_clone"
    dl.shallow_clone(spark, loc, tgt)
    dl.write_delta(
        spark.createDataFrame([(9, "z")], "id int, s string").coalesce(1),
        tgt,
    )
    got = {r.id: r.grade for r in dl.read_delta(spark, tgt).collect()}
    assert got == {0: 5, 1: 2, 9: 5}


def test_widen_defaulted_column(spark, loc):
    """Type widening composes with defaults: the widened column keeps
    CURRENT_DEFAULT/EXISTS_DEFAULT (cast to the wide type on read and
    on omitted-column writes)."""
    _write(spark, loc, [(0, "a")], mode="overwrite")
    dl.add_column(loc, "grade", "int", default=5)
    dl.widen_column_type(loc, "grade", "bigint")
    assert {r.id: r.grade for r in dl.read_delta(spark, loc).collect()} == {
        0: 5,
    }
    dl.write_delta(
        spark.createDataFrame([(9, "z")], "id int, s string").coalesce(1),
        loc,
    )
    got = {r.id: r.grade for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: 5, 9: 5}


def test_drop_feature_gates_on_default_metadata(spark, loc):
    """drop_feature('allowColumnDefaults') refuses while any field
    carries default metadata — dropping the flag would strand an
    ill-formed table whose reads refuse (the checkConstraints gate
    shape). After a DROP COLUMN removes the carrier, the drop goes
    through and reads work feature-less."""
    _write(spark, loc, [(0, "a")], mode="overwrite")
    dl.add_column(loc, "grade", "int", default=5)
    with pytest.raises(ValueError, match="CURRENT_DEFAULT"):
        dl.drop_feature(spark, loc, "allowColumnDefaults")
    # shed the carrier: DROP COLUMN (mapping required by delta's rule)
    dl.enable_column_mapping(loc)
    dl.drop_column(loc, "grade")
    dl.drop_feature(spark, loc, "allowColumnDefaults")
    snap = dl.snapshot(loc)
    assert "allowColumnDefaults" not in (
        snap.protocol.get("writerFeatures") or []
    )
    assert {r.id for r in dl.read_delta(spark, loc).collect()} == {0}


def test_defaults_vintage_random_lifecycle(spark, tmp_path):
    """Model-based randomized lifecycle for the round-15 log-vintage
    machinery (the tests/test_randomized_invariants.py pattern —
    fixed-seed adversarial sequences the corpus never shows): random
    interleavings of append / ADD COLUMN DEFAULT / DELETE / OPTIMIZE /
    checkpoint+clean / RESTORE, then a read (and a clone read) that must
    equal a driver-side dict model. Exercises every evidence tier: exact
    arrival (commit replay + field stamp), first-seen dataChange=true
    vintages, undated OPTIMIZE rewrites and RESTORE re-adds,
    checkpoint-restated metaData, clone stamp-stripping. RESTORE is
    schema-restoring: rolling back past the DDL drops the default and a
    later op may re-add it."""
    import random as _random

    from spark_etl_framework_spark.sources import deltalog as _dl

    for trial, seed in enumerate((11, 23, 37)):
        rng = _random.Random(seed)
        loc = str(tmp_path / f"t{trial}")
        next_id = 0
        has_default = False
        model: dict[int, object] = {}

        def _append(rows, with_grade, first=False):
            schema = (
                "id int, s string, grade int" if with_grade
                else "id int, s string"
            )
            _dl.write_delta(
                spark.createDataFrame(rows, schema).coalesce(1), loc,
                mode="overwrite" if first else "append",
            )

        rows = [(i, f"s{i}") for i in range(4)]
        _append(rows, with_grade=False, first=True)
        model = {i: None for i in range(4)}
        next_id = 4
        # (log_version, model snapshot, has_default) after each commit
        history = [(_dl.latest_version(loc), dict(model), has_default)]

        for _ in range(rng.randint(6, 9)):
            op = rng.choice(
                ["append", "ddl", "delete", "optimize", "checkpoint",
                 "restore"]
            )
            if op == "ddl":
                if has_default:
                    continue
                _dl.add_column(loc, "grade", "int", default=5)
                has_default = True
                # pre-existing rows now read EXISTS_DEFAULT
                model = {k: 5 if v is None else v for k, v in model.items()}
            elif op == "append":
                n = rng.randint(1, 3)
                ids = list(range(next_id, next_id + n))
                if has_default and rng.random() < 0.5:
                    rows = [
                        (i, f"x{i}", rng.choice([None, 1, 2])) for i in ids
                    ]
                    _append(rows, with_grade=True)
                    for i, _, g in rows:
                        model[i] = g  # explicit value, incl. real null
                else:
                    _append([(i, f"x{i}") for i in ids], with_grade=False)
                    for i in ids:
                        model[i] = 5 if has_default else None
                next_id += n
            elif op == "delete":
                if not model:
                    continue
                victims = rng.sample(
                    sorted(model), k=min(len(model), rng.randint(1, 3))
                )
                _dl.delete_where(
                    spark, loc,
                    f"id in ({', '.join(map(str, victims))})",
                    use_dvs=rng.random() < 0.5,
                )
                for v in victims:
                    model.pop(v)
            elif op == "optimize":
                _dl.optimize_compact(spark, loc, min_files=2)
            elif op == "checkpoint":
                _dl.write_checkpoint_v2(loc)
                _dl.clean_log(loc, expire_checkpoints=True)
                history = []  # pruned commits cannot be restore targets
            elif op == "restore":
                if not history:
                    continue
                v, snap_model, snap_flag = rng.choice(history)
                try:
                    _dl.restore_table(spark, loc, v)
                except (ValueError, FileNotFoundError):
                    continue  # cleaned/unreachable target: legal refusal
                model = dict(snap_model)
                has_default = snap_flag
            history.append((_dl.latest_version(loc), dict(model),
                            has_default))

        def _read(path):
            return {
                r.id: (r.grade if has_default else None)
                for r in _dl.read_delta(spark, path).collect()
            }

        assert _read(loc) == model, f"seed {seed}"
        tgt = loc + "_clone"
        _dl.shallow_clone(spark, loc, tgt)
        assert _read(tgt) == model, f"seed {seed} clone"


def test_all_undatable_import_reads_each_footer_once_pooled(
    spark, loc, monkeypatch
):
    """Round-16 pin (the r15 verdict's order item 10): the WORST defaults
    case — a foreign/clone-imported table where NO file is log-datable —
    must read each data file's footer EXACTLY once (never once per
    consumer of the absence map) and through the bounded thread pool,
    so a regression to serial per-consumer footer reads cannot land
    silently. 3 pre-DDL files, arrival stamp stripped, log checkpointed
    and cleaned: only the footer can answer for every file."""
    import concurrent.futures as cf

    for i in range(3):
        _write(spark, loc, [(i, f"s{i}")],
               mode="append" if i else "overwrite")
    dl.add_column(loc, "grade", "int", default=5)
    _strip_arrival_stamp(loc, dl.latest_version(loc))
    dl.write_checkpoint_v2(loc)
    dl.clean_log(loc, expire_checkpoints=True)
    snap = dl.snapshot(loc)
    assert "grade" not in snap.default_since  # exact date lost
    assert len(snap.files) == 3

    pools: list[int | None] = []
    real_pool = cf.ThreadPoolExecutor

    class CapturingPool(real_pool):
        def __init__(self, max_workers=None, **kw):
            pools.append(max_workers)
            super().__init__(max_workers=max_workers, **kw)

    monkeypatch.setattr(cf, "ThreadPoolExecutor", CapturingPool)
    calls = _count_footer_reads(monkeypatch)
    got = {r.id: r.grade for r in dl.read_delta(spark, loc).collect()}
    assert got == {0: 5, 1: 5, 2: 5}
    # exactly once per undatable file — the absence map is computed one
    # time and shared by every consumer
    assert calls["n"] == 3
    # and the reads went through the bounded pool (min(16, |residual|))
    assert 3 in pools
