"""Iceberg RENAME / DROP COLUMN (round 14 — closes the documented
name-based-reader scope-out).

Contract (spec §Schema Evolution): both are METADATA-ONLY — a new
schema registers with a fresh schema-id, field ids never change or
reuse, no data byte moves. Reads resolve column VINTAGES per file:
parquet field ids when stamped (this engine stamps them on every write
now — `parquet.field.id` column metadata honored by Spark's writer),
unambiguous-name fallback otherwise; a same-name re-add over a file
without ids REFUSES rather than resurrecting the dropped column's
bytes. Partition-spec sources and live-equality-delete keys refuse the
DDL; every reader — batch, DML, incremental, changelog, streaming —
resolves renamed vintages the same way. ALTER COLUMN TYPE promotion
(int→long, float→double, decimal precision widening) is covered at the
bottom of this file.
"""

from __future__ import annotations

import pytest

from spark_etl_framework_spark.sources import iceberg as ice


@pytest.fixture()
def loc(tmp_path):
    return str(tmp_path / "t")


def _write(spark, loc, rows, mode="append", **kw):
    df = spark.createDataFrame(rows, "id int, s string")
    return ice.write_iceberg(df.coalesce(1), loc, mode=mode, **kw)


def test_rename_is_metadata_only(spark, loc):
    _write(spark, loc, [(0, "a"), (1, "b")], mode="overwrite")
    v0 = ice.current_version(loc)
    n_snaps = len(ice.load_metadata(loc).get("snapshots", []))
    ice.rename_column(loc, "s", "label")
    meta = ice.load_metadata(loc)
    assert ice.current_version(loc) == v0 + 1
    assert len(meta.get("snapshots", [])) == n_snaps  # no snapshot
    assert [f["name"] for f in meta["schema"]["fields"]] == ["id", "label"]
    # field id unchanged; historical schema immutable
    fid = {f["name"]: f["id"] for f in meta["schema"]["fields"]}["label"]
    hist = next(
        s for s in meta["schemas"]
        if s.get("schema-id") != meta["current-schema-id"]
    )
    assert any(
        f["name"] == "s" and f["id"] == fid for f in hist["fields"]
    )
    got = {(r.id, r.label) for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {(0, "a"), (1, "b")}  # old files read under the new name


def test_rename_mixed_vintages_union(spark, loc):
    """Pre-rename files (old physical name) and post-rename files (new
    name) scan as two vintage groups and union — values correct in both,
    filters and aggregates work on the renamed column."""
    _write(spark, loc, [(0, "a"), (1, "b")], mode="overwrite")
    ice.rename_column(loc, "s", "label")
    spark.createDataFrame([(2, "c")], "id int, label string").coalesce(1)
    ice.write_iceberg(
        spark.createDataFrame([(2, "c")], "id int, label string")
        .coalesce(1), loc, mode="append",
    )
    df = ice.read_iceberg(spark, loc)
    got = {(r.id, r.label) for r in df.collect()}
    assert got == {(0, "a"), (1, "b"), (2, "c")}
    assert df.filter("label = 'b'").count() == 1
    assert ice.read_iceberg(spark, loc, where="id >= 1").count() == 2


def test_rename_twice_and_dml(spark, loc):
    _write(spark, loc, [(0, "a"), (1, "b")], mode="overwrite")
    ice.rename_column(loc, "s", "mid")
    ice.rename_column(loc, "mid", "final")
    # DML predicate + assignment on the twice-renamed column hits the
    # ORIGINAL files (merge-on-read scan resolves the vintage)
    ice.update_where(spark, loc, "final = 'a'", {"final": "'A'"})
    got = {(r.id, r.final) for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {(0, "A"), (1, "b")}
    ice.delete_where(spark, loc, "final = 'b'")
    assert {r.id for r in ice.read_iceberg(spark, loc).collect()} == {0}


def test_drop_column_projects_away(spark, loc):
    _write(spark, loc, [(0, "a"), (1, "b")], mode="overwrite")
    ice.drop_column(loc, "s")
    df = ice.read_iceberg(spark, loc)
    assert df.columns == ["id"]
    assert {r.id for r in df.collect()} == {0, 1}
    # appends after the drop carry only the surviving column
    ice.write_iceberg(
        spark.createDataFrame([(2,)], "id int").coalesce(1), loc,
        mode="append",
    )
    assert {r.id for r in ice.read_iceberg(spark, loc).collect()} == {0, 1, 2}


def test_drop_then_readd_does_not_resurrect(spark, loc):
    """A re-added same-name column has a FRESH id — files written with
    the OLD column (id-stamped by this engine's writer) read the new
    column as null/default, never the dropped bytes."""
    _write(spark, loc, [(0, "old0"), (1, "old1")], mode="overwrite")
    ice.drop_column(loc, "s")
    ice.add_column(loc, "s", "string")
    got = {r.id: r.s for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {0: None, 1: None}  # dropped bytes stay dropped
    ice.write_iceberg(
        spark.createDataFrame([(2, "new")], "id int, s string").coalesce(1),
        loc, mode="append",
    )
    got = {r.id: r.s for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {0: None, 1: None, 2: "new"}


def test_rename_with_v3_default_interplay(spark, loc):
    _write(spark, loc, [(0, "a")], mode="overwrite")
    ice.upgrade_format_version(loc, 3)
    ice.add_column(loc, "grade", "int", default=7)
    ice.rename_column(loc, "grade", "score")
    got = {r.id: r.score for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {0: 7}  # the default follows the field through rename
    ice.write_iceberg(
        spark.createDataFrame(
            [(1, "b", 2)], "id int, s string, score int"
        ).coalesce(1), loc, mode="append",
    )
    got = {r.id: r.score for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {0: 7, 1: 2}


def test_refusals(spark, loc):
    df = spark.createDataFrame([(0, "a", 1)], "id int, s string, p int")
    ice.write_iceberg(df.coalesce(1), loc, mode="overwrite",
                      partition_by=["p"])
    with pytest.raises(ValueError, match="partition spec"):
        ice.rename_column(loc, "p", "q")
    with pytest.raises(ValueError, match="partition spec"):
        ice.drop_column(loc, "p")
    with pytest.raises(ValueError, match="no column"):
        ice.rename_column(loc, "zz", "q")
    with pytest.raises(ValueError, match="already exists"):
        ice.rename_column(loc, "s", "id")
    with pytest.raises(ValueError, match="only column"):
        loc2 = loc + "2"
        ice.write_iceberg(
            spark.createDataFrame([(1,)], "id int").coalesce(1),
            loc2, mode="overwrite",
        )
        ice.drop_column(loc2, "id")


def test_rename_refuses_on_live_equality_deletes(spark, loc):
    _write(spark, loc, [(0, "a"), (1, "b")], mode="overwrite")
    ice.merge_upsert(
        spark, loc,
        spark.createDataFrame([(1, "B")], "id int, s string"), ["id"],
    )
    with pytest.raises(ValueError, match="equality delete"):
        ice.rename_column(loc, "id", "key")
    # folding the deletes clears the refusal
    ice.rewrite_data_files(spark, loc, strategy="binpack")
    ice.rename_column(loc, "id", "key")
    got = {(r.key, r.s) for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {(0, "a"), (1, "B")}


def test_changelog_and_incremental_resolve_renamed_vintages(spark, loc):
    """The changelog and incremental scans walk HISTORICAL snapshots
    whose files carry the old physical name — they resolve vintages the
    same way the batch scan does (never a refusal, never a null)."""
    _write(spark, loc, [(0, "a")], mode="overwrite")
    first = ice.load_metadata(loc)["current-snapshot-id"]
    ice.rename_column(loc, "s", "label")
    ice.write_iceberg(
        spark.createDataFrame([(1, "b")], "id int, label string")
        .coalesce(1), loc, mode="append",
    )
    ch = ice.read_iceberg_changelog(spark, loc)
    got = sorted((r._change_ordinal, r.id, r.label) for r in ch.collect())
    assert got == [(0, 0, "a"), (1, 1, "b")]  # old file, new name, values
    inc = ice.read_iceberg_incremental(spark, loc, first)
    assert [(r.id, r.label) for r in inc.collect()] == [(1, "b")]


def test_streaming_resolves_renamed_vintages(spark, loc):
    import uuid as _uuid

    from spark_etl_framework_spark.plans.context import (
        JobContext,
        PipelineContext,
    )
    from spark_etl_framework_spark.streaming.readers import (
        IcebergStreamReader,
    )

    _write(spark, loc, [(0, "a")], mode="overwrite")
    ice.rename_column(loc, "s", "label")
    ice.write_iceberg(
        spark.createDataFrame([(1, "b")], "id int, label string")
        .coalesce(1), loc, mode="append",
    )
    r = IcebergStreamReader(table=loc)
    sdf = r.run(JobContext(PipelineContext(), spark), spark)
    qn = f"ren_{_uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory").queryName(qn)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.id, r.label) for r in spark.sql(f"select * from {qn}").collect()
    )
    assert got == [(0, "a"), (1, "b")]


def test_writes_stamp_parquet_field_ids(spark, loc):
    import os as _os

    import pyarrow.parquet as pq

    _write(spark, loc, [(0, "a")], mode="overwrite")
    meta = ice.load_metadata(loc)
    snap = ice._pick_snapshot(meta)
    files, _d = ice._scan_snapshot(meta, snap)
    arrow = pq.ParquetFile(files[0]["file_path"]).schema_arrow
    ids = {
        f.name: int((f.metadata or {}).get(b"PARQUET:field_id", -1))
        for f in arrow
    }
    expect = {f["name"]: f["id"] for f in meta["schema"]["fields"]}
    assert ids == expect
    assert _os.path.exists(loc)


def test_compaction_retires_vintage_groups(spark, loc):
    """After rewrite_data_files, every live file carries the CURRENT
    name — the per-file resolution fast-path re-engages (renames map
    empty) and the footer probes stop."""
    _write(spark, loc, [(0, "a"), (1, "b")], mode="overwrite")
    ice.rename_column(loc, "s", "label")
    ice.rewrite_data_files(spark, loc, strategy="binpack")
    meta = ice.load_metadata(loc)
    files, _d = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    schema_ids = {f["name"]: f["id"] for f in meta["schema"]["fields"]}
    ren = ice._file_write_names(
        meta, files, [(schema_ids["label"], "label")]
    )
    assert ren == {} or ren is None or not ren  # nothing left to resolve
    got = {(r.id, r.label) for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {(0, "a"), (1, "b")}


def test_rename_keeps_stored_values_of_a_defaulted_column(spark, loc):
    """A row that STORES a defaulted column keeps its value after the
    column is renamed: the file holds the field under its old name, and
    presence is decided by field id, never by the current name. Rows
    written before the column existed still read the default — in the
    batch read, the incremental read and the merge-on-read DML scan."""
    _write(spark, loc, [(0, "a")], mode="overwrite")
    first = ice.load_metadata(loc)["current-snapshot-id"]
    _write(spark, loc, [(1, "b")])
    ice.upgrade_format_version(loc, 3)
    ice.add_column(loc, "grade", "int", default=7)
    ice.write_iceberg(
        spark.createDataFrame([(2, "c", 3)], "id int, s string, grade int")
        .coalesce(1), loc, mode="append",
    )
    ice.rename_column(loc, "grade", "score")
    got = {r.id: r.score for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {0: 7, 1: 7, 2: 3}
    inc = ice.read_iceberg_incremental(spark, loc, first)
    assert {r.id: r.score for r in inc.collect()} == {1: 7, 2: 3}
    # the DML predicate sees the stored 3 and the pre-DDL 7s
    ice.update_where(spark, loc, "score = 3", {"s": "'hit'"})
    ice.delete_where(spark, loc, "score = 7 and id = 0")
    got = {(r.id, r.s, r.score) for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {(1, "b", 7), (2, "hit", 3)}


# ---------------------------------------------------------------------------
# ALTER COLUMN TYPE (spec type promotion)
# ---------------------------------------------------------------------------


def test_promote_int_to_long_metadata_only(spark, loc):
    _write(spark, loc, [(0, "a"), (7, "b")], mode="overwrite")
    n_snaps = len(ice.load_metadata(loc).get("snapshots", []))
    ice.update_column_type(loc, "id", "long")
    meta = ice.load_metadata(loc)
    assert len(meta.get("snapshots", [])) == n_snaps  # no snapshot
    df = ice.read_iceberg(spark, loc)
    assert dict(df.dtypes)["id"] == "bigint"
    assert sorted(r.id for r in df.collect()) == [0, 7]
    # appends under the WIDE type coexist with narrow old files
    ice.write_iceberg(
        spark.createDataFrame([(2**40, "c")], "id long, s string")
        .coalesce(1), loc, mode="append",
    )
    assert sorted(r.id for r in ice.read_iceberg(spark, loc).collect()) == [
        0, 7, 2**40,
    ]


def test_promoted_bounds_still_prune(spark, loc):
    """Bounds written before the promotion keep their 4-byte width —
    data skipping must promote them on read, not crash or disable."""
    _write(spark, loc, [(0, "a")], mode="overwrite")
    _write(spark, loc, [(100, "b")])
    ice.update_column_type(loc, "id", "long")
    got = ice.read_iceberg(spark, loc, where="id >= 50")
    assert [r.id for r in got.collect()] == [100]
    meta = ice.load_metadata(loc)
    files, _d = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    pruned = ice._prune_files_by_bounds(files, meta, "id >= 50")
    assert len(pruned) == 1  # the id=0 file was PROVEN out by old bounds


def test_promote_float_to_double_and_decimal(spark, loc):
    df = spark.createDataFrame(
        [(1, 1.5, None)], "id int, x float, d decimal(10,2)"
    )
    ice.write_iceberg(df.coalesce(1), loc, mode="overwrite")
    ice.update_column_type(loc, "x", "double")
    ice.update_column_type(loc, "d", "decimal(14, 2)")
    got = ice.read_iceberg(spark, loc)
    assert dict(got.dtypes)["x"] == "double"
    assert dict(got.dtypes)["d"] == "decimal(14,2)"
    assert abs(got.collect()[0].x - 1.5) < 1e-9


def test_promotion_refusals(spark, loc):
    df = spark.createDataFrame([(1, 1.5)], "id long, x double")
    ice.write_iceberg(df.coalesce(1), loc, mode="overwrite")
    with pytest.raises(ValueError, match="not a\n?.*promotion"):
        ice.update_column_type(loc, "id", "int")  # narrowing
    with pytest.raises(ValueError, match="promotion"):
        ice.update_column_type(loc, "x", "float")
    with pytest.raises(ValueError, match="no column"):
        ice.update_column_type(loc, "zz", "long")


def test_promote_then_rename_interplay(spark, loc):
    _write(spark, loc, [(0, "a")], mode="overwrite")
    ice.update_column_type(loc, "id", "long")
    ice.rename_column(loc, "id", "key")
    got = ice.read_iceberg(spark, loc)
    assert dict(got.dtypes)["key"] == "bigint"
    assert got.collect()[0].key == 0


def test_update_column_type_actor(spark, loc):
    from spark_etl_framework_spark.operators.tabledml import IcebergDmlActor
    from spark_etl_framework_spark.plans.context import (
        JobContext,
        PipelineContext,
    )

    _write(spark, loc, [(0, "a")], mode="overwrite")
    IcebergDmlActor(
        op="updateColumnType", path=loc, column="id", newType="long"
    ).run(JobContext(PipelineContext(), spark), spark)
    assert dict(ice.read_iceberg(spark, loc).dtypes)["id"] == "bigint"


# ---------------------------------------------------------------------------
# SET IDENTIFIER FIELDS
# ---------------------------------------------------------------------------


def test_set_identifier_fields_feeds_changelog(spark, loc):
    """SET IDENTIFIER FIELDS registers identifier-field-ids; the
    changelog's compute_updates folds on them with no caller-side
    identifier_columns."""
    _write(spark, loc, [(0, "a"), (1, "b")], mode="overwrite")
    ice.set_identifier_fields(loc, ["id"])
    meta = ice.load_metadata(loc)
    fid = {f["name"]: f["id"] for f in meta["schema"]["fields"]}["id"]
    assert meta["schema"]["identifier-field-ids"] == [fid]
    ice.update_where(spark, loc, "id = 1", {"s": "'B'"})
    ch = ice.read_iceberg_changelog(spark, loc, compute_updates=True)
    kinds = {r._change_type for r in ch.collect() if r.id == 1}
    assert {"update_preimage", "update_postimage"} <= kinds
    # clearing restores the refusal path
    ice.set_identifier_fields(loc, [])
    assert "identifier-field-ids" not in ice.load_metadata(loc)["schema"]
    with pytest.raises(ValueError, match="identifier"):
        ice.read_iceberg_changelog(spark, loc, compute_updates=True)


def test_set_identifier_fields_refusals(spark, loc):
    df = spark.createDataFrame([(0, 1.5)], "id int, x double")
    ice.write_iceberg(df.coalesce(1), loc, mode="overwrite")
    with pytest.raises(ValueError, match="float/double"):
        ice.set_identifier_fields(loc, ["x"])
    with pytest.raises(ValueError, match="no columns"):
        ice.set_identifier_fields(loc, ["zz"])


def test_set_identifier_fields_actor(spark, loc):
    from spark_etl_framework_spark.operators.tabledml import IcebergDmlActor
    from spark_etl_framework_spark.plans.context import (
        JobContext,
        PipelineContext,
    )

    _write(spark, loc, [(0, "a")], mode="overwrite")
    IcebergDmlActor(
        op="setIdentifierFields", path=loc, columns="id"
    ).run(JobContext(PipelineContext(), spark), spark)
    assert ice.load_metadata(loc)["schema"].get("identifier-field-ids")


def test_rename_with_v3_dvs_interplay(spark, loc):
    """Deletion vectors + rename compose: DVs written BEFORE the rename
    keep subtracting, DML through the renamed column writes new DVs on
    the old-vintage file, and lineage + changelog stay coherent."""
    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(6)], "id int, s string"
    )
    ice.write_iceberg(df.coalesce(1), loc, mode="overwrite")
    ice.upgrade_format_version(loc, 3)
    ice.delete_where(spark, loc, "id = 1")        # DV pre-rename
    ice.rename_column(loc, "s", "label")
    got = sorted(
        (r.id, r.label) for r in ice.read_iceberg(spark, loc).collect()
    )
    assert got == [(0, "s0"), (2, "s2"), (3, "s3"), (4, "s4"), (5, "s5")]
    ice.delete_where(spark, loc, "label = 's3'")  # DV THROUGH the rename
    assert sorted(
        r.id for r in ice.read_iceberg(spark, loc).collect()
    ) == [0, 2, 4, 5]
    lin = ice.read_iceberg(spark, loc, with_row_lineage=True)
    assert "_row_id" in lin.columns and lin.count() == 4
    ch = ice.read_iceberg_changelog(spark, loc)
    assert "label" in ch.columns and ch.count() == 8  # 6 ins + 2 del


def test_promote_defaulted_column(spark, loc):
    """Type promotion composes with v3 defaults: the promoted column
    keeps initial/write defaults, cast to the wide type on read and on
    omitted-column writes."""
    _write(spark, loc, [(0, "a")], mode="overwrite")
    ice.upgrade_format_version(loc, 3)
    ice.add_column(loc, "grade", "int", default=7)
    ice.update_column_type(loc, "grade", "long")
    assert {
        r.id: r.grade for r in ice.read_iceberg(spark, loc).collect()
    } == {0: 7}
    ice.write_iceberg(
        spark.createDataFrame([(9, "z")], "id int, s string").coalesce(1),
        loc, mode="append",
    )
    got = {r.id: r.grade for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {0: 7, 9: 7}


def test_snapshots_record_current_schema_id(spark, loc):
    """New snapshots stamp the CURRENT schema-id (spec: time-travel
    readers resolve columns by the snapshot's schema) — was a hardcoded
    0, stale once evolution registers fresh schema ids."""
    _write(spark, loc, [(0, "a")], mode="overwrite")
    ice.rename_column(loc, "s", "label")
    ice.write_iceberg(
        spark.createDataFrame([(1, "b")], "id int, label string")
        .coalesce(1), loc, mode="append",
    )
    meta = ice.load_metadata(loc)
    snaps = sorted(meta["snapshots"], key=lambda s: s["timestamp-ms"])
    assert snaps[0]["schema-id"] == 0                # pre-rename write
    assert snaps[-1]["schema-id"] == meta["current-schema-id"] != 0
