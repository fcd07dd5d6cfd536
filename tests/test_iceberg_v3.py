"""Iceberg format-version 3 — scoped capability (round 13).

The v3 slice this engine has real machinery for, following the round-12
type-widening precedent (gate → capability):

- ``upgrade_format_version``: v1/v2 → v3 metadata upgrade (next-row-id
  initialized, downgrades refuse).
- Deletion vectors: on a v3 table every position delete is a Puffin
  ``deletion-vector-v1`` blob (the roaring codec delta DVs already use —
  iceberg adopted delta's byte framing); a file's new DV REPLACES its
  predecessor with a superset and the prior manifest entry drops
  (one-DV-per-file invariant). Reads subtract executor-side.
- Row lineage: appends assign ``first_row_id`` from ``next-row-id``;
  UPDATE/compaction rewrites MATERIALIZE ``_row_id`` /
  ``_last_updated_sequence_number``; ``read_iceberg(...,
  with_row_lineage=True)`` surfaces both, null for pre-upgrade files.
- Changelog (batch + streaming): a DV commit's logical delta is
  (new DV − prior DV), never a re-emit of previously dead rows.
- Default values: ``initial-default`` substitutes for rows in files
  written before the column existed (presence from manifest count maps,
  footer fallback); stored values — including nulls — win elsewhere.
- Out-of-scope v3 features refuse loudly per feature: table encryption,
  the new variant/geometry/... column types, non-primitive defaults.

Reference: iceberg-spec v3 (row lineage, deletion vectors,
puffin-spec deletion-vector-v1); the jar reads what it ships
(etl/source/IcebergReader.scala:12-30).
"""

from __future__ import annotations

import json
import os

import pytest

from spark_etl_framework_spark.sources import iceberg as ice


@pytest.fixture()
def loc(tmp_path):
    return str(tmp_path / "t")


def _write(spark, loc, rows, mode="append"):
    df = spark.createDataFrame(rows, "id int, s string")
    return ice.write_iceberg(df.coalesce(1), loc, mode=mode)


def _v3(spark, loc, n=8):
    _write(spark, loc, [(i, f"s{i}") for i in range(n)], mode="overwrite")
    ice.upgrade_format_version(loc, 3)
    return loc


def _edit_meta(loc, fn):
    v = ice.current_version(loc)
    p = os.path.join(loc, "metadata", f"v{v}.metadata.json")
    with open(p, encoding="utf-8") as fh:
        meta = json.load(fh)
    fn(meta)
    with open(p, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)


# ---------------------------------------------------------------------------
# upgrade
# ---------------------------------------------------------------------------


def test_upgrade_v1_to_v3(spark, loc):
    _write(spark, loc, [(1, "a")], mode="overwrite")
    meta = ice.load_metadata(loc)
    assert int(meta.get("format-version", 1)) == 1
    assert ice.upgrade_format_version(loc, 3) == 3
    meta = ice.load_metadata(loc)
    assert meta["format-version"] == 3
    assert meta["next-row-id"] == 0
    # v2 machinery registered on the way up
    assert meta["last-sequence-number"] == 0
    assert ice.read_iceberg(spark, loc).count() == 1


def test_upgrade_v2_to_v3_and_idempotence(spark, loc):
    _write(spark, loc, [(1, "a"), (2, "b")], mode="overwrite")
    ice.delete_where(spark, loc, "id = 1")  # upgrades to v2
    assert ice.load_metadata(loc)["format-version"] == 2
    assert ice.upgrade_format_version(loc, 3) == 3
    assert ice.upgrade_format_version(loc, 3) == 3  # no-op, no new version
    assert ice.read_iceberg(spark, loc).count() == 1


def test_downgrade_refuses(spark, loc):
    _v3(spark, loc)
    with pytest.raises(ValueError, match="downgrade"):
        ice.upgrade_format_version(loc, 2)


# ---------------------------------------------------------------------------
# scoped refusals (foreign v3 metadata)
# ---------------------------------------------------------------------------


def test_default_on_fully_present_column_is_noop(spark, loc):
    """Round 13 turned the defaults refusal into capability: an
    initial-default on a column EVERY file materializes never fires —
    stored values (including nulls) win."""
    _v3(spark, loc)

    def fn(meta):
        for sch in [meta.get("schema")] + list(meta.get("schemas", [])):
            if sch:
                sch["fields"][1]["initial-default"] = "zz"

    _edit_meta(loc, fn)
    got = {r.id: r.s for r in ice.read_iceberg(spark, loc).collect()}
    assert got[0] == "s0" and "zz" not in got.values()


def test_encryption_refuses(spark, loc):
    _v3(spark, loc)
    _edit_meta(loc, lambda m: m.update(
        {"encryption-keys": [{"key-id": "k1"}]}
    ))
    with pytest.raises(
        ice.IcebergUnsupportedFormatVersion, match="encryption"
    ):
        ice.read_iceberg(spark, loc)


def test_v3_new_types_refuse(spark, loc):
    """geometry/geography/timestamp_ns stay refused (variant is
    implemented since round 15 — see test_iceberg_variant.py)."""
    _v3(spark, loc)

    def fn(meta):
        for sch in [meta.get("schema")] + list(meta.get("schemas", [])):
            if sch:
                sch["fields"][1]["type"] = "geometry"

    _edit_meta(loc, fn)
    with pytest.raises(
        ice.IcebergUnsupportedFormatVersion, match="geometry"
    ):
        ice.read_iceberg(spark, loc)


def test_variant_on_v2_table_refuses(spark, loc):
    """A v1/v2 table declaring a variant column is malformed — refuse
    instead of trusting its bytes (variant is a v3 type)."""
    _v3(spark, loc)

    def fn(meta):
        meta["format-version"] = 2
        for sch in [meta.get("schema")] + list(meta.get("schemas", [])):
            if sch:
                sch["fields"][1]["type"] = "variant"

    _edit_meta(loc, fn)
    with pytest.raises(
        ice.IcebergUnsupportedFormatVersion, match="variant"
    ):
        ice.read_iceberg(spark, loc)


# ---------------------------------------------------------------------------
# deletion vectors
# ---------------------------------------------------------------------------


def test_v3_delete_writes_puffin_dv(spark, loc):
    _v3(spark, loc)
    assert ice.delete_where(spark, loc, "id in (1, 5)") is not None
    meta = ice.load_metadata(loc)
    _files, dels = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    assert len(dels) == 1
    d = dels[0]
    assert d["file_format"] == "PUFFIN"
    assert d["referenced_data_file"].endswith(".parquet")
    assert int(d["content_size_in_bytes"]) > 0
    assert int(d["record_count"]) == 2
    # blob is spec-framed: read it back through the puffin footer
    pf = ice.read_puffin(d["file_path"])
    blob = pf["blobs"][0]
    assert blob["type"] == "deletion-vector-v1"
    assert blob["properties"]["cardinality"] == "2"
    from spark_etl_framework_spark.sources.roaring import decode_dv_blob

    assert decode_dv_blob(bytes(blob["payload"]), 0) == {1, 5}
    got = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    assert got == [0, 2, 3, 4, 6, 7]


def test_second_dv_unions_and_replaces(spark, loc):
    _v3(spark, loc)
    ice.delete_where(spark, loc, "id in (1, 5)")
    ice.delete_where(spark, loc, "id = 2")
    meta = ice.load_metadata(loc)
    _files, dels = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    # one-DV-per-file invariant: the old entry dropped, the new one
    # carries the union
    assert len(dels) == 1
    assert int(dels[0]["record_count"]) == 3
    got = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    assert got == [0, 3, 4, 6, 7]


def test_drop_replaced_dvs_rewrites_list_stats(spark, loc):
    """Round-14 ADVICE (low): the rewritten delete manifest's LIST entry
    must describe the rewrite — deleted counts = the replaced DV entries
    dropped here, min_sequence_number from the survivors — not carry the
    original manifest's stale stats."""
    _write(spark, loc, [(i, f"s{i}") for i in range(4)], mode="overwrite")
    _write(spark, loc, [(i, f"s{i}") for i in range(10, 14)])
    ice.upgrade_format_version(loc, 3)
    ice.delete_where(spark, loc, "id in (0, 10)")  # 2 DVs, one manifest
    ice.delete_where(spark, loc, "id = 1")         # replaces file A's DV
    meta = ice.load_metadata(loc)
    snap = ice._pick_snapshot(meta)
    _s, _m, mlist = ice.read_ocf(snap["manifest-list"])
    rew = [
        mf for mf in mlist
        if mf.get("content") == 1 and mf.get("existing_files_count") == 1
    ]
    assert len(rew) == 1
    mf = rew[0]
    assert mf["deleted_files_count"] == 1
    assert mf["deleted_rows_count"] == 1   # A's replaced DV covered 1 row
    assert mf["existing_rows_count"] == 1  # B's surviving DV covers 1 row
    _es, _em, entries = ice.read_ocf(mf["manifest_path"])
    assert mf["min_sequence_number"] == entries[0]["sequence_number"]
    got = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    assert got == [2, 3, 11, 12, 13]


def test_dv_update_roundtrip(spark, loc):
    _v3(spark, loc)
    ice.update_where(spark, loc, "id = 4", {"s": "'four'"})
    got = {(r.id, r.s) for r in ice.read_iceberg(spark, loc).collect()}
    assert (4, "four") in got and len(got) == 8


def test_v3_equality_delete_and_dv_interplay(spark, loc):
    """Round-14 order item 8: the v3 spec keeps EQUALITY deletes
    alongside deletion vectors. One data file targeted by BOTH — a DV
    (position 1) and a later equality delete (key id=2) — subtracts the
    union; sequence-number semantics hold (the merge's own inserts, at
    the SAME sequence number as its equality delete, survive it); and a
    binpack compaction folds the whole mix without changing results."""
    _v3(spark, loc)  # ids 0-7, one file
    ice.delete_where(spark, loc, "id = 1")  # v3 DV on the base file
    # CDC-style merge: equality delete on id + new data file, one commit
    ice.merge_upsert(
        spark, loc,
        spark.createDataFrame([(2, "two")], "id int, s string"),
        ["id"],
    )
    meta = ice.load_metadata(loc)
    _f, dels = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    kinds = sorted(int(d.get("content", 0)) for d in dels)
    assert kinds == [1, 2]  # one DV (content=1) + one eq delete (content=2)
    got = {r.id: r.s for r in ice.read_iceberg(spark, loc).collect()}
    assert 1 not in got                   # DV position subtracted
    assert got[2] == "two"                # eq delete killed the OLD row,
    #                                       the same-seq insert survived
    assert set(got) == {0, 2, 3, 4, 5, 6, 7}
    # the DV and the eq delete target different kill-sets of the SAME
    # base file — neither masks the other
    before = dict(got)
    ice.rewrite_data_files(spark, loc, strategy="binpack")
    after = {r.id: r.s for r in ice.read_iceberg(spark, loc).collect()}
    assert after == before
    meta2 = ice.load_metadata(loc)
    _f2, dels2 = ice._scan_snapshot(meta2, ice._pick_snapshot(meta2))
    assert dels2 == []  # compaction folded both delete kinds


def test_v2_parquet_deletes_coexist_with_dvs(spark, loc):
    """A table upgraded mid-life keeps its v2-era parquet position
    deletes; new commits add DVs — the scan subtracts both."""
    _write(spark, loc, [(i, f"s{i}") for i in range(8)], mode="overwrite")
    ice.delete_where(spark, loc, "id = 0")  # v2 parquet coordinates
    ice.upgrade_format_version(loc, 3)
    ice.delete_where(spark, loc, "id = 7")  # v3 DV
    meta = ice.load_metadata(loc)
    _files, dels = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    kinds = sorted(
        "dv" if d.get("referenced_data_file") else "parquet" for d in dels
    )
    assert kinds == ["dv", "parquet"]
    got = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    assert got == [1, 2, 3, 4, 5, 6]


# ---------------------------------------------------------------------------
# row lineage
# ---------------------------------------------------------------------------


def test_appends_assign_row_ids(spark, loc):
    _v3(spark, loc, n=3)  # pre-upgrade file: null lineage
    _write(spark, loc, [(10, "x"), (11, "y")])
    _write(spark, loc, [(12, "z")])
    meta = ice.load_metadata(loc)
    assert meta["next-row-id"] == 3
    lin = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in ice.read_iceberg(
            spark, loc, with_row_lineage=True
        ).collect()
    }
    assert lin[0] == (None, None) and lin[2] == (None, None)
    assert lin[10][0] == 0 and lin[11][0] == 1 and lin[12][0] == 2
    assert lin[12][1] is not None  # data sequence number inherited


def test_update_preserves_row_id_bumps_sequence(spark, loc):
    _v3(spark, loc, n=0 or 3)
    _write(spark, loc, [(10, "x"), (11, "y")])
    before = {
        r.id: r._row_id
        for r in ice.read_iceberg(
            spark, loc, with_row_lineage=True
        ).collect()
    }
    ice.update_where(spark, loc, "id = 11", {"s": "'Y'"})
    after = {
        r.id: (r._row_id, r._last_updated_sequence_number, r.s)
        for r in ice.read_iceberg(
            spark, loc, with_row_lineage=True
        ).collect()
    }
    assert after[11][0] == before[11]
    assert after[11][2] == "Y"
    assert after[10][0] == before[10]
    # the rewritten copy's sequence advanced past the insert's
    assert after[11][1] > after[10][1]


def test_compaction_preserves_assigned_lineage(spark, loc):
    """Assigned lineage survives compaction bit-for-bit; pre-upgrade
    rows (never assigned) get ids LAZILY at their first rewrite — the
    spec's lazy-assignment rule — stamped with the compaction's
    sequence number."""
    _v3(spark, loc, n=3)
    _write(spark, loc, [(10, "x"), (11, "y")])
    ice.delete_where(spark, loc, "id = 10")
    before = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in ice.read_iceberg(
            spark, loc, with_row_lineage=True
        ).collect()
    }
    assert before[0] == (None, None)  # pre-upgrade: unassigned
    ice.rewrite_data_files(spark, loc, strategy="binpack")
    after = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in ice.read_iceberg(
            spark, loc, with_row_lineage=True
        ).collect()
    }
    assert after[11] == before[11]  # assigned: preserved exactly
    ids = [v[0] for v in after.values()]
    assert None not in ids and len(set(ids)) == len(ids)  # all assigned now
    assert ice.load_metadata(loc)["next-row-id"] > 2


def test_delete_only_commit_keeps_counter(spark, loc):
    _v3(spark, loc, n=3)
    _write(spark, loc, [(10, "x")])
    n0 = ice.load_metadata(loc)["next-row-id"]
    ice.delete_where(spark, loc, "id = 0")
    meta = ice.load_metadata(loc)
    assert meta["next-row-id"] == n0
    snap = ice._pick_snapshot(meta)
    assert snap["first-row-id"] == n0  # recorded even with no rows added


# ---------------------------------------------------------------------------
# changelog over DVs
# ---------------------------------------------------------------------------


def _mk_history(spark, loc):
    _v3(spark, loc)
    ice.delete_where(spark, loc, "id in (1, 2)")
    ice.delete_where(spark, loc, "id = 3")
    ice.update_where(spark, loc, "id = 4", {"s": "'u'"})


_EXPECTED = sorted(
    [(0, "insert", i) for i in range(8)]
    + [(1, "delete", 1), (1, "delete", 2), (2, "delete", 3),
       (3, "delete", 4), (3, "insert", 4)]
)


def test_batch_changelog_emits_dv_deltas_once(spark, loc):
    _mk_history(spark, loc)
    got = sorted(
        (r._change_ordinal, r._change_type, r.id)
        for r in ice.read_iceberg_changelog(spark, loc).collect()
    )
    assert got == _EXPECTED


def test_stream_changelog_matches_batch_over_dvs(spark, loc):
    import uuid as _uuid

    from spark_etl_framework_spark.plans.context import (
        JobContext,
        PipelineContext,
    )
    from spark_etl_framework_spark.streaming.readers import (
        IcebergStreamReader,
    )

    _mk_history(spark, loc)
    ice.rewrite_data_files(spark, loc, strategy="binpack")  # streams nothing
    r = IcebergStreamReader(table=loc)
    r._props["options.readChangeFeed"] = "true"
    sdf = r.run(JobContext(PipelineContext(), spark), spark)
    qn = f"v3s_{_uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory").queryName(qn)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r._change_ordinal, r._change_type, r.id)
        for r in spark.sql(f"select * from {qn}").collect()
    )
    assert got == _EXPECTED


def test_changelog_compute_updates_over_dvs(spark, loc):
    _mk_history(spark, loc)
    got = sorted(
        (r._change_ordinal, r._change_type, r.id)
        for r in ice.read_iceberg_changelog(
            spark, loc, compute_updates=True, identifier_columns=["id"]
        ).collect()
    )
    assert (3, "update_preimage", 4) in got
    assert (3, "update_postimage", 4) in got


# ---------------------------------------------------------------------------
# maintenance interplay
# ---------------------------------------------------------------------------


def test_rewrite_position_deletes_keeps_dvs_verbatim(spark, loc):
    _v3(spark, loc)
    ice.delete_where(spark, loc, "id = 1")
    assert ice.rewrite_position_delete_files(spark, loc) is None
    got = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    assert got == [0, 2, 3, 4, 5, 6, 7]


def test_rewrite_manifests_preserves_first_row_id(spark, loc):
    _v3(spark, loc, n=2)
    _write(spark, loc, [(10, "x")])
    _write(spark, loc, [(11, "y")])
    ice.rewrite_manifests(loc)
    meta = ice.load_metadata(loc)
    files, _dels = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    by_first = {f.get("first_row_id") for f in files}
    assert 0 in by_first and 1 in by_first  # both appends' ids survive
    lin = {
        r.id: r._row_id
        for r in ice.read_iceberg(
            spark, loc, with_row_lineage=True
        ).collect()
    }
    assert lin[10] == 0 and lin[11] == 1


# ---------------------------------------------------------------------------
# v3 default values (initial-default read substitution)
# ---------------------------------------------------------------------------


def _add_defaulted_column(loc, name="flag", ice_type="int", default=7):
    """Foreign-edit the table schema: a new column with an
    initial-default, as an external v3 writer would leave it."""
    def fn(meta):
        for sch in [meta.get("schema")] + list(meta.get("schemas", [])):
            if sch and not any(f["name"] == name for f in sch["fields"]):
                nid = max(f["id"] for f in sch["fields"]) + 1
                sch["fields"].append({
                    "id": nid, "name": name, "required": False,
                    "type": ice_type, "initial-default": default,
                })
        meta["last-column-id"] = max(
            meta.get("last-column-id", 0),
            max(f["id"] for f in meta["schema"]["fields"]),
        )
    _edit_meta(loc, fn)


def test_initial_default_substitutes_for_preexisting_files(spark, loc):
    _v3(spark, loc, n=3)  # files written BEFORE the column existed
    _add_defaulted_column(loc)
    # new files carry the column, including an EXPLICIT null
    df = spark.createDataFrame(
        [(10, "x", 1), (11, "y", None)], "id int, s string, flag int"
    )
    ice.write_iceberg(df.coalesce(1), loc, mode="append")
    got = {r.id: r.flag for r in ice.read_iceberg(spark, loc).collect()}
    assert got[0] == got[1] == got[2] == 7  # pre-addition rows: default
    assert got[10] == 1
    assert got[11] is None  # genuine stored null stays null


def test_value_counts_presence_beats_footers(spark, loc):
    """Manifest count maps are the presence authority when present — a
    foreign manifest CLAIMING the column exists makes the scan read
    stored values (null here), never the default."""
    import json as _json

    from spark_etl_framework_spark.functions.avro_ocf import (
        read_ocf,
        write_ocf,
    )

    _v3(spark, loc, n=2)
    _add_defaulted_column(loc)
    meta = ice.load_metadata(loc)
    snap = ice._pick_snapshot(meta)
    _s, _m, mlist = read_ocf(snap["manifest-list"])
    flag_id = next(
        f["id"] for f in meta["schema"]["fields"] if f["name"] == "flag"
    )
    sch, mmeta, entries = read_ocf(mlist[0]["manifest_path"])
    # foreign shape: value_counts claims every column incl. flag
    vc_field = {
        "name": "value_counts", "field-id": 110, "default": None,
        "type": ["null", {"type": "array", "items": {
            "type": "record", "name": "k119_v120", "fields": [
                {"name": "key", "type": "int", "field-id": 119},
                {"name": "value", "type": "long", "field-id": 120},
            ]}}],
    }
    sch2 = _json.loads(_json.dumps(sch))
    for f in sch2["fields"]:
        if f["name"] == "data_file":
            f["type"]["fields"].append(vc_field)
    for e in entries:
        e["data_file"]["value_counts"] = [
            {"key": fid, "value": 2}
            for fid in (1, 2, flag_id)
        ]
    write_ocf(
        mlist[0]["manifest_path"] + ".vc", sch2, entries,
        metadata={
            k: v for k, v in mmeta.items() if not k.startswith("avro.")
        },
    )
    import os as _os
    import shutil as _shutil

    _shutil.move(mlist[0]["manifest_path"] + ".vc",
                 mlist[0]["manifest_path"])
    got = {r.id: r.flag for r in ice.read_iceberg(spark, loc).collect()}
    # the claim wins: stored values (column absent → parquet nulls)
    assert got == {0: None, 1: None}
    assert _os.path.exists(loc)  # silence unused-import lint


def test_suppressed_metrics_fall_back_to_footer(spark, loc):
    """Round-14 ADVICE (medium): an id MISSING from the count maps is not
    evidence of physical absence — engines suppress per-column metrics
    (write.metadata.metrics.mode=none / the default stats-column cap). A
    physically-present defaulted column whose metrics are suppressed must
    read its STORED values (footer fallback), never the initial-default."""
    import json as _json
    import shutil as _shutil

    from spark_etl_framework_spark.functions.avro_ocf import (
        read_ocf,
        write_ocf,
    )

    _v3(spark, loc, n=2)
    _add_defaulted_column(loc)
    # this file PHYSICALLY carries flag (stored 1 and null)
    ice.write_iceberg(
        spark.createDataFrame(
            [(10, "x", 1), (11, "y", None)], "id int, s string, flag int"
        ).coalesce(1), loc, mode="append",
    )
    # foreign-edit every manifest: value_counts present but listing only
    # ids 1 and 2 — flag's metrics suppressed
    meta = ice.load_metadata(loc)
    snap = ice._pick_snapshot(meta)
    _s, _m, mlist = read_ocf(snap["manifest-list"])
    vc_field = {
        "name": "value_counts", "field-id": 110, "default": None,
        "type": ["null", {"type": "array", "items": {
            "type": "record", "name": "k119_v120", "fields": [
                {"name": "key", "type": "int", "field-id": 119},
                {"name": "value", "type": "long", "field-id": 120},
            ]}}],
    }
    for mf in mlist:
        sch, mmeta, entries = read_ocf(mf["manifest_path"])
        sch2 = _json.loads(_json.dumps(sch))
        for f in sch2["fields"]:
            if f["name"] == "data_file" and not any(
                ff["name"] == "value_counts" for ff in f["type"]["fields"]
            ):
                f["type"]["fields"].append(vc_field)
        for e in entries:
            e["data_file"]["value_counts"] = [
                {"key": fid, "value": 2} for fid in (1, 2)
            ]
        write_ocf(
            mf["manifest_path"] + ".vc", sch2, entries,
            metadata={
                k: v for k, v in mmeta.items() if not k.startswith("avro.")
            },
        )
        _shutil.move(mf["manifest_path"] + ".vc", mf["manifest_path"])
    got = {r.id: r.flag for r in ice.read_iceberg(spark, loc).collect()}
    assert got[0] == got[1] == 7       # truly-absent files: default
    assert got[10] == 1                # stored value survives suppression
    assert got[11] is None             # stored null is NOT the default


def test_dml_sees_defaults(spark, loc):
    _v3(spark, loc, n=3)
    _add_defaulted_column(loc)
    ice.write_iceberg(
        spark.createDataFrame([(10, "x", 1)], "id int, s string, flag int")
        .coalesce(1), loc, mode="append",
    )
    # predicate on the defaulted value must match pre-addition rows only
    ice.update_where(spark, loc, "flag = 7", {"s": "'D'"})
    got = {r.id: (r.s, r.flag) for r in ice.read_iceberg(spark, loc).collect()}
    assert got[0] == ("D", 7) and got[1] == ("D", 7) and got[2] == ("D", 7)
    assert got[10] == ("x", 1)


def test_changelog_sees_defaults(spark, loc):
    _v3(spark, loc, n=2)
    _add_defaulted_column(loc, default=9)
    ice.delete_where(spark, loc, "id = 0")
    got = sorted(
        (r._change_ordinal, r._change_type, r.id, r.flag)
        for r in ice.read_iceberg_changelog(spark, loc).collect()
    )
    assert (0, "insert", 0, 9) in got and (0, "insert", 1, 9) in got
    assert (1, "delete", 0, 9) in got


def test_unsupported_default_type_refuses(spark, loc):
    _v3(spark, loc, n=1)
    _add_defaulted_column(loc, name="d", ice_type="date", default=19000)
    with pytest.raises(
        ice.IcebergUnsupportedFormatVersion, match="initial-default"
    ):
        ice.read_iceberg(spark, loc)


def test_streaming_substitutes_defaults(spark, loc):
    """Round-14 order item 3 (flips the round-13 refusal): the streaming
    source substitutes v3 initial-defaults exactly like the batch reader
    — a stream over a foreign-evolved defaulted table matches the batch
    read row for row."""
    import uuid as _uuid

    from spark_etl_framework_spark.plans.context import (
        JobContext,
        PipelineContext,
    )
    from spark_etl_framework_spark.streaming.readers import (
        IcebergStreamReader,
    )

    _v3(spark, loc, n=3)  # files written BEFORE the column existed
    _add_defaulted_column(loc)
    # post-evolution file carries stored values incl. an explicit null
    ice.write_iceberg(
        spark.createDataFrame(
            [(10, "x", 1), (11, "y", None)], "id int, s string, flag int"
        ).coalesce(1), loc, mode="append",
    )
    r = IcebergStreamReader(table=loc)
    sdf = r.run(JobContext(PipelineContext(), spark), spark)
    qn = f"v3d_{_uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory").queryName(qn)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.id, r.flag) for r in spark.sql(f"select * from {qn}").collect()
    )
    batch = sorted(
        (r.id, r.flag) for r in ice.read_iceberg(spark, loc).collect()
    )
    assert got == batch
    assert got == [(0, 7), (1, 7), (2, 7), (10, 1), (11, None)]


# ---------------------------------------------------------------------------
# add_column DDL (+ write-default fill)
# ---------------------------------------------------------------------------


def test_add_column_metadata_only(spark, loc):
    _write(spark, loc, [(1, "a")], mode="overwrite")
    v0 = ice.current_version(loc)
    n_snaps = len(ice.load_metadata(loc).get("snapshots", []))
    ice.add_column(loc, "extra", "long")
    meta = ice.load_metadata(loc)
    assert ice.current_version(loc) == v0 + 1
    assert len(meta.get("snapshots", [])) == n_snaps  # no snapshot
    assert meta["last-column-id"] == 3  # fresh id, never reused
    got = ice.read_iceberg(spark, loc).collect()
    assert got[0].extra is None  # existing rows read null


def test_add_column_registers_new_schema_id(spark, loc):
    """Round-14 ADVICE (low): evolution keeps old schemas IMMUTABLE — a
    new schema entry with a fresh schema-id becomes current; a reader
    time-traveling by the old schema-id must not see the new column."""
    _v3(spark, loc, n=1)
    before = ice.load_metadata(loc)
    old_sid = before.get("current-schema-id", 0)
    old_fields = [f["name"] for f in before["schema"]["fields"]]
    ice.add_column(loc, "extra", "long")
    meta = ice.load_metadata(loc)
    new_sid = meta["current-schema-id"]
    assert new_sid != old_sid
    hist = next(s for s in meta["schemas"] if s.get("schema-id") == old_sid)
    assert [f["name"] for f in hist["fields"]] == old_fields  # immutable
    cur = next(s for s in meta["schemas"] if s.get("schema-id") == new_sid)
    assert "extra" in [f["name"] for f in cur["fields"]]
    assert meta["schema"]["schema-id"] == new_sid
    # twice: ids keep advancing, history keeps growing
    ice.add_column(loc, "extra2", "long")
    meta2 = ice.load_metadata(loc)
    assert meta2["current-schema-id"] == new_sid + 1
    assert {s.get("schema-id") for s in meta2["schemas"]} >= {
        old_sid, new_sid, new_sid + 1
    }


def test_add_column_with_default_end_to_end(spark, loc):
    _v3(spark, loc, n=2)
    ice.add_column(loc, "grade", "int", default=5)
    # pre-existing rows read the initial-default
    got = {r.id: r.grade for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {0: 5, 1: 5}
    # a write that OMITS the column gets the write-default filled
    ice.write_iceberg(
        spark.createDataFrame([(10, "x")], "id int, s string").coalesce(1),
        loc, mode="append",
    )
    # a write WITH the column keeps explicit values, including null
    ice.write_iceberg(
        spark.createDataFrame(
            [(11, "y", 9), (12, "z", None)], "id int, s string, grade int"
        ).coalesce(1),
        loc, mode="append",
    )
    got = {r.id: r.grade for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {0: 5, 1: 5, 10: 5, 11: 9, 12: None}


def test_add_column_default_requires_v3(spark, loc):
    _write(spark, loc, [(1, "a")], mode="overwrite")
    with pytest.raises(ValueError, match="format-version 3"):
        ice.add_column(loc, "grade", "int", default=5)


def test_add_column_refusals(spark, loc):
    _v3(spark, loc, n=1)
    with pytest.raises(ValueError, match="already exists"):
        ice.add_column(loc, "s", "string")
    with pytest.raises(ValueError, match="unknown iceberg type"):
        ice.add_column(loc, "g", "geometry")
    with pytest.raises(ValueError, match="not"):
        ice.add_column(loc, "d", "date", default=100)


# ---------------------------------------------------------------------------
# expire_snapshots interplay: a puffin holding several DVs survives while
# ANY of its blobs is still referenced by a live snapshot
# ---------------------------------------------------------------------------


def test_expire_keeps_partially_referenced_puffin(spark, loc):
    import os as _os

    _v3(spark, loc)
    # one commit DV-deletes from BOTH files → one puffin, two blobs
    _write(spark, loc, [(100, "x")])  # second data file
    ice.delete_where(spark, loc, "id = 1 or id = 100")
    meta = ice.load_metadata(loc)
    _f, dels = ice._scan_snapshot(meta, ice._pick_snapshot(meta))
    assert len(dels) == 2
    puffins = {d["file_path"] for d in dels}
    assert len(puffins) == 1  # both DVs share one puffin
    puffin = next(iter(puffins))
    # replace only ONE file's DV (second delete touches the first file)
    ice.delete_where(spark, loc, "id = 2")
    # expire everything but the head: the old puffin still carries the
    # live DV for the 100-file and must survive the orphan sweep
    import time as _time

    ice.expire_snapshots(
        loc, older_than_ms=int(_time.time() * 1000) + 1000,
        retain_last=1,
    )
    assert _os.path.exists(puffin)
    got = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    assert got == [0, 3, 4, 5, 6, 7]


# ---------------------------------------------------------------------------
# randomized invariant + plan shape
# ---------------------------------------------------------------------------


def test_random_dv_delete_sequences_match_set_semantics(spark, loc):
    """Property: any sequence of v3 DV deletes leaves exactly the rows a
    plain set-subtraction model leaves — union/replacement arithmetic
    can never resurrect or double-kill, and lineage ids never change."""
    import random

    rng = random.Random(13)
    _v3(spark, loc, n=0 or 6)
    _write(spark, loc, [(i, f"x{i}") for i in range(100, 106)])
    alive = set(range(6)) | set(range(100, 106))
    base_ids = {
        r.id: r._row_id
        for r in ice.read_iceberg(
            spark, loc, with_row_lineage=True
        ).collect()
    }
    for _ in range(4):
        victims = rng.sample(sorted(alive), k=min(2, len(alive)))
        ice.delete_where(
            spark, loc, f"id in ({', '.join(map(str, victims))})"
        )
        alive -= set(victims)
        got = {
            r.id: r._row_id
            for r in ice.read_iceberg(
                spark, loc, with_row_lineage=True
            ).collect()
        }
        assert set(got) == alive
        assert all(got[k] == base_ids[k] for k in got)  # ids stable
    # the whole history replays correctly through the changelog too
    cdc = ice.read_iceberg_changelog(spark, loc)
    net = {}
    for r in cdc.collect():
        if r._change_type == "insert":
            net[r.id] = net.get(r.id, 0) + 1
        else:
            net[r.id] = net.get(r.id, 0) - 1
    assert {k for k, v in net.items() if v > 0} == alive


def test_v3_dv_scan_plan_shape(spark, loc):
    """The DV subtraction must plan as a BROADCAST anti-join over the
    decoded position relation — no cartesian, no shuffle of the fact
    side for a small delete set."""
    _v3(spark, loc)
    ice.delete_where(spark, loc, "id in (1, 5)")
    plan = ice.read_iceberg(spark, loc)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan, plan
    assert any(
        "BroadcastHashJoin" in line and "LeftAnti" in line
        for line in plan.splitlines()
    ), plan


def test_merge_fills_omitted_write_default(spark, loc):
    """MERGE with a source that OMITS a write-defaulted column fills it
    — the write_iceberg rule applied to the merge source (previously an
    AnalysisException)."""
    _v3(spark, loc, n=2)
    ice.add_column(loc, "grade", "int", default=7)
    ice.merge_upsert(
        spark, loc,
        spark.createDataFrame([(0, "A"), (5, "e")], "id int, s string"),
        ["id"],
    )
    got = {r.id: (r.s, r.grade) for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {0: ("A", 7), 1: ("s1", 7), 5: ("e", 7)}


def test_differing_initial_and_write_defaults(spark, loc):
    """The spec allows initial-default != write-default (a foreign
    writer can evolve the write fill without rewriting history): reads
    substitute the INITIAL default for pre-addition files while omitted
    columns on new writes fill the WRITE default."""
    _v3(spark, loc, n=2)

    def fn(meta):
        for sch in [meta.get("schema")] + list(meta.get("schemas", [])):
            if sch and not any(f["name"] == "flag" for f in sch["fields"]):
                nid = max(f["id"] for f in sch["fields"]) + 1
                sch["fields"].append({
                    "id": nid, "name": "flag", "required": False,
                    "type": "int",
                    "initial-default": 7, "write-default": 9,
                })
        meta["last-column-id"] = max(
            f["id"] for f in meta["schema"]["fields"]
        )
    _edit_meta(loc, fn)
    # omitted column on a new write: WRITE default fills
    ice.write_iceberg(
        spark.createDataFrame([(10, "x")], "id int, s string").coalesce(1),
        loc, mode="append",
    )
    got = {r.id: r.flag for r in ice.read_iceberg(spark, loc).collect()}
    assert got[0] == got[1] == 7   # pre-addition rows: INITIAL default
    assert got[10] == 9            # omitted-column write: WRITE default


def test_schema_vintage_decides_absence_without_footer_reads(
    spark, loc, monkeypatch
):
    """Round-15 twin of the delta log-vintage pin: files whose WRITING
    snapshot's schema predates a defaulted field are absent by metadata
    alone — the entire pre-evolution set costs ZERO parquet footer
    reads. Post-DDL files prove presence by their bounds; one without
    any per-column stat for the field still pays one footer (presence
    must stay physical: the jar's read rule is per-file id absence, and
    native writes carry no value_counts)."""
    import pyarrow.parquet as pq

    _v3(spark, loc, n=3)                       # snapshot A, schema-id 0
    ice.add_column(loc, "flag", "int", default=7)   # fresh schema-id
    calls = {"n": 0}
    real = pq.ParquetFile

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    got = {r.id: r.flag for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {i: 7 for i in range(3)}
    assert calls["n"] == 0  # pre-evolution file dated by schema vintage

    # a post-DDL append (snapshot stamped with the NEW schema-id) whose
    # manifest bounds cover flag is present by stats — no footer read
    df = spark.createDataFrame([(10, "x", 1)], "id int, s string, flag int")
    ice.write_iceberg(df.coalesce(1), loc, mode="append")
    calls["n"] = 0
    got = {r.id: r.flag for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {0: 7, 1: 7, 2: 7, 10: 1}
    assert calls["n"] == 0
    # an all-null flag has no bounds: physically unknown without
    # metrics — exactly one footer read, and the stored null stays
    df = spark.createDataFrame([(11, "y", None)], "id int, s string, flag int")
    ice.write_iceberg(df.coalesce(1), loc, mode="append")
    calls["n"] = 0
    got = {r.id: r.flag for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {0: 7, 1: 7, 2: 7, 10: 1, 11: None}
    assert calls["n"] == 1


def test_all_undatable_files_read_each_footer_once_pooled(
    spark, loc, monkeypatch
):
    """Iceberg twin of the delta pooled-footer pin: when the writing
    schema cannot date any file (snapshots without a schema-id, the
    shape of foreign metadata) and no metrics prove presence, each data
    file's footer is read EXACTLY once, through the bounded thread pool
    (min(16, |undatable files|) workers)."""
    import concurrent.futures as cf

    import pyarrow.parquet as pq

    for i in range(3):
        _write(spark, loc, [(i, f"s{i}")], mode="append" if i else "overwrite")
    ice.upgrade_format_version(loc, 3)
    ice.add_column(loc, "flag", "int", default=7)

    def _undate(meta):
        for snap in meta["snapshots"]:
            snap.pop("schema-id", None)

    _edit_meta(loc, _undate)

    pools: list[int | None] = []
    real_pool = cf.ThreadPoolExecutor

    class CapturingPool(real_pool):
        def __init__(self, max_workers=None, **kw):
            pools.append(max_workers)
            super().__init__(max_workers=max_workers, **kw)

    calls = {"n": 0}
    real = pq.ParquetFile

    def counting(*a, **kw):
        if a and isinstance(a[0], str) and a[0].startswith(loc):
            calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(cf, "ThreadPoolExecutor", CapturingPool)
    monkeypatch.setattr(pq, "ParquetFile", counting)
    got = {r.id: r.flag for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {0: 7, 1: 7, 2: 7}
    assert calls["n"] == 3
    assert 3 in pools


def test_defaults_vintage_random_lifecycle(spark, tmp_path):
    """Iceberg twin of the delta randomized lifecycle: fixed-seed
    interleavings of append / ADD COLUMN DEFAULT / MoR DELETE /
    rewrite_data_files / rewrite_manifests / expire_snapshots against a
    driver-side dict model — exercising the round-15 schema-vintage
    absence tier (entry snapshot_id → schema-at-write) across entry
    restatements and snapshot pruning."""
    import random as _random

    for trial, seed in enumerate((5, 17, 29)):
        rng = _random.Random(seed)
        loc = str(tmp_path / f"t{trial}")
        next_id = 0
        has_default = False
        model: dict[int, object] = {}

        def _append(rows, with_flag, first=False):
            schema = (
                "id int, s string, flag int" if with_flag
                else "id int, s string"
            )
            ice.write_iceberg(
                spark.createDataFrame(rows, schema).coalesce(1), loc,
                mode="overwrite" if first else "append",
            )

        _append([(i, f"s{i}") for i in range(4)], False, first=True)
        ice.upgrade_format_version(loc, 3)
        model = {i: None for i in range(4)}
        next_id = 4

        for _ in range(rng.randint(6, 9)):
            op = rng.choice(
                ["append", "ddl", "delete", "rewrite", "manifests",
                 "expire"]
            )
            if op == "ddl":
                if has_default:
                    continue
                ice.add_column(loc, "flag", "int", default=7)
                has_default = True
                model = {k: 7 if v is None else v for k, v in model.items()}
            elif op == "append":
                n = rng.randint(1, 3)
                ids = list(range(next_id, next_id + n))
                if has_default and rng.random() < 0.5:
                    rows = [
                        (i, f"x{i}", rng.choice([None, 1, 2])) for i in ids
                    ]
                    _append(rows, True)
                    for i, _, g in rows:
                        model[i] = g
                else:
                    if has_default:
                        # the native writer is schema-strict without a
                        # write-default; add_column(default=) installs
                        # one, so the omitted column fills 7
                        _append([(i, f"x{i}") for i in ids], False)
                        for i in ids:
                            model[i] = 7
                    else:
                        _append([(i, f"x{i}") for i in ids], False)
                        for i in ids:
                            model[i] = None
                next_id += n
            elif op == "delete":
                if not model:
                    continue
                victims = rng.sample(
                    sorted(model), k=min(len(model), rng.randint(1, 3))
                )
                ice.delete_where(
                    spark, loc, f"id in ({', '.join(map(str, victims))})"
                )
                for v in victims:
                    model.pop(v)
            elif op == "rewrite":
                ice.rewrite_data_files(spark, loc)
            elif op == "manifests":
                ice.rewrite_manifests(loc)
            elif op == "expire":
                ice.expire_snapshots(loc, older_than_ms=None, retain_last=1)

        got = {
            r.id: (r.flag if has_default else None)
            for r in ice.read_iceberg(spark, loc).collect()
        }
        assert got == model, f"seed {seed}: {got} != {model}"
