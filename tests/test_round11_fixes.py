"""Round-11 advisor fixes + judge order items, pinned.

1. ``fast_forward`` is now actually FAST-forward: the moved ref's current
   snapshot must be an ancestor of the branch head (walked over the
   spec's ``parent-snapshot-id``), else the publish refuses instead of
   silently dropping the commits that landed after the fork (lost
   update).
2. ``main`` is reserved for the current branch: ``create_tag(..,'main')``
   refuses, and ``_publish_metadata``'s main-ref sync only advances a
   BRANCH-typed main (a foreign tag named main stays pinned — tag
   immutability).
3. IcebergReader folds every ``options.*`` into the jar read (the
   reference's foldLeft, IcebergReader.scala:26) and runs the branch/tag
   exclusivity check BEFORE either path.
4. Delta V2 checkpoints with a JSON top file
   (``<v>.checkpoint.<uuid>.json`` — PROTOCOL.md allows either encoding)
   are discovered and replayed; previously they were silently ignored
   and reads died once pre-checkpoint commits were cleaned.
5. Checkpoint replay is column-projected and batch-iterated
   (_iter_checkpoint_actions) — a million-file checkpoint never
   materializes as one driver-side pylist.
6. ``clean_log`` reclaims ``_sidecars/`` parts no surviving checkpoint
   references; ``expire_checkpoints=True`` opts into deleting
   superseded checkpoints (their sidecars then reclaim as orphans).
7. In-commit timestamps (``inCommitTimestamp`` writer feature):
   enablement commit + properties, monotonic stamping at the commit
   funnel, and timestamp time-travel that survives storage rewriting
   file mtimes and the legacy commitInfo.timestamp field.
"""

from __future__ import annotations

import json
import os

import pytest

from spark_etl_framework_spark.sources import deltalog as dl
from spark_etl_framework_spark.sources import iceberg as ice
from spark_etl_framework_spark.sources import lakecore


@pytest.fixture()
def loc(tmp_path):
    return str(tmp_path / "t")


def _iwrite(spark, loc, ids, mode="append", branch=None):
    df = spark.createDataFrame([(i, f"s{i}") for i in ids], "id int, s string")
    return ice.write_iceberg(df.coalesce(1), loc, mode=mode, branch=branch)


def _dwrite(spark, path, ids, mode="append"):
    df = spark.createDataFrame([(i,) for i in ids], "id int")
    dl.write_delta(df.coalesce(1), path, mode=mode)


# ---------------------------------------------------------------------------
# 1. fast_forward ancestry guard
# ---------------------------------------------------------------------------


def test_fast_forward_refuses_when_target_advanced(spark, loc):
    _iwrite(spark, loc, range(3), mode="overwrite")
    _iwrite(spark, loc, [10, 11], branch="audit")  # forks from snapshot 1
    _iwrite(spark, loc, [20])  # main advances PAST the fork point
    with pytest.raises(ValueError, match="not an ancestor"):
        ice.fast_forward(loc, "audit")
    # the refused publish must not have moved main
    got = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    assert got == [0, 1, 2, 20]


def test_fast_forward_still_publishes_clean_branches(spark, loc):
    _iwrite(spark, loc, range(3), mode="overwrite")
    _iwrite(spark, loc, [10], branch="audit")
    _iwrite(spark, loc, [11], branch="audit")  # two staged commits
    ice.fast_forward(loc, "audit")
    got = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    assert got == [0, 1, 2, 10, 11]


def test_snapshots_record_parent_lineage(spark, loc):
    _iwrite(spark, loc, range(3), mode="overwrite")
    _iwrite(spark, loc, [3])
    ice.delete_where(spark, loc, "id = 1")
    snaps = ice.load_metadata(loc)["snapshots"]
    assert "parent-snapshot-id" not in snaps[0]  # root has no parent
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur["parent-snapshot-id"] == prev["snapshot-id"]


# ---------------------------------------------------------------------------
# 2. main is reserved for the current branch
# ---------------------------------------------------------------------------


def test_create_tag_main_refused(spark, loc):
    _iwrite(spark, loc, range(3), mode="overwrite")
    with pytest.raises(ValueError, match="reserved for the current branch"):
        ice.create_tag(loc, "main")
    ice.create_branch(loc, "main")  # a BRANCH named main is the spec norm


def test_publish_sync_leaves_foreign_main_tag_pinned(spark, loc):
    _iwrite(spark, loc, range(3), mode="overwrite")
    meta = ice.load_metadata(loc)
    pinned = meta["current-snapshot-id"]
    # simulate FOREIGN metadata carrying a tag named main
    meta = dict(meta, refs={"main": {"snapshot-id": pinned, "type": "tag"}})
    ice._publish_metadata(loc, ice.current_version(loc) + 1, meta)
    _iwrite(spark, loc, [9])  # a commit that syncs a branch-typed main
    refs = ice.load_metadata(loc)["refs"]
    assert refs["main"] == {"snapshot-id": pinned, "type": "tag"}


# ---------------------------------------------------------------------------
# 3. IcebergReader option forwarding on the jar path
# ---------------------------------------------------------------------------


class _SpyReader:
    """Stands in for spark.read: records the format/options chain."""

    def __init__(self, calls):
        self.calls = calls
        self._fmt = None
        self._opts = {}

    def format(self, fmt):
        self._fmt = fmt
        return self

    def options(self, **kw):
        self._opts.update(kw)
        return self

    def load(self, target):
        self.calls.append((self._fmt, dict(self._opts), target))

        class _DF:
            schema = None

            def filter(self, _):
                return self

        return _DF()


def test_iceberg_reader_forwards_options_to_jar(spark, monkeypatch):
    from pyspark.sql import SparkSession

    from spark_etl_framework_spark.sources.connectors import IcebergReader

    calls: list = []
    monkeypatch.setattr(
        SparkSession, "read", property(lambda self: _SpyReader(calls))
    )
    r = IcebergReader(table="/tmp/nowhere/t")
    r._props["options.branch"] = "audit"
    r._props["options.snapshotId"] = "42"
    r.run(None, spark)
    assert calls == [
        ("iceberg", {"branch": "audit", "snapshotId": "42"}, "/tmp/nowhere/t")
    ]


def test_iceberg_reader_exclusivity_precedes_jar(spark, monkeypatch):
    from pyspark.sql import SparkSession

    from spark_etl_framework_spark.sources.connectors import IcebergReader

    calls: list = []
    monkeypatch.setattr(
        SparkSession, "read", property(lambda self: _SpyReader(calls))
    )
    r = IcebergReader(table="/tmp/nowhere/t")
    r._props["options.branch"] = "a"
    r._props["options.tag"] = "b"
    with pytest.raises(ValueError, match="not both"):
        r.run(None, spark)
    assert calls == []  # refused BEFORE the jar read


# ---------------------------------------------------------------------------
# 4. V2 checkpoint with a JSON top file
# ---------------------------------------------------------------------------


def test_v2_json_top_checkpoint_replay(spark, loc):
    for i in range(3):
        _dwrite(spark, loc, [i])
    dl.delete_where(spark, loc, "id = 1", use_dvs=True)
    v = dl.write_checkpoint_v2(loc, parts=2, top_format="json")
    names = os.listdir(dl._log_dir(loc))
    tops = [n for n in names if dl._CP_V2_JSON_RE.match(n)]
    assert len(tops) == 1 and dl._checkpoint_version_of(tops[0]) == v
    # the top is commit-file-shaped JSON: maps are objects, not kv lists
    with open(os.path.join(dl._log_dir(loc), tops[0]), encoding="utf-8") as fh:
        acts = [json.loads(x) for x in fh if x.strip()]
    md = next(a["metaData"] for a in acts if "metaData" in a)
    assert isinstance(md["configuration"], dict)
    assert sum("sidecar" in a for a in acts) == 2
    # replay MUST walk the json top -> sidecars once commits are cleaned
    assert dl.clean_log(loc) == v
    got = sorted(r.id for r in dl.read_delta(spark, loc).collect())
    assert got == [0, 2]
    ts = dl.table_changes  # noqa: F841  (module import sanity)


def test_foreign_json_top_discovered(spark, loc):
    """A json top written by ANOTHER writer (no _last_checkpoint update)
    is still discovered by the directory scan."""
    for i in range(2):
        _dwrite(spark, loc, [i])
    dl.write_checkpoint_v2(loc, top_format="json")
    os.unlink(os.path.join(dl._log_dir(loc), "_last_checkpoint"))
    for v in range(dl.latest_version(loc)):
        p = dl._commit_path(loc, v)
        if os.path.exists(p):
            os.unlink(p)
    got = sorted(r.id for r in dl.read_delta(spark, loc).collect())
    assert got == [0, 1]


# ---------------------------------------------------------------------------
# 5. projected, batch-iterated checkpoint reads
# ---------------------------------------------------------------------------


def test_iter_checkpoint_actions_projects_columns(spark, loc):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # a foreign checkpoint carrying an extra commitInfo column AND more
    # rows than one batch: projection must drop the extra column and the
    # iterator must stream without materializing the file
    _dwrite(spark, loc, [0])
    cp = dl._checkpoint_path(loc, 0)
    fields = dl._checkpoint_pa_fields()
    snap = dl.snapshot(loc, 0)
    meta_rows, add_rows = dl._checkpoint_rows(snap)
    rows = meta_rows + add_rows
    rows += [
        {"commitInfo": {"engineInfo": f"noise-{i}"}} for i in range(5000)
    ]
    schema = pa.schema(
        [fields[k] for k in ("txn", "add", "metaData", "protocol")]
        + [pa.field("commitInfo",
                    pa.struct([pa.field("engineInfo", pa.string())]))]
    )
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), cp)
    dl._write_last_checkpoint(loc, 0, len(rows))
    acts = list(dl._iter_checkpoint_actions(cp, columns=("add", "metaData")))
    assert all(set(a) <= {"add", "metaData"} for a in acts)
    assert sum("add" in a for a in acts) == 1
    # full replay through the noisy checkpoint still reconstructs state
    assert [r.id for r in dl.read_delta(spark, loc).collect()] == [0]


# ---------------------------------------------------------------------------
# 6. clean_log reclaims superseded checkpoints + orphan sidecars
# ---------------------------------------------------------------------------


def test_clean_log_reclaims_orphan_sidecars(spark, loc):
    for i in range(3):
        _dwrite(spark, loc, [i])
    dl.write_checkpoint_v2(loc, parts=2)
    first_sidecars = set(os.listdir(dl._sidecar_dir(loc)))
    _dwrite(spark, loc, [3])
    v2 = dl.write_checkpoint_v2(loc, parts=2)
    # default: superseded checkpoints (and their referenced sidecars)
    # SURVIVE — time travel to their versions stays replayable
    assert dl.clean_log(loc) == v2
    assert first_sidecars <= set(os.listdir(dl._sidecar_dir(loc)))
    # opt-in expiry reclaims the old top and its now-orphaned sidecars
    removed = dl.clean_log(loc, expire_checkpoints=True)
    names = os.listdir(dl._log_dir(loc))
    tops = [n for n in names if dl._checkpoint_version_of(n) is not None]
    assert len(tops) == 1 and dl._checkpoint_version_of(tops[0]) == v2
    left = set(os.listdir(dl._sidecar_dir(loc)))
    assert not (left & first_sidecars)  # orphans reclaimed
    assert len(left) == 2  # the live parts stayed
    assert removed == 1 + 2  # 1 old top + its 2 orphan sidecars
    got = sorted(r.id for r in dl.read_delta(spark, loc).collect())
    assert got == [0, 1, 2, 3]


# ---------------------------------------------------------------------------
# 7. in-commit timestamps
# ---------------------------------------------------------------------------


def test_ict_enablement_and_monotonic_stamping(spark, loc):
    _dwrite(spark, loc, [0])
    v = dl.enable_in_commit_timestamps(loc)
    assert dl.enable_in_commit_timestamps(loc) == v  # idempotent
    snap = dl.snapshot(loc)
    assert "inCommitTimestamp" in snap.protocol["writerFeatures"]
    conf = snap.configuration
    assert conf["delta.enableInCommitTimestamps"] == "true"
    assert conf["delta.inCommitTimestampEnablementVersion"] == str(v)
    assert conf["delta.inCommitTimestampEnablementTimestamp"] == str(
        dl._ict_of_commit(loc, v)
    )
    _dwrite(spark, loc, [1])
    _dwrite(spark, loc, [2])
    icts = [dl._ict_of_commit(loc, x) for x in range(v, dl.latest_version(loc) + 1)]
    assert all(x is not None for x in icts)
    assert icts == sorted(icts) and len(set(icts)) == len(icts)
    # pre-enablement commits carry none
    assert dl._ict_of_commit(loc, 0) is None


def test_ict_time_travel_survives_storage_drift(spark, loc):
    _dwrite(spark, loc, [0])
    v_en = dl.enable_in_commit_timestamps(loc)
    _dwrite(spark, loc, [1])
    v_last = dl.latest_version(loc)
    ict_last = dl._ict_of_commit(loc, v_last)
    # storage drift: scramble every commit's mtime AND the legacy
    # commitInfo.timestamp field — the protocol says readers must use
    # inCommitTimestamp once present, so resolution must not move
    for v in range(v_last + 1):
        p = dl._commit_path(loc, v)
        acts = [json.loads(x) for x in open(p, encoding="utf-8") if x.strip()]
        for a in acts:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = 1_000  # epoch 1970
        with open(p, "w", encoding="utf-8") as fh:
            for a in acts:
                fh.write(json.dumps(a, separators=(",", ":")) + "\n")
        os.utime(p, (1.0, 1.0))
    assert dl._commit_timestamp(loc, v_last) == ict_last
    got = dl.read_delta(spark, loc, timestamp_as_of=ict_last - 1)
    assert sorted(r.id for r in got.collect()) == [0]  # pre-append state
    got = dl.read_delta(spark, loc, timestamp_as_of=ict_last)
    assert sorted(r.id for r in got.collect()) == [0, 1]
    assert v_en >= 1


# ---------------------------------------------------------------------------
# 8. reader-feature protocol gate
# ---------------------------------------------------------------------------


def _commit_protocol(loc, proto):
    v = dl.latest_version(loc) + 1
    dl._publish_commit(loc, v, [{"protocol": proto}])


def test_unknown_reader_feature_refused_loudly(spark, loc):
    # collations-preview: a real delta reader feature this module does
    # not implement (the round-11 example here, typeWidening, and then
    # the round-12 replacement, variantType, both became CAPABILITIES
    # in round 12)
    _dwrite(spark, loc, [0])
    _commit_protocol(loc, {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["collations-preview"],
        "writerFeatures": ["collations-preview"],
    })
    with pytest.raises(dl.DeltaUnsupportedProtocol, match="collations"):
        dl.read_delta(spark, loc)


def test_future_min_reader_version_refused(spark, loc):
    _dwrite(spark, loc, [0])
    _commit_protocol(loc, {"minReaderVersion": 4, "minWriterVersion": 7})
    with pytest.raises(
        dl.DeltaUnsupportedProtocol, match="minReaderVersion 4"
    ):
        dl.snapshot(loc)


def test_supported_reader_features_still_read(spark, loc):
    _dwrite(spark, loc, [0, 1])
    dl.delete_where(spark, loc, "id = 0", use_dvs=True)  # installs DV feature
    dl.write_checkpoint_v2(loc)  # installs v2Checkpoint
    assert [r.id for r in dl.read_delta(spark, loc).collect()] == [1]


# ---------------------------------------------------------------------------
# 9. domainMetadata: tracked, checkpoint-restated, writer feature
# ---------------------------------------------------------------------------


def test_domain_metadata_survives_checkpoint_and_cleanup(spark, loc):
    _dwrite(spark, loc, [0, 1])
    dl.set_domain_metadata(
        loc, "delta.clustering", '{"clusteringColumns":[["id"]]}'
    )
    dl.set_domain_metadata(loc, "monitoring", '{"tool":"x"}')
    dl.set_domain_metadata(loc, "monitoring", "", removed=True)
    snap = dl.snapshot(loc)
    assert "domainMetadata" in snap.protocol["writerFeatures"]
    assert list(snap.domain_metadata) == ["delta.clustering"]
    # the checkpoint must RESTATE the live domain or cleanup strips it
    v = dl.write_checkpoint_v2(loc, parts=1)
    assert dl.clean_log(loc) == v
    snap2 = dl.snapshot(loc)
    assert snap2.domain_metadata == snap.domain_metadata
    assert snap2.domain_metadata["delta.clustering"]["configuration"] == (
        '{"clusteringColumns":[["id"]]}'
    )
    # classic checkpoint path restates it too
    _dwrite(spark, loc, [2])
    dl._write_checkpoint(loc, dl.latest_version(loc))
    dl.clean_log(loc)
    assert list(dl.snapshot(loc).domain_metadata) == ["delta.clustering"]


def test_domain_metadata_survives_json_top(spark, loc):
    _dwrite(spark, loc, [0])
    dl.set_domain_metadata(loc, "delta.clustering", '{"c":1}')
    v = dl.write_checkpoint_v2(loc, top_format="json")
    assert dl.clean_log(loc) == v
    assert dl.snapshot(loc).domain_metadata["delta.clustering"][
        "configuration"
    ] == '{"c":1}'


# ---------------------------------------------------------------------------
# 10. liquid clustering (clustering writer feature + delta.clustering domain)
# ---------------------------------------------------------------------------


def _stats_range(f):
    st = json.loads(f.stats)
    return st["minValues"]["id"], st["maxValues"]["id"]


def test_cluster_by_layout_and_domain(spark, loc):
    # AQE rightly coalesces an 80-row range exchange to ONE partition;
    # pin a multi-file layout so the disjointness property is visible
    prior = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled",
                           "true")
    prior_n = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        _cluster_body(spark, loc)
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", prior
        )
        spark.conf.set("spark.sql.shuffle.partitions", prior_n)


def _cluster_body(spark, loc):
    df = spark.createDataFrame([(i,) for i in range(80)], "id int")
    dl.write_delta(df, loc, mode="overwrite", cluster_by=["id"])
    snap = dl.snapshot(loc)
    assert {"clustering", "domainMetadata"} <= set(
        snap.protocol["writerFeatures"]
    )
    assert json.loads(
        snap.domain_metadata["delta.clustering"]["configuration"]
    )["clusteringColumns"] == [["id"]]
    # range clustering: file key-ranges are DISJOINT, so min/max stats
    # form a skipping index over the clustering column
    ranges = sorted(_stats_range(f) for f in snap.files)
    assert len(ranges) > 1
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    # appends RE-APPLY the recorded layout without re-passing cluster_by
    df2 = spark.createDataFrame([(i,) for i in range(80, 160)], "id int")
    dl.write_delta(df2, loc, mode="append")
    snap2 = dl.snapshot(loc)
    new_files = [f for f in snap2.files if f not in snap.files]
    new_ranges = sorted(_stats_range(f) for f in new_files)
    assert len(new_ranges) > 1
    for (lo1, hi1), (lo2, hi2) in zip(new_ranges, new_ranges[1:]):
        assert hi1 <= lo2
    # data skipping actually prunes on the clustering column
    conj = lakecore.parse_skippable("id >= 10 AND id <= 12")
    surviving = [f for f in snap2.files if dl._file_survives(f.stats, conj)]
    assert 0 < len(surviving) < len(snap2.files)
    # and the domain survives checkpoint + log cleanup
    v = dl.write_checkpoint_v2(loc)
    dl.clean_log(loc)
    assert "delta.clustering" in dl.snapshot(loc).domain_metadata
    assert v >= 1


def test_cluster_by_guards(spark, loc):
    df = spark.createDataFrame([(1, 2)], "id int, g int")
    with pytest.raises(ValueError, match="hive-partitioned"):
        dl.write_delta(df, loc, mode="overwrite",
                       cluster_by=["id"], partition_by=["g"])
    with pytest.raises(ValueError, match="not in the dataframe"):
        dl.write_delta(df, loc, mode="overwrite", cluster_by=["ghost"])
    dl.write_delta(df, loc, mode="overwrite", cluster_by=["id"])
    with pytest.raises(ValueError, match="fixed at creation"):
        dl.write_delta(df, loc, mode="append", cluster_by=["g"])


# ---------------------------------------------------------------------------
# 11. auto-checkpoints honor the table's checkpoint policy
# ---------------------------------------------------------------------------


def test_auto_checkpoint_is_v2_on_v2_featured_table(spark, loc):
    _dwrite(spark, loc, [0])
    dl.write_checkpoint_v2(loc)  # installs the v2Checkpoint feature
    # drive past the next CHECKPOINT_INTERVAL boundary: the automatic
    # checkpoint must come out in the V2 naming, never classic
    target = ((dl.latest_version(loc) // dl.CHECKPOINT_INTERVAL) + 1) * (
        dl.CHECKPOINT_INTERVAL
    )
    i = 1
    while dl.latest_version(loc) < target:
        _dwrite(spark, loc, [i])
        i += 1
    names = os.listdir(dl._log_dir(loc))
    assert not any(
        n == f"{target:020d}.checkpoint.parquet" for n in names
    ), "auto-checkpoint wrote a CLASSIC file on a v2Checkpoint table"
    assert any(
        (m := dl._CP_NAME_RE.match(n)) and m.group(2)
        and int(m.group(1)) == target
        for n in names
    ), "no V2 auto-checkpoint at the interval boundary"
    # replay through it still reconstructs the full state
    dl.clean_log(loc)
    assert dl.read_delta(spark, loc).count() == i


# ---------------------------------------------------------------------------
# 12. iceberg snapshot summaries, metadata-log, rewrite_manifests
# ---------------------------------------------------------------------------


def test_snapshot_summary_metrics(spark, loc):
    _iwrite(spark, loc, range(3), mode="overwrite")
    _iwrite(spark, loc, [3, 4])
    snaps = ice.load_metadata(loc)["snapshots"]
    s0, s1 = snaps[0]["summary"], snaps[1]["summary"]
    assert (s0["added-records"], s0["total-records"]) == ("3", "3")
    assert (s1["added-records"], s1["total-records"]) == ("2", "5")
    assert s1["total-data-files"] == "2"
    assert int(s1["added-files-size"]) > 0


def test_metadata_log_appends_and_bounds(spark, loc):
    for i in range(4):
        _iwrite(spark, loc, [i], mode="overwrite" if i == 0 else "append")
    meta = ice.load_metadata(loc)
    log = meta["metadata-log"]
    assert len(log) == 3  # v1..v3 recorded when v2..v4 published
    assert all(os.path.exists(e["metadata-file"]) for e in log)
    versions = [
        int(e["metadata-file"].rsplit("v", 1)[1].split(".")[0]) for e in log
    ]
    assert versions == sorted(versions)


def test_rewrite_manifests_consolidates(spark, loc):
    for i in range(4):
        _iwrite(spark, loc, [i], mode="overwrite" if i == 0 else "append")
    before = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    out = ice.rewrite_manifests(loc)
    assert out == {"before": 4, "after": 1}
    assert sorted(r.id for r in ice.read_iceberg(spark, loc).collect()) == before
    snap = ice.load_metadata(loc)["snapshots"][-1]
    assert snap["summary"]["operation"] == "replace"
    # idempotent: nothing left to fold
    assert ice.rewrite_manifests(loc) == {"before": 1, "after": 1}


def test_rewrite_manifests_respects_sequence_groups(spark, loc):
    # v2 table with row-level deletes: data manifests from different
    # sequence numbers must NOT merge (position deletes at an
    # intermediate sequence would stop applying), delete manifests
    # carry over, and the read stays exact
    _iwrite(spark, loc, range(4), mode="overwrite")
    ice.delete_where(spark, loc, "id = 1")  # v2 upgrade + delete manifest
    _iwrite(spark, loc, [10])
    _iwrite(spark, loc, [11])
    before = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    assert before == [0, 2, 3, 10, 11]
    out = ice.rewrite_manifests(loc)
    assert out["after"] < out["before"]
    got = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    assert got == before
    # time travel to the pre-rewrite snapshot still works (replace kept it)
    meta = ice.load_metadata(loc)
    prev_snap = meta["snapshots"][-2]["snapshot-id"]
    got_prev = sorted(
        r.id
        for r in ice.read_iceberg(spark, loc, snapshot_id=prev_snap).collect()
    )
    assert got_prev == before


# ---------------------------------------------------------------------------
# 13. version checksum sidecars (<v>.crc)
# ---------------------------------------------------------------------------


def test_version_checksum_written_and_validates(spark, loc):
    _dwrite(spark, loc, [0, 1])
    _dwrite(spark, loc, [2])
    for v in (0, 1):
        assert os.path.exists(dl._crc_path(loc, v))
        crc = dl.validate_checksum(loc, v)
        assert crc["numFiles"] >= 1
    crc = dl.validate_checksum(loc)
    assert crc["numFiles"] == 2  # two coalesced single-file appends
    # ICT commits record it in the crc and validate against the log
    dl.enable_in_commit_timestamps(loc)
    _dwrite(spark, loc, [3])
    v = dl.latest_version(loc)
    crc = dl.validate_checksum(loc, v)
    assert crc["inCommitTimestamp"] == dl._ict_of_commit(loc, v)
    # DML versions have no crc: unverified, not an error
    dl.delete_where(spark, loc, "id = 0")
    assert dl.validate_checksum(loc) is None


def test_version_checksum_detects_divergence(spark, loc):
    _dwrite(spark, loc, [0])
    p = dl._crc_path(loc, 0)
    crc = json.load(open(p, encoding="utf-8"))
    crc["numFiles"] = 99
    with open(p, "w", encoding="utf-8") as fh:
        json.dump(crc, fh)
    with pytest.raises(dl.DeltaChecksumMismatch, match="numFiles"):
        dl.validate_checksum(loc, 0)


def test_clean_log_removes_stale_crc(spark, loc):
    for i in range(3):
        _dwrite(spark, loc, [i])
    v = dl.write_checkpoint_v2(loc)
    removed = dl.clean_log(loc)
    assert removed == v  # crc sidecars are NOT counted
    for x in range(v):
        assert not os.path.exists(dl._crc_path(loc, x))


# ---------------------------------------------------------------------------
# 14. streaming Change Data Feed parity with the batch table_changes
# ---------------------------------------------------------------------------


def test_stream_cdf_matches_batch_table_changes(spark, loc):
    import uuid as _uuid

    from spark_etl_framework_spark.sources.pysource import (
        register_python_source,
    )

    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(8)], "id int, s string"
    )
    dl.write_delta(df.coalesce(1), loc, mode="overwrite")
    dl.delete_where(spark, loc, "id IN (2, 5)", use_dvs=True)
    dl.update_where(spark, loc, "id = 1", {"s": "upper(s)"})

    register_python_source(spark, dl.DeltaLogDataSource)
    sdf = (
        spark.readStream.format("deltalog")
        .option("path", loc)
        .option("readChangeFeed", "true")
        .load()
    )
    assert {"_change_type", "_commit_version", "_commit_timestamp"} <= set(
        sdf.columns
    )
    qname = f"cdf_{_uuid.uuid4().hex[:8]}"
    q = sdf.writeStream.format("memory").queryName(qname).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r.id, r.s, r._change_type, r._commit_version)
        for r in spark.table(qname).collect()
    }
    batch = {
        (r.id, r.s, r._change_type, r._commit_version)
        for r in dl.table_changes(spark, loc, 0).collect()
    }
    assert streamed == batch
    # the stream's commit timestamps follow the commit clock
    ts = [
        r._commit_timestamp
        for r in spark.table(qname).orderBy("_commit_version").collect()
    ]
    assert ts == sorted(ts)


# ---------------------------------------------------------------------------
# 15. property pins: ICT strict monotonicity, ancestry walk
# ---------------------------------------------------------------------------


def test_ict_strictly_increases_under_rapid_commits(spark, loc):
    _dwrite(spark, loc, [0])
    dl.enable_in_commit_timestamps(loc)
    v0 = dl.latest_version(loc)
    # rapid same-millisecond commits: the funnel must still stamp a
    # STRICTLY increasing chain (max(now, prev+1))
    for i in range(12):
        dl._publish_commit(
            loc,
            dl.latest_version(loc) + 1,
            [{"commitInfo": {"timestamp": 0, "operation": f"NOOP{i}"}},
             {"txn": {"appId": "rapid", "version": i}}],
        )
    icts = [
        dl._ict_of_commit(loc, v)
        for v in range(v0, dl.latest_version(loc) + 1)
    ]
    assert all(t is not None for t in icts)
    assert all(b > a for a, b in zip(icts, icts[1:]))


def test_is_ancestor_walk_properties():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @st.composite
    def trees(draw):
        n = draw(st.integers(min_value=1, max_value=30))
        parents = {0: None}
        for i in range(1, n):
            parents[i] = draw(st.integers(min_value=0, max_value=i - 1))
        return parents

    def meta_of(parents):
        return {
            "snapshots": [
                {"snapshot-id": i,
                 **({"parent-snapshot-id": p} if p is not None else {})}
                for i, p in parents.items()
            ]
        }

    @given(trees(), st.data())
    @settings(max_examples=60, deadline=None)
    def prop(parents, data):
        meta = meta_of(parents)
        a = data.draw(st.sampled_from(sorted(parents)))
        b = data.draw(st.sampled_from(sorted(parents)))
        chain, cur = set(), b
        while cur is not None:
            chain.add(cur)
            cur = parents[cur]
        assert ice._is_ancestor(meta, a, b) == (a in chain)
        # reflexive; root is everyone's ancestor; unknown id never is
        assert ice._is_ancestor(meta, b, b)
        assert ice._is_ancestor(meta, 0, b)
        assert not ice._is_ancestor(meta, 10**9, b)

    prop()


# ---------------------------------------------------------------------------
# 16. Delta UniForm: one data copy, two protocol front doors
# ---------------------------------------------------------------------------


def test_uniform_iceberg_mirror_roundtrip(spark, loc):
    _dwrite(spark, loc, [0, 1, 2])
    dl.enable_uniform(loc)
    # the same directory reads as a NATIVE iceberg table
    got = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    assert got == [0, 1, 2]
    # every delta commit advances the iceberg view automatically
    _dwrite(spark, loc, [3, 4])
    got = sorted(r.id for r in ice.read_iceberg(spark, loc).collect())
    assert got == [0, 1, 2, 3, 4]
    # copy-on-write DELETE mirrors too
    dl.delete_where(spark, loc, "id = 1")
    assert sorted(r.id for r in ice.read_iceberg(spark, loc).collect()) == [
        0, 2, 3, 4,
    ]
    assert sorted(r.id for r in dl.read_delta(spark, loc).collect()) == [
        0, 2, 3, 4,
    ]
    # the iceberg snapshot is stamped with the delta version it mirrors
    meta = ice.load_metadata(loc)
    cur = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    assert cur["summary"]["delta-version"] == str(dl.latest_version(loc))
    # ZERO data copies: iceberg manifests point INTO the delta table
    files = {f.path for f in dl.snapshot(loc).files}
    data, _dels = ice._scan_snapshot(meta, cur)
    assert {os.path.relpath(f["file_path"], loc) for f in data} == files


def test_uniform_partitioned_and_pruned(spark, loc):
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id int, g int"
    )
    dl.write_delta(df.coalesce(1), loc, mode="overwrite", partition_by=["g"])
    dl.enable_uniform(loc)
    out = ice.read_iceberg(spark, loc, where="g = 1")
    assert sorted(r.id for r in out.collect()) == [
        i for i in range(30) if i % 3 == 1
    ]
    # numeric bounds rode over from the delta stats: id pruning works
    meta = ice.load_metadata(loc)
    cur = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    data, _d = ice._scan_snapshot(meta, cur)
    assert any(f.get("lower_bounds") for f in data)


def test_uniform_guards(spark, loc):
    _dwrite(spark, loc, [0, 1])
    dl.delete_where(spark, loc, "id = 0", use_dvs=True)
    with pytest.raises(ValueError, match="deletion vectors"):
        dl.enable_uniform(loc)
    dl.purge_deletion_vectors(spark, loc)
    dl.enable_uniform(loc)
    with pytest.raises(ValueError, match="disabled on UniForm"):
        dl.delete_where(spark, loc, "id = 1", use_dvs=True)
    # COW delete is the supported path; the mirror follows it to empty
    dl.delete_where(spark, loc, "id = 1")
    assert ice.read_iceberg(spark, loc).count() == 0


# ---------------------------------------------------------------------------
# 17. incremental append scan
# ---------------------------------------------------------------------------


def test_incremental_append_scan(spark, loc):
    s1 = _iwrite(spark, loc, [0, 1], mode="overwrite")
    s2 = _iwrite(spark, loc, [2, 3])
    s3 = _iwrite(spark, loc, [4])
    got = sorted(
        r.id
        for r in ice.read_iceberg_incremental(spark, loc, s1).collect()
    )
    assert got == [2, 3, 4]
    got = sorted(
        r.id
        for r in ice.read_iceberg_incremental(
            spark, loc, s1, to_snapshot_id=s2
        ).collect()
    )
    assert got == [2, 3]
    # empty range is an empty frame with the table schema
    assert ice.read_iceberg_incremental(spark, loc, s3).count() == 0
    # a from-snapshot OFF the current lineage refuses: a wap-staged
    # snapshot sits in the table but on no pointer's ancestry
    df = spark.createDataFrame([(99, "x")], "id int, s string")
    staged = ice.write_iceberg(df.coalesce(1), loc, wap_id="side")
    with pytest.raises(ValueError, match="not an ancestor"):
        ice.read_iceberg_incremental(spark, loc, staged)
    # an unknown id refuses by name
    with pytest.raises(ValueError, match="not in the table"):
        ice.read_iceberg_incremental(spark, loc, 12345, to_snapshot_id=s3)
    # an overwrite inside the range refuses loudly
    _iwrite(spark, loc, [9], mode="overwrite")
    with pytest.raises(ValueError, match="only append snapshots"):
        ice.read_iceberg_incremental(spark, loc, s1)


def test_incremental_scan_partitioned(spark, loc):
    df1 = spark.createDataFrame([(i, i % 2) for i in range(6)],
                                "id int, g int")
    s1 = ice.write_iceberg(df1.coalesce(1), loc, mode="overwrite",
                           partition_by=["g"])
    df2 = spark.createDataFrame([(10, 0), (11, 1)], "id int, g int")
    ice.write_iceberg(df2.coalesce(1), loc, partition_by=["g"])
    out = ice.read_iceberg_incremental(spark, loc, s1)
    rows = sorted((r.id, r.g) for r in out.collect())
    assert rows == [(10, 0), (11, 1)]  # typed partition values reattach
