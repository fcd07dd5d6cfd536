"""The format-neutral lakehouse core (sources/lakecore.py) and the
failure paths that route through it: staging, footer folds, exclusive
publish, and the no-orphan guarantees of DML commits that lose a race
or whose sibling staging thunk fails."""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os
import pathlib

import pytest

from spark_etl_framework_spark.sources import deltalog as dl
from spark_etl_framework_spark.sources import iceberg as ice
from spark_etl_framework_spark.sources import lakecore

SOURCES = pathlib.Path(lakecore.__file__).parent


def _tree(root) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, n), root)
        for d, _dirs, names in os.walk(root)
        for n in names
    }


# ---------------------------------------------------------------------------
# staging
# ---------------------------------------------------------------------------


def test_stage_parquet_drops_empty_parts(spark, tmp_path):
    """An empty input still makes Spark write one schema-only part: it
    must not land under the root. Non-empty parts land with the
    caller's names, hive dirs kept, the null dir parsed to None."""
    root = str(tmp_path / "t")
    empty = spark.range(0).selectExpr("id", "cast(id % 2 as string) as g")
    assert lakecore.stage_parquet(empty, root, "data", lambda: "x.parquet") == []
    assert not os.path.exists(root) or not _tree(root)

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None)], "id long, g string"
    ).repartition(8)
    names = iter(f"f{i}.parquet" for i in range(100))
    staged = lakecore.stage_parquet(df, root, "data", lambda: next(names), ["g"])
    assert sum(f.row_count for f in staged) == 3
    assert all(f.row_count > 0 for f in staged)
    assert {f.partition_values["g"] for f in staged} == {"a", None}
    for f in staged:
        assert f.dst == os.path.join(root, f.rel)
        assert f.rel.startswith("data" + os.sep)
        assert os.path.basename(f.rel).startswith("f")
        assert f.footer.num_rows == f.row_count
    assert _tree(root) == {f.rel for f in staged}


def test_hive_default_partition_parses_to_none():
    rel = os.path.join("a=__HIVE_DEFAULT_PARTITION__", "b=x%20y", "p.parquet")
    assert lakecore.parse_hive_dirs(rel) == {"a": None, "b": "x y"}
    assert lakecore.parse_hive_dirs("p.parquet") == {}


# ---------------------------------------------------------------------------
# footer fold
# ---------------------------------------------------------------------------


def _old_delta_fold(md):
    """The row-group fold deltalog carried before the core existed
    (values converted before they are compared)."""
    mins, maxs, nulls = {}, {}, {}

    def _j(v):
        if isinstance(v, (dt.datetime, dt.date)):
            return v.isoformat(sep=" ") if isinstance(v, dt.datetime) else v.isoformat()
        if isinstance(v, decimal.Decimal):
            return str(v)
        if isinstance(v, bytes):
            return None
        return v

    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:
                continue
            st = col.statistics
            if st is None:
                continue
            nulls[name] = nulls.get(name, 0) + (st.null_count or 0)
            if not st.has_min_max:
                continue
            try:
                lo, hi = _j(st.min), _j(st.max)
            except NotImplementedError:
                continue
            if lo is None or hi is None:
                continue
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    return {"numRecords": md.num_rows, "minValues": mins,
            "maxValues": maxs, "nullCount": nulls}


def _old_iceberg_fold(md, field_ids, ice_types):
    """The row-group fold iceberg carried before the core existed."""
    mins, maxs = {}, {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name or name not in field_ids:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, dt.datetime):
                continue
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    lower = [{"key": field_ids[n], "value": b} for n, v in mins.items()
             if (b := ice._encode_bound(v, ice_types[n])) is not None]
    upper = [{"key": field_ids[n], "value": b} for n, v in maxs.items()
             if (b := ice._encode_bound(v, ice_types[n])) is not None]
    return (lower or None), (upper or None)


def test_footer_ranges_match_the_old_folds(tmp_path):
    """A typed file with four row groups and nulls: the Delta stats and
    the Iceberg bounds built on footer_ranges equal what the two old
    per-format folds produced. Decimals are checked apart: the old Delta
    fold compared their STRINGS across row groups ("10.25" < "9.50"),
    the shared fold compares the numbers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 40
    tbl = pa.table({
        "i": pa.array([None if k % 7 == 0 else k * 3 - 50 for k in range(n)], pa.int32()),
        "l": pa.array([k * 10_000_000_000 for k in range(n)], pa.int64()),
        "d": pa.array([None if k % 5 == 0 else k / 3 for k in range(n)], pa.float64()),
        "s": pa.array([f"s{(k * 37) % 23:02d}" for k in range(n)], pa.string()),
        "day": pa.array([dt.date(2020, 1, 1) + dt.timedelta(days=(k * 11) % 31)
                         for k in range(n)], pa.date32()),
        "ts": pa.array([dt.datetime(2021, 5, 1, k % 24, k) if k % 9 else None
                        for k in range(n)], pa.timestamp("us", tz="UTC")),
        "b": pa.array([bytes([k % 256]) for k in range(n)], pa.binary()),
        "flag": pa.array([k % 3 == 0 for k in range(n)], pa.bool_()),
        "nest": pa.array([{"x": k} for k in range(n)]),
    })
    p = str(tmp_path / "typed.parquet")
    pq.write_table(tbl, p, row_group_size=10)
    md = lakecore.read_footer(p)
    assert md.num_row_groups == 4

    assert dl._file_stats(md) == _old_delta_fold(md)

    ice_types = {"i": "int", "l": "long", "d": "double", "s": "string",
                 "day": "date", "ts": "timestamptz", "b": "binary",
                 "flag": "boolean"}
    field_ids = {c: k + 1 for k, c in enumerate(ice_types)}
    assert ice._footer_bounds(md, field_ids, ice_types) == _old_iceberg_fold(
        md, field_ids, ice_types
    )
    lows, highs, nulls = lakecore.footer_ranges(md, ["i", "d"])
    assert set(lows) == {"i", "d"} and nulls == {"i": 6, "d": 8}
    assert (lows["i"], highs["i"]) == (-47, 67)

    dec = pa.table({"m": pa.array(
        [decimal.Decimal("10.25"), decimal.Decimal("9.50")], pa.decimal128(9, 2)
    )})
    pdec = str(tmp_path / "dec.parquet")
    pq.write_table(dec, pdec, row_group_size=1)
    lows, highs, _ = lakecore.footer_ranges(lakecore.read_footer(pdec))
    assert (lows["m"], highs["m"]) == (
        decimal.Decimal("9.50"), decimal.Decimal("10.25")
    )


def test_footer_columns_answers_variant_footers_from_the_pool(spark, tmp_path):
    """A VARIANT footer the local pyarrow cannot parse falls back to the
    JVM reader inside the probe pool's worker threads, beside a plain
    footer pyarrow answers itself."""
    var = str(tmp_path / "var")
    spark.sql("select 1 as id, parse_json('{\"a\": 1}') as v").coalesce(
        1
    ).write.parquet(var)
    plain = str(tmp_path / "plain.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"id": [1], "s": ["x"]}), plain)
    [vpath] = [
        os.path.join(var, n) for n in os.listdir(var) if n.endswith(".parquet")
    ]
    assert lakecore.read_footer(vpath) is None
    assert lakecore.footer_columns([vpath, plain]) == {
        vpath: {"id", "v"},
        plain: {"id", "s"},
    }


# ---------------------------------------------------------------------------
# per-file column resolution
# ---------------------------------------------------------------------------


def _count_read_footer(monkeypatch) -> list[str]:
    """Record every path ``lakecore.read_footer`` is asked for."""
    seen: list[str] = []
    real = lakecore.read_footer

    def counting(path):
        seen.append(path)
        return real(path)

    monkeypatch.setattr(lakecore, "read_footer", counting)
    return seen


def _footer_file(tmp_path, cols: dict) -> str:
    """A one-row parquet file; ``cols`` maps each column name to the
    parquet field id to stamp, or None."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / f"f{len(os.listdir(tmp_path))}.parquet")
    schema = pa.schema([
        pa.field(n, pa.int32(), metadata=None if i is None else {
            b"PARQUET:field_id": str(i).encode()
        })
        for n, i in cols.items()
    ])
    pq.write_table(pa.table([[1]] * len(cols), schema=schema), path)
    return path


_GRADE = lakecore.WantedColumn("grade", ("grade",))  # Delta: by name
_SCORE = lakecore.WantedColumn("score", ("score", "grade"), 3)  # renamed
_FLAG = lakecore.WantedColumn("flag", ("flag",), 4)
_S = lakecore.WantedColumn("s", ("s",), 5, frozenset({"s"}))  # re-added

# (case, column, footer columns -> field id, stat keys proving presence,
#  log verdict, expected answer, footer reads)
_RESOLUTION_CASES = [
    ("delta-vintage-before-arrival", _GRADE, {"grade": None}, (),
     dl._vintage_verdict(4, 5, 5), None, 0),
    ("delta-vintage-at-arrival", _GRADE, {"grade": None}, (),
     dl._vintage_verdict(5, 5, 5), "grade", 1),
    ("delta-vintage-at-arrival-absent", _GRADE, {"id": None}, (),
     dl._vintage_verdict(5, 5, 5), None, 1),
    ("delta-vintage-after-arrival", _GRADE, {"id": None}, (),
     dl._vintage_verdict(6, 5, 5), "grade", 0),
    ("delta-vintage-after-upper-bound", _GRADE, {"id": None}, (),
     dl._vintage_verdict(6, None, 5), "grade", 0),
    ("delta-vintage-at-upper-bound", _GRADE, {"id": None}, (),
     dl._vintage_verdict(5, None, 5), None, 1),
    ("delta-undated", _GRADE, {"grade": None}, (),
     dl._vintage_verdict(None, 5, 5), "grade", 1),
    ("delta-stats", _GRADE, {"id": None}, ("grade",),
     lakecore.UNDATED, "grade", 0),
    ("iceberg-writing-schema-predates", _FLAG, {"flag": 4}, (),
     lakecore.ABSENT, None, 0),
    ("iceberg-count-map", _FLAG, {"id": 1}, (4,),
     lakecore.ABSENT, "flag", 0),
    ("iceberg-bounds", _FLAG, {"id": 1}, (4,),
     lakecore.UNDATED, "flag", 0),
    ("iceberg-undated-no-stats", _FLAG, {"id": 1}, (),
     lakecore.UNDATED, None, 1),
    ("iceberg-renamed-by-field-id", _SCORE, {"grade": 3, "score": 9}, (3,),
     lakecore.UNDATED, "grade", 1),
    ("iceberg-stamped-lacks-id", _SCORE, {"score": 9}, (),
     lakecore.UNDATED, None, 1),
    ("iceberg-unstamped-by-name", _SCORE, {"grade": None}, (),
     lakecore.UNDATED, "grade", 1),
    ("iceberg-re-added-stamped", _S, {"s": 2}, (),
     lakecore.UNDATED, None, 1),
]


@pytest.mark.parametrize(
    "column,footer,proven,verdict,expect,reads",
    [c[1:] for c in _RESOLUTION_CASES],
    ids=[c[0] for c in _RESOLUTION_CASES],
)
def test_resolve_file_columns(
    tmp_path, monkeypatch, column, footer, proven, verdict, expect, reads
):
    """One decision for both formats: stats prove presence, then the
    log's verdict (Delta: data vintage against the default's arrival;
    Iceberg: the writing schema), then the footer by field id, else by
    the one name the file holds."""
    path = _footer_file(tmp_path, footer)
    seen = _count_read_footer(monkeypatch)
    got = lakecore.resolve_file_columns(
        [lakecore.FileEvidence(path, frozenset(proven), {column.name: verdict})],
        [column],
    )
    assert got == {path: {column.name: expect}}
    assert len(seen) == reads


def test_resolve_file_columns_refuses_an_ambiguous_name(tmp_path):
    """A file without field ids holding a name two fields carried cannot
    say which field it stores: refuse rather than resurrect bytes."""
    path = _footer_file(tmp_path, {"s": None})
    with pytest.raises(ValueError, match="ambiguous"):
        lakecore.resolve_file_columns(
            [lakecore.FileEvidence(path, frozenset(), {})], [_S]
        )


def test_resolve_file_columns_reads_variant_footers_through_the_jvm(
    spark, tmp_path
):
    """A footer pyarrow cannot parse is answered by the JVM reader,
    field ids included."""
    var = str(tmp_path / "var")
    spark.sql("select 1 as id, parse_json('{\"a\": 1}') as v").withMetadata(
        "id", {"parquet.field.id": 1}
    ).coalesce(1).write.parquet(var)
    [path] = [
        os.path.join(var, n) for n in os.listdir(var) if n.endswith(".parquet")
    ]
    assert lakecore.read_footer(path) is None
    got = lakecore.resolve_file_columns(
        [lakecore.FileEvidence(path, frozenset(), {})],
        [lakecore.WantedColumn("key", ("id", "key"), 1),
         lakecore.WantedColumn("v", ("v",))],
    )
    assert got == {path: {"key": "id", "v": "v"}}


def test_iceberg_bounds_count_only_under_the_writing_schema():
    """Iceberg's evidence: bounds prove a field present only where the
    file's writing schema holds it — first commits of older writers
    keyed bounds to shifted ids, and the writing schema overrules
    them — and count maps prove presence outright."""
    meta = {
        "schema": {"schema-id": 1, "fields": [
            {"id": 1, "name": "id", "type": "int"},
            {"id": 2, "name": "flag", "type": "int", "initial-default": 7},
        ]},
        "schemas": [
            {"schema-id": 0, "fields": [{"id": 1, "name": "id", "type": "int"}]},
        ],
        "snapshots": [
            {"snapshot-id": 10, "schema-id": 0},
            {"snapshot-id": 11, "schema-id": 1},
        ],
    }
    meta["schemas"].append(meta["schema"])
    bound = [{"key": 2, "value": b"\x01\x00\x00\x00"}]
    files = [
        {"file_path": "old-bounds", "__snap": 10, "lower_bounds": bound},
        {"file_path": "old-counts", "__snap": 10,
         "value_counts": [{"key": 2, "value": 1}]},
        {"file_path": "new-bounds", "__snap": 11, "upper_bounds": bound},
    ]
    got = ice._file_write_names(meta, files, [(1, "id"), (2, "flag")])
    assert got == {"old-bounds": {"flag": None}}


def test_tables_without_defaults_or_renames_read_no_footer(
    spark, tmp_path, monkeypatch
):
    """The fast path: no default and no rename history, no footer read
    by either format's batch read or DML scan."""
    df = spark.createDataFrame([(0, "a"), (1, "b")], "id int, s string")
    dpath, ipath = str(tmp_path / "d"), str(tmp_path / "i")
    dl.write_delta(df.coalesce(1), dpath)
    ice.write_iceberg(df.coalesce(1), ipath, mode="overwrite")
    seen = _count_read_footer(monkeypatch)
    assert dl.read_delta(spark, dpath).count() == 2
    assert ice.read_iceberg(spark, ipath).count() == 2
    ice.delete_where(spark, ipath, "id = 0")
    seen.clear()  # the delete's staging reads its own new files
    assert ice.read_iceberg(spark, ipath).count() == 1
    assert seen == []


def test_defaults_and_renames_read_each_footer_at_most_once(
    spark, tmp_path, monkeypatch
):
    """An Iceberg table with both a default and a rename history: one
    read resolves both from one pass, each live footer read at most
    once (pre-DDL files are dated by their writing schema)."""
    loc = str(tmp_path / "t")
    for i in range(2):
        ice.write_iceberg(
            spark.createDataFrame([(i, f"s{i}")], "id int, s string")
            .coalesce(1), loc, mode="append" if i else "overwrite",
        )
    ice.upgrade_format_version(loc, 3)
    ice.add_column(loc, "grade", "int", default=7)
    ice.write_iceberg(
        spark.createDataFrame([(2, "c", 3)], "id int, s string, grade int")
        .coalesce(1), loc, mode="append",
    )
    ice.rename_column(loc, "s", "label")
    ice.rename_column(loc, "grade", "score")
    seen = _count_read_footer(monkeypatch)
    got = {(r.id, r.label, r.score) for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {(0, "s0", 7), (1, "s1", 7), (2, "c", 3)}
    assert len(seen) == len(set(seen)) <= 3


def test_post_ddl_files_with_bounds_read_no_footer(spark, tmp_path, monkeypatch):
    """Engine-written manifests carry bounds, not count maps: a post-DDL
    file whose bounds cover the defaulted column is present by stats."""
    loc = str(tmp_path / "t")
    ice.write_iceberg(
        spark.createDataFrame([(0, "a")], "id int, s string").coalesce(1),
        loc, mode="overwrite",
    )
    ice.upgrade_format_version(loc, 3)
    ice.add_column(loc, "flag", "int", default=7)
    for i in (1, 2):
        ice.write_iceberg(
            spark.createDataFrame([(i, "x", i)], "id int, s string, flag int")
            .coalesce(1), loc, mode="append",
        )
    seen = _count_read_footer(monkeypatch)
    got = {r.id: r.flag for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {0: 7, 1: 1, 2: 2}
    assert seen == []


# ---------------------------------------------------------------------------
# structure
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("module", ["deltalog.py", "iceberg.py"])
def test_formats_carry_no_private_copy_of_the_core(module):
    src = (SOURCES / module).read_text(encoding="utf-8")
    for needle in (
        "os.link(",
        "tempfile.mkdtemp(",
        "from .deltalog import _",
        "decode_dv_blob(",
        "ThreadPoolExecutor(",
        "DV_BROADCAST_MAX_POSITIONS =",
        ".persist(",
        "from ..parallel",
        "from .iceberg import _",
        # change feeds plan lakecore.ChangeUnit partitions and read them
        # through lakecore.read_change_unit
        "InputPartition",
        # only lakecore.resolve_file_columns probes footers for which
        # columns a file holds
        "footer_columns(",
    ):
        assert needle not in src, f"{module} has its own {needle!r}"
    if module == "deltalog.py":
        # UniForm reaches Iceberg through its public functions only
        assert "ice._" not in src
    else:
        assert "schema_arrow" not in src
        # one snapshot-commit tail writes every manifest list
        assert src.count('"manifest-list":') == 1
        assert src.count("snap-{") == 1


# ---------------------------------------------------------------------------
# failure paths
# ---------------------------------------------------------------------------


def test_tablelog_commit_race_keeps_first_commit(tmp_path, monkeypatch):
    """Two writers that both pass an existence check must not replace
    each other's commit: the exclusive create refuses the second."""
    from spark_etl_framework_spark.operators import tablelog as TL

    path = str(tmp_path / "t")
    TL._commit(path, 0, ["a.parquet"], "write")
    first = os.path.join(path, "_log", f"{0:012d}.json")
    with open(first, "rb") as fh:
        before = fh.read()
    monkeypatch.setattr(TL.os.path, "exists", lambda p: False)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        TL._commit(path, 0, ["b.parquet"], "write")
    monkeypatch.undo()
    with open(first, "rb") as fh:
        assert fh.read() == before
    assert os.listdir(os.path.join(path, "_log")) == [f"{0:012d}.json"]


def _dv_bins(root) -> set[str]:
    return {
        p for p in _tree(root)
        if os.path.basename(p).startswith("deletion_vector_")
    }


def test_dv_delete_sibling_failure_unlinks_only_new_dvs(spark, tmp_path, monkeypatch):
    """A useDVs DELETE whose CDC staging fails: the DV thunk's new
    deletion-vector files are unlinked, the data files its re-adds
    restate are untouched, and the table reads as before."""
    loc = str(tmp_path / "t")
    df = spark.range(40).selectExpr("id", "id % 4 as g")
    dl.write_delta(df.coalesce(2), loc)
    dl.delete_where(spark, loc, "id < 3", use_dvs=True)  # a prior DV
    prior_bins = _dv_bins(loc)
    assert prior_bins
    v = dl.latest_version(loc)
    tree = _tree(loc)
    rows = sorted(dl.read_delta(spark, loc).collect())

    def boom(*_a, **_k):
        raise RuntimeError("cdc staging failed")

    monkeypatch.setattr(dl, "_stage_cdc", boom)
    with pytest.raises(RuntimeError, match="cdc staging failed"):
        dl.delete_where(spark, loc, "id % 2 = 0", use_dvs=True)
    monkeypatch.undo()
    assert _dv_bins(loc) == prior_bins, "a new deletion vector was orphaned"
    assert _tree(loc) == tree
    assert dl.latest_version(loc) == v
    assert sorted(dl.read_delta(spark, loc, version_as_of=v).collect()) == rows


def _delta_table(spark, loc):
    """Two small files, one with a deletion vector: every Delta DML,
    OPTIMIZE and the DV purge has work to do."""
    dl.write_delta(
        spark.range(20).selectExpr("id", "id * 10 as v").coalesce(2), loc
    )
    dl.delete_where(spark, loc, "id < 3", use_dvs=True)


def _source(spark):
    return spark.range(15, 25).selectExpr("id", "id * 100 as v")


DELTA_DML = {
    "delete_cow": lambda spark, loc: dl.delete_where(spark, loc, "id % 3 = 0"),
    "delete_dv": lambda spark, loc: dl.delete_where(
        spark, loc, "id % 3 = 0", use_dvs=True
    ),
    "update": lambda spark, loc: dl.update_where(
        spark, loc, "id % 3 = 0", {"v": "v + 1"}
    ),
    "merge": lambda spark, loc: dl.merge_upsert(spark, loc, _source(spark), ["id"]),
    "optimize": lambda spark, loc: dl.optimize_compact(spark, loc),
    "purge": lambda spark, loc: dl.purge_deletion_vectors(spark, loc),
}

ICEBERG_DML = {
    "delete": lambda spark, loc: ice.delete_where(spark, loc, "id % 3 = 0"),
    "update": lambda spark, loc: ice.update_where(
        spark, loc, "id % 3 = 0", {"v": "v + 1"}
    ),
    "merge": lambda spark, loc: ice.merge_upsert(spark, loc, _source(spark), ["id"]),
}

INJECTED = RuntimeError("injected staging failure")


def _fail_staging(*_a, **_k):
    raise INJECTED


# lost_race: another writer lands the next version between staging and
# publish. sibling: one of two concurrent staging thunks fails after the
# other staged its files (the DV DELETE's sibling case is
# test_dv_delete_sibling_failure_unlinks_only_new_dvs).
@pytest.mark.parametrize(
    "failure,op",
    [("lost_race", op) for op in DELTA_DML]
    + [("sibling", op) for op in ("delete_cow", "update", "merge")],
)
def test_delta_dml_failure_leaves_no_orphans(
    spark, tmp_path, monkeypatch, failure, op
):
    """A failed DML, OPTIMIZE or DV purge leaves no staged file behind,
    the table reads as before at its prior version, and the caller sees
    the failure itself, not a cleanup error."""
    loc = str(tmp_path / "t")
    _delta_table(spark, loc)
    v = dl.latest_version(loc)
    rows = sorted(dl.read_delta(spark, loc).collect())
    tree = _tree(loc)
    rival = set()
    if failure == "lost_race":
        rival = {os.path.relpath(dl._commit_path(loc, v + 1), loc)}
        real = dl._publish_commit

        def racing(path, version, actions, staged=()):
            with open(dl._commit_path(path, version), "w") as fh:
                fh.write(json.dumps({"commitInfo": {"timestamp": 1}}) + "\n")
            return real(path, version, actions, staged)

        monkeypatch.setattr(dl, "_publish_commit", racing)
    else:
        monkeypatch.setattr(dl, "_stage_cdc", _fail_staging)
    with pytest.raises(Exception) as err:
        DELTA_DML[op](spark, loc)
    monkeypatch.undo()
    if failure == "lost_race":
        assert isinstance(err.value, dl.DeltaConcurrentModification)
        assert f"version {v + 1} of" in str(err.value)
    else:
        assert err.value is INJECTED
    assert _tree(loc) - rival == tree
    assert sorted(dl.read_delta(spark, loc, version_as_of=v).collect()) == rows


@pytest.mark.parametrize(
    "failure,op",
    [("lost_race", op) for op in ICEBERG_DML]
    + [("sibling", op) for op in ("update", "merge")],
)
def test_iceberg_dml_failure_leaves_no_orphans(
    spark, tmp_path, monkeypatch, failure, op
):
    """The Iceberg twin: a failed row delta leaves no data, delete,
    manifest or manifest-list file behind and the table reads as
    before."""
    import shutil

    loc = str(tmp_path / "t")
    ice.write_iceberg(
        spark.range(20).selectExpr("id", "id * 10 as v").coalesce(2), loc
    )
    rows = sorted(ice.read_iceberg(spark, loc).collect())
    if failure == "lost_race":
        # another writer already published the next metadata version
        meta_dir = os.path.join(loc, "metadata")
        cur = ice.current_version(loc)
        shutil.copy(
            os.path.join(meta_dir, f"v{cur}.metadata.json"),
            os.path.join(meta_dir, f"v{cur + 1}.metadata.json"),
        )
    else:
        monkeypatch.setattr(ice, "_stage_data_entries", _fail_staging)
    tree = _tree(loc)
    with pytest.raises(Exception) as err:
        ICEBERG_DML[op](spark, loc)
    monkeypatch.undo()
    if failure == "lost_race":
        assert isinstance(err.value, ice.IcebergConcurrentModification)
    else:
        assert err.value is INJECTED
    assert _tree(loc) == tree
    assert sorted(ice.read_iceberg(spark, loc).collect()) == rows


def _tree_bytes(root) -> dict[str, bytes]:
    out = {}
    for rel in _tree(root):
        with open(os.path.join(root, rel), "rb") as fh:
            out[rel] = fh.read()
    return out


def _fail_before_link(monkeypatch):
    """Let the commit file be written in full, then fail before the
    link that publishes it: the last point between staging and publish."""
    real = lakecore.publish_exclusive

    def failing(final_path, write_fn, conflict_exc, staged=()):
        def write_then_fail(fh):
            write_fn(fh)
            raise INJECTED

        return real(final_path, write_then_fail, conflict_exc, staged)

    monkeypatch.setattr(lakecore, "publish_exclusive", failing)


def _iceberg_table(spark, loc):
    ice.write_iceberg(
        spark.range(20).selectExpr("id", "id * 10 as v").coalesce(2), loc
    )


@pytest.mark.parametrize(
    "fmt,op,region",
    [("delta", op, False) for op in DELTA_DML]
    + [("iceberg", op, False) for op in ICEBERG_DML]
    + [("delta", "merge", True), ("iceberg", "merge", True)],
)
def test_failure_before_publish_keeps_prior_bytes(
    spark, tmp_path, monkeypatch, fmt, op, region
):
    """A commit that fails after staging, right before its publish,
    surfaces its own error and leaves the table byte-identical: every
    prior file has the same bytes, none is added. Inside a
    ``scoped_region`` the region's exit also releases every relation the
    failed commit persisted, without masking the error."""
    from spark_etl_framework_spark.caching import scoped_region

    loc = str(tmp_path / "t")
    if fmt == "delta":
        _delta_table(spark, loc)
        run = DELTA_DML[op]
    else:
        _iceberg_table(spark, loc)
        run = ICEBERG_DML[op]
    before = _tree_bytes(loc)
    jsc = spark.sparkContext._jsc
    cached = set(jsc.getPersistentRDDs().keySet().toArray())
    _fail_before_link(monkeypatch)
    with pytest.raises(Exception) as err:
        if region:
            with scoped_region():
                run(spark, loc)
        else:
            run(spark, loc)
    monkeypatch.undo()
    assert err.value is INJECTED
    assert _tree_bytes(loc) == before
    assert set(jsc.getPersistentRDDs().keySet().toArray()) <= cached


def test_iceberg_write_lost_race_leaves_no_orphans(spark, tmp_path):
    """An append that loses the metadata publish unlinks its data files,
    manifest and manifest list; the table keeps its prior tree."""
    import shutil

    loc = str(tmp_path / "t")
    ice.write_iceberg(spark.range(5).selectExpr("id", "id * 10 as v"), loc)
    meta_dir = os.path.join(loc, "metadata")
    cur = ice.current_version(loc)
    shutil.copy(
        os.path.join(meta_dir, f"v{cur}.metadata.json"),
        os.path.join(meta_dir, f"v{cur + 1}.metadata.json"),
    )
    tree = _tree(loc)
    with pytest.raises(ice.IcebergConcurrentModification):
        ice.write_iceberg(
            spark.range(5, 9).selectExpr("id", "id * 10 as v").coalesce(2),
            loc,
        )
    assert _tree(loc) == tree


def _ice_two_files(spark, loc):
    ice.write_iceberg(spark.range(10).selectExpr("id", "id * 10 as v"), loc)
    ice.write_iceberg(spark.range(10, 20).selectExpr("id", "id * 10 as v"), loc)


def _ice_two_deletes(spark, loc):
    _ice_two_files(spark, loc)
    ice.delete_where(spark, loc, "id < 2")
    ice.delete_where(spark, loc, "id > 17")


def _ice_wap_staged(spark, loc):
    _ice_two_files(spark, loc)
    ice.write_iceberg(
        spark.range(30, 33).selectExpr("id", "id * 10 as v"), loc, wap_id="w1"
    )


# (set-up, the operation that loses the metadata publish)
ICEBERG_MAINTENANCE = {
    "rewrite_data_files": (
        _ice_two_deletes, lambda spark, loc: ice.rewrite_data_files(spark, loc)
    ),
    "rewrite_position_delete_files": (
        _ice_two_deletes,
        lambda spark, loc: ice.rewrite_position_delete_files(spark, loc),
    ),
    "rewrite_manifests": (
        _ice_two_files, lambda spark, loc: ice.rewrite_manifests(loc)
    ),
    "cherrypick_snapshot": (
        _ice_wap_staged,
        lambda spark, loc: ice.cherrypick_snapshot(loc, wap_id="w1"),
    ),
}


def _rival_metadata(loc) -> str:
    """Another writer publishes the next metadata version first; returns
    its path relative to ``loc``."""
    import shutil

    cur = ice.current_version(loc)
    rival = os.path.join(loc, "metadata", f"v{cur + 1}.metadata.json")
    shutil.copy(os.path.join(loc, "metadata", f"v{cur}.metadata.json"), rival)
    return os.path.relpath(rival, loc)


@pytest.mark.parametrize("op", ICEBERG_MAINTENANCE)
def test_iceberg_maintenance_lost_race_leaves_no_orphans(spark, tmp_path, op):
    """A maintenance commit or a WAP publish that loses the metadata
    race unlinks every file it wrote — restaged data or delete files,
    manifests, the manifest list — and the table reads as before."""
    loc = str(tmp_path / "t")
    setup, run = ICEBERG_MAINTENANCE[op]
    setup(spark, loc)
    rows = sorted(ice.read_iceberg(spark, loc).collect())
    tree = _tree(loc)
    rival = _rival_metadata(loc)
    with pytest.raises(Exception) as err:
        run(spark, loc)
    assert isinstance(err.value, ice.IcebergConcurrentModification)
    assert _tree(loc) - {rival} == tree
    assert sorted(ice.read_iceberg(spark, loc).collect()) == rows


def test_uniform_mirror_lost_race_leaves_no_orphans(spark, tmp_path):
    """A Delta commit on a UniForm table lands; its Iceberg mirror loses
    the metadata race, unlinks the manifests and list it wrote, and the
    mirror still reads its prior version."""
    loc = str(tmp_path / "t")
    dl.write_delta(spark.range(10).selectExpr("id", "id * 10 as v"), loc)
    dl.enable_uniform(loc)
    rows = sorted(ice.read_iceberg(spark, loc).collect())
    meta_tree = _tree(os.path.join(loc, "metadata"))
    rival = os.path.basename(_rival_metadata(loc))
    with pytest.raises(RuntimeError, match="UniForm iceberg sync failed") as err:
        dl.write_delta(spark.range(10, 12).selectExpr("id", "id * 10 as v"), loc)
    assert isinstance(err.value.__cause__, ice.IcebergConcurrentModification)
    assert _tree(os.path.join(loc, "metadata")) - {rival} == meta_tree
    assert sorted(ice.read_iceberg(spark, loc).collect()) == rows


def test_concurrent_staging_jobs_stay_in_the_callers_job_group(spark, tmp_path):
    """Every job a Delta MERGE starts, its pooled staging jobs included,
    runs in the caller's job group: the group counts the whole call."""
    loc = str(tmp_path / "t")
    _delta_table(spark, loc)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker() -> list[int]:
        group = f"marker-{os.urandom(4).hex()}"
        sc.setJobGroup(group, "marker")
        try:
            spark.range(1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return tracker.getJobIdsForGroup(group)

    before = max(marker())
    group = f"merge-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "merge")
    try:
        DELTA_DML["merge"](spark, loc)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    after = min(marker())
    started = set(range(before + 1, after))
    assert started and set(tracker.getJobIdsForGroup(group)) == started


def test_iceberg_write_with_undecodable_decimal_stats(spark, tmp_path):
    """pyarrow cannot decode the footer statistics of Spark's INT64
    decimals; the shared fold leaves that column without bounds instead
    of failing the write (the old per-format iceberg fold raised)."""
    loc = str(tmp_path / "t")
    df = spark.range(5).selectExpr("id", "cast(id * 1.25 as decimal(12,2)) as m")
    ice.write_iceberg(df, loc)
    assert sorted(r.m for r in ice.read_iceberg(spark, loc).collect()) == sorted(
        r.m for r in df.collect()
    )
