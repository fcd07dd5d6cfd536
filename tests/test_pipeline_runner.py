"""End-to-end pipeline runs — the reference's own test style
(reference: src/test/scala/com/qwshen/etl/test/TestApp.scala:38-47), plus
output-content assertions the reference lacks."""

from __future__ import annotations

import json

import pytest

from spark_etl_framework_spark.plans.builder import build_pipeline_from_file
from spark_etl_framework_spark.plans.runner import PipelineRunner, run_pipeline_file

PIPELINE_YAML = """
version: 1.0.0
name: users-transform
variables:
  - name: min_key
    value: "1"
jobs:
  - name: main
    actions:
      - name: load-nation
        actor:
          type: file-reader
          properties:
            format: parquet
            fileUri: "{sf}/nation.parquet"
        output-view:
          name: nation
      - name: transform
        actor:
          type: sql-transformer
          properties:
            sqlString: >
              select n_regionkey, count(*) as n from nation
              where n_nationkey >= ${{min_key}}
              group by n_regionkey
        input-views: [nation]
        output-view:
          name: nation_counts
      - name: write
        actor:
          type: file-writer
          properties:
            format: parquet
            fileUri: "{out}"
            mode: overwrite
        input-views: [nation_counts]
metrics-logging:
  uri: "{metrics}"
"""


def test_yaml_pipeline_end_to_end(spark, sf_dir, tmp_path):
    out = tmp_path / "out.parquet"
    metrics = tmp_path / "metrics"
    ypath = tmp_path / "p.yaml"
    ypath.write_text(PIPELINE_YAML.format(sf=sf_dir, out=out, metrics=metrics))

    run_pipeline_file(spark, str(ypath))

    got = spark.read.parquet(str(out))
    rows = {r["n_regionkey"]: r["n"] for r in got.collect()}
    assert sum(rows.values()) == 24  # 25 nations, one filtered (n_nationkey=0)
    files = list(metrics.glob("metrics-*.json"))
    assert files, "metrics file written"
    recs = json.loads(files[0].read_text())
    assert {r["action"] for r in recs} == {"load-nation", "transform"}
    assert all(r["rowCount"] >= 0 for r in recs)


def test_job_selection_and_missing_view(spark, sf_dir, tmp_path):
    ypath = tmp_path / "p.yaml"
    ypath.write_text(
        PIPELINE_YAML.format(sf=sf_dir, out=tmp_path / "o", metrics=tmp_path / "m")
    )
    # selecting a non-existent job runs nothing (and writes nothing)
    run_pipeline_file(spark, f"{ypath}#no-such-job")
    assert not (tmp_path / "o").exists()


def test_missing_input_view_fails_fast(spark, tmp_path):
    ypath = tmp_path / "p.yaml"
    ypath.write_text(
        """
version: 1.0.0
jobs:
  - name: main
    actions:
      - name: t
        actor:
          type: sql-transformer
          properties: {sqlString: "select * from ghost"}
        input-views: [ghost]
"""
    )
    with pytest.raises(ValueError, match="missing input view 'ghost'"):
        run_pipeline_file(spark, str(ypath))


def test_validation_run_limits_outputs(spark, sf_dir, tmp_path):
    out = tmp_path / "out.parquet"
    ypath = tmp_path / "p.yaml"
    ypath.write_text(
        PIPELINE_YAML.format(sf=sf_dir, out=out, metrics=tmp_path / "m")
    )
    run_pipeline_file(spark, str(ypath), cli_vars={"validationRun": "2"})
    assert spark.read.parquet(str(out)).count() <= 2


def test_validation_run_parsing():
    """Reference semantics (PipelineRunner.scala:21-29): 'true'→0,
    'false'/unparseable/negative→None, n>=0→n; conf-key form accepted."""
    from spark_etl_framework_spark.plans.runner import _parse_validation_run

    assert _parse_validation_run("true") == 0
    assert _parse_validation_run("TRUE") == 0
    assert _parse_validation_run("false") is None
    assert _parse_validation_run("banana") is None
    assert _parse_validation_run("-3") is None
    assert _parse_validation_run("5") == 5
    assert _parse_validation_run(None) is None


def test_validation_run_conf_key(spark, sf_dir, tmp_path):
    """application.runtime.validationRun (the reference's app-conf key) also
    triggers a validation run when the plain variable is absent."""
    out = tmp_path / "out.parquet"
    ypath = tmp_path / "p.yaml"
    ypath.write_text(
        PIPELINE_YAML.format(sf=sf_dir, out=out, metrics=tmp_path / "m")
    )
    run_pipeline_file(
        spark, str(ypath), cli_vars={"application.runtime.validationRun": "2"}
    )
    assert spark.read.parquet(str(out)).count() <= 2


def test_cleanup_drops_temp_views(spark):
    """Job cleanup drops LOCAL temp views (so a shared single session can't
    leak them into the next job) but keeps GLOBAL temp views — those are the
    cross-job sharing mechanism."""
    from spark_etl_framework_spark.plans.context import JobContext, PipelineContext

    jctx = JobContext(PipelineContext(), spark)
    df = spark.range(3)
    jctx.register_view("leaky_local", df)
    jctx.register_view("kept_global", df, global_=True)
    assert spark.catalog.tableExists("leaky_local")
    assert spark.catalog.tableExists("global_temp.kept_global")
    jctx.cleanup()
    assert not spark.catalog.tableExists("leaky_local")
    assert spark.catalog.tableExists("global_temp.kept_global")
    spark.catalog.dropGlobalTempView("kept_global")


def test_variable_precedence_pipeline_over_cli(spark, sf_dir, tmp_path):
    """Pipeline-declared variables override CLI vars (reference README.md:105)."""
    ypath = tmp_path / "p.yaml"
    ypath.write_text(
        PIPELINE_YAML.format(sf=sf_dir, out=tmp_path / "o", metrics=tmp_path / "m")
    )
    p = build_pipeline_from_file(str(ypath), cli_vars={"min_key": "99"}, spark=spark)
    assert p.variables["min_key"] == "1"


def test_global_view_localization(spark, sf_dir, tmp_path):
    ypath = tmp_path / "p.yaml"
    ypath.write_text(
        f"""
version: 1.0.0
settings:
  globalViewAsLocal: "true"
jobs:
  - name: one
    actions:
      - name: load
        actor:
          type: file-reader
          properties: {{format: parquet, fileUri: "{sf_dir}/region.parquet"}}
        output-view:
          name: regions_g
          global: "true"
  - name: two
    actions:
      - name: use-it
        actor:
          type: sql-transformer
          properties: {{sqlString: "select count(*) as n from regions_g"}}
        input-views: [regions_g]
        output-view:
          name: region_count
          global: "true"
"""
    )
    run_pipeline_file(spark, str(ypath))
    assert spark.table("global_temp.region_count").collect()[0]["n"] == 5


def test_global_view_localization_runs_no_job(spark, group_job_count):
    """Localizing the global temp views at the start of a job lists them
    without a Spark job, however many there are."""
    names = [f"gloc_{i}" for i in range(3)]
    for i, name in enumerate(names):
        spark.range(i + 1).createOrReplaceGlobalTempView(name)
    session = spark.newSession()
    try:
        n = group_job_count(lambda: PipelineRunner(spark)._localize_global_views(session))
        assert n == 0
        local = {t.name for t in session.catalog.listTables() if t.isTemporary}
        assert set(names) <= local
        assert [session.table(name).count() for name in names] == [1, 2, 3]
    finally:
        for name in names:
            spark.catalog.dropGlobalTempView(name)


def test_json_pipeline_build(spark, sf_dir, tmp_path):
    jpath = tmp_path / "p.json"
    jpath.write_text(
        json.dumps(
            {
                "version": "1.0.0",
                "name": "j",
                "jobs": [
                    {
                        "name": "main",
                        "actions": [
                            {
                                "name": "load",
                                "actor": {
                                    "type": "file-reader",
                                    "properties": {
                                        "format": "parquet",
                                        "fileUri": f"{sf_dir}/region.parquet",
                                    },
                                },
                                "output-view": {"name": "rj"},
                            }
                        ],
                    }
                ],
            }
        )
    )
    p = build_pipeline_from_file(str(jpath), spark=spark)
    assert p.jobs[0].actions[0].output_view.name == "rj"
    PipelineRunner(spark).run(p)


def test_xml_pipeline_build(spark, sf_dir, tmp_path):
    xpath = tmp_path / "p.xml"
    xpath.write_text(
        f"""<pipeline-def>
  <version>1.0.0</version>
  <name>x</name>
  <jobs>
    <name>main</name>
    <actions>
      <name>load</name>
      <actor>
        <type>file-reader</type>
        <properties>
          <format>parquet</format>
          <fileUri>{sf_dir}/region.parquet</fileUri>
        </properties>
      </actor>
      <output-view><name>rx</name></output-view>
    </actions>
  </jobs>
</pipeline-def>"""
    )
    p = build_pipeline_from_file(str(xpath), spark=spark)
    PipelineRunner(spark).run(p)
    assert p.jobs[0].actions[0].output_view.name == "rx"


def test_delta_dml_actor_pipeline(spark, sf_dir, tmp_path):
    """Row-level DML as YAML actors: write -> DV delete -> update ->
    merge -> history into a view -> file sink, one declarative pipeline."""
    tbl = tmp_path / "nation_delta"
    out = tmp_path / "hist.parquet"
    ypath = tmp_path / "dml.yaml"
    ypath.write_text(f"""
version: 1.0.0
jobs:
  - name: main
    actions:
      - name: load
        actor:
          type: file-reader
          properties:
            format: parquet
            fileUri: "{sf_dir}/nation.parquet"
        output-view: {{name: nation, global: false}}
      - name: src
        actor:
          type: sql-transformer
          properties:
            sqlString: >-
              SELECT n_nationkey, 'MERGED' AS n_name, n_regionkey
              FROM nation WHERE n_nationkey < 2
        input-views: [nation]
        output-view: {{name: merge_src, global: false}}
      - name: write
        actor:
          type: delta-writer
          properties: {{view: nation, path: "{tbl}", mode: overwrite}}
        input-views: [nation]
      - name: del
        actor:
          type: delta-dml
          properties:
            op: delete
            path: "{tbl}"
            predicate: "n_regionkey = 2"
            useDVs: true
      - name: upd
        actor:
          type: delta-dml
          properties:
            op: update
            path: "{tbl}"
            predicate: "n_regionkey = 1"
            set: {{n_name: "concat(n_name, '!')"}}
      - name: mrg
        actor:
          type: delta-dml
          properties:
            op: merge
            path: "{tbl}"
            sourceView: merge_src
            keys: n_nationkey
        input-views: [merge_src]
      - name: hist
        actor:
          type: delta-dml
          properties: {{op: history, path: "{tbl}", view: tbl_history}}
        output-view: {{name: tbl_history, global: false}}
      - name: sink
        actor:
          type: file-writer
          properties:
            format: parquet
            fileUri: "{out}"
            mode: overwrite
            view: tbl_history
        input-views: [tbl_history]
""")
    run_pipeline_file(spark, str(ypath))
    hist = spark.read.parquet(str(out))
    ops = [r.operation for r in hist.orderBy("version").collect()]
    assert ops == ["OVERWRITE", "DELETE", "UPDATE", "MERGE"]
    from spark_etl_framework_spark.sources.deltalog import read_delta

    rows = {r.n_nationkey: r.n_name for r in read_delta(spark, str(tbl)).collect()}
    assert rows[0] == "MERGED"
    assert all(
        name.endswith("!") for k, name in rows.items()
        if k % 5 == 1 and k >= 2 and name != "MERGED"
    )
    assert not any(k % 5 == 2 for k in rows if k >= 2)  # region 2 gone


def test_iceberg_dml_actor_pipeline(spark, sf_dir, tmp_path):
    tbl = tmp_path / "nation_ice"
    out = tmp_path / "snaps.parquet"
    ypath = tmp_path / "idml.yaml"
    ypath.write_text(f"""
version: 1.0.0
jobs:
  - name: main
    actions:
      - name: load
        actor:
          type: file-reader
          properties:
            format: parquet
            fileUri: "{sf_dir}/nation.parquet"
        output-view: {{name: nation, global: false}}
      - name: write
        actor:
          type: iceberg-writer
          properties: {{view: nation, table: "{tbl}", mode: overwrite}}
        input-views: [nation]
      - name: del
        actor:
          type: iceberg-dml
          properties:
            op: delete
            path: "{tbl}"
            predicate: "n_regionkey = 0"
      - name: meta
        actor:
          type: iceberg-dml
          properties:
            op: history
            path: "{tbl}"
            metadataTable: snapshots
            view: snaps
        output-view: {{name: snaps, global: false}}
      - name: sink
        actor:
          type: file-writer
          properties:
            format: parquet
            fileUri: "{out}"
            mode: overwrite
            view: snaps
        input-views: [snaps]
""")
    run_pipeline_file(spark, str(ypath))
    snaps = spark.read.parquet(str(out)).orderBy("committed_at_ms").collect()
    assert [s.operation for s in snaps] == ["overwrite", "delete"]
    from spark_etl_framework_spark.sources.iceberg import read_iceberg

    assert read_iceberg(spark, str(tbl)).filter("n_regionkey = 0").count() == 0


def test_iceberg_ref_and_delta_v2_checkpoint_actors(spark, sf_dir, tmp_path):
    """Round-10 lifecycle ops as YAML actors: iceberg-dml createTag pins
    history (read back through iceberg-reader options.tag AFTER a delete
    advanced main), and delta-dml checkpointV2 emits the sidecar
    checkpoint layout — the declarative surface for both new subsystems."""
    import os as _os

    ice_tbl = tmp_path / "nation_ref"
    d_tbl = tmp_path / "nation_v2"
    out = tmp_path / "tagged.parquet"
    ypath = tmp_path / "refs.yaml"
    ypath.write_text(f"""
version: 1.0.0
jobs:
  - name: main
    actions:
      - name: load
        actor:
          type: file-reader
          properties:
            format: parquet
            fileUri: "{sf_dir}/nation.parquet"
        output-view: {{name: nation, global: false}}
      - name: write_ice
        actor:
          type: iceberg-writer
          properties: {{view: nation, table: "{ice_tbl}", mode: overwrite}}
        input-views: [nation]
      - name: tag
        actor:
          type: iceberg-dml
          properties: {{op: createTag, path: "{ice_tbl}", refName: v1}}
      - name: del
        actor:
          type: iceberg-dml
          properties:
            op: delete
            path: "{ice_tbl}"
            predicate: "n_regionkey = 0"
      - name: read_tag
        actor:
          type: iceberg-reader
          properties:
            table: "{ice_tbl}"
            options: {{tag: v1}}
        output-view: {{name: tagged, global: false}}
      - name: sink
        actor:
          type: file-writer
          properties:
            format: parquet
            fileUri: "{out}"
            mode: overwrite
            view: tagged
        input-views: [tagged]
      - name: write_delta
        actor:
          type: delta-writer
          properties: {{view: nation, path: "{d_tbl}", mode: overwrite}}
        input-views: [nation]
      - name: cp
        actor:
          type: delta-dml
          properties: {{op: checkpointV2, path: "{d_tbl}", checkpointParts: 2}}
""")
    run_pipeline_file(spark, str(ypath))
    full = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    # the tag pinned the PRE-delete state
    assert spark.read.parquet(str(out)).count() == full
    from spark_etl_framework_spark.sources.iceberg import read_iceberg

    assert read_iceberg(spark, str(ice_tbl)).filter("n_regionkey = 0").count() == 0
    from spark_etl_framework_spark.sources import deltalog as dl

    log = str(d_tbl / "_delta_log")
    assert any(
        (m := dl._CP_NAME_RE.match(n)) and m.group(2) for n in _os.listdir(log)
    ), "no V2 checkpoint emitted by the actor"
    # parts clamp to the add-file count (single-file nation → 1 sidecar)
    assert len(_os.listdir(dl._sidecar_dir(str(d_tbl)))) >= 1
    assert dl.read_delta(spark, str(d_tbl)).count() == full


def test_delta_column_mapping_ddl_pipeline(spark, sf_dir, tmp_path):
    """Column-mapping DDL as YAML actors (round 9): create MAPPED via
    delta-writer columnMapping=name, metadata-only renameColumn +
    dropColumn through delta-dml, read back under the final schema."""
    tbl = tmp_path / "nation_cm"
    ypath = tmp_path / "cm.yaml"
    ypath.write_text(f"""
version: 1.0.0
jobs:
  - name: main
    actions:
      - name: load
        actor:
          type: file-reader
          properties:
            format: parquet
            fileUri: "{sf_dir}/nation.parquet"
        output-view: {{name: nation, global: false}}
      - name: write
        actor:
          type: delta-writer
          properties:
            view: nation
            path: "{tbl}"
            mode: overwrite
            columnMapping: name
        input-views: [nation]
      - name: ren
        actor:
          type: delta-dml
          properties:
            op: renameColumn
            path: "{tbl}"
            oldColumn: n_name
            newColumn: nation_label
      - name: drop
        actor:
          type: delta-dml
          properties: {{op: dropColumn, path: "{tbl}", column: n_regionkey}}
""")
    run_pipeline_file(spark, str(ypath))
    from spark_etl_framework_spark.sources.deltalog import read_delta, snapshot

    snap = snapshot(str(tbl))
    assert snap.column_mapping_mode == "name"
    out = read_delta(spark, str(tbl))
    assert out.columns == ["n_nationkey", "nation_label"]
    assert out.count() == 25


def test_delta_constraint_ddl_pipeline(spark, sf_dir, tmp_path):
    """CHECK constraints as YAML actors (round 9): addConstraint guards
    the table, a later violating write in ANOTHER pipeline fails, and
    dropConstraint lifts it."""
    tbl = tmp_path / "nation_chk"
    ypath = tmp_path / "chk.yaml"
    ypath.write_text(f"""
version: 1.0.0
jobs:
  - name: main
    actions:
      - name: load
        actor:
          type: file-reader
          properties:
            format: parquet
            fileUri: "{sf_dir}/nation.parquet"
        output-view: {{name: nation, global: false}}
      - name: write
        actor:
          type: delta-writer
          properties: {{view: nation, path: "{tbl}", mode: overwrite}}
        input-views: [nation]
      - name: guard
        actor:
          type: delta-dml
          properties:
            op: addConstraint
            path: "{tbl}"
            constraintName: key_nonneg
            predicate: "n_nationkey >= 0"
""")
    run_pipeline_file(spark, str(ypath))
    from spark_etl_framework_spark.sources.deltalog import (
        CheckConstraintViolation,
        drop_check_constraint,
        snapshot,
        write_delta,
    )

    assert snapshot(str(tbl)).check_constraints == {
        "key_nonneg": "n_nationkey >= 0"
    }
    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{sf_dir}/nation.parquet").limit(1)
    bad = src.withColumn(
        "n_nationkey",
        F.lit(-1).cast(dict(src.dtypes)["n_nationkey"]),
    )
    with pytest.raises(CheckConstraintViolation):
        write_delta(bad, str(tbl))
    drop_check_constraint(str(tbl), "key_nonneg")


def test_iceberg_wap_cherrypick_and_retention_actors(spark, sf_dir, tmp_path):
    """Round-11 lifecycle ops as YAML actors: iceberg-writer ``wapId``
    stages a commit with no pointer at it, iceberg-dml ``cherrypick``
    publishes it onto main, and createTag ``maxRefAgeMs`` + an
    expireSnapshots sweep age the ref out — the declarative surface for
    the session-WAP and ref-retention subsystems."""
    ice_tbl = tmp_path / "nation_wap"
    staged_out = tmp_path / "staged_main.parquet"
    ypath = tmp_path / "wap.yaml"
    ypath.write_text(f"""
version: 1.0.0
jobs:
  - name: main
    actions:
      - name: load
        actor:
          type: file-reader
          properties:
            format: parquet
            fileUri: "{sf_dir}/nation.parquet"
        output-view: {{name: nation, global: false}}
      - name: base
        actor:
          type: sql-transformer
          properties: {{sqlString: "SELECT * FROM nation WHERE n_regionkey <> 2"}}
        input-views: [nation]
        output-view: {{name: base, global: false}}
      - name: staged_rows
        actor:
          type: sql-transformer
          properties: {{sqlString: "SELECT * FROM nation WHERE n_regionkey = 2"}}
        input-views: [nation]
        output-view: {{name: staged_rows, global: false}}
      - name: write_main
        actor:
          type: iceberg-writer
          properties: {{view: base, table: "{ice_tbl}", mode: overwrite}}
        input-views: [base]
      - name: aged_tag
        actor:
          type: iceberg-dml
          properties:
            op: createTag
            path: "{ice_tbl}"
            refName: aged
            maxRefAgeMs: 1
      - name: stage
        actor:
          type: iceberg-writer
          properties:
            view: staged_rows
            table: "{ice_tbl}"
            mode: append
            wapId: yaml-wap-1
        input-views: [staged_rows]
      - name: snapshot_main
        actor:
          type: iceberg-reader
          properties: {{table: "{ice_tbl}"}}
        output-view: {{name: main_after_stage, global: false}}
      - name: sink_staged_main
        actor:
          type: file-writer
          properties:
            format: parquet
            fileUri: "{staged_out}"
            mode: overwrite
            view: main_after_stage
        input-views: [main_after_stage]
      - name: publish
        actor:
          type: iceberg-dml
          properties:
            op: cherrypick
            path: "{ice_tbl}"
            wapId: yaml-wap-1
      - name: sweep
        actor:
          type: iceberg-dml
          properties:
            op: expireSnapshots
            path: "{ice_tbl}"
            olderThanMs: 99999999999999
            retainLast: 1
""")
    import time as _time

    _time.sleep(0.05)  # no-op guard: keeps this test honest on fast boxes
    run_pipeline_file(spark, str(ypath))
    from spark_etl_framework_spark.sources.iceberg import (
        load_metadata,
        read_iceberg,
    )

    full = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    base_n = spark.read.parquet(str(staged_out)).count()
    assert base_n < full  # main was provably untouched while staged
    assert read_iceberg(spark, str(ice_tbl)).count() == full  # published
    meta = load_metadata(str(ice_tbl))
    assert "aged" not in (meta.get("refs") or {})  # retention aged it out
    assert any(
        (s.get("summary") or {}).get("published-wap-id") == "yaml-wap-1"
        for s in meta["snapshots"]
    )


def test_delta_uniform_and_clustering_actors(spark, sf_dir, tmp_path):
    """Round-11 lifecycle ops as YAML actors: delta-writer ``clusterBy``
    creates a liquid-clustered table, delta-dml ``enableUniform`` turns
    on the iceberg mirror, and an iceberg-reader actor reads the
    delta-written table natively — the declarative surface for the
    clustering and UniForm subsystems."""
    tbl = tmp_path / "nation_uni"
    out = tmp_path / "ice_view.parquet"
    ypath = tmp_path / "uni.yaml"
    ypath.write_text(f"""
version: 1.0.0
jobs:
  - name: main
    actions:
      - name: load
        actor:
          type: file-reader
          properties:
            format: parquet
            fileUri: "{sf_dir}/nation.parquet"
        output-view: {{name: nation, global: false}}
      - name: write_clustered
        actor:
          type: delta-writer
          properties:
            view: nation
            path: "{tbl}"
            mode: overwrite
            clusterBy: n_nationkey
        input-views: [nation]
      - name: mirror
        actor:
          type: delta-dml
          properties: {{op: enableUniform, path: "{tbl}"}}
      - name: read_as_iceberg
        actor:
          type: iceberg-reader
          properties: {{table: "{tbl}"}}
        output-view: {{name: ice_view, global: false}}
      - name: sink
        actor:
          type: file-writer
          properties:
            format: parquet
            fileUri: "{out}"
            mode: overwrite
            view: ice_view
        input-views: [ice_view]
""")
    run_pipeline_file(spark, str(ypath))
    from spark_etl_framework_spark.sources import deltalog as dl

    full = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    assert spark.read.parquet(str(out)).count() == full
    snap = dl.snapshot(str(tbl))
    assert {"clustering", "domainMetadata"} <= set(
        snap.protocol["writerFeatures"]
    )
    assert snap.configuration["delta.universalFormat.enabledFormats"] == (
        "iceberg"
    )


def test_delta_identity_widen_ict_actors(spark, sf_dir, tmp_path):
    """Round-12 lifecycle ops as YAML actors: delta-writer
    ``identityColumn`` creates a GENERATED ALWAYS AS IDENTITY table,
    delta-dml ``widenColumn`` performs ALTER COLUMN TYPE through the
    typeWidening feature, and ``enableIct`` installs in-commit
    timestamps — the declarative surface for the round-12 delta
    subsystems."""
    tbl = tmp_path / "nation_ident"
    out = tmp_path / "ident_view.parquet"
    ypath = tmp_path / "ident.yaml"
    ypath.write_text(f"""
version: 1.0.0
jobs:
  - name: main
    actions:
      - name: load
        actor:
          type: file-reader
          properties:
            format: parquet
            fileUri: "{sf_dir}/nation.parquet"
        output-view: {{name: nation, global: false}}
      - name: project
        actor:
          type: sql
          properties:
            sqlString: >
              SELECT n_name AS name, CAST(n_regionkey AS INT) AS region
              FROM nation
        input-views: [nation]
        output-view: {{name: slim, global: false}}
      - name: write_identity
        actor:
          type: delta-writer
          properties:
            view: slim
            path: "{tbl}"
            mode: overwrite
            identityColumn: row_id
            identityStart: 5
            identityStep: 5
        input-views: [slim]
      - name: widen
        actor:
          type: delta-dml
          properties:
            op: widenColumn
            path: "{tbl}"
            column: region
            newType: long
      - name: ict
        actor:
          type: delta-dml
          properties: {{op: enableIct, path: "{tbl}"}}
      - name: read_back
        actor:
          type: delta-reader
          properties: {{path: "{tbl}"}}
        output-view: {{name: back, global: false}}
      - name: sink
        actor:
          type: file-writer
          properties:
            format: parquet
            fileUri: "{out}"
            mode: overwrite
            view: back
        input-views: [back]
""")
    run_pipeline_file(spark, str(ypath))
    from spark_etl_framework_spark.sources import deltalog as dl

    full = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    back = spark.read.parquet(str(out))
    assert back.count() == full
    ids = sorted(r.row_id for r in back.select("row_id").collect())
    assert ids[0] == 5 and all((v - 5) % 5 == 0 for v in ids)
    assert len(set(ids)) == full
    snap = dl.snapshot(str(tbl))
    assert snap.protocol["minWriterVersion"] >= 6
    assert snap.schema["region"].dataType.simpleString() == "bigint"
    assert "typeWidening" in (snap.protocol.get("readerFeatures") or [])
    assert snap.configuration["delta.enableInCommitTimestamps"] == "true"


def test_iceberg_v3_ddl_actor_pipeline(spark, sf_dir, tmp_path):
    """Round-13 lifecycle ops as YAML actors: upgradeFormat flips the
    table to v3, addColumn with a default is a metadata-only commit, and
    a subsequent write that OMITS the column gets the write-default
    filled while pre-existing rows read the initial-default."""
    from spark_etl_framework_spark.plans.runner import run_pipeline_file
    from spark_etl_framework_spark.sources.iceberg import (
        load_metadata,
        read_iceberg,
    )

    tbl = tmp_path / "nation_v3"
    ypath = tmp_path / "iv3.yaml"
    ypath.write_text(f"""
version: 1.0.0
jobs:
  - name: main
    actions:
      - name: load
        actor:
          type: file-reader
          properties:
            format: parquet
            fileUri: "{sf_dir}/nation.parquet"
        output-view: {{name: nation, global: false}}
      - name: write
        actor:
          type: iceberg-writer
          properties: {{view: nation, table: "{tbl}", mode: overwrite}}
        input-views: [nation]
      - name: upgrade
        actor:
          type: iceberg-dml
          properties: {{op: upgradeFormat, path: "{tbl}", formatVersion: 3}}
      - name: addcol
        actor:
          type: iceberg-dml
          properties:
            op: addColumn
            path: "{tbl}"
            columnName: grade
            columnType: int
            columnDefault: "5"
      - name: append_without_column
        actor:
          type: iceberg-writer
          properties: {{view: nation, table: "{tbl}", mode: append}}
        input-views: [nation]
""")
    run_pipeline_file(spark, str(ypath))
    meta = load_metadata(str(tbl))
    assert meta["format-version"] == 3
    grades = [r.grade for r in read_iceberg(spark, str(tbl)).collect()]
    assert grades and all(g == 5 for g in grades)


def test_delta_defaults_ddl_actor_pipeline(spark, sf_dir, tmp_path):
    """Round 14: the delta addColumn-with-DEFAULT DDL as a pipeline
    actor (the allowColumnDefaults writer feature) — a metadata-only
    commit, a subsequent write that OMITS the column gets
    CURRENT_DEFAULT filled, and pre-existing rows read EXISTS_DEFAULT."""
    from spark_etl_framework_spark.plans.runner import run_pipeline_file
    from spark_etl_framework_spark.sources.deltalog import (
        read_delta,
        snapshot,
    )

    tbl = tmp_path / "nation_dcd"
    ypath = tmp_path / "dcd.yaml"
    ypath.write_text(f"""
version: 1.0.0
jobs:
  - name: main
    actions:
      - name: load
        actor:
          type: file-reader
          properties:
            format: parquet
            fileUri: "{sf_dir}/nation.parquet"
        output-view: {{name: nation, global: false}}
      - name: write
        actor:
          type: delta-writer
          properties: {{view: nation, path: "{tbl}", mode: overwrite}}
        input-views: [nation]
      - name: addcol
        actor:
          type: delta-dml
          properties:
            op: addColumn
            path: "{tbl}"
            columnName: grade
            columnType: int
            columnDefault: "5"
      - name: append_without_column
        actor:
          type: delta-writer
          properties: {{view: nation, path: "{tbl}", mode: append}}
        input-views: [nation]
""")
    run_pipeline_file(spark, str(ypath))
    snap = snapshot(str(tbl))
    assert "allowColumnDefaults" in snap.protocol["writerFeatures"]
    grades = [r.grade for r in read_delta(spark, str(tbl)).collect()]
    assert grades and all(g == 5 for g in grades)


def test_iceberg_rename_drop_actor_pipeline(spark, sf_dir, tmp_path):
    """Round 14: RENAME/DROP COLUMN as pipeline actor ops — both
    metadata-only; the post-rename append lands under the new name and
    reads union both vintages."""
    from spark_etl_framework_spark.plans.runner import run_pipeline_file
    from spark_etl_framework_spark.sources.iceberg import read_iceberg

    tbl = tmp_path / "nation_rd"
    ypath = tmp_path / "ird.yaml"
    ypath.write_text(f"""
version: 1.0.0
jobs:
  - name: main
    actions:
      - name: load
        actor:
          type: file-reader
          properties:
            format: parquet
            fileUri: "{sf_dir}/nation.parquet"
        output-view: {{name: nation, global: false}}
      - name: write
        actor:
          type: iceberg-writer
          properties: {{view: nation, table: "{tbl}", mode: overwrite}}
        input-views: [nation]
      - name: ren
        actor:
          type: iceberg-dml
          properties:
            op: renameColumn
            path: "{tbl}"
            oldColumn: n_name
            newColumn: nation_name
      - name: drop
        actor:
          type: iceberg-dml
          properties: {{op: dropColumn, path: "{tbl}", column: n_regionkey}}
""")
    run_pipeline_file(spark, str(ypath))
    df = read_iceberg(spark, str(tbl))
    assert "nation_name" in df.columns and "n_regionkey" not in df.columns
    assert df.count() == 25


# -- auto-cache: a view is persisted when two or more actions consume it --


def _act(name, type_, props, inputs=None, out=None):
    a = {"name": name, "actor": {"type": type_, "properties": props}}
    if inputs:
        a["input-views"] = inputs
    if out:
        a["output-view"] = {"name": out}
    return a


def _run(spark, actions, single_session=False):
    from spark_etl_framework_spark.plans.builder import build_pipeline

    settings = {"singleSparkSession": str(single_session).lower()}
    defn = {"version": "1.0.0", "name": "autocache", "settings": settings,
            "jobs": [{"name": "main", "actions": actions}]}
    PipelineRunner(spark).run(build_pipeline(defn, spark=spark))


@pytest.fixture()
def persists(spark, monkeypatch):
    """Every DataFrame.persist call, in order, as (event, DataFrame)."""
    events: list = []
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    real = cls.persist

    def spy(df, *a, **kw):
        events.append(("persist", df))
        return real(df, *a, **kw)

    monkeypatch.setattr(cls, "persist", spy)
    return events


#: group-scoped jobs of one warm run of the etl_star-shaped pipeline below
#: (14 while every single-consumer view was persisted)
ETL_STAR_JOBS = 9


def test_single_consumer_views_stay_unpersisted(
    spark, sf_dir, tmp_path, persists, group_job_count
):
    """Readers → sql-transformer with a setrun → validator (ignore) →
    file-writer: no view has two consuming actions, so the run persists
    nothing and every scan keeps its column pruning and filter pushdown."""
    sql = """
    setrun n_days = select datediff(max(o_orderdate), min(o_orderdate)) from s_orders
        where o_orderdate >= date '1994-01-01';
    select c_custkey, c_mktsegment, ${n_days} as n_days,
           sum(l_extendedprice * (1 - l_discount)) as revenue
    from s_customer join s_orders on c_custkey = o_custkey
         join s_lineitem on l_orderkey = o_orderkey
    where o_orderdate >= date '1994-01-01'
    group by c_custkey, c_mktsegment
    """
    out = tmp_path / "out"
    actions = [
        _act(f"load-{t}", "file-reader", {"format": "parquet", "fileUri": f"{sf_dir}/{t}.parquet"},
             out=f"s_{t}")
        for t in ("customer", "orders", "lineitem")
    ] + [
        _act("transform", "sql-transformer", {"sqlString": sql},
             ["s_customer", "s_orders", "s_lineitem"], "s_rev"),
        _act("validate", "sql-data-validator", {"validWhere": "revenue > 0", "action": "ignore"},
             ["s_rev"], "s_valid"),
        _act("write", "file-writer", {"format": "parquet", "mode": "overwrite", "fileUri": str(out)},
             ["s_valid"]),
    ]
    _run(spark, actions)  # warm
    persists.clear()
    n = group_job_count(lambda: _run(spark, actions))
    print(f"\netl_star-shaped pipeline: {n} jobs")
    assert persists == []
    assert n <= ETL_STAR_JOBS
    assert spark.read.parquet(str(out)).count() > 0


def test_view_with_two_declared_consumers_is_persisted_up_front(
    spark, sf_dir, tmp_path, persists, monkeypatch
):
    """A view two actions list in input-views is persisted when it is
    registered, before its first consumer runs, and unpersisted at job end."""
    from spark_etl_framework_spark.operators.sql import SqlTransformer

    real_run = SqlTransformer.run

    def run(self, ctx, session):
        persists.append(("run", session.table("d_nation").storageLevel.useMemory))
        return real_run(self, ctx, session)

    monkeypatch.setattr(SqlTransformer, "run", run)
    actions = [
        _act("load", "file-reader", {"format": "parquet", "fileUri": f"{sf_dir}/nation.parquet"},
             out="d_nation"),
        _act("by-region", "sql-transformer",
             {"sqlString": "select n_regionkey, count(*) as n from d_nation group by n_regionkey"},
             ["d_nation"], "d_a"),
        _act("names", "sql-transformer", {"sqlString": "select n_name from d_nation"},
             ["d_nation"], "d_b"),
        _act("write-a", "file-writer", {"format": "parquet", "fileUri": str(tmp_path / "a")}, ["d_a"]),
        _act("write-b", "file-writer", {"format": "parquet", "fileUri": str(tmp_path / "b")}, ["d_b"]),
    ]
    _run(spark, actions)
    assert [e for e, _ in persists] == ["persist", "run", "run"]
    assert persists[1][1] is True  # cached before its first consumer ran
    nation = persists[0][1]
    assert "n_regionkey" in nation.columns
    assert nation.storageLevel.useMemory is False  # released at job end
    assert spark.read.parquet(str(tmp_path / "b")).count() == 25


def test_undeclared_second_consumer_persists_the_view(spark, sf_dir, tmp_path, persists):
    """A view whose second consuming action reads it only through its SQL,
    without listing it in input-views, is persisted at that reference."""
    actions = [
        _act("load", "file-reader", {"format": "parquet", "fileUri": f"{sf_dir}/nation.parquet"},
             out="u_nation"),
        _act("first", "sql-transformer",
             {"sqlString": "select n_nationkey, n_regionkey from u_nation"}, ["u_nation"], "u_a"),
        _act("second", "sql-transformer",
             {"sqlString": "select a.n_regionkey, n.n_name from u_a a "
                           "join u_nation n on a.n_nationkey = n.n_nationkey"},
             ["u_a"], "u_b"),
        _act("write", "file-writer", {"format": "parquet", "fileUri": str(tmp_path / "o")}, ["u_b"]),
    ]
    _run(spark, actions)
    assert len(persists) == 1
    assert "n_name" in persists[0][1].columns  # u_nation, not u_a
    assert spark.read.parquet(str(tmp_path / "o")).count() == 25


def test_erroring_validator_scans_its_input_once(spark, sf_dir, tmp_path):
    """``sql-data-validator action=error`` counts the invalid rows and
    returns the lazy valid rows over the same view, so it keeps that view
    cached: the view's rows are computed once for both reads."""
    calls = spark.sparkContext.accumulator(0)

    def tick(k):
        calls.add(1)
        return k

    spark.udf.register("autocache_tick", tick, "bigint")
    actions = [
        _act("load", "file-reader", {"format": "parquet", "fileUri": f"{sf_dir}/nation.parquet"},
             out="v_src"),
        _act("tick", "sql-transformer",
             {"sqlString": "select autocache_tick(n_nationkey) as k, n_name from v_src"},
             ["v_src"], "v_nation"),
        _act("validate", "sql-data-validator", {"validWhere": "k >= 0", "action": "error"},
             ["v_nation"], "v_valid"),
        _act("write", "file-writer", {"format": "parquet", "fileUri": str(tmp_path / "o")},
             ["v_valid"]),
    ]
    _run(spark, actions, single_session=True)
    assert spark.read.parquet(str(tmp_path / "o")).count() == 25
    assert calls.value == 25


def test_multi_branch_actor_keeps_its_single_consumer_input_cached(
    spark, sf_dir, tmp_path, persists
):
    """``containment-dedup-transformer`` reads its input view in both
    shingle branches and in the final anti-join, so it counts as two
    consumers and the view it alone consumes stays cached."""
    actions = [
        _act("load", "file-reader", {"format": "parquet", "fileUri": f"{sf_dir}/documents.parquet"},
             out="m_docs"),
        _act("dedup", "containment-dedup-transformer", {"threshold": "0.8"}, ["m_docs"], "m_kept"),
        _act("write", "file-writer", {"format": "parquet", "fileUri": str(tmp_path / "o")},
             ["m_kept"]),
    ]
    _run(spark, actions)
    docs = [df for _, df in persists if df.columns == ["doc_id", "text", "lang", "source", "n_chars"]]
    assert len(docs) == 1
    assert 0 < spark.read.parquet(str(tmp_path / "o")).count() <= 500
