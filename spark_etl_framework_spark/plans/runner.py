"""PipelineRunner: execute a Pipeline against a SparkSession.

Reference semantics preserved (reference: etl/pipeline/PipelineRunner.scala):
- jobs run sequentially, each in ``spark.newSession()`` unless
  ``singleSparkSession`` (:49, :101-103)
- UDFs registered per job session (:54); global views optionally localized
  (:56-58, ``globalViewAsLocal``)
- per action: input-view existence check (:67,119-134) → ``before_run`` late
  variable binding (:76) → ``actor.run`` (:78) → validation-run ``limit(n)``
  (:78) → output-view promotion (:79,137-148) → metrics + debug staging
  (:80-81,151-240)
- auto-cache (:69-72): a view is persisted when two or more actions consume
  it, counted per action from ``input-views`` before its first consumer runs
- job selection "file#job1;job2" (:43); cache/catalog cleanup per job (:96-103)
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..functions.binary import register_binary_functions
from ..functions.registration import register_udfs
from .context import JobContext, PipelineContext
from .model import Pipeline


def _parse_validation_run(vr) -> int | None:
    """validationRun → row limit: 'true'→0, 'false'→None, int n>=0→n,
    negative/unparseable→None (reference: PipelineRunner.scala:21-29)."""
    if vr is None:
        return None
    s = str(vr).strip()
    if s.lower() == "true":
        return 0
    if s.lower() == "false":
        return None
    try:
        n = int(s)
    except ValueError:
        return None
    return n if n >= 0 else None


def _declared_consumers(actions, i: int) -> set[int]:
    """Indexes of the actions after ``i`` that list its output view in
    ``input-views``, up to one that registers the same name again."""
    name, readers = actions[i].output_view.name, set()
    for j in range(i + 1, len(actions)):
        if name in actions[j].input_views:
            readers.add(j)
        if getattr(actions[j].output_view, "name", None) == name:
            break
    return readers


class PipelineRunner:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    def run(self, pipeline: Pipeline, jobs: list[str] | None = None) -> None:
        """Run selected jobs (all by default)."""
        ctx = PipelineContext(variables=pipeline.variables)
        vr = pipeline.variables.get("validationRun")
        if vr is None:
            # conf-driven form (reference reads the app-conf key:
            # PipelineRunner.scala:21-29)
            vr = pipeline.variables.get("application.runtime.validationRun")
        ctx.validation_limit = _parse_validation_run(vr)

        metrics: list[dict] = []
        selected = [j for j in pipeline.jobs if jobs is None or j.name in jobs]
        for job in selected:
            session = (
                self.spark if pipeline.single_spark_session else self.spark.newSession()
            )
            register_binary_functions(session)
            register_udfs(session, pipeline.udf_registrations)
            if pipeline.global_view_as_local:
                self._localize_global_views(session)
            jctx = JobContext(ctx, session)
            metrics_persisted: list = []
            try:
                for i, action in enumerate(job.actions):
                    t0 = time.time()
                    jctx.action = i
                    for v in action.input_views:
                        if not jctx.view_exists(v):
                            raise ValueError(
                                f"action {action.name!r}: missing input view {v!r}"
                            )
                    action.actor.before_run(ctx.variables)
                    df = action.actor.run(jctx, session)
                    if df is not None and ctx.validation_limit is not None and not df.isStreaming:
                        df = df.limit(ctx.validation_limit)
                    if df is not None and action.output_view is not None:
                        jctx.register_view(
                            action.output_view.name, df, action.output_view.global_,
                            _declared_consumers(job.actions, i),
                        )
                    self._metrics_and_staging(
                        pipeline, action, df, metrics, t0, metrics_persisted
                    )
            finally:
                # release the metrics persists deterministically — the
                # sinks have materialized by job end, so the blocks are
                # dead weight (ContextCleaner would only free them after
                # a later driver GC)
                for pdf in metrics_persisted:
                    try:
                        pdf.unpersist(blocking=False)
                    except Exception:
                        pass
                jctx.cleanup()
                if not pipeline.single_spark_session:
                    session.catalog.clearCache()
        if pipeline.metrics_logging and metrics:
            out = Path(pipeline.metrics_logging.uri)
            out.mkdir(parents=True, exist_ok=True)
            (out / f"metrics-{int(time.time() * 1000)}.json").write_text(
                json.dumps(metrics, indent=2)
            )

    def _localize_global_views(self, session: SparkSession) -> None:
        """Re-register every global_temp.X as local X in the job's sub-session
        (reference: PipelineRunner.scala:56-58,113-116)."""
        try:  # SHOW VIEWS runs no Spark job; catalog.listTables runs one or more
            views = session.sql("SHOW VIEWS IN global_temp").collect()
        except Exception:  # no global temp db in the current catalog
            return
        for v in views:
            if v.namespace == "global_temp":  # not the session's local views
                session.table(f"global_temp.{v.viewName}").createOrReplaceTempView(v.viewName)

    def _metrics_and_staging(
        self,
        pipeline: Pipeline,
        action,
        df: DataFrame | None,
        metrics: list[dict],
        t0: float,
        metrics_persisted: list | None = None,
    ) -> None:
        ml = pipeline.metrics_logging
        if ml and df is not None and not df.isStreaming and (
            not ml.actions or action.name in ml.actions
        ):
            # persist-before-count so metrics don't recompute the plan
            # (reference: PipelineRunner.scala:162-170); recorded so run()
            # can unpersist at job end instead of leaking until driver GC
            df.persist()
            if metrics_persisted is not None:
                metrics_persisted.append(df)
            record = {
                "action": action.name,
                "schema": df.schema.simpleString(),
                "rowCount": df.count(),
                "execTimeSec": round(time.time() - t0, 3),
            }
            record.update(action.actor.collect_metrics(df))
            metrics.append(record)
        ds = pipeline.debug_staging
        if ds and df is not None and not df.isStreaming and (
            not ds.actions or action.name in ds.actions
        ):
            (
                df.write.format("csv")
                .option("header", "true")
                .mode("overwrite")
                .save(f"{ds.uri.rstrip('/')}/{action.name}")
            )


def run_pipeline_file(
    spark: SparkSession,
    path: str,
    cli_vars: dict[str, str] | None = None,
    app_conf: dict[str, str] | None = None,
    staging_uri: str | None = None,
    staging_actions: list[str] | None = None,
) -> None:
    """CLI-style entry: ``path`` may carry a job selection suffix
    ``file.yaml#job1;job2`` (reference: Launcher.scala:42-45). CLI staging
    overrides replace the pipeline's debug-staging section
    (reference: etl/configuration/ArgumentParser.scala:46-60)."""
    from .builder import build_pipeline_from_file
    from .model import DebugStaging

    jobs: list[str] | None = None
    if "#" in path:
        path, sel = path.split("#", 1)
        jobs = [j for j in sel.split(";") if j]
    pipeline = build_pipeline_from_file(path, cli_vars, app_conf, spark)
    if staging_uri:
        pipeline.debug_staging = DebugStaging(staging_uri, staging_actions or [])
    PipelineRunner(spark).run(pipeline, jobs)
