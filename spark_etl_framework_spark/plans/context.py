"""Pipeline / job execution contexts.

The reference smuggles SQL-set variables and cache ref-counts across
sub-sessions through session conf keys (reference: etl/common/Actor.scala:
83-109, JobContext.scala:21-35); here the runner owns all sessions, so both
live as plain Python state. Variables set by SQL are visible to later actors;
a view is persisted when two or more actions consume it. Counting actions, not
reference calls as the reference does, keeps a single-consumer view uncached so
its scans keep column pruning and filter pushdown.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


@dataclass
class PipelineContext:
    """Pipeline-scope state (reference: etl/common/PipelineContext.scala).

    ``io_connections``/``io_batch_size`` are the reference's sink-parallelism
    defaults (reference: etl/common/PipelineContext.scala:111,117).
    """

    variables: dict[str, str] = field(default_factory=dict)
    objects: dict[str, Any] = field(default_factory=dict)
    io_connections: int = 16
    io_batch_size: int = 1600
    #: validation run: None = off, N = limit every action output to N rows
    #: (reference: PipelineRunner.scala:21-29,78)
    validation_limit: int | None = None


class JobContext:
    """Job-scope state: view consumers + auto-caching
    (reference: etl/common/JobContext.scala:18,44-51,74-85).

    A view is persisted MEMORY_AND_DISK when two or more actions consume it.
    The runner passes each registration's declared consumers (``input-views``)
    so the first consumer fills the cache; ``reference()`` adds the current
    ``action`` at run time, catching undeclared SQL relations and source
    views. Outside a runner action every call is a consumer of its own.
    Streaming DataFrames are never persisted.
    """

    def __init__(self, pipeline_ctx: PipelineContext, spark: SparkSession):
        self.pipeline = pipeline_ctx
        self.spark = spark
        self.objects: dict[str, Any] = {}
        self.action: int | None = None  # the runner action now running
        self._consumers: dict[str, set] = {}
        self._view_dfs: dict[str, DataFrame] = {}
        #: by id(df), so a re-registered name's old cache is still released
        self._persisted: dict[int, DataFrame] = {}
        self._global_views: set[str] = set()

    @property
    def variables(self) -> dict[str, str]:
        return self.pipeline.variables

    def register_view(self, name: str, df: DataFrame, global_: bool = False, consumers=()) -> None:
        """Promote an actor output to a temp view
        (reference: etl/pipeline/PipelineRunner.scala:137-148); ``consumers``
        are the indexes of the actions declared to read this registration."""
        if global_:
            df.createOrReplaceGlobalTempView(name)
            self._global_views.add(name)
        else:
            df.createOrReplaceTempView(name)
        self._view_dfs[name] = df
        self._consumers[name] = {(a, 0) for a in consumers}
        self._persist_if_shared(name)

    def reference(self, view: str, reads: int = 1) -> None:
        """Count the current action as a consumer of ``view``; an action
        that materializes the view ``reads`` times counts that often."""
        action = object() if self.action is None else self.action
        self._consumers.setdefault(view, set()).update((action, k) for k in range(reads))
        self._persist_if_shared(view)

    def _persist_if_shared(self, view: str) -> None:
        df = self._view_dfs.get(view)
        shared = df is not None and len(self._consumers[view]) >= 2 and not df.isStreaming
        if shared and id(df) not in self._persisted:
            self._persisted[id(df)] = df.persist(StorageLevel.MEMORY_AND_DISK)

    def view_exists(self, view: str) -> bool:
        """Input-view existence check (reference: PipelineRunner.scala:119-134)."""
        return view in self._view_dfs or self.spark.catalog.tableExists(view)

    def cleanup(self) -> None:
        """Unpersist + drop temp views at job end
        (reference: PipelineRunner.scala:243-258).

        Local temp views are dropped: with ``settings.singleSparkSession=
        true`` jobs share one session, so an undropped local view would leak
        into the next job and let its missing-input-view check pass against
        stale data. Global temp views survive — they are the cross-job
        sharing mechanism in both session modes (the reference likewise only
        uncaches them, PipelineRunner.scala:243-258)."""
        for df in self._persisted.values():
            df.unpersist()
        for name in self._view_dfs:
            if name not in self._global_views:
                self.spark.catalog.dropTempView(name)
        self._persisted.clear()
        self._view_dfs.clear()
        self._consumers.clear()
        self._global_views.clear()
