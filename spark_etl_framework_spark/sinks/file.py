"""FileWriter (reference: etl/sink/FileWriter.scala:14,28-56)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from ..caching import persisted
from ..operators.base import Actor
from ..plans.context import JobContext

_FORMATS = ("csv", "json", "parquet", "avro", "orc", "text")


class FileWriter(Actor):
    """Write a view as csv/json/avro/parquet/orc.

    ``emptyWrite=no|disabled`` skips writing when the DataFrame is empty
    (persist-before-count so the check doesn't recompute the plan —
    reference: FileWriter.scala:34-44); ``partitionBy`` produces hive-style
    directory partitioning (partition pruning for downstream readers).
    """

    format: str = "parquet"
    fileUri: str | None = None
    mode: str = "overwrite"
    partitionBy: str | None = None
    emptyWrite: str = "default"
    view: str | None = None
    DEFERRED_KEYS = ("fileUri",)

    def run(self, ctx: JobContext, spark: SparkSession) -> DataFrame | None:
        if self.format not in _FORMATS:
            raise ValueError(f"FileWriter: unsupported format {self.format!r}")
        if not self.fileUri or not self.view:
            raise ValueError("FileWriter: 'fileUri' and input view required")
        df = spark.table(self.view)
        ctx.reference(self.view)
        if self.emptyWrite in ("no", "disabled"):
            with persisted(df, StorageLevel.MEMORY_AND_DISK):
                if not df.isEmpty():
                    self._write(df)
            return None
        self._write(df)
        return None

    def _write(self, df: DataFrame) -> None:
        options = {
            k.split(".", 1)[1]: str(v)
            for k, v in self._props.items()
            if k.startswith("options.")
        }
        writer = df.write.format(self.format).options(**options).mode(self.mode)
        cols = [c.strip() for c in (self.partitionBy or "").split(",") if c.strip()]
        if cols:
            writer = writer.partitionBy(*cols)
        writer.save(self.fileUri)
