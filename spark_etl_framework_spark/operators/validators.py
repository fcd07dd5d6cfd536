"""Validators (reference: etl/validation/*.scala)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.context import JobContext
from .base import Actor


class SchemaValidator(Actor):
    """``type=match``: exact or name-sorted schema equality; ``type=adapt``:
    project/cast the view onto the declared schema, filling missing columns
    with null (reference: etl/validation/SchemaValidator.scala:16,43-90).

    ``mode=strict`` compares field order too; ``action=error|ignore`` decides
    whether mismatch raises.
    """

    type: str = "match"
    mode: str = "default"
    action: str = "error"
    ddlSchemaString: str | None = None
    view: str | None = None

    def run(self, ctx: JobContext, spark: SparkSession) -> DataFrame | None:
        if not self.ddlSchemaString or not self.view:
            raise ValueError("SchemaValidator: 'ddlSchemaString' and input view required")
        want = T.StructType.fromDDL(self.ddlSchemaString)
        ctx.reference(self.view)
        df = spark.table(self.view)
        if self.type == "adapt":
            have = {f.name: f for f in df.schema.fields}
            cols = [
                F.col(f.name).cast(f.dataType) if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in want.fields
            ]
            return df.select(*cols)
        got = df.schema
        if self.mode == "strict":
            ok = [(f.name, f.dataType) for f in got.fields] == [
                (f.name, f.dataType) for f in want.fields
            ]
        else:
            ok = sorted((f.name, f.dataType.simpleString()) for f in got.fields) == sorted(
                (f.name, f.dataType.simpleString()) for f in want.fields
            )
        if not ok and self.action == "error":
            raise ValueError(
                f"SchemaValidator: schema mismatch: got {got.simpleString()}, "
                f"want {want.simpleString()}"
            )
        return df


class SqlDataValidator(Actor):
    """Split a view into valid/invalid rows by predicate; ``action=error``
    raises when invalid rows exist, ``staging`` writes them to a file,
    ``ignore`` drops them (reference: etl/validation/SqlDataValidator.scala:
    12,38-66). Output = the valid rows."""

    validWhere: str | None = None
    invalidWhere: str | None = None
    action: str = "ignore"
    staging_uri: str | None = None
    staging_format: str = "csv"
    view: str | None = None
    DEFERRED_KEYS = ("validWhere", "invalidWhere")

    def run(self, ctx: JobContext, spark: SparkSession) -> DataFrame | None:
        if not self.view:
            raise ValueError("SqlDataValidator: input view required")
        # error/staging materialize the invalid rows here and the caller
        # reads the lazy valid rows later: two reads of one view
        split = self.action == "error" or (self.action == "staging" and self.staging_uri)
        ctx.reference(self.view, reads=2 if split else 1)
        df = spark.table(self.view)
        if self.validWhere:
            valid = df.filter(self.validWhere)
            invalid = df.filter(f"NOT ({self.validWhere})")
        elif self.invalidWhere:
            invalid = df.filter(self.invalidWhere)
            valid = df.filter(f"NOT ({self.invalidWhere})")
        else:
            raise ValueError("SqlDataValidator: validWhere or invalidWhere required")
        if self.action == "error":
            n = invalid.count()
            if n:
                raise ValueError(f"SqlDataValidator: {n} invalid rows in {self.view}")
        elif self.action == "staging" and self.staging_uri:
            invalid.write.format(self.staging_format).mode("append").save(self.staging_uri)
        return valid
