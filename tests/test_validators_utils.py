from __future__ import annotations

import pytest

from spark_etl_framework_spark.operators.utils import (
    ViewPartitioner,
    split_partitions,
    zip_with_index,
)
from spark_etl_framework_spark.operators.validators import SchemaValidator, SqlDataValidator
from spark_etl_framework_spark.plans.context import JobContext, PipelineContext


@pytest.fixture
def jctx(spark):
    return JobContext(PipelineContext(), spark)


def test_schema_validator_match_ok(spark, jctx, sf_dir):
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView("region_v")
    v = SchemaValidator(
        type="match", ddlSchemaString="r_regionkey int, r_name string", view="region_v"
    )
    assert v.run(jctx, spark).count() == 5


def test_schema_validator_match_error(spark, jctx, sf_dir):
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView("region_v")
    v = SchemaValidator(type="match", ddlSchemaString="wrong int", view="region_v")
    with pytest.raises(ValueError, match="schema mismatch"):
        v.run(jctx, spark)


def test_schema_validator_adapt_fills_missing(spark, jctx, sf_dir):
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView("region_v")
    v = SchemaValidator(
        type="adapt",
        ddlSchemaString="r_regionkey long, r_name string, extra double",
        view="region_v",
    )
    df = v.run(jctx, spark)
    assert df.schema.simpleString() == "struct<r_regionkey:bigint,r_name:string,extra:double>"
    assert df.filter("extra is null").count() == 5


def test_sql_data_validator_split(spark, jctx, sf_dir):
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView("nation_v")
    v = SqlDataValidator(validWhere="n_regionkey < 4", action="ignore", view="nation_v")
    assert v.run(jctx, spark).count() == 20


def test_sql_data_validator_error_action(spark, jctx, sf_dir):
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView("nation_v")
    v = SqlDataValidator(invalidWhere="n_regionkey = 4", action="error", view="nation_v")
    with pytest.raises(ValueError, match="invalid rows"):
        v.run(jctx, spark)


def test_view_partitioner(spark, jctx, sf_dir):
    spark.read.parquet(f"{sf_dir}/customer.parquet").createOrReplaceTempView("cust_v")
    df = ViewPartitioner(numPartitions=7, partitionBy="c_nationkey", view="cust_v").run(
        jctx, spark
    )
    assert df.rdd.getNumPartitions() == 7


def test_split_partitions_bounds_chunks(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/customer.parquet").repartition(8)
    chunks = split_partitions(df, 3)
    assert len(chunks) == 3
    assert sum(c.count() for c in chunks) == df.count()


def test_zip_with_index_global_and_grouped(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/customer.parquet").repartition(5)
    g = zip_with_index(df, "idx")
    ids = [r["idx"] for r in g.select("idx").collect()]
    assert sorted(ids) == list(range(1, df.count() + 1))
    per = zip_with_index(df, "idx", partition_by="c_nationkey")
    mx = per.groupBy("c_nationkey").max("idx").collect()
    counts = dict(df.groupBy("c_nationkey").count().collect())
    assert all(r["max(idx)"] == counts[r["c_nationkey"]] for r in mx)


def test_run_concurrently_cleanup_on_sibling_failure(tmp_path):
    """When one thunk raises, the cleanup runs on the result of every
    thunk that succeeded (its staged files unlinked), the original error
    propagates, and cleanup never runs on the success path."""
    import pytest

    from spark_etl_framework_spark.sources.lakecore import run_concurrently

    staged = tmp_path / "staged.parquet"

    def ok():
        staged.write_text("bytes")
        return [str(staged)]

    def boom():
        raise RuntimeError("sibling failed")

    def clean(paths):
        import os

        for p in paths:
            os.unlink(p)

    with pytest.raises(RuntimeError, match="sibling failed"):
        run_concurrently(ok, boom, cleanup=clean)
    assert not staged.exists(), "failed DML must not orphan staged files"

    # success path: cleanup untouched
    out = run_concurrently(ok, lambda: [], cleanup=clean)
    assert out == [[str(staged)], []]
    assert staged.exists()
