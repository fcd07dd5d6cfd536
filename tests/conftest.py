from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

_REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, _REPO)
# executor python workers resolve dotted-path plug-ins by import — they
# inherit the driver env, so expose the repo before the session is built
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from spark_etl_framework_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    return get_session("tests", master="local[4]")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def group_job_count(spark):
    """``count(fn)``: the jobs ``fn()`` launches, counted inside a job group
    of its own so unrelated activity in the shared session cannot change
    the count."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"pin-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job-count pin")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group) or [])

    return count
