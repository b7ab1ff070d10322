from __future__ import annotations

import contextlib
import os
import uuid

import pytest

from rastercube_spark.session import get_spark
from rastercube_spark.testing import duck_connection

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rastercube-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as jobs:`` runs the body in a fresh job group;
    on exit ``jobs`` holds the ids of the Spark jobs the body ran."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def run():
        group = f"test-{uuid.uuid4().hex}"
        jobs: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            jobs.extend(sorted(sc.statusTracker().getJobIdsForGroup(group)))

    return run
