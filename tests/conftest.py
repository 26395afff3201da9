from __future__ import annotations

import contextlib
import os
import sys
import types
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_TEST_CPUS', '4')}]")
        .appName("avro_spark_tests")
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_TEST_CPUS", "4"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def py4j_round_trips():
    """Counts py4j round trips: ``with py4j_round_trips() as rt: ...``,
    then read ``rt.n`` (see ``tools/py4j_round_trips.py``)."""
    from tools.py4j_round_trips import round_trips

    return round_trips


@pytest.fixture
def spark_jobs(spark):
    """Counts the Spark jobs a block starts: ``with spark_jobs() as
    jobs: ...``, then read ``jobs.n``. The block runs under its own job
    group; on exit the listener bus is drained, so every job the block
    submitted is known to the status tracker, and the caller's job
    group and description are restored."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")

    @contextlib.contextmanager
    def count():
        saved = {k: sc.getLocalProperty(k) for k in keys}
        group = f"spark_jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted block")
        counter = types.SimpleNamespace(n=0)
        try:
            yield counter
        finally:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            counter.n = len(sc.statusTracker().getJobIdsForGroup(group))
            for k, v in saved.items():
                sc.setLocalProperty(k, v)

    return count
