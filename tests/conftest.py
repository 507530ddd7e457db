"""Shared pytest fixtures: one local SparkSession per test run, plus
access to the reference implementation (when present) for differential
golden testing."""

from __future__ import annotations

import os
import sys
import pathlib
import uuid
from contextlib import contextmanager

import pytest

REPO_ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

REFERENCE_ROOT = pathlib.Path(
    os.environ.get("KML2GEOJSON_REFERENCE", "/root/reference")
)
REFERENCE_DATA = REFERENCE_ROOT / "tests" / "data"

TESTDATA_ROOT = pathlib.Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))


def reference_available() -> bool:
    return (REFERENCE_ROOT / "kml2geojson" / "main.py").is_file()


@pytest.fixture(scope="session")
def reference_module():
    """Import the reference implementation for differential testing."""
    if not reference_available():
        pytest.skip("reference repo not available")
    sys.path.insert(0, str(REFERENCE_ROOT))
    import kml2geojson as ref  # noqa

    return ref


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .appName("kml2geojson_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "6g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield session
    session.stop()


@pytest.fixture(params=[True, False], ids=["ansi", "no_ansi"])
def ansi_spark(spark, request):
    """The session with ``spark.sql.ansi.enabled`` set true, then false;
    the previous setting is restored after the test."""
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, str(request.param).lower())
    try:
        yield spark
    finally:
        spark.conf.set(key, old)


@pytest.fixture(params=["broadcast", "shuffle"])
def pip_plan(spark, request):
    """The two physical plans of pip_join's cogroup shape. "broadcast"
    makes the points the broadcast build side, as Catalyst plans
    perfbench's cached points, here with a hint; "shuffle" turns
    auto-broadcast off, so the candidate join shuffles both sides on
    ``cell_id``. Yields (the plan's name, the function that readies a
    points DataFrame for it)."""
    from pyspark.sql import functions as F
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if request.param == "shuffle":
        spark.conf.set(key, "-1")
    try:
        yield request.param, (F.broadcast if request.param == "broadcast"
                              else lambda df: df)
    finally:
        spark.conf.set(key, old)


@contextmanager
def spark_jobs(spark):
    """Collect the ids of the Spark jobs started inside the block: the
    block runs under a fresh job group, read back from the status
    tracker once the listener bus has delivered every job-start event."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    ids: list = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
