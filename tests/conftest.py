"""Shared fixtures: one SparkSession per test run (Spark startup is ~5s;
per-test sessions would dominate), DuckDB with the testdata views
pre-registered (mirrors the driver's oracle harness)."""

from __future__ import annotations

import os

import duckdb
import pytest

from transporter_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _test_driver_memory() -> dict:
    """The test session's driver heap: half of the host's MemTotal,
    capped at 16g, unless SPARK_GRAFT_DRIVER_MEM is set (then the
    engine default applies it). The engine's own 16g default grows
    past the RAM of a 16 GB host over the full suite."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return {}
    try:
        with open("/proc/meminfo") as fh:
            kb = next(
                int(line.split()[1]) for line in fh
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return {}
    mb = min(kb // 2 // 1024, 16 * 1024)
    return {"spark.driver.memory": f"{mb}m"}


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("transporter-spark-tests", **_test_driver_memory())
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)`` runs ``fn`` and returns ``(its result, the number
    of Spark jobs it started)``, counted by a job group of its own."""
    import uuid

    def run(fn):
        sc = spark.sparkContext
        gid = f"jobs-of-{uuid.uuid4().hex}"
        sc.setJobGroup(gid, gid)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
        return out, len(sc.statusTracker().getJobIdsForGroup(gid))

    return run
