"""Shared fixtures: one SparkSession + one DuckDB oracle connection
per test session, pointed at the smallest fixture scale (sf0.001) so
the full suite stays fast. Set SPARK_GRAFT_TEST_SF_DIR to re-run the
suite at a bigger scale."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafkatoclickhouse_spark import oracle as oracle_mod  # noqa: E402
from kafkatoclickhouse_spark import registry  # noqa: E402
from kafkatoclickhouse_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
)

registry.load_all()


@pytest.fixture(scope="session")
def spark():
    return get_spark("tests")


@pytest.fixture(scope="session")
def group_jobs(spark):
    """``group_jobs(group, fn)``: the Spark job ids that ``fn()``
    started, read from the status tracker under job group ``group``
    once the listener bus has delivered every event."""
    sc = spark.sparkContext

    def run(group: str, fn) -> list[int]:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def duck():
    return oracle_mod.duckdb_connect(SF_DIR)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def raw_feed_dir(spark, sf_dir, tmp_path_factory):
    """events fixture rendered as the Kafka-source shape, on disk
    (shared by the streaming and sink-catalog suites)."""
    from kafkatoclickhouse_spark.operators import ingest
    from kafkatoclickhouse_spark.tables import load_table

    path = str(tmp_path_factory.mktemp("rawfeed") / "feed")
    events = load_table(spark, sf_dir, "events")
    ingest.events_as_raw_json(events).write.parquet(path)
    return path
