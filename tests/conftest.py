from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from kgap_spark.session import get_spark

    s = get_spark(app_name="kgap-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def jobs_launched(spark):
    """``jobs_launched(fn)`` → Spark jobs started by ``fn()``, counted
    under a fresh job group once the listener bus has delivered every
    job-start event."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job-count probe")
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory) -> str:
    from kgap_spark.fixtures import write_fixtures

    out = tmp_path_factory.mktemp("fixtures-tiny")
    write_fixtures(str(out), "tiny")
    return str(out)


@pytest.fixture(scope="session")
def tiny(spark, fixture_dir):
    """dict of tiny fixture DataFrames."""
    names = ["web_pages", "alias_dict", "golden_triples", "golden_text", "increments"]
    return {n: spark.read.parquet(f"{fixture_dir}/{n}.parquet") for n in names}
