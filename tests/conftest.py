from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from raptor_service_spark.session import get_spark

    # North-rule verification runs the suite at two cluster sizes
    # (e.g. SPARK_GRAFT_TEST_CPUS=2 and =8); results must be identical —
    # every assertion is on deterministic values, never on partitioning.
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")
    s = get_spark(
        app_name="raptor-tests", master=f"local[{cpus}]", shuffle_partitions=8
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn(), number of Spark jobs fn ran), counted
    through a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
