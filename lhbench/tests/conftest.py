from __future__ import annotations

import pytest

from lhbench import env


@pytest.fixture(scope="session")
def bench_spark():
    """One local Spark session set up the way a benchmark run sets it up."""
    work = env.prepare("tests")
    spark = env.start_spark(work)
    yield spark, work
    env.stop_spark(spark)
    env.cleanup(work)
