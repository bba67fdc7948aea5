from __future__ import annotations

import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"


@contextmanager
def job_group(spark, group: str):
    """Run the block under the job group ``group``, which must be unused.
    Yields a callable that returns the number of Spark jobs the group has
    launched so far; read it after the block."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.fixture(scope="session")
def spark():
    from pb_etl_spark.session import get_spark

    # one JVM serves the whole ~350-test suite; the 1g driver default
    # runs out of heap late in the run (observed: Py4JJavaError in
    # whichever ML fit happens to train last) — size it for the suite
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    # shared with the CLI gate so the view definitions can't drift
    from tools.check_oracle import duck_con

    con = duck_con(SF_DIR)
    yield con
    con.close()
