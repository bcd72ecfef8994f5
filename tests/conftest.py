from __future__ import annotations

import sys
import time
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from mysql_streamer_spark.session import get_spark

    warehouse = str(tmp_path_factory.mktemp("mss_warehouse"))
    spark = get_spark(
        "tests", cpus=8, extra_conf={"spark.sql.warehouse.dir": warehouse}
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)``: the Spark jobs launched by ``fn()``, counted under
    a private job group. A marker job in a second group runs afterwards:
    the listener bus is FIFO, so once the marker is visible every job
    before it is counted."""

    def count(fn) -> int:
        sc = spark.sparkContext
        group, marker = f"g-{uuid.uuid4().hex}", f"m-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted")
        try:
            fn()
        finally:
            sc.setJobGroup(marker, "marker")
            spark.range(1).collect()
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(marker):
            assert time.time() < deadline, "marker job never reached the status store"
            time.sleep(0.05)
        return len(tracker.getJobIdsForGroup(group))

    return count
