from __future__ import annotations

import sys
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
