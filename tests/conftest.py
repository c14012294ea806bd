from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from airflow_pipelines_from_mongo_to_postgres_spark.session import get_spark

    s = get_spark("tests", cpus=4, extra_conf={
        "spark.sql.shuffle.partitions": "4",
    })
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
