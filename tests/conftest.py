from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from glamira_end_to_end_data_pipeline_spark import get_spark
from glamira_end_to_end_data_pipeline_spark.testing import register_duckdb_views

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    return get_spark(shuffle_partitions=8)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    register_duckdb_views(con, SF_SMALL)
    return con
