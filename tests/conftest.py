from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from one_stop_cdc_ingestion_toolkit_spark.catalog import TABLES
from one_stop_cdc_ingestion_toolkit_spark.session import get_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_session("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    from one_stop_cdc_ingestion_toolkit_spark.oracle import duck_connect

    con = duck_connect(SF_DIR, TABLES)
    yield con
    con.close()
