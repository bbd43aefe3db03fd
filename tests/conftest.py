from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from divolte_collector_spark.session import get_spark

    s = get_spark("tests", cpus="8")
    s.sparkContext.setLogLevel("ERROR")
    yield s
