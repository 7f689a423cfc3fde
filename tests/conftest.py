from __future__ import annotations

import os
import sys

import pytest

# this checkout's root, so the suite tests its own copy of the package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shredder_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("shredder-spark-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
