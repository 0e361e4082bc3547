from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from edu_online_spark.config import EngineConfig
from edu_online_spark.session import get_spark

# Override for rehearsals (e.g. the queued-oracle sf0.01 sweep:
# SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 pytest tests/test_round1*_queue.py)
SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    cfg = EngineConfig(cpus=8)
    s = get_spark(cfg)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
