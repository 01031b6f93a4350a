from __future__ import annotations

import logging

import pytest
from hypothesis import settings

from erathia_market_etl_spark.config import EngineConfig
from erathia_market_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"

# Tier-1 is a gate: the same code must get the same verdict. Hypothesis
# draws its examples from a fixed seed and keeps no example database.
settings.register_profile("tier1", derandomize=True, database=None)
settings.load_profile("tier1")


class _Keep(logging.Handler):
    def __init__(self, records: list):
        super().__init__()
        self.records = records

    def emit(self, record):
        self.records.append(record)


@pytest.fixture(scope="session")
def session_log():
    """The records ``get_spark`` logged while starting the test session."""
    return []


@pytest.fixture(scope="session")
def spark(session_log):
    cfg = EngineConfig(app_name="erathia-tests", shuffle_partitions=8)
    logger = logging.getLogger("erathia_market_etl_spark.session")
    handler, level = _Keep(session_log), logger.level
    logger.addHandler(handler)
    logger.setLevel(logging.INFO)
    try:
        s = get_spark(cfg)
    finally:
        logger.removeHandler(handler)
        logger.setLevel(level)
    yield s
    s.stop()
