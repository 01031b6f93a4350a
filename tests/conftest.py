from __future__ import annotations

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


@pytest.fixture(scope="session")
def spark():
    cfg = EngineConfig(app_name="erathia-tests", shuffle_partitions=8)
    s = get_spark(cfg)
    yield s
    s.stop()
