"""Session stage cache: named intermediate stages (the MinHash band
table, the funnel's gate frame, component labels whose rounds run
eagerly at plan construction) built once per (Spark application,
sf_dir) and served to later calls; stages are deterministic, so reuse
is value-invisible. At most ``MAX_KEYS`` keys are held: the oldest is
evicted with ALL its stages, persisted ones unpersisted (checkpoint
files go to the session's checkpoint GC). Assumes the parquet data
under sf_dir is immutable for the session's life — data rewritten in
place is served stale until eviction; no data fingerprint on purpose
(listing files would add work to every warm call), so use a new sf_dir
or session for new data. ``build`` (seconds, and the stats dict the
stage's build function filled, e.g. component kernel), ``hit`` and
``evict`` are logged at DEBUG on ``erathia_market_etl_spark.cache``.
"""

from __future__ import annotations

import logging
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger("erathia_market_etl_spark.cache")

MAX_KEYS = 4
_STAGES: dict[tuple[str, str], dict[str, DataFrame]] = {}


def stage_key(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    return (spark.sparkContext.applicationId, os.path.abspath(sf_dir))


def session_stage(spark: SparkSession, sf_dir: str, name: str,
                  build: Callable[[dict], DataFrame]) -> DataFrame:
    """Stage ``name`` of (session, sf_dir); ``build(stats)`` on a miss."""
    key = stage_key(spark, sf_dir)
    if key not in _STAGES:
        while len(_STAGES) >= MAX_KEYS:
            evict(next(iter(_STAGES)))
        _STAGES[key] = {}
    stages = _STAGES[key]
    if name in stages:
        log.debug("hit %s key=%s", name, key)
        return stages[name]
    stats: dict = {}
    t0 = time.perf_counter()
    stages[name] = build(stats)
    log.debug("build %s key=%s %.3fs %s",
              name, key, time.perf_counter() - t0, stats)
    return stages[name]


def evict(key: tuple[str, str]) -> None:
    """Drop every stage of ``key``, unpersisting the persisted ones."""
    for name, df in _STAGES.pop(key, {}).items():
        if df.is_cached:
            df.unpersist()
        log.debug("evict %s key=%s", name, key)
