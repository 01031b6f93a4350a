"""SparkSession factory.

Parity with the reference's ``init_spark`` (main.py:26-36: app name,
driver memory, AQE on, local[*]) plus the scale-grade defaults a real
cluster run needs. Everything is overridable; ``get_spark`` never
clobbers an existing session's master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import DEFAULT, EngineConfig


# HotSpot sizes its JIT compiler pool from the host's core count (3
# threads on 4 cores, 15 on 32), not from how long the JVM lives. In the
# short local sessions get_spark starts, the C1/C2 threads used 19 of
# 31 s CPU on a cold medallion pass and 27 of 45 s on a cold corpus pass
# (4 cores), mostly speculative C2 compiles of lukewarm Spark
# infrastructure that a short session never pays back. Two threads (one
# C1, one C2) compile the hottest methods first; steady-state loops
# still reach C2. Driver JVM only, and static (SCALE.md).
DRIVER_JAVA_OPTIONS = "-XX:CICompilerCount=2"


def get_spark(cfg: EngineConfig | None = None, **extra_conf: str) -> SparkSession:
    cfg = cfg or DEFAULT
    master = cfg.master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = (
        SparkSession.builder.appName(cfg.app_name)
        .master(master)
        .config("spark.driver.memory", cfg.driver_memory)
        .config("spark.sql.adaptive.enabled", str(cfg.adaptive_enabled).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", cfg.auto_broadcast_join_threshold)
        .config("spark.sql.session.timeZone", cfg.session_timezone)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark 4 cannot read
        # natively; read as long nanos and convert (see sources.events).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # default 4 MiB open-cost stops small files from splitting, so a
        # 10 MB local fixture scans on ~3 cores; 256 KiB lets small-SF
        # scans fan out across local[32] while large files still split at
        # maxPartitionBytes — at cluster scale this conf is a no-op.
        .config("spark.sql.files.openCostInBytes", "262144")
        # NOTE (r16): spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
        # was evaluated for AQE partition sizing inside cached plans and
        # REJECTED: with it on, a persisted repartition(key) frame
        # reports a partitioning consumers don't recognize (measured:
        # the star kernel's prepass grew 3 ENSURE_REQUIREMENTS
        # exchanges over the cached canon table, even after
        # materialization) — it trades one fixed task-wave constant for
        # re-exchanging every persisted pre-partitioned table. The
        # iterative kernels size their one exchange from the source
        # scan stats instead (sources/parquet_io.adaptive_partitions).
        # ANSI stays ON (the Spark 4 default, pinned so a future default
        # flip or a legacy-configured host session can't silently change
        # arithmetic semantics): integer overflow/invalid-cast RAISE
        # instead of wrapping. Every integer-heavy operator (pagerank
        # fixed-point, z-order interleave, HLL registers) carries a
        # hand-proved non-wrap envelope — under ANSI those proofs are
        # load-bearing (they are why the queries never throw), and a
        # latent overflow becomes a loud runtime error instead of
        # silent corruption. Deliberate wraparound mod 2^64
        # (winnowing) lives in numpy uint64 inside Arrow UDFs, outside
        # ANSI's reach. See SCALE.md "ANSI mode".
        .config("spark.sql.ansi.enabled", "true")
        # Spark's generated-class cache holds 100 by default, but one
        # medallion pass touches 129 distinct classes and a cold corpus
        # pass 146-158, always in the same cycle, so the LRU never hits
        # and every warm pass recompiles them all. 1000 holds both. A
        # static conf: it must be set before the session starts, which
        # is why harden_session cannot apply it (SCALE.md).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def harden_session(spark: SparkSession) -> SparkSession:
    """Apply deterministic, runtime-settable confs to a session we did
    not create (the driver hands us its own). Only touches confs that are
    safe to set post-start and that correctness depends on.

    The two static settings ``get_spark`` pins cannot be applied here: a
    handed-in session keeps its own ``spark.sql.codegen.cache.maxEntries``
    and its JVM's JIT compiler pool (``-XX:CICompilerCount`` in
    ``spark.driver.extraJavaOptions``), because both are fixed when the
    JVM starts."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # TIMESTAMP(NANOS) parquet (events.ts) is otherwise unreadable in
    # Spark 4 ([PARQUET_TYPE_ILLEGAL]); long-nanos + explicit conversion
    # keeps exact integer math (sources.events.load_events).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.files.openCostInBytes", "262144")
    # pin ANSI on in handed-in sessions too (see get_spark's rationale)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    return spark
