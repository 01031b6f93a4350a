"""SparkSession factory.

Parity with the reference's ``init_spark`` (main.py:26-36: app name,
driver memory, AQE on, local[*]) plus the scale-grade defaults a real
cluster run needs. Everything is overridable; ``get_spark`` never
clobbers an existing session's master.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import logging
import os
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from .config import DEFAULT, EngineConfig

log = logging.getLogger(__name__)


# HotSpot sizes its JIT compiler pool from the host's core count (3
# threads on 4 cores, 15 on 32), not from how long the JVM lives. In the
# short local sessions get_spark starts, the C1/C2 threads used 19 of
# 31 s CPU on a cold medallion pass and 27 of 45 s on a cold corpus pass
# (4 cores), mostly speculative C2 compiles of lukewarm Spark
# infrastructure that a short session never pays back. Two threads (one
# C1, one C2) compile the hottest methods first; steady-state loops
# still reach C2. Driver JVM only, and static (SCALE.md).
DRIVER_JAVA_OPTIONS = "-XX:CICompilerCount=2"

# Class loading and verification on the py4j and main threads cost a
# fresh driver JVM 6.2-6.8 s CPU while perfbench's set-up runs (4
# cores), as much as its C2 compiler. A dynamic class-data-sharing archive
# (JEP 350) maps the classes one session loaded into the next session's
# JVM instead. JDK 17 cannot create one on demand (that arrived in JDK
# 19), so the first session records one at exit and later sessions map
# it. The archive is a cache: delete the directory and the next session
# records it again (SCALE.md "Session defaults"). A recording JVM
# dumps for 11-30 s after Python asks it to exit; past this wait it is
# abandoned to whoever kills it.
CDS_DUMP_WAIT_S = 60


def _cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "erathia_market_etl_spark", "cds")


def _cds_key(spark_home: str) -> str:
    """The JDK build, the classpath jars (path, size, mtime) and the JVM
    options an archive was recorded under: a change to any of them
    starts a new archive. The JVM cannot be relied on to refuse a stale
    one: it maps the JDK's own archive and drops the rest silently when
    only the classpath differs, and still reports sharing."""
    java_home = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java") or "/")))
    h = hashlib.sha256(DRIVER_JAVA_OPTIONS.encode())
    with contextlib.suppress(OSError), open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(n for n in _listdir(jars) if n.endswith(".jar")):
        path = os.path.join(jars, name)
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except OSError:
        return []


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _cds_plan(extra_conf: dict) -> tuple[str, str, str | None]:
    """Decide, before the JVM starts, whether it maps an archive
    (``use``), records one (``record``) or runs without (``off``).
    Returns ``(choice, reason, archive path)``."""
    for k in ("spark.driver.extraJavaOptions", "spark.driver.extraClassPath"):
        if k in extra_conf:
            return "off", f"caller set {k}", None
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return "off", "JVM already running", None
    spark_home = _find_spark_home()
    # JDK 17 refuses to dump a classpath that holds a non-empty directory.
    # Spark puts the conf dir on it; one that holds only templates is
    # swapped for an empty one (_launch), which changes nothing Spark
    # reads. The Hadoop and YARN conf dirs cannot be swapped.
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    held = [os.path.join(conf, n) for n in sorted(_listdir(conf)) if not n.endswith(".template")]
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        d = os.environ.get(var)
        held += [os.path.join(d, n) for n in sorted(_listdir(d))] if d else []
    if held:
        return "off", f"conf dir holds {held[0]}", None
    cds = _cds_dir()
    try:
        os.makedirs(os.path.join(cds, "conf"), exist_ok=True)
        writable = os.access(cds, os.W_OK)
    except OSError:
        writable = False
    if not writable:
        return "off", "cache not writable", None
    for name in _listdir(cds):
        _, tmp, pid = name.rpartition(".jsa.tmp-")
        if tmp and pid.isdigit() and not _pid_alive(int(pid)):
            _remove(os.path.join(cds, name))
    archive = os.path.join(cds, _cds_key(spark_home) + ".jsa")
    if os.path.exists(archive):
        return "use", "archive found", archive
    return "record", "none yet", archive


def _launch(builder: SparkSession.Builder, conf_dir: str) -> SparkSession:
    """Start the JVM with ``SPARK_CONF_DIR`` at ``conf_dir``; the process
    environment is restored once the JVM has it."""
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _install_archive(tmp: str, archive: str) -> None:
    """Move a recorded archive into place; archives under other keys
    (an older JDK or jar set) go."""
    os.replace(tmp, archive)
    cds = os.path.dirname(archive)
    for name in _listdir(cds):
        if name.endswith(".jsa") and os.path.join(cds, name) != archive:
            _remove(os.path.join(cds, name))


def _finish_recording(proc: subprocess.Popen, tmp: str, archive: str) -> None:
    """At interpreter exit: stop the session and close the JVM's stdin,
    which makes it exit and dump the archive; keep the archive only if
    the JVM exited cleanly within ``CDS_DUMP_WAIT_S``. Without the wait
    a supervisor that kills the process group once Python exits would
    lose the dump."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    proc.stdin.close()
    try:
        rc = proc.wait(timeout=CDS_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        return  # a later session removes the file once this pid is gone
    if rc == 0 and os.path.exists(tmp):
        _install_archive(tmp, archive)
    else:
        _remove(tmp)


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
        # fixed-point, z-order interleave) carries a
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
    )
    choice, reason, archive = _cds_plan(extra_conf)
    java_options = DRIVER_JAVA_OPTIONS
    if choice == "use":
        java_options += f' "-XX:SharedArchiveFile={archive}" -Xshare:auto -Xlog:cds*=off'
    elif choice == "record":
        tmp = f"{archive}.tmp-{os.getpid()}"
        java_options += f' "-XX:ArchiveClassesAtExit={tmp}" -Xlog:cds*=off'
    builder = builder.config("spark.driver.extraJavaOptions", java_options)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    if choice == "off":
        spark = builder.getOrCreate()
    else:
        spark = _launch(builder, os.path.join(os.path.dirname(archive), "conf"))
    if choice == "use":
        # a corrupt or foreign archive starts the JVM without any class
        # sharing, the JDK's default archive included
        vm_info = spark.sparkContext._jvm.java.lang.System.getProperty("java.vm.info")
        if "sharing" not in vm_info:
            _remove(archive)
            choice, reason = "rejected", "JVM reported no sharing"
    elif choice == "record":
        atexit.register(_finish_recording, SparkContext._gateway.proc, tmp, archive)
    log.info("decision=cds choice=%s reason=%s archive=%s", choice, reason, archive,
             extra={"decision": "cds", "choice": choice, "reason": reason,
                    "archive": archive})
    return spark


def harden_session(spark: SparkSession) -> SparkSession:
    """Apply deterministic, runtime-settable confs to a session we did
    not create (the driver hands us its own). Only touches confs that are
    safe to set post-start and that correctness depends on.

    The three static settings ``get_spark`` pins cannot be applied here:
    a handed-in session keeps its own ``spark.sql.codegen.cache.maxEntries``,
    its JVM's JIT compiler pool (``-XX:CICompilerCount`` in
    ``spark.driver.extraJavaOptions``) and its class-data-sharing
    archive (none, or the JDK's default), because all three are fixed
    when the JVM starts."""
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
