"""ANSI-mode contract (SCALE.md "ANSI mode", decided r10).

ANSI arithmetic is pinned ON: the integer-heavy operators (pagerank
fixed-point, z-order interleave) each
hand-prove a non-wrap envelope, and under ANSI those proofs are
load-bearing — an envelope violation is a loud ARITHMETIC_OVERFLOW, not
a silently wrapped sketch. These tests pin all three legs: the conf is
on (and re-pinned onto handed-in sessions), overflow REALLY raises in
this session, and the proved envelope extreme REALLY doesn't.

The engine JVM's JIT compiler pool is capped at two threads, and it
starts from a class-data-sharing archive that get_spark records itself
(SCALE.md "Session defaults"). The JVM tests read both flags back from
HotSpot; the archive decision is also checked without a JVM, and once
in a child process against a corrupt archive.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark import SparkContext

from erathia_market_etl_spark import session
from erathia_market_etl_spark.session import harden_session


def test_ansi_enabled_in_engine_sessions(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_harden_session_repins_ansi(spark):
    # a host session configured with legacy (non-ANSI) arithmetic must
    # come back hardened — same contract as timezone/nanos
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        harden_session(spark)
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_overflow_raises_not_wraps(spark):
    # ANSI live-fire: bigint overflow is an error at the expression,
    # never a wrapped value
    with pytest.raises(Exception, match="(?i)overflow|ARITHMETIC"):
        spark.sql(
            "SELECT 9223372036854775807 + CAST(1 AS BIGINT) AS boom"
        ).collect()


def test_zorder_envelope_extreme_is_overflow_free(spark):
    # the z-order guard admits span - 1 < 2^(63 - bits); at the largest
    # admitted span the scale product is (2^47 - 1) * 2^16 = 2^63 - 2^16,
    # one step inside the bigint range — must evaluate cleanly under
    # ANSI (the guard at sources/parquet_io.py rejects anything larger)
    bits = 16
    vmax = (1 << (63 - bits)) - 1
    row = spark.sql(
        f"SELECT CAST({vmax} AS BIGINT) * CAST({1 << bits} AS BIGINT) AS k"
    ).collect()[0]
    assert row["k"] == (1 << 63) - (1 << bits)


def _vm_option(spark, name):
    # the flag the JVM runs with, not the argument list
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption(name).getValue()


def test_engine_jvm_caps_jit_compiler_pool(spark):
    # HotSpot sizes the pool from the core count (3 on 4 cores) unless capped
    assert _vm_option(spark, "CICompilerCount") == "2"


def test_engine_jvm_runs_its_cds_decision(spark, session_log):
    # cold cache: the session records; warm cache: it maps the archive.
    # Either way the flags the JVM runs with match the logged decision.
    (rec,) = [r for r in session_log if getattr(r, "decision", None) == "cds"]
    shared = _vm_option(spark, "SharedArchiveFile")
    dumping = _vm_option(spark, "ArchiveClassesAtExit")
    if rec.choice in ("use", "rejected"):
        assert (shared, dumping) == (rec.archive, "")
    elif rec.choice == "record":
        assert shared == ""
        assert dumping == f"{rec.archive}.tmp-{os.getpid()}"
    else:
        assert rec.choice == "off" and rec.archive is None
        assert (shared, dumping) == ("", "")


@pytest.fixture
def cds_env(tmp_path, monkeypatch):
    """A machine with no JVM yet, a template-only conf dir and an empty
    per-user cache."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return tmp_path


def test_cds_records_once_then_uses(cds_env):
    choice, reason, archive = session._cds_plan({})
    assert (choice, reason) == ("record", "none yet")
    assert Path(archive).parent == cds_env / "cache" / "erathia_market_etl_spark" / "cds"
    Path(archive).write_bytes(b"")
    assert session._cds_plan({}) == ("use", "archive found", archive)


@pytest.mark.parametrize("case", [
    "extraJavaOptions", "extraClassPath", "jvm running", "defaults file",
    "cache not writable",
])
def test_cds_off_reasons(cds_env, monkeypatch, case):
    extra = {}
    if case in ("extraJavaOptions", "extraClassPath"):
        extra = {f"spark.driver.{case}": "-Dx=1"}
        want = f"caller set spark.driver.{case}"
    elif case == "jvm running":
        monkeypatch.setattr(SparkContext, "_gateway", object())
        want = "JVM already running"
    elif case == "defaults file":
        # a real spark-defaults.conf must stay on the classpath, and the
        # dump refuses a non-empty directory there
        (cds_env / "conf" / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
        want = f"conf dir holds {cds_env / 'conf' / 'spark-defaults.conf'}"
    else:
        (cds_env / "not-a-dir").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(cds_env / "not-a-dir"))
        want = "cache not writable"
    assert session._cds_plan(extra) == ("off", want, None)


def test_cds_sweeps_dead_recordings_and_other_keys(cds_env):
    _, _, archive = session._cds_plan({})
    gone = subprocess.Popen(["true"])
    gone.wait()
    dead = Path(f"{archive}.tmp-{gone.pid}")
    live = Path(f"{archive}.tmp-{os.getpid()}")
    for p in (dead, live):
        p.write_bytes(b"x")
    session._cds_plan({})
    assert not dead.exists() and live.exists()
    older = Path(archive).with_name("0000000000000000.jsa")
    older.write_bytes(b"")
    session._install_archive(str(live), archive)
    assert Path(archive).exists() and not live.exists() and not older.exists()


_REJECTED_SCRIPT = """
import json, logging
records = []
class Keep(logging.Handler):
    def emit(self, record):
        records.append(record)
logger = logging.getLogger("erathia_market_etl_spark.session")
logger.addHandler(Keep())
logger.setLevel(logging.INFO)
from erathia_market_etl_spark.config import EngineConfig
from erathia_market_etl_spark.session import get_spark
spark = get_spark(EngineConfig(app_name="cds-rejected", shuffle_partitions=2,
                               driver_memory="1g"))
total = spark.range(100).selectExpr("sum(id)").collect()[0][0]
spark.stop()
(rec,) = [r for r in records if getattr(r, "decision", None) == "cds"]
print(json.dumps([total, rec.choice, rec.reason, rec.archive]))
"""


def test_corrupt_archive_is_rejected_and_removed(cds_env):
    _, _, archive = session._cds_plan({})
    Path(archive).write_bytes(os.urandom(1 << 16))
    root = Path(__file__).resolve().parents[1]
    env = dict(os.environ, PYTHONPATH=str(root), SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, "-c", _REJECTED_SCRIPT], cwd=cds_env, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # the JVM says nothing about the archive on either stream
    assert out.stdout.count("\n") == 1, out.stdout
    assert not any(w in out.stderr for w in ("[cds", "Skipping", "sharing")), out.stderr
    assert json.loads(out.stdout) == [
        4950, "rejected", "JVM reported no sharing", archive]
    assert not Path(archive).exists()
