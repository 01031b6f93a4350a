"""Classic-only Spark internals appear in the package only where listed.

A Spark Connect session has no ``sparkContext``, no py4j handles
(``_jvm``, ``_jsc``, ``_jdf``) and no ``.rdd``. No Connect client can
run in this toolchain (``grpc`` is not installed), so this static pass
is the check: it finds every use of those attributes in the package
and fails on any site not listed below. Each listed site says whether
a Connect session gets a fallback there. A new site fails until
someone decides whether it needs one and lists it.
"""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "erathia_market_etl_spark"

CLASSIC_ONLY = {"sparkContext", "_jvm", "_jsc", "_jdf", "rdd"}

# (module relative to the package, top-level definition, attribute) -> reason
ALLOWED = {
    ("plans/stage_cache.py", "stage_key", "sparkContext"):
        "stage keys read the application id; no fallback, so every "
        "session-cached stage fails on Connect",
    ("sources/parquet_io.py", "adaptive_partitions", "sparkContext"):
        "parallelism when the shuffle-partitions conf is not an int; "
        "falls back to 200 on AttributeError",
    ("sources/parquet_io.py", "adaptive_partitions", "_jdf"):
        "optimizer size estimate; falls back to the shuffle-partitions cap",
    ("sources/parquet_io.py", "fan_out", "sparkContext"):
        "default parallelism as the target split count; no fallback",
    ("sources/parquet_io.py", "fan_out", "rdd"):
        "scan split count; no fallback",
    ("session.py", "get_spark", "sparkContext"):
        "reads the driver JVM's class-sharing state; get_spark always "
        "launches a classic session itself",
    ("session.py", "get_spark", "_jvm"):
        "same read, through the classic session get_spark launched",
}


def classic_sites(package: pathlib.Path) -> dict[tuple[str, str, str], list[int]]:
    """(module, top-level definition, attribute) -> lines it is used on."""
    sites: dict[tuple[str, str, str], list[int]] = {}
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        for top in ast.parse(path.read_text()).body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if isinstance(node, ast.Attribute) and node.attr in CLASSIC_ONLY:
                    sites.setdefault((rel, owner, node.attr), []).append(node.lineno)
    return sites


def test_classic_only_internals_only_at_listed_sites():
    new = {k: v for k, v in classic_sites(PACKAGE).items() if k not in ALLOWED}
    assert not new, f"unlisted classic-only internals (module, def, attr): lines {new}"


def test_allow_list_entries_are_still_used():
    assert set(ALLOWED) <= set(classic_sites(PACKAGE)), sorted(
        set(ALLOWED) - set(classic_sites(PACKAGE)))


def test_lint_catches_a_classic_only_site(tmp_path):
    (tmp_path / "m.py").write_text(
        "def f(spark, df):\n"
        "    n = df.rdd.getNumPartitions()\n"
        "    return spark.sparkContext._jvm, n\n"
        "# df._jdf in a comment is not code\n"
    )
    assert classic_sites(tmp_path) == {
        ("m.py", "f", "rdd"): [2],
        ("m.py", "f", "sparkContext"): [3],
        ("m.py", "f", "_jvm"): [3],
    }
