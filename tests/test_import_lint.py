"""Every import in the package is used.

No linter ships with the toolchain, so this is the one check that keeps
dead imports out: an ``ast`` pass binds each imported name and looks for
a load of it anywhere in the same module. An import nothing reads is
allowed only when listed below with its reason.
"""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "erathia_market_etl_spark"

# module (relative to the package) -> names it may import without use
ALLOWED = {
    # side-effect imports: each query module registers its queries
    # with @query when it is imported
    "plans/registry.py": {
        "dedup_queries", "event_windows", "graph_queries", "multimodal_queries",
        "relational", "sampling_queries", "similarity_queries", "skew_queries",
        "streaming_queries", "temporal_queries", "text_queries",
    },
}


def unused_imports(path: pathlib.Path) -> set[str]:
    tree = ast.parse(path.read_text())
    loaded = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    bound = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            bound |= {a.asname or a.name.split(".")[0] for a in node.names}
    return bound - loaded


def test_package_imports_are_all_used():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "__init__.py":  # re-exports: the package's public names
            continue
        rel = path.relative_to(PACKAGE).as_posix()
        unused = unused_imports(path) - ALLOWED.get(rel, set())
        if unused:
            found[rel] = sorted(unused)
    assert not found, f"unused imports: {found}"


def test_allow_list_entries_are_still_needed():
    # an allowed import that is now used, or gone, leaves the list
    for rel, names in ALLOWED.items():
        assert names <= unused_imports(PACKAGE / rel), rel


def test_lint_catches_an_unused_import(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text("import os\nfrom a.b import c, d as e\nprint(c)\n")
    assert unused_imports(mod) == {"os", "e"}
