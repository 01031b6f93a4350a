"""Every package definition is reached from something that runs.

A top-level definition (function, class or constant) in the package
must be reachable from a root: a ``@query``-registered definition, the
module-level statements of a package module (an ``if __name__`` guard,
a probe in a ``try``), or the scripts that drive the engine —
``__spark_entry__.py``, ``bench.py``, ``tools/*.py`` and the non-test
``perfbench/*.py``. Tests are not roots, so code that only a test calls
fails here: a test-only reference implementation belongs in ``tests/``.

The pass is ``ast`` only. A load of a name, or of an attribute chain
``a.b.c``, is resolved through the scope's imports (module-level and
function-local, absolute and relative) and through package re-exports
until it lands on a definition. A reached definition's whole body,
decorators and defaults included, is searched in turn. Names that are
only bound (an import, a re-export) reach nothing. A definition listed
in ``ALLOWED`` may stay unreached, with its reason.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "erathia_market_etl_spark"

# "module path relative to the package:name" -> why it stays unreached
ALLOWED: dict[str, str] = {}


def _root_files(repo: pathlib.Path) -> list[pathlib.Path]:
    files = [repo / "__spark_entry__.py", repo / "bench.py"]
    files += sorted((repo / "tools").glob("*.py"))
    files += sorted(p for p in (repo / "perfbench").glob("*.py")
                    if not p.name.startswith("test_"))
    return [p for p in files if p.exists()]


def _imports(nodes, package: str) -> dict[str, str]:
    """Local name -> dotted target for every import among ``nodes``.
    ``package`` is the dotted package that relative imports start from."""
    bound = {}
    for node in nodes:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    bound[a.asname] = a.name
                else:
                    head = a.name.split(".")[0]
                    bound[head] = head
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                parts = parts[: len(parts) - node.level + 1]
                base = ".".join(parts + ([base] if base else []))
            for a in node.names:
                bound[a.asname or a.name] = f"{base}.{a.name}"
    return bound


def _loads(node: ast.AST) -> set[str]:
    """Every loaded name and attribute chain (``a``, ``a.b``, ``a.b.c``)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            parts, v = [n.attr], n.value
            while isinstance(v, ast.Attribute):
                parts.append(v.attr)
                v = v.value
            if isinstance(v, ast.Name):
                out.add(".".join([v.id, *reversed(parts)]))
    return out


def _bound_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = (stmt.targets if isinstance(stmt, ast.Assign)
               else [stmt.target] if isinstance(stmt, ast.AnnAssign) else [])
    names = []
    for t in targets:
        names += [n.id for n in ast.walk(t) if isinstance(n, ast.Name)]
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


class _Module:
    def __init__(self, name: str, is_pkg: bool, tree: ast.Module):
        self.name = name
        self.package = name if is_pkg else name.rpartition(".")[0]
        self.defs: dict[str, list[ast.stmt]] = {}
        self.roots: list[ast.AST] = []
        self.queries: list[str] = []
        top = []
        self._split(tree.body, top)
        self.imports = _imports(top, self.package)

    def _split(self, body, top) -> None:
        # top-level statements, looking through if/try blocks
        for stmt in body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                top.append(stmt)
            elif isinstance(stmt, (ast.If, ast.Try)):
                if isinstance(stmt, ast.If):
                    self.roots.append(stmt.test)
                for block in ("body", "orelse", "finalbody"):
                    self._split(getattr(stmt, block, []), top)
                for handler in getattr(stmt, "handlers", []):
                    self._split(handler.body, top)
            elif _bound_names(stmt):
                for name in _bound_names(stmt):
                    self.defs.setdefault(name, []).append(stmt)
                if _is_query(stmt):
                    self.queries.append(stmt.name)
            else:
                self.roots.append(stmt)


def _is_query(stmt: ast.stmt) -> bool:
    for d in getattr(stmt, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)) == "query":
            return True
    return False


class Graph:
    def __init__(self, package_dir: pathlib.Path):
        self.modules: dict[str, _Module] = {}
        self.paths: dict[str, str] = {}
        for path in sorted(package_dir.rglob("*.py")):
            rel = path.relative_to(package_dir.parent).with_suffix("")
            parts = list(rel.parts)
            is_pkg = parts[-1] == "__init__"
            if is_pkg:
                parts.pop()
            name = ".".join(parts)
            self.modules[name] = _Module(name, is_pkg, ast.parse(path.read_text()))
            self.paths[name] = path.relative_to(package_dir).as_posix()

    def resolve(self, dotted: str, seen=()) -> tuple[str, str] | None:
        """The (module, definition) that a dotted name lands on, if any."""
        parts = dotted.split(".")
        for i in range(len(parts) - 1, 0, -1):
            mod = self.modules.get(".".join(parts[:i]))
            if mod is None:
                continue
            attr = parts[i]
            if attr in mod.defs:
                return (mod.name, attr)
            target = mod.imports.get(attr)
            if target and (mod.name, attr) not in seen:
                rest = ".".join([target, *parts[i + 1:]])
                return self.resolve(rest, (*seen, (mod.name, attr)))
            return None
        return None

    def refs(self, node: ast.AST, mod: _Module | None = None):
        """Definitions that the loads in ``node`` land on. ``mod`` is the
        package module ``node`` sits in; None for a root script."""
        if mod is None:
            local = _imports(ast.walk(node), "")
        else:
            local = {**mod.imports, **_imports(ast.walk(node), mod.package)}
        for chain in _loads(node):
            head, _, tail = chain.partition(".")
            if head in local:
                hit = self.resolve(".".join(filter(None, [local[head], tail])))
            elif mod is not None and head in mod.defs:
                hit = (mod.name, head)
            else:
                hit = None
            if hit:
                yield hit

    def unreached(self, root_files=()) -> dict[str, int]:
        """``"path:name" -> lines`` for each definition no root reaches."""
        todo = []
        for path in root_files:
            tree = ast.parse(path.read_text())
            todo += self.refs(tree)
        for mod in self.modules.values():
            todo += [(mod.name, name) for name in mod.queries]
            for node in mod.roots:
                todo += self.refs(node, mod)
        reached = set()
        while todo:
            key = todo.pop()
            if key in reached:
                continue
            reached.add(key)
            mod = self.modules[key[0]]
            for stmt in mod.defs[key[1]]:
                todo += self.refs(stmt, mod)
        out = {}
        for mod in self.modules.values():
            for name, stmts in mod.defs.items():
                if (mod.name, name) not in reached:
                    lines = sum(s.end_lineno - min([s.lineno] + [
                        d.lineno for d in getattr(s, "decorator_list", [])]) + 1
                        for s in stmts)
                    out[f"{self.paths[mod.name]}:{name}"] = lines
        return out


def test_every_package_definition_is_reached_outside_tests():
    dead = Graph(PACKAGE).unreached(_root_files(REPO))
    found = {k: v for k, v in dead.items() if k not in ALLOWED}
    listing = "\n".join(f"  {k} ({v} lines)" for k, v in sorted(found.items()))
    assert not found, (
        f"{len(found)} definitions ({sum(found.values())} lines) are reached "
        f"only from tests or not at all:\n{listing}")


def test_allow_list_entries_are_still_unreached():
    dead = Graph(PACKAGE).unreached(_root_files(REPO))
    assert set(ALLOWED) <= set(dead), sorted(set(ALLOWED) - set(dead))


def test_pass_catches_a_test_only_definition(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("from .impl import via_reexport\n")
    (pkg / "sub" / "impl.py").write_text(
        "import numpy as np\n"
        "LIMIT = 3\n"
        "def via_reexport(): return helper()\n"
        "def helper(): return LIMIT\n"
        "def via_attr_chain(): pass\n"
        "def via_local_import(): pass\n"
        "def only_tests(): return np.zeros(LIMIT)\n"
        "class Dead:\n"
        "    def m(self): return via_reexport()\n"
    )
    (pkg / "q.py").write_text(
        "from .registry import query\n"
        "from . import sub\n"
        "@query('a')\n"
        "def a(spark, sf):\n"
        "    from .sub import impl\n"
        "    return impl.via_attr_chain()\n"
        "def unused_helper(): return sub.via_reexport()\n"
        "if __name__ == '__main__':\n"
        "    print(sub.via_reexport())\n"
    )
    (pkg / "registry.py").write_text("def query(name):\n    return lambda f: f\n")
    script = tmp_path / "tool.py"
    script.write_text("def main():\n    import pkg.sub.impl as m\n    m.via_local_import()\n")
    dead = Graph(pkg).unreached([script])
    assert dead == {"sub/impl.py:only_tests": 1, "sub/impl.py:Dead": 2,
                    "q.py:unused_helper": 1}
