"""Dead-code guard (no Spark): every top-level function and class of the
package must be referenced from code that can run it. In ``queries/`` the
rule also covers module constants, and exempts the ``@query``-registered
faces (the registry runs them).

A reference is an ``ast.Name`` or an imported name in the package itself or
in the scripts that drive it (``bench.py``, ``__spark_entry__.py``,
``profile_faces.py``, ``perfbench/``), or an ``ast.Attribute`` (or a
``getattr`` with a literal name) whose base an import binds to the defining
module (``olap.cube_all`` after ``from datawarehousefinal_spark.operators
import olap``): ``F.trim`` does not vouch for a package ``trim``. Mentions
in docstrings and comments do not count, nor do ``__init__`` re-exports and
``__all__`` entries, nor a definition's references to itself.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "datawarehousefinal_spark")

# The plan assertions exist for tests to call.
TESTED_BY_DESIGN = {os.path.join("plans", "audit.py")}
# Reference generators: tests rebuild the frozen constants the faces serve
# (operators/frozen_ann.py) with them and compare.
GENERATORS = {"build_ivf_index", "train_pq_codebooks"}


def _py_files(top: str) -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        out += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return sorted(out)


def _module_name(path: str, root: str) -> str:
    """Dotted module name of ``path``, a file under the directory ``root``
    that holds its top-level package."""
    parts = os.path.splitext(os.path.relpath(path, root))[0].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _import_bindings(tree: ast.Module, module: str) -> dict[str, set[str]]:
    """Names the file's imports bind (in any scope) -> the dotted names
    they stand for: ``import a.b`` binds ``a``, ``import a.b as x`` and
    ``from a import b as x`` bind ``x``, relative imports resolve against
    ``module``."""
    bound = defaultdict(set)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    bound[a.asname].add(a.name)
                else:
                    top = a.name.split(".", 1)[0]
                    bound[top].add(top)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = module.split(".")[: -node.level]
                base = ".".join(pkg + ([node.module] if node.module else []))
            for a in node.names:
                bound[a.asname or a.name].add(f"{base}.{a.name}")
    return bound


def _dotted(node: ast.expr) -> list[str] | None:
    """``a.b.c`` as ["a", "b", "c"]; None unless it is a dotted name."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.insert(0, node.attr)
        node = node.value
    return [node.id] + parts if isinstance(node, ast.Name) else None


def _attribute(node: ast.AST) -> tuple[list[str] | None, str] | None:
    """(dotted base, attribute name) of ``a.b.c`` or of ``getattr(a.b,
    "c", ...)``; None for any other node."""
    if isinstance(node, ast.Attribute):
        return _dotted(node.value), node.attr
    if (
        isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "getattr"
        and len(node.args) >= 2
        and isinstance(node.args[1], ast.Constant)
        and isinstance(node.args[1].value, str)
    ):
        return _dotted(node.args[0]), node.args[1].value
    return None


def _references(path: str, root: str) -> list[tuple]:
    """(owning top-level definition or None, referenced name, module)
    triples. The module is the one an attribute's base is imported as, and
    None for a bare or imported name."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    reexport = os.path.basename(path) == "__init__.py"
    bound = _import_bindings(tree, _module_name(path, root))
    refs = []
    for stmt in tree.body:
        owner = getattr(stmt, "name", None) or next(_constants(stmt), None)
        for node in ast.walk(stmt):
            attribute = _attribute(node)
            if isinstance(node, ast.Name):
                refs.append((owner, node.id, None))
            elif attribute is not None:
                base, attr = attribute
                for mod in bound.get(base[0], ()) if base else ():
                    full = ".".join([mod] + base[1:])
                    refs.append((owner, attr, full))
            elif isinstance(node, (ast.Import, ast.ImportFrom)) and not reexport:
                refs += [(owner, a.name.rsplit(".", 1)[-1], None)
                         for a in node.names]
    return refs


def _constants(stmt: ast.stmt):
    """The non-dunder names a top-level assignment binds."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return
    for t in targets:
        if isinstance(t, ast.Name) and not t.id.startswith("__"):
            yield t.id


def _registered(stmt: ast.stmt) -> bool:
    """Whether a definition is decorated ``@query(...)``."""
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in getattr(stmt, "decorator_list", ())
    )


def _definitions(tree: ast.Module, in_queries: bool):
    """The top-level names the guard checks: functions and classes, plus
    module constants in ``queries/``, minus its registered faces."""
    for stmt in tree.body:
        if isinstance(
            stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            if not (in_queries and _registered(stmt)):
                yield stmt.name
        elif in_queries:
            yield from _constants(stmt)


def _unreferenced(
    pkg: str, callers: list[str], tests_dir: str
) -> list[str]:
    """Top-level definitions of ``pkg`` that no file in ``callers``
    references; ``tests_dir`` may only vouch for the modules in
    TESTED_BY_DESIGN."""
    root = os.path.dirname(pkg)
    used = defaultdict(set)  # (module or None, name) -> {(file, owner)}
    for path in callers:
        for owner, name, mod in _references(path, root):
            used[mod, name].add((path, owner))
    tested = {(mod, name) for path in _py_files(tests_dir)
              for _owner, name, mod in _references(path, root)}

    dead = []
    for path in _py_files(pkg):
        rel = os.path.relpath(path, pkg)
        module = _module_name(path, root)
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        for name in _definitions(tree, rel.startswith("queries" + os.sep)):
            refs = used[None, name] | used[module, name]
            if refs - {(path, name)} or name in GENERATORS:
                continue
            if rel in TESTED_BY_DESIGN and (
                (None, name) in tested or (module, name) in tested
            ):
                continue
            dead.append(f"{rel}::{name}")
    return dead


def test_every_package_definition_is_referenced():
    callers = _py_files(PKG) + _py_files(os.path.join(ROOT, "perfbench"))
    callers += [
        os.path.join(ROOT, f)
        for f in ("bench.py", "__spark_entry__.py", "profile_faces.py")
    ]
    dead = _unreferenced(PKG, callers, os.path.join(ROOT, "tests"))
    assert not dead, "unreferenced definitions (delete them): " + ", ".join(dead)


# -- the guard's reference rules, on a throwaway package ----------------------


def _write(root, files: dict[str, str]) -> None:
    for rel, text in files.items():
        path = root / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)


def _dead_in(tmp_path, files: dict[str, str]) -> list[str]:
    _write(tmp_path, files)
    pkg, tests = str(tmp_path / "pkg"), str(tmp_path / "tests")
    os.makedirs(tests, exist_ok=True)
    callers = _py_files(pkg) + [str(tmp_path / "driver.py")]
    return _unreferenced(pkg, callers, tests)


def test_guard_counts_name_attribute_and_import_references(tmp_path):
    dead = _dead_in(tmp_path, {
        "pkg/__init__.py": "",
        "pkg/ops.py": "def by_name(): pass\n"
                      "def by_attr(): pass\n"
                      "def by_import(): pass\n"
                      "def unused(): pass\n"
                      "def caller():\n    return by_name()\n",
        "driver.py": "from pkg.ops import by_import\n"
                     "import pkg.ops as ops\n"
                     "ops.by_attr\nops.caller()\n",
    })
    assert dead == ["ops.py::unused"]


def test_guard_counts_attributes_only_through_the_defining_module(tmp_path):
    dead = _dead_in(tmp_path, {
        "pkg/__init__.py": "",
        "pkg/textnorm.py": "def trim(): pass\n"
                           "def strip(): pass\n"
                           "def fold(): pass\n",
        "pkg/ops.py": "from pyspark.sql import functions as F\n"
                      "from pkg import textnorm as tn\n"
                      "from . import textnorm\n"
                      "def run(c):\n"
                      "    return F.trim(c), tn.strip(c), textnorm.fold(c)\n",
        "driver.py": "import pkg.ops\npkg.ops.run\n",
    })
    assert dead == ["textnorm.py::trim"]


def test_guard_counts_getattr_with_a_literal_name(tmp_path):
    dead = _dead_in(tmp_path, {
        "pkg/__init__.py": "",
        "pkg/ops.py": "def by_getattr(): pass\n"
                      "def by_computed_name(): pass\n",
        "driver.py": "import pkg.ops as ops\n"
                     "getattr(ops, 'by_getattr')()\n"
                     "getattr(ops, 'by_' + 'computed_name')()\n",
    })
    assert dead == ["ops.py::by_computed_name"]


def test_guard_ignores_docstring_mentions_and_self_reference(tmp_path):
    dead = _dead_in(tmp_path, {
        "pkg/__init__.py": "",
        "pkg/ops.py": '"""Module doc: see helper and walk."""\n'
                      "# helper() is handy\n"
                      "def helper(): pass\n"
                      "def walk(n):\n    return walk(n - 1) if n else 0\n",
        "driver.py": "",
    })
    assert dead == ["ops.py::helper", "ops.py::walk"]


def test_guard_ignores_reexports_and_all_entries(tmp_path):
    dead = _dead_in(tmp_path, {
        "pkg/__init__.py": "from pkg.ops import exported\n"
                           "__all__ = ['exported']\n",
        "pkg/ops.py": "def exported(): pass\n",
        "driver.py": "",
    })
    assert dead == ["ops.py::exported"]


def test_guard_lets_tests_vouch_for_plan_asserts_only(tmp_path):
    dead = _dead_in(tmp_path, {
        "pkg/__init__.py": "",
        "pkg/plans/__init__.py": "",
        "pkg/plans/audit.py": "def assert_used(): pass\n"
                              "def assert_unused(): pass\n",
        "pkg/ops.py": "def test_only(): pass\n",
        "tests/test_x.py": "from pkg.plans.audit import assert_used\n"
                           "from pkg.ops import test_only\n",
        "driver.py": "",
    })
    assert dead == ["ops.py::test_only", "plans/audit.py::assert_unused"]


def test_guard_checks_query_helpers_but_not_registered_faces(tmp_path):
    dead = _dead_in(tmp_path, {
        "pkg/__init__.py": "",
        "pkg/queries/__init__.py": "def query(name, oracle=None):\n"
                                   "    return lambda fn: fn\n",
        "pkg/queries/faces.py": "from pkg.queries import query\n"
                                "_SQL = 'SELECT 1'\n"
                                "_UNUSED_SQL = 'SELECT 2'\n"
                                "def _helper(): pass\n"
                                "def _unused_helper(): pass\n"
                                "@query('face', oracle=_SQL)\n"
                                "def registered_face():\n"
                                "    return _helper()\n",
        "pkg/ops.py": "class Orphan: pass\n",
        "driver.py": "",
    })
    assert dead == [
        "ops.py::Orphan",
        "queries/faces.py::_UNUSED_SQL",
        "queries/faces.py::_unused_helper",
    ]
