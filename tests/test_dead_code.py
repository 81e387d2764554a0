"""Dead-code guard (no Spark): every top-level function and class of the
package outside ``queries/`` must be referenced from code that can run it.

A reference is an ``ast.Name``, an ``ast.Attribute`` or an imported name in
the package itself or in the scripts that drive it (``bench.py``,
``__spark_entry__.py``, ``profile_faces.py``, ``perfbench/``). Mentions in
docstrings and comments do not count, nor do ``__init__`` re-exports and
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


def _references(path: str) -> list[tuple[str | None, str]]:
    """(owning top-level definition or None, referenced name) pairs."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    reexport = os.path.basename(path) == "__init__.py"
    refs = []
    for stmt in tree.body:
        owner = getattr(stmt, "name", None)
        for node in ast.walk(stmt):
            if isinstance(node, ast.Name):
                refs.append((owner, node.id))
            elif isinstance(node, ast.Attribute):
                refs.append((owner, node.attr))
            elif isinstance(node, (ast.Import, ast.ImportFrom)) and not reexport:
                refs += [(owner, a.name.rsplit(".", 1)[-1]) for a in node.names]
    return refs


def _unreferenced(
    pkg: str, callers: list[str], tests_dir: str
) -> list[str]:
    """Top-level definitions of ``pkg`` (outside ``queries/``) that no file
    in ``callers`` references; ``tests_dir`` may only vouch for the
    modules in TESTED_BY_DESIGN."""
    used = defaultdict(set)  # name -> {(file, owner)}
    for path in callers:
        for owner, name in _references(path):
            used[name].add((path, owner))
    tested = {name for path in _py_files(tests_dir)
              for _owner, name in _references(path)}

    dead = []
    for path in _py_files(pkg):
        rel = os.path.relpath(path, pkg)
        if rel.startswith("queries" + os.sep):
            continue
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        for stmt in tree.body:
            if not isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            name = stmt.name
            if used[name] - {(path, name)} or name in GENERATORS:
                continue
            if rel in TESTED_BY_DESIGN and name in tested:
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


def test_guard_skips_query_modules(tmp_path):
    dead = _dead_in(tmp_path, {
        "pkg/__init__.py": "",
        "pkg/queries/faces.py": "def registered_face(): pass\n",
        "pkg/ops.py": "class Orphan: pass\n",
        "driver.py": "",
    })
    assert dead == ["ops.py::Orphan"]
