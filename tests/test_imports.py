"""Every `from ctinexus_spark... import ...` in the repository resolves,
and the library modules that only tests import are exactly `TEST_ONLY`.

Registry queries and many operators import lazily inside function
bodies, so a dangling import (a deleted module or function still named
somewhere) would otherwise surface only when that code path runs. This
walks the AST of every Python source, function bodies included, and
imports each target without starting a Spark session."""

from __future__ import annotations

import ast
import importlib
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ("ctinexus_spark", "jobs", "perfbench", "tests")

# Library modules (relative to ctinexus_spark, packages' __init__ not
# counted) that no source outside tests/ imports. Each one is queued
# for deletion or for wiring into the product (ROADMAP direction 1(e));
# deleting or wiring one in means editing this set, and so does adding
# a new module that only tests reach.
TEST_ONLY = {
    "operators.url_ingest",
    "providers",
    "skew",
    "streaming.ingest",
    "viz",
}


def _sources() -> list[str]:
    paths = [
        os.path.join(REPO, f)
        for f in sorted(os.listdir(REPO))
        if f.endswith(".py")
    ]
    for d in SOURCE_DIRS:
        for root, _, files in os.walk(os.path.join(REPO, d)):
            paths += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    return paths


def _package_imports(path: str) -> list[tuple[int, str, str]]:
    """(line, module, name) for each name of each absolute
    `from ctinexus_spark[.x] import name` anywhere in the file."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module
            and node.module.split(".")[0] == "ctinexus_spark"
        ):
            out += [(node.lineno, node.module, a.name) for a in node.names]
    return out


def _resolves(module: str, name: str) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if hasattr(mod, name):
        return True
    try:  # `from pkg import submodule`
        importlib.import_module(f"{module}.{name}")
        return True
    except ImportError:
        return False


def test_every_package_import_resolves():
    reached = set()
    dangling = []
    for path in _sources():
        rel = os.path.relpath(path, REPO)
        for line, module, name in _package_imports(path):
            reached.add(rel.split(os.sep)[0] if os.sep in rel else "<root>")
            if not _resolves(module, name):
                dangling.append(f"{rel}:{line}: from {module} import {name}")
    assert not dangling, "dangling imports:\n" + "\n".join(dangling)
    # the walk itself must have reached every scanned tree
    assert reached >= {"<root>", *SOURCE_DIRS}, reached


def _library_modules() -> set[str]:
    pkg = os.path.join(REPO, "ctinexus_spark")
    out = set()
    for root, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py") and f != "__init__.py":
                rel = os.path.relpath(os.path.join(root, f[:-3]), pkg)
                out.add(rel.replace(os.sep, "."))
    return out


def test_test_only_modules_match_ratchet():
    imported = set()
    for path in _sources():
        if os.path.relpath(path, REPO).split(os.sep)[0] == "tests":
            continue
        for _, module, name in _package_imports(path):
            # `from pkg import submodule` imports the submodule too
            imported.update((module, f"{module}.{name}"))
    test_only = {
        m for m in _library_modules() if f"ctinexus_spark.{m}" not in imported
    }
    assert test_only == TEST_ONLY, (
        f"imported only by tests: {sorted(test_only)}; "
        f"new: {sorted(test_only - TEST_ONLY)}; "
        f"now imported or gone: {sorted(TEST_ONLY - test_only)}"
    )
