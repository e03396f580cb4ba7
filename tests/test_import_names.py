"""Every ``from kenlm_rs_spark.<module> import <name>`` in the tools, the
benchmark, the tests and the entry scripts resolves — including imports
nested inside functions, which run only when that code path runs. No Spark
session is started."""

from __future__ import annotations

import ast
import importlib
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED = ["tools", "perfbench", "tests", "bench.py", "__spark_entry__.py"]


def _python_files():
    for entry in SCANNED:
        path = os.path.join(REPO, entry)
        if os.path.isfile(path):
            yield path
            continue
        for root, _dirs, files in os.walk(path):
            yield from (os.path.join(root, f) for f in sorted(files) if f.endswith(".py"))


def _engine_imports():
    """(file:line, module, name) for every absolute kenlm_rs_spark import."""
    for path in _python_files():
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and (node.module or "").split(".")[0] == "kenlm_rs_spark"
            ):
                where = f"{os.path.relpath(path, REPO)}:{node.lineno}"
                for alias in node.names:
                    yield where, node.module, alias.name


def test_engine_imports_resolve():
    found = list(_engine_imports())
    # the scan reaches the lazy imports inside functions
    assert any(w.startswith("tools/scaling_filter_worker.py") for w, _, _ in found)
    assert any(w.startswith("perfbench/workloads.py") for w, _, _ in found)
    missing = []
    for where, module, name in found:
        mod = importlib.import_module(module)
        if name == "*" or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{where}: {module}.{name}")
    assert not missing, missing
