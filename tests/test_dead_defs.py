"""Dead-definition guard: every function, method and class defined in the
package must be referenced by some Python file in the repo (package,
tests, tools, benchmark, driver entry). A def nothing names is deleted,
not kept "just in case"; the allowlist holds only names a framework
calls implicitly or the component contract keeps on purpose."""

from __future__ import annotations

import ast
import collections
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "component_duckdb_transformation_spark")

ALLOWED = {
    # pydantic validators / hooks, invoked by the model machinery
    "_check_engine_version",
    "_check_duckdb_version",
    "model_post_init",
}

_SKIP_DIRS = {"__pycache__", "spark-warehouse"}


def _python_files():
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x not in _SKIP_DIRS]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _is_reference(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name.split(".")[-1]
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        # getattr(obj, "name") and registries keyed by name
        return node.value if node.value.isidentifier() else None
    return None


def test_every_package_def_is_referenced():
    refs: collections.Counter = collections.Counter()
    defs = []
    for path in _python_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        in_package = path.startswith(PACKAGE + os.sep)
        for node in ast.walk(tree):
            name = _is_reference(node)
            if name is not None:
                refs[name] += 1
            elif in_package and isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.append((node.name, os.path.relpath(path, ROOT), node.lineno))
    dead = [
        f"{path}:{line} {name}"
        for name, path, line in defs
        if refs[name] == 0
        and name not in ALLOWED
        and not (name.startswith("__") and name.endswith("__"))
    ]
    assert not dead, "unreferenced definitions:\n" + "\n".join(dead)
