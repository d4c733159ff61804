"""Every package name the scripts and the bench harness import still exists.

The scripts are not imported by any other test, so a moved or deleted name
would only show when someone next runs the script.  This test parses each
file (it runs none of them) and resolves:

- every ``from arthur_redshift_etl_spark... import X``, at any depth;
- every ``import arthur_redshift_etl_spark...``;
- every ``M.attr`` where ``M`` names a package module bound by one of those
  imports, read or assigned alike: assigning a name the module does not
  define would patch nothing.
"""

import ast
import glob
import importlib
import os
import types

import pytest

ROOT = os.path.join(os.path.dirname(__file__), "..")
PACKAGE = "arthur_redshift_etl_spark"
FILES = sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
)


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _unresolved(path: str) -> list:
    with open(path) as fh:
        tree = ast.parse(fh.read())
    missing = []
    modules = {}  # local name -> package module object
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom) and (n.module or "").startswith(PACKAGE):
            for a in n.names:
                try:
                    obj = _resolve(n.module, a.name)
                except (ImportError, AttributeError):
                    missing.append(f"{n.lineno}: from {n.module} import {a.name}")
                    continue
                if isinstance(obj, types.ModuleType):
                    modules[a.asname or a.name] = obj
        elif isinstance(n, ast.Import):
            for a in n.names:
                if not a.name.startswith(PACKAGE):
                    continue
                try:
                    obj = importlib.import_module(a.name)
                except ImportError:
                    missing.append(f"{n.lineno}: import {a.name}")
                    continue
                if a.asname:
                    modules[a.asname] = obj
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Attribute)
            and isinstance(n.value, ast.Name)
            and n.value.id in modules
            and not hasattr(modules[n.value.id], n.attr)
        ):
            missing.append(f"{n.lineno}: {n.value.id}.{n.attr}")
    return missing


def test_files_found():
    assert len(FILES) > 10, FILES


@pytest.mark.parametrize("path", FILES, ids=os.path.basename)
def test_package_imports_resolve(path):
    missing = _unresolved(path)
    assert not missing, f"{os.path.relpath(path, ROOT)}: " + "; ".join(missing)
