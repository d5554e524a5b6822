"""The frozen bench and the probe scripts only use package names that
exist: every ``from ee_outliers_spark… import X`` resolves, and so does
every ``alias.X`` on an imported package module (read or assigned). A
deletion in the package that would break them fails here instead of at
their next run. Static (AST) check; no Spark session."""

import ast
import importlib
import os
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ee_outliers_spark"
FILES = sorted(
    ["bench.py", "scaling_bench.py", "__spark_entry__.py"]
    + [os.path.join("scripts", f)
       for f in os.listdir(os.path.join(ROOT, "scripts"))
       if f.endswith(".py")])


def _is_pkg(name: str | None) -> bool:
    return name is not None and (name == PKG or name.startswith(PKG + "."))


def _resolve(module: str, name: str):
    """The object ``from module import name`` binds: an attribute of the
    module, or else its submodule."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


@pytest.mark.parametrize("rel", FILES)
def test_package_names_resolve(rel):
    with open(os.path.join(ROOT, rel)) as fh:
        tree = ast.parse(fh.read(), rel)
    aliases = {}  # local name → imported package module
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and _is_pkg(node.module):
            for a in node.names:
                try:
                    obj = _resolve(node.module, a.name)
                except ImportError:
                    missing.append(f"{node.module}.{a.name}")
                    continue
                if isinstance(obj, types.ModuleType):
                    aliases[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if _is_pkg(a.name) and a.asname:
                    aliases[a.asname] = importlib.import_module(a.name)
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in aliases
                and not hasattr(aliases[node.value.id], node.attr)):
            missing.append(f"{aliases[node.value.id].__name__}.{node.attr}")
    assert not missing, (rel, missing)
