"""The standalone scripts under tools/ and perfbench/ must only import
package names that exist, so deleting a public helper cannot silently
leave a script broken. Scripts are parsed with ``ast``, never executed:
each ``from crawlingathome_server_spark… import name`` must resolve to
an attribute or submodule, and each ``alias.attr`` read through an
imported package module must name an existing attribute."""

import ast
import importlib
from pathlib import Path
from types import ModuleType

ROOT = Path(__file__).resolve().parent.parent
PKG = "crawlingathome_server_spark"


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


def _broken_imports(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    broken, modules = [], {}
    for node in ast.walk(tree):
        if not (isinstance(node, ast.ImportFrom) and node.level == 0):
            continue
        if (node.module or "").split(".")[0] != PKG:
            continue
        for alias in node.names:
            if alias.name == "*":
                continue
            obj = _resolve(node.module, alias.name)
            if obj is None:
                broken.append(f"{path.name}:{node.lineno} {node.module}.{alias.name}")
            elif isinstance(obj, ModuleType):
                modules[alias.asname or alias.name] = obj
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            broken.append(f"{path.name}:{node.lineno} {node.value.id}.{node.attr}")
    return broken


def test_script_package_imports_resolve():
    scripts = sorted([*ROOT.glob("tools/*.py"), *ROOT.glob("perfbench/*.py")])
    assert scripts
    broken = [b for path in scripts for b in _broken_imports(path)]
    assert not broken, broken
