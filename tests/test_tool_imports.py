"""The tools and ``bench.py`` stay in step with the library: parsed,
not run, every ``from vfs_spark… import name`` must resolve and every
``alias.name`` on a ``vfs_spark`` module alias must exist, so deleting
or renaming an operator cannot leave a tool that breaks only when
someone next runs it."""

import ast
import importlib
import types
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SCRIPTS = sorted((ROOT / "tools").glob("*.py")) + [ROOT / "bench.py"]


def _resolve(module: str, name: str):
    """``from module import name``: an attribute, else a submodule."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _unresolved(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    aliases: dict[str, types.ModuleType] = {}
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "vfs_spark"
        ):
            for a in node.names:
                try:
                    obj = _resolve(node.module, a.name)
                except ImportError:
                    missing.append(f"{node.lineno}: from {node.module} import {a.name}")
                    continue
                if isinstance(obj, types.ModuleType):
                    aliases[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("vfs_spark"):
                    mod = importlib.import_module(a.name)
                    if a.asname:
                        aliases[a.asname] = mod
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
            and not hasattr(aliases[node.value.id], node.attr)
        ):
            missing.append(f"{node.lineno}: {node.value.id}.{node.attr}")
    return missing


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_tool_library_names_resolve(path):
    assert not _unresolved(path), _unresolved(path)


def test_guard_catches_a_deleted_operator(tmp_path):
    """The guard is not vacuous: a script naming an operator that does
    not exist, both ways, is reported twice."""
    script = tmp_path / "stale.py"
    script.write_text(
        "from vfs_spark.operators import ann as A\n"
        "from vfs_spark.operators.ann import no_such_search\n"
        "A.no_such_search_either()\n"
    )
    assert len(_unresolved(script)) == 2
