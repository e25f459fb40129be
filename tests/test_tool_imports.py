"""The tools and ``bench.py`` stay in step with the library: parsed,
not run, every ``from vfs_spark… import name`` must resolve, every
``alias.name`` on a ``vfs_spark`` module alias must exist, and every
keyword argument passed to a ``vfs_spark`` callable must be a
parameter of it, so deleting or renaming an operator or a knob cannot
leave a tool that breaks only when someone next runs it."""

import ast
import importlib
import inspect
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
    imported: dict[str, object] = {}
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
                else:
                    imported[a.asname or a.name] = obj
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
        elif isinstance(node, ast.Call):
            missing += _bad_keywords(node, aliases, imported)
    return missing


def _bad_keywords(call: ast.Call, aliases: dict, imported: dict) -> list[str]:
    """Keywords of a call to a vfs_spark callable that its signature
    does not accept (none when it takes ``**kwargs``)."""
    f = call.func
    if isinstance(f, ast.Name):
        fn, name = imported.get(f.id), f.id
    elif (
        isinstance(f, ast.Attribute)
        and isinstance(f.value, ast.Name)
        and f.value.id in aliases
    ):
        fn, name = getattr(aliases[f.value.id], f.attr, None), f"{f.value.id}.{f.attr}"
    else:
        return []
    try:
        params = inspect.signature(fn).parameters
    except (TypeError, ValueError):  # not a callable, or no signature
        return []
    if any(p.kind is p.VAR_KEYWORD for p in params.values()):
        return []
    return [
        f"{call.lineno}: {name}({kw.arg}=...)"
        for kw in call.keywords
        if kw.arg is not None and kw.arg not in params
    ]


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_tool_library_names_resolve(path):
    assert not _unresolved(path), _unresolved(path)


def test_guard_catches_a_deleted_operator(tmp_path):
    """The guard is not vacuous: a script naming an operator that does
    not exist, both ways, is reported twice, and a removed keyword is
    reported on either call form."""
    script = tmp_path / "stale.py"
    script.write_text(
        "from vfs_spark.operators import ann as A\n"
        "from vfs_spark.operators.ann import no_such_search\n"
        "A.no_such_search_either()\n"
    )
    assert len(_unresolved(script)) == 2
    knobs = tmp_path / "knobs.py"
    knobs.write_text(
        "from vfs_spark.operators import dedup as D\n"
        "from vfs_spark.operators.dedup import prefix_candidate_stats\n"
        "prefix_candidate_stats(sh, 0.3, sample_fraction=0.01)\n"
        "prefix_candidate_stats(sh, 0.3, exact=True)\n"
        "D.route_prefix_join(sh, 0.3, min_total=1.0)\n"
    )
    assert _unresolved(knobs) == [
        "4: prefix_candidate_stats(exact=...)",
        "5: D.route_prefix_join(min_total=...)",
    ]
