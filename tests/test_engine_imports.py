"""Every name that the driver contract (``__spark_entry__.py`` and the
``gates/`` package), ``bench.py``, ``perfbench/`` and the kept ``tools/``
scripts take from ``shotit_worker_spark`` exists, so deleting package
code cannot silently break one of them.

The sources are parsed with ``ast``, never run: imports at any depth
(inside functions too) are checked, and so are attribute uses of a
module alias (``SC.path_depth`` after ``import ... scalar as SC``). Only
the engine is imported; no Spark session starts."""

from __future__ import annotations

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "shotit_worker_spark"
SOURCES = sorted(
    [ROOT / "__spark_entry__.py", ROOT / "bench.py",
     *(ROOT / "gates").glob("*.py"), *(ROOT / "tools").glob("*.py"),
     *(ROOT / "perfbench").glob("*.py")]
)
_MISSING = object()


def _is_engine(module: str | None) -> bool:
    return module is not None and (module == PKG or module.startswith(PKG + "."))


def _resolve(dotted: str):
    """The module or module attribute ``dotted`` names, or _MISSING."""
    try:
        return importlib.import_module(dotted)
    except ModuleNotFoundError as e:
        if not _is_engine(e.name):
            raise  # a third-party dependency, not a deleted engine name
        if e.name != dotted:
            return _MISSING  # an engine module on the way is gone
    parent, _, name = dotted.rpartition(".")
    return getattr(importlib.import_module(parent), name, _MISSING)


def _check(tree: ast.AST) -> tuple[int, list[tuple[int, str]]]:
    """(names checked, [(line, name) missing]) over every engine name
    the tree imports and every attribute it reads off an engine alias."""
    checked, missing, aliases, foreign = 0, [], {}, set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            engine_from = isinstance(node, ast.ImportFrom) \
                and node.level == 0 and _is_engine(node.module)
            for a in node.names:
                if engine_from:
                    dotted = f"{node.module}.{a.name}"
                elif isinstance(node, ast.Import) and _is_engine(a.name):
                    dotted = a.name
                else:
                    foreign.add(a.asname or a.name.split(".")[0])
                    continue
                checked += 1
                if _resolve(dotted) is _MISSING:
                    missing.append((node.lineno, dotted))
                if a.asname or engine_from:
                    aliases.setdefault(a.asname or a.name, set()).add(dotted)
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            name = node.value.id
            # a name also bound by a non-engine import is not checked;
            # one bound to several engine names passes on any of them
            if name not in aliases or name in foreign:
                continue
            checked += 1
            if not any(hasattr(_resolve(t), node.attr) for t in aliases[name]):
                missing.append((node.lineno, f"{name}.{node.attr}"))
    return checked, missing


def test_every_engine_name_used_by_a_kept_script_exists():
    checked, missing = 0, []
    for path in SOURCES:
        n, miss = _check(ast.parse(path.read_text(), str(path)))
        checked += n
        missing += [f"{path.relative_to(ROOT)}:{line} {name}"
                    for line, name in miss]
    assert checked > 100, checked  # the scan really reads the imports
    assert not missing, missing
