"""Every package module and top-level definition is reached from a real
entry point.

The entry points are the driver catalog (``__spark_entry__.py``),
``bench.py`` and ``perfbench/*.py``.  The module walk follows ``import``
statements, in-function imports included, plus the ``__init__`` of each
parent package.  The definition walk is by name: a top-level function or
class is reached when its name appears in the module-level code of a
reached module (each query module's ``QUERIES`` included) or in the body
of a reached definition, iterated to a fixpoint.  A use is a ``Name`` or
``Attribute`` node, an import alias or an identifier-shaped string
constant; an ``__init__`` re-export or an ``__all__`` entry is not.  A
name collision can keep dead code alive, never flag live code.

Code no entry point reaches is code that only its own tests run: delete
it with its tests, or list it in ALLOWED with why.  An ALLOWED entry is
a module path (``sources/scraper``, ``plans``) or ``module.definition``.
"""

from __future__ import annotations

import ast
import re
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "rick_and_morty_data_pipeline_project_spark"

ALLOWED = {
    "plans": "plan-assertion helpers for tests",
    "sources/scraper": "the reference's EP-1 extract step",
    "sources/restapi_datasource": "the reference's EP-1 extract step",
    "sources/restapi_stream": "the reference's EP-1 extract step",
    "sources/reference_fixtures": "golden replay of the reference's outputs",
    "sources/reference_db": "golden replay of the reference's outputs",
    "functions/textfns.wiki_url_col": "the reference's EP-1 extract step (scraper)",
    "queries/pqq._fold_norm": "scalar reference test_pq checks _canonical_normed by",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _file(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    for path in (base / "__init__.py", base.with_suffix(".py")):
        if path.is_file():
            return path
    return None


@cache
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text())


def _imported(path: Path):
    for node in ast.walk(_tree(path)):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            yield node.module
            # ``from pkg import submodule`` reaches the submodule too
            yield from (f"{node.module}.{alias.name}" for alias in node.names)


def _reached() -> set[Path]:
    todo = _roots()
    seen: set[Path] = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported(path):
            parts = name.split(".")
            if parts[0] == PKG:
                found = (_file(".".join(parts[:i])) for i in range(1, len(parts) + 1))
                todo += [p for p in found if p is not None]
    return seen


def _roots() -> list[Path]:
    perfbench = sorted((ROOT / "perfbench").glob("*.py"))
    return [ROOT / "__spark_entry__.py", ROOT / "bench.py", *perfbench]


def _rel(path: Path) -> str:
    rel = path.relative_to(ROOT / PKG).with_suffix("").as_posix()
    return rel.removesuffix("/__init__")


def _allowed(key: str) -> bool:
    """``key`` (a module path or ``module.definition``) is listed, or
    lies in a listed module or top-level package."""
    module = key.split(".", 1)[0]
    return bool({key, module, module.split("/")[0]} & ALLOWED.keys())


def _is_all(node: ast.AST) -> bool:
    return isinstance(node, ast.Assign) and any(
        getattr(target, "id", None) == "__all__" for target in node.targets
    )


def _uses(nodes, *, reexport: bool = True) -> set[str]:
    """Names the given statements use.  ``reexport=False`` is for an
    ``__init__``, whose imports only re-export; ``__all__`` never uses."""
    names: set[str] = set()
    for top in nodes:
        if _is_all(top) or (not reexport and isinstance(top, ast.Import | ast.ImportFrom)):
            continue
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.update({node.name.rsplit(".", 1)[-1], node.asname} - {None})
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if _IDENT.fullmatch(node.value):
                    names.add(node.value)
    return names


def _definitions(paths) -> dict[str, ast.AST]:
    """``module.name`` -> node for every top-level function and class."""
    return {
        f"{_rel(path)}.{node.name}": node
        for path in paths
        for node in _tree(path).body
        if isinstance(node, _DEFS)
    }


def _unreached_definitions(modules: set[Path]) -> set[str]:
    package = sorted((ROOT / PKG).rglob("*.py"))
    used: set[str] = set()
    for path in _roots():
        used |= _uses(_tree(path).body)
    for path in package:
        if path in modules:
            body = [n for n in _tree(path).body if not isinstance(n, _DEFS)]
            used |= _uses(body, reexport=path.name != "__init__.py")
    todo = _definitions(package)
    while True:
        reached = [key for key in todo if key.rsplit(".", 1)[1] in used]
        if not reached:
            return set(todo)
        for key in reached:
            used |= _uses([todo.pop(key)])


def test_every_package_module_is_reached_from_an_entry_point():
    seen = _reached()
    unreached = [
        _rel(path)
        for path in sorted((ROOT / PKG).rglob("*.py"))
        if path not in seen and not _allowed(_rel(path))
    ]
    assert not unreached, f"modules no entry point imports: {unreached}"


def test_every_package_definition_is_reached_from_an_entry_point():
    unreached = sorted(k for k in _unreached_definitions(_reached()) if not _allowed(k))
    assert not unreached, f"definitions only tests reach: {unreached}"


def test_every_allowed_entry_exists_and_is_unreached():
    reached = _reached()
    unreached = _unreached_definitions(reached)
    modules = {_rel(path): path for path in (ROOT / PKG).rglob("*.py")}
    stale = []
    for entry in ALLOWED:
        if "." in entry:
            live = entry not in unreached
        else:
            paths = [p for rel, p in modules.items() if f"{rel}/".startswith(f"{entry}/")]
            live = not paths or any(p in reached for p in paths)
        if live:
            stale.append(entry)
    assert not stale, f"ALLOWED entries that are missing or reached: {stale}"
