"""Every package module is reached from a real entry point.

The entry points are the driver catalog (``__spark_entry__.py``),
``bench.py`` and ``perfbench/*.py``.  The walk follows ``import``
statements, in-function imports included, plus the ``__init__`` of each
parent package.  A module no entry point reaches is code that only its
own tests run: delete it with its tests, or list it in ALLOWED with why.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "rick_and_morty_data_pipeline_project_spark"

ALLOWED = {
    "pipelines": "end-to-end curation library composing catalog operators",
    "sql": "raw-SQL user entry point over the registered corpus views",
    "plans": "plan-assertion helpers for tests",
    "sources/scraper": "the reference's EP-1 extract step",
    "sources/restapi_datasource": "the reference's EP-1 extract step",
    "sources/restapi_stream": "the reference's EP-1 extract step",
    "sources/reference_fixtures": "golden replay of the reference's outputs",
    "sources/reference_db": "golden replay of the reference's outputs",
}


def _file(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    for path in (base / "__init__.py", base.with_suffix(".py")):
        if path.is_file():
            return path
    return None


def _imported(path: Path):
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            yield node.module
            # ``from pkg import submodule`` reaches the submodule too
            yield from (f"{node.module}.{alias.name}" for alias in node.names)


def _reached() -> set[Path]:
    todo = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    todo += sorted((ROOT / "perfbench").glob("*.py"))
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


def test_every_package_module_is_reached_from_an_entry_point():
    seen = _reached()
    unreached = []
    for path in sorted((ROOT / PKG).rglob("*.py")):
        rel = path.relative_to(ROOT / PKG).with_suffix("").as_posix()
        rel = rel.removesuffix("/__init__")
        if path not in seen and rel not in ALLOWED and rel.split("/")[0] not in ALLOWED:
            unreached.append(rel)
    assert not unreached, f"modules no entry point imports: {unreached}"
