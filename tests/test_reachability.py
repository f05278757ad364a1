"""Every package module is reached by a product path.

The product entry points are the driver registry (``__spark_entry__.py``),
the spark-submit jobs (``jobs/*.py``) and the benchmark (``bench.py`` and
``perfbench/*.py``, which drives the jobs). Their imports, absolute and
relative, are followed through the package with ``ast`` (importing a module
also runs its parent packages' ``__init__``), and every module under the
package must be reached. A module no product path imports is dead weight:
delete it instead of keeping it alive with its own tests.

The package root ``__init__`` imports nothing: it runs on every import of
any package module, so one re-export there would mark its target reached.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "features_engineering_of_motion_data_spark"

#: unreached modules kept on purpose, each with its reason
EXEMPT = {
    f"{PKG}.operators.gapfill": (
        "turn-level linear gap-fill, part of the paper's feature set (ROADMAP "
        "north star); q38/q50 fill at the tier level only"
    ),
    f"{PKG}.operators.sliding": (
        "the reference library's 50%-overlap windows (ROADMAP north star); "
        "q19 is an events-fixture row frame, not these windows"
    ),
    f"{PKG}.operators.metrics": (
        "per-tier metrics for the job's run report (ROADMAP item 8)"
    ),
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path, module: str) -> set[str]:
    """Dotted names a file imports; ``from m import x`` yields both ``m`` and
    ``m.x`` (``x`` may be a submodule)."""
    is_pkg = path.name == "__init__.py"
    names = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                here = module.split(".") if is_pkg else module.split(".")[:-1]
                anchor = here[: len(here) - node.level + 1]
                base = ".".join(anchor + ([node.module] if node.module else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _reached(mods: dict[str, Path], entries: list[Path]) -> set[str]:
    reached: set[str] = set()
    todo = [name for p in entries for name in _imported_names(p, p.stem)]
    while todo:
        parts = todo.pop().split(".")
        for i in range(1, len(parts) + 1):
            name = ".".join(parts[:i])
            if name in mods and name not in reached:
                reached.add(name)
                todo.extend(_imported_names(mods[name], name))
    return reached


def test_every_package_module_is_reached():
    root = ast.parse((ROOT / PKG / "__init__.py").read_text(encoding="utf-8"))
    imports = [
        n.lineno
        for n in ast.walk(root)
        if isinstance(n, (ast.Import, ast.ImportFrom))
    ]
    assert not imports, f"{PKG}/__init__.py imports at lines {imports}"
    entries = [
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *sorted((ROOT / "jobs").glob("*.py")),
        *sorted((ROOT / "perfbench").glob("*.py")),
    ]
    mods = _package_modules()
    reached = _reached(mods, entries)
    assert PKG in reached
    unreached = sorted(set(mods) - reached - set(EXEMPT))
    assert not unreached, f"no product path imports {unreached}"
    stale = sorted(set(EXEMPT) & reached)
    assert not stale, f"exempt but reached, drop the exemption: {stale}"
    assert set(EXEMPT) <= set(mods), "exempt module no longer exists"
