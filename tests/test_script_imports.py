"""The bench and helper scripts import library names inside ``main()``,
so deleting or renaming a library name breaks them only when someone
runs them. Parse each script (never execute it) and check that every
``from theoremkb_spark... import name`` still resolves."""

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [
        *ROOT.glob("scripts/*.py"),
        ROOT / "bench.py",
        ROOT / "bench_extra.py",
        ROOT / "__spark_entry__.py",
        *ROOT.glob("perfbench/*.py"),
    ]
)


def _library_imports(path: Path) -> list[tuple[str, str]]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        (node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module.split(".")[0] == "theoremkb_spark"
        for alias in node.names
    ]


def _resolves(module: str, name: str) -> bool:
    if hasattr(importlib.import_module(module), name):
        return True
    try:  # `from package import submodule`
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_script_library_imports_resolve():
    checked, missing = 0, []
    for path in SCRIPTS:
        for module, name in _library_imports(path):
            checked += 1
            if not _resolves(module, name):
                missing.append(f"{path.relative_to(ROOT)}: {module}.{name}")
    assert not missing, missing
    assert checked > 100, checked  # the scripts were actually found
