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


def _instrument_targets(path: Path) -> list[tuple[str, str]]:
    """(owner, attr) of every ``instrument(tracer, owner, "attr", ...)``
    call: perfbench patches library names by string, with a bare
    getattr, so a rename breaks only the traced benchmark run."""
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        (node.args[1].id, node.args[2].value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None)) == "instrument"
        and len(node.args) >= 3
        and isinstance(node.args[1], ast.Name)
        and isinstance(node.args[2], ast.Constant)
    ]


def _import_aliases(path: Path) -> dict[str, set[tuple[str, str]]]:
    """Every ``from theoremkb_spark... import name [as alias]`` of the
    file, by the local alias it binds (a set: the file may bind one
    alias in several functions)."""
    aliases: dict[str, set[tuple[str, str]]] = {}
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module.split(".")[0] == "theoremkb_spark"
        ):
            for alias in node.names:
                aliases.setdefault(alias.asname or alias.name, set()).add(
                    (node.module, alias.name)
                )
    return aliases


def _import_target(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def test_perfbench_instrument_targets_exist():
    checked, missing = 0, []
    for path in ROOT.glob("perfbench/*.py"):
        aliases = _import_aliases(path)
        for owner, attr in _instrument_targets(path):
            checked += 1
            targets = aliases.get(owner)
            if not targets:
                missing.append(f"{path.relative_to(ROOT)}: unresolved owner {owner}")
            for module, name in targets or ():
                if not hasattr(_import_target(module, name), attr):
                    missing.append(f"{path.relative_to(ROOT)}: {module}.{name}.{attr}")
    assert not missing, missing
    assert checked >= 10, checked  # the instrument calls were actually found
