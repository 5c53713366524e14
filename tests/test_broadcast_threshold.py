"""The broadcast-vs-shuffle decision lives in ``operators/joins.py``
only: one threshold constant, one one-argument size test. Parse the
package (never execute it) and fail on a second threshold constant, a
per-call threshold argument, or a user-facing strategy option, so a
second copy of the decision cannot come back unnoticed."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent / "theoremkb_spark"
JOINS = ROOT / "operators" / "joins.py"


def _module_level_names(tree: ast.Module) -> list[tuple[str, int]]:
    names = []
    for node in tree.body:
        targets = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        for target in targets:
            for name in ast.walk(target):
                if isinstance(name, ast.Name):
                    names.append((name.id, node.lineno))
    return names


def _called_name(call: ast.Call) -> str | None:
    func = call.func
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def test_broadcast_decision_lives_in_joins_only():
    found, size_tests, build_kg_seen = [], 0, False
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT.parent)
        tree = ast.parse(path.read_text(), filename=str(path))
        if path != JOINS:
            for name, lineno in _module_level_names(tree):
                if name.endswith("_BYTES"):
                    found.append(f"{rel}:{lineno}: threshold constant {name}")
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _called_name(node) == "fits_broadcast":
                size_tests += 1
                if len(node.args) + len(node.keywords) > 1:
                    found.append(f"{rel}:{node.lineno}: fits_broadcast with a threshold")
            if isinstance(node, ast.FunctionDef) and node.name == "build_kg":
                build_kg_seen = True
                params = node.args.args + node.args.kwonlyargs
                if any(a.arg == "join_strategy" for a in params):
                    found.append(f"{rel}:{node.lineno}: build_kg(join_strategy=)")
    assert not found, found
    # the package was parsed: build_kg exists and the size test is in use
    assert build_kg_seen
    assert size_tests >= 4, size_tests
