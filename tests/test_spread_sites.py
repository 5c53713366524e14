"""The query layer spreads one-row-group scans only through
``joins.spread``. Parse the query modules (never execute them) and fail
on a hand-placed ``.repartition(`` call or a ``defaultParallelism``
read, so a second width rule cannot come back unnoticed."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent / "theoremkb_spark"
MODULES = [
    ROOT / "queries.py",
    ROOT / "queries_docs.py",
    ROOT / "operators" / "similarity.py",
]


def test_query_modules_spread_only_through_joins_spread():
    found, spreads = [], 0
    for path in MODULES:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Attribute) and node.attr in (
                "repartition",
                "defaultParallelism",
            ):
                found.append(f"{path.relative_to(ROOT.parent)}:{node.lineno}: {node.attr}")
            if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "spread":
                spreads += 1
    assert not found, found
    # the modules were parsed, and the six one-row-group scans use the rule
    assert spreads == 6, spreads
