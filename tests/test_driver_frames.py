"""Frames the library builds on the driver reach the JVM as Arrow.

A ``createDataFrame`` over a Python row list plans an RDD scan: every
use of the frame runs Python tasks to deserialize it, even for an empty
list, and its size estimate is unknowable. ``session.arrow_frame`` ships
an Arrow table instead, which plans a ``LocalTableScan``. Parse the
library (never execute it) and fail on any other ``createDataFrame``
call: only the test/oracle loaders ``load_entity_dict`` and
``load_pages`` keep the row-list form, and ``arrow_frame`` is the one
call that passes an Arrow table."""

import ast
from pathlib import Path

from theoremkb_spark.session import arrow_frame

ROOT = Path(__file__).resolve().parent.parent / "theoremkb_spark"
ALLOWED = {
    ("pipeline/runner.py", "load_entity_dict"),
    ("pipeline/extract.py", "load_pages"),
    ("session.py", "arrow_frame"),
}


def _create_sites() -> set[tuple[str, str]]:
    sites = set()
    for path in ROOT.rglob("*.py"):
        tree = ast.parse(path.read_text(), filename=str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef | ast.AsyncFunctionDef):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and getattr(node.func, "attr", None) == "createDataFrame"
                ):
                    sites.add((path.relative_to(ROOT).as_posix(), fn.name))
    return sites


def test_library_builds_driver_frames_only_through_arrow_frame():
    assert _create_sites() == ALLOWED


def test_arrow_frame_is_a_local_table_scan(spark):
    import uuid

    sc = spark.sparkContext
    group = f"arrow-frame-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "arrow_frame")
    try:
        cells = arrow_frame(
            spark, [(0, [1.0, 2.0]), (1, [])], "cell int, cvec array<double>"
        )
        empty = arrow_frame(spark, [], "url string")
        rows = [tuple(r) for r in cells.collect()]
        assert empty.collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert rows == [(0, [1.0, 2.0]), (1, [])]
    assert cells.schema.simpleString() == "struct<cell:int,cvec:array<double>>"
    for df in (cells, empty):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    # collecting a local relation runs no Spark job
    assert sc.statusTracker().getJobIdsForGroup(group) == []
