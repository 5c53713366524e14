"""``scripts/run_kg.py --store`` commits through ``run_incremental``,
which always runs the rule labeler: a sequence model given with
``--store`` is rejected as a usage error before any Spark session
starts, instead of shaping only the warm-up."""

import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

# run main() with get_spark replaced by a tripwire, then report whether a
# SparkSession exists after main() exits
_CHILD = """
import runpy, sys
import theoremkb_spark.session as session
from pyspark.sql import SparkSession

def _tripwire(*args, **kwargs):
    raise SystemExit("a Spark session was requested")

session.get_spark = _tripwire
sys.argv = ["run_kg.py", *sys.argv[1:]]
try:
    runpy.run_path("scripts/run_kg.py", run_name="__main__")
finally:
    print("active session:", SparkSession.getActiveSession())
"""


@pytest.mark.parametrize(
    "flags",
    [
        ["--trainer", "perceptron"],
        ["--model", "crf_model_v1.pkl"],
    ],
    ids=["trainer", "model"],
)
def test_store_rejects_labeler_choice(flags):
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, "--store", *flags],
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": str(ROOT)},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 2, proc.stderr
    assert "--store runs the rule labeler only" in proc.stderr
    assert "active session: None" in proc.stdout
