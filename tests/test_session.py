"""Session factory: Python workers import the package from any working
directory."""

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

PROBE = """
import sys
sys.path.insert(0, {root!r})
from theoremkb_spark.session import get_spark

spark = get_spark("cwd_probe", cpus=1)

def ident(batches):
    yield from batches

print("rows", spark.range(10).mapInPandas(ident, "id long").count())
spark.stop()
"""


def test_workers_import_package_outside_repo_root(tmp_path):
    """A script that puts the repo on its own sys.path and runs from
    another directory: the workers, forked from the
    ``theoremkb_spark.daemon_preload`` daemon, must import the package
    too, or every task fails with ModuleNotFoundError."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", PROBE.format(root=str(ROOT))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0 and "rows 10" in r.stdout, r.stderr[-3000:]
