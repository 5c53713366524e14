"""SparkSession factory tuned for the KG pipeline.

Local-mode testing runs on ``local[N]``; the same configs are what we would
ship in spark-defaults on a real cluster (AQE, skew join, Arrow). Shuffle
partitions are the core count; ``extra_conf`` overrides any setting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory holding the theoremkb_spark package (or the --py-files zip)
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "theoremkb_spark",
    cpus: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep parallelismFirst effective on CPU-dense small-byte stages:
        # the default 1 MB minPartitionSize floor coalesces a ~3 MB
        # post-agg exchange to 2-3 partitions and serializes everything
        # downstream of it (band-join verify, jaccard, window) onto 2-3
        # cores. 64 KB keeps tiny stages at full width while still
        # folding genuinely empty partitions; at cluster scale the
        # advisory target (64 MB) governs big exchanges exactly as before.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep giant documents from blowing a single Arrow batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # split fat html-bearing parquet files across tasks (default 128 MB
        # would hand a whole small corpus to one scan task). 4 MB, not 32:
        # splits quantize to ROW GROUPS (a row group belongs to the split
        # containing its start offset), so a 42 MB file of ~1.4 MB groups
        # under 32 MB splits degenerates to a 13-vs-3-group task imbalance
        # — the event-log fingerprint was a 12 s max task on a 5 s mean in
        # the extraction stage, 40% of the local[4] wall. 4 MB splits carry
        # 2-4 groups each, bounding per-task spread at ~2x with per-file
        # task counts high enough to wash it out. A real cluster tunes
        # this per deployment (128-512 MB targets with matching row-group
        # sizing at write time); the corpus writers here emit ~1.4 MB
        # groups (100 html docs) to match.
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # fork python workers from a daemon that has pandas/pyarrow
        # preloaded — worker churn otherwise costs ~1.5 s of import per
        # fresh worker (see daemon_preload.py)
        .config("spark.python.daemon.module", "theoremkb_spark.daemon_preload")
        # ... and the workers must find this package wherever the driver
        # was started: a driver-side sys.path insert does not reach them
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def warm_python_workers(spark: SparkSession, cpus: int | None = None) -> None:
    """Force one Arrow-UDF task per core so every python worker pays its
    pandas/pyarrow import before any timed work. Long-lived executors on a
    real cluster amortize this once per executor; local-mode benchmarks
    must do the same or the 4N run bills 4x the import storm."""
    import pandas as pd  # noqa: F401 (imported here so the driver has it)

    cpus = cpus or spark.sparkContext.defaultParallelism

    def _touch(batches):
        for b in batches:
            yield b

    spark.range(0, cpus, 1, cpus).mapInPandas(_touch, "id long").count()



def arrow_frame(
    spark: SparkSession, rows: list[tuple], schema: str
) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema``'s column order) as a
    DataFrame of DDL ``schema``, shipped to the JVM as one Arrow table.

    A Python row list becomes an RDD scan: every use of the frame runs
    Python tasks to deserialize it (0.6-1.9 Python CPU-s measured for a
    15-url frame, 0.76 s for an empty one), and its size estimate is
    Long.MaxValue. An Arrow table becomes a ``LocalRelation``: a
    ``LocalTableScan`` with no job while it is small (above
    ``spark.sql.execution.arrow.localRelationThreshold`` the JVM
    deserializes it, still without a Python task), with real size
    stats. Every library frame built on the driver goes through here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
