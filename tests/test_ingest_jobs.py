"""Per-batch Spark job budget of the incremental ingest.

A small ``run_incremental`` batch is mostly fixed cost: the ledger
anti-join, the dictionary canonicalization and the commit writes. This
test pins how many Spark jobs one warm batch may launch, that the
broadcast regime canonicalizes the dictionary on the driver instead of
through the distributed connected-components path, that the batch reads
no driver frame through an RDD scan and no cache, and that building the
url ledger read launches no job.
"""

import uuid

from theoremkb_spark.io.catalog import CheckpointedTripleStore, run_incremental
from theoremkb_spark.pipeline.extract import load_pages
from theoremkb_spark.pipeline.runner import load_entity_dict

N = 24

# Jobs of one warm 6-doc batch over file-backed pages and dictionary,
# counted by this test on local[8]: 8 = 3 ledger (the anti-join's dedup
# stage and broadcast, the url collect), 1 dictionary collect, 2
# broadcasts of driver-built Arrow frames (the picked urls, the canonical
# dictionary) and the 2 stages of the triples write (extraction, then
# rollup and write). The lineage is counted inside that write, and the
# url and lineage files are written on the driver. Earlier counts: 36
# with a lineage action per stage, a distributed canonicalization and
# the todo urls recomputed per consumer; 18 with Spark writing all four
# batch files; 14 with the fused and triples lineage collects.
MAX_BATCH_JOBS = 10

# plan nodes a warm batch must not run: a driver frame built from a
# Python row list (whose every use runs Python tasks), or a cache
NO_PLAN_NODES = ("Scan ExistingRDD", "InMemoryRelation", "InMemoryTableScan")


def _jobs_in_group(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"ingest-batch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one run_incremental batch")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _executed_plans(spark, fn) -> list[str]:
    """The physical plans of the SQL executions ``fn`` runs (the status
    store lists executions by ascending id)."""
    status = spark._jsparkSession.sharedState().statusStore()
    runs = status.executionsList()
    last = runs.apply(runs.size() - 1).executionId() if runs.size() else -1
    fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    runs = status.executionsList()
    plans = []
    for i in reversed(range(runs.size())):
        if runs.apply(i).executionId() <= last:
            break
        plans.append(runs.apply(i).physicalPlanDescription())
    return plans


def _file_inputs(spark, tmp_path):
    """The corpus and the dictionary read back from parquet, as an
    ingest reads them: no test-built RDD frame enters the batch's plans."""
    load_pages(spark, N).write.parquet(str(tmp_path / "pages"))
    load_entity_dict(spark, N).write.parquet(str(tmp_path / "ents"))
    return (
        spark.read.parquet(str(tmp_path / "pages")),
        spark.read.parquet(str(tmp_path / "ents")),
    )


def test_warm_batch_job_budget(spark, tmp_path, monkeypatch):
    from theoremkb_spark.pipeline import canon

    pages, ents = _file_inputs(spark, tmp_path)
    store = CheckpointedTripleStore(str(tmp_path / "kg"))
    assert run_incremental(spark, pages, ents, store, limit=6) == 0  # warm-up

    def _no_cc(*_a, **_kw):
        raise AssertionError("connected_components ran in the broadcast regime")

    monkeypatch.setattr(canon, "connected_components", _no_cc)
    bids = []
    n_jobs = _jobs_in_group(
        spark, lambda: bids.append(run_incremental(spark, pages, ents, store, limit=6))
    )
    assert bids == [1]
    assert n_jobs <= MAX_BATCH_JOBS, n_jobs
    plans = _executed_plans(
        spark, lambda: bids.append(run_incremental(spark, pages, ents, store, limit=6))
    )
    assert bids == [1, 2]
    assert plans
    for node in NO_PLAN_NODES:
        assert not [p for p in plans if node in p], (node, plans)
    # the url ledger read declares its schema: building it runs nothing
    assert _jobs_in_group(spark, lambda: store.processed_urls(spark)) == 0
