"""Per-batch Spark job budget of the incremental ingest.

A small ``run_incremental`` batch is mostly fixed cost: the ledger
anti-join, the dictionary canonicalization, the lineage actions and the
commit writes. This test pins how many Spark jobs one warm batch may
launch, that the broadcast regime canonicalizes the dictionary on the
driver instead of through the distributed connected-components path,
and that building the url ledger read launches no job.
"""

import uuid

from theoremkb_spark.io.catalog import CheckpointedTripleStore, run_incremental
from theoremkb_spark.pipeline.extract import load_pages
from theoremkb_spark.pipeline.runner import load_entity_dict

N = 24

# Jobs of one warm 6-doc batch, counted by this test on local[8]: 14 =
# 3 ledger (the anti-join and url collect), 1 dictionary collect, 5 fused
# lineage, 4 triples lineage and 1 triples write. The url and lineage
# files are written on the driver, and the ledger read declares its
# schema. Earlier counts: 36 with a lineage action per stage, a
# distributed canonicalization and the todo urls recomputed per
# consumer; 18 with Spark writing all four batch files.
MAX_BATCH_JOBS = 16


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


def test_warm_batch_job_budget(spark, tmp_path, monkeypatch):
    from theoremkb_spark.pipeline import canon

    pages = load_pages(spark, N)
    ents = load_entity_dict(spark, N)
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
    # the url ledger read declares its schema: building it runs nothing
    assert _jobs_in_group(spark, lambda: store.processed_urls(spark)) == 0
