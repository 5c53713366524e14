"""Incremental ingestion via Structured Streaming.

The reference is strictly batch (SURVEY §2.10) and the north rule asks
for resumability, not latency — but a Common-Crawl-style corpus arrives
as a growing directory of page files, and the idiomatic Spark answer to
"process whatever landed since last run, exactly once" is a file-source
stream with ``Trigger.AvailableNow``:

* ``readStream`` over the pages directory discovers unprocessed FILES
  through the stream checkpoint (offset log) — restart-safe without
  rescanning committed data;
* each micro-batch commits one atomic snapshot to the
  ``CheckpointedTripleStore`` inside ``foreachBatch``, through the same
  build-and-commit path as ``run_incremental`` (per-stage lineage, then
  url-ledger and triple compaction) — the store's manifest protocol
  makes the sink idempotent at batch granularity, so a batch replayed
  after a crash between sink-commit and offset-commit dedups on the url
  anti-join;
* ``Trigger.AvailableNow`` drains the backlog and stops, so the same
  entrypoint serves both one-shot backfill and a cron-style incremental
  ingest. Swapping the trigger for a processing-time one turns it into
  a continuous ingest with zero operator changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io.catalog import CheckpointedTripleStore, _build_and_commit
from ..pipeline.extract import PAGES_SCHEMA


def stream_pages_to_store(
    spark: SparkSession,
    input_dir: str,
    store: CheckpointedTripleStore,
    dico: DataFrame,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> int:
    """Drain all unprocessed page files under ``input_dir`` into the
    triple store; returns the number of micro-batches committed.

    ``dico`` is the pre-canonicalized broadcast dictionary (url, tag,
    pdf_to_canon). ``max_files_per_trigger`` bounds micro-batch size
    (memory control at scale); with AvailableNow the backlog is split
    into that many files per batch.
    """
    checkpoint_dir = checkpoint_dir or f"{store.out_dir}/_stream_checkpoint"
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_dir)

    committed = {"n": 0}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # anti-join against already-committed urls: makes the sink
        # idempotent when a micro-batch replays after a crash between
        # the store commit and the stream's offset commit
        todo = batch_df.join(store.processed_urls(spark), "url", "left_anti")
        if todo.isEmpty():
            return
        _build_and_commit(spark, store, todo, todo.select("url"), dico=dico)
        committed["n"] += 1

    query = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return committed["n"]
