"""Checkpointed, resumable triple store.

On a real cluster this is an Iceberg table: each pipeline batch is one
snapshot commit, resume reads the committed snapshots, and a killed job
leaves no visible partial state. The Iceberg runtime jars are not on this
image's classpath (import-gated below), so the same semantics are
emulated on plain parquet with an atomic manifest protocol:

* each batch writes to its own directory ``triples/batch=<n>/``;
* the batch becomes VISIBLE only when its manifest JSON is atomically
  renamed into ``manifest/`` (os.replace — the "snapshot commit");
* readers scan only manifested batches, all in ONE scan whose
  ``batch=<n>`` directories yield each row's batch id, and apply every
  re-crawl with ONE anti-join under Iceberg v2's equality-delete rule: a
  superseded url dies in every batch with a LOWER id;
* resume anti-joins the input against the urls of manifested batches
  (the J8 anti-join-resume pattern, SURVEY §2.3) — a killed run leaves an
  unmanifested directory that the retry simply overwrites;
* the triples and the url ledger compact through one generation-pointer
  protocol: write the folded generation, then atomically swap its
  pointer JSON.

A batch is built and committed by ONE Spark action, the triples write.
The per-stage, per-partition lineage is counted inside the passes that
already touch the rows (``runner.lineage_accumulator``: the extraction
kernel and a pass-through after the triple rollup), so it costs no
action and no cache. Every frame the driver builds reaches the JVM as
Arrow (``session.arrow_frame``), so it runs no Python task.

A batch's files are written where their data already lives. The
triples are a Spark DataFrame and go through that Spark write. The
lineage rows are always a small driver-side list, and the url file is
one too when the caller collected its urls (``run_incremental`` with a
``limit``): those are written with ``pyarrow.parquet`` on the driver,
which saves a Spark job per file. A url set that is still a DataFrame
(the re-crawl, a stream micro-batch, ``limit=None``) can be the whole
corpus, so it keeps the Spark write. This relies on the driver seeing
the store's filesystem, as the manifests and pointers already do.

Every ingest path (``run_incremental``, ``recommit_urls`` and the
streaming micro-batch) commits through ``_build_and_commit``.

This gives exactly-once output under kill-and-rerun without Iceberg,
and swaps to ``df.writeTo(table).append()`` untouched when the jars are
present (see ``iceberg_available``).

Replaces the reference's crude per-chunk CSV rewrite checkpoints
(extract_graph.py:320-335).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import Accumulator
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.runner import (
    LINEAGE_ARROW,
    LINEAGE_SCHEMA,
    TRIPLE_COLS,
    TRIPLE_SCHEMA,
    build_kg,
    lineage_accumulator,
    stage_lineage,
)
from ..session import arrow_frame

_NO_GENERATION = {"upto_batch": -1, "path": None}

# LINEAGE_SCHEMA plus the batch id, as Spark reads a committed lineage file
_LINEAGE_ARROW = LINEAGE_ARROW.append(pa.field("batch_id", pa.int32()))


def write_on_driver(path: str, table: pa.Table) -> None:
    """Write ``table`` as the one parquet file of directory ``path``,
    first clearing whatever a killed attempt left there."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime is actually on the JVM classpath.

    Must go through ``Class.forName``: py4j resolves a missing class
    path to a silent ``JavaPackage`` placeholder (truthy, no exception),
    so the obvious ``spark._jvm.org.apache.iceberg.Table`` probe always
    'succeeds' — the round-5 integration branch exposed that the old
    check reported jars-present in a jarless image."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True
    except Exception:
        return False


class CheckpointedTripleStore:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.manifest_dir = os.path.join(out_dir, "manifest")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- snapshot bookkeeping ------------------------------------------
    def manifests(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as f:
                    out.append(json.load(f))
        return out

    def next_batch_id(self) -> int:
        ms = self.manifests()
        return 1 + max((m["batch_id"] for m in ms), default=-1)

    # -- compacted generations (the triples and the url ledger) ----------
    def _generation(self, kind: str) -> dict:
        """The pointer to ``kind``'s compacted generation: every batch up
        to ``upto_batch`` is folded into the parquet at ``path``."""
        path = os.path.join(self.out_dir, f"{kind}_compaction.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        return _NO_GENERATION

    def _compact(
        self, kind: str, min_batches: int, current: Callable[[], DataFrame]
    ) -> bool:
        """Fold ``current()``, the current read of ``kind``, into a new
        generation once ``min_batches`` batches have committed since the
        last one. Crash-safe: the generation directory is written first,
        then the pointer JSON is swapped in with an atomic os.replace, so
        readers see the old or the new generation, never a partial one.
        The per-batch files stay on disk, still referenced by their
        manifests for lineage and time travel — only the CURRENT read
        path narrows."""
        folded = self._generation(kind)["upto_batch"]
        pending = [m["batch_id"] for m in self.manifests() if m["batch_id"] > folded]
        if len(pending) < min_batches:
            return False
        upto = max(pending)
        gen_dir = os.path.join(self.out_dir, f"{kind}_compacted/gen={upto}")
        current().write.mode("overwrite").parquet(gen_dir)
        tmp = os.path.join(self.out_dir, f".{kind}-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"upto_batch": upto, "path": gen_dir}, f)
        os.replace(tmp, os.path.join(self.out_dir, f"{kind}_compaction.json"))
        return True

    # -- read side ------------------------------------------------------
    def read_triples(
        self, spark: SparkSession, as_of_batch: int | None = None
    ) -> DataFrame:
        """The visible triples, in ``TRIPLE_COLS`` order, as one plan
        whose shape does not grow with the store's history.

        The visible batches are read in ONE scan based at ``triples/``,
        so partition discovery tags each row with its ``batch`` id; a
        current read also unions the compacted generation, tagged with
        its ``upto_batch``, in place of the batches it folded. Re-crawls
        then apply through ONE broadcast anti-join under Iceberg v2's
        equality-delete rule: a url in a manifest's
        ``supersedes_urls_path`` kills that url's rows in every batch
        with a LOWER id (row-level-delete emulation). With no visible
        supersede there is no join.

        ``as_of_batch`` is the time-travel read (``VERSION AS OF``): only
        batches — and supersedes — with batch_id <= as_of_batch are
        visible, so a pinned historical view still shows the
        pre-re-crawl rows. It reads the original per-batch files. The
        compacted generation serves current reads only; it was written
        from a supersede-filtered read, so a supersede it folded has no
        lower-id row left to kill and is not re-applied."""
        gen = self._generation("triples") if as_of_batch is None else _NO_GENERATION
        visible = [
            m
            for m in self.manifests()
            if m["batch_id"] > gen["upto_batch"]
            and (as_of_batch is None or m["batch_id"] <= as_of_batch)
        ]
        parts = []
        if visible:
            parts.append(
                spark.read.option("basePath", os.path.join(self.out_dir, "triples"))
                .parquet(*[m["triples_path"] for m in visible])
            )
        if gen["path"]:
            parts.append(
                spark.read.parquet(gen["path"]).withColumn(
                    "batch", F.lit(gen["upto_batch"])
                )
            )
        if not parts:
            return arrow_frame(spark, [], TRIPLE_SCHEMA)
        rows = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        dead = [
            m["supersedes_urls_path"] for m in visible if m.get("supersedes_urls_path")
        ]
        if dead:
            sup = spark.read.option(
                "basePath", os.path.join(self.out_dir, "supersedes")
            ).parquet(*dead)
            sup = sup.select(
                F.col("url").alias("dead_url"), F.col("batch").alias("dead_batch")
            )
            rows = rows.join(
                F.broadcast(sup),
                (F.col("url") == F.col("dead_url"))
                & (F.col("dead_batch") > F.col("batch")),
                "left_anti",
            )
        return rows.select(*TRIPLE_COLS)

    def compact_triples(self, spark: SparkSession, min_batches: int = 16) -> bool:
        """Fold the current triple read into one compacted generation
        (Iceberg ``rewrite_data_files`` analog). At 100 TB an incremental
        ingest commits thousands of small snapshots; without compaction
        every consumer scan pays the per-file open/footer cost and the
        driver pays O(files) listing. Time-travel reads are untouched."""
        return self._compact("triples", min_batches, lambda: self.read_triples(spark))

    def processed_urls(self, spark: SparkSession) -> DataFrame:
        """Union of the compacted url ledger (everything up to the last
        compaction point) and the per-batch url files after it — the
        read side stays O(batches since compaction), not O(history).
        The declared schema spares the schema-inference job a parquet
        read would otherwise launch."""
        gen = self._generation("url_ledger")
        paths = [
            m["urls_path"]
            for m in self.manifests()
            if m["batch_id"] > gen["upto_batch"]
        ]
        if gen["path"]:
            paths.append(gen["path"])
        if not paths:
            return arrow_frame(spark, [], "url string")
        return spark.read.schema("url string").parquet(*paths).distinct()

    def compact_url_ledger(
        self, spark: SparkSession, min_batches: int = 16
    ) -> bool:
        """Fold the url ledger into ONE compacted parquet (VERDICT r1:
        the anti-join ledger otherwise rereads every historical batch per
        micro-batch — linear growth that a long-lived incremental ingest
        cannot afford at 100 TB)."""
        return self._compact(
            "url_ledger", min_batches, lambda: self.processed_urls(spark).repartition(1)
        )

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        """The committed per-batch lineage as one queryable table:
        (stage, partition_id, rows, urls, wall_ms, batch_id). Schema
        merge covers pre-round-4 batches written without wall_ms."""
        paths = [m["lineage_path"] for m in self.manifests() if m.get("lineage_path")]
        if not paths:
            return arrow_frame(spark, [], LINEAGE_SCHEMA + ", batch_id int")
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    # -- write side (one batch = one snapshot) ---------------------------
    def commit_batch(
        self,
        triples: DataFrame,
        urls: DataFrame | list[str],
        lineage: Accumulator | None = None,
        supersedes_urls: DataFrame | None = None,
    ) -> int:
        """Commit one batch: its triples, the ``urls`` it marks
        processed, its lineage and, optionally, its supersedes. Every
        file is written before the manifest, whose atomic rename is the
        one commit point.

        The triples are written by Spark. ``lineage``, the accumulator
        ``build_kg(lineage=)`` counted into, is complete once that write
        returns: ``stage_lineage`` turns it into the ``LINEAGE_SCHEMA``
        rows, the triples rows carrying the write's wall-ms, and they
        are written on the driver with pyarrow. So is the url file when
        ``urls`` is a list, already collected by the caller; a url
        DataFrame can be the whole corpus, so it is written by Spark.

        ``supersedes_urls`` (a one-column ``url`` DataFrame) marks
        this batch as a RE-CRAWL of those urls: their triples from
        earlier batches become invisible to current reads the moment
        this manifest commits (row-level-delete emulation) while
        time-travel reads pinned before this batch still see them."""
        batch_id = self.next_batch_id()
        triples_path = os.path.join(self.out_dir, f"triples/batch={batch_id}")
        urls_path = os.path.join(self.out_dir, f"urls/batch={batch_id}")
        lineage_path = os.path.join(self.out_dir, f"lineage/batch={batch_id}")

        # data first (invisible until manifested); each write clears any
        # debris from a previous killed attempt of the same batch id
        t0 = time.perf_counter()
        triples.write.mode("overwrite").parquet(triples_path)
        wall_ms = int((time.perf_counter() - t0) * 1000)
        if isinstance(urls, DataFrame):
            urls.select("url").distinct().write.mode("overwrite").parquet(urls_path)
        else:
            url_col = pa.array(list(dict.fromkeys(urls)), pa.string())
            write_on_driver(urls_path, pa.table({"url": url_col}))
        if lineage is not None:
            rows = [
                dict(zip(_LINEAGE_ARROW.names, (*r, batch_id)))
                for r in stage_lineage(lineage.value, wall_ms)
            ]
            write_on_driver(
                lineage_path, pa.Table.from_pylist(rows, schema=_LINEAGE_ARROW)
            )

        supersedes_path = None
        if supersedes_urls is not None:
            supersedes_path = os.path.join(
                self.out_dir, f"supersedes/batch={batch_id}"
            )
            supersedes_urls.select("url").distinct().write.mode("overwrite").parquet(
                supersedes_path
            )

        manifest = {
            "batch_id": batch_id,
            "triples_path": triples_path,
            "urls_path": urls_path,
            "lineage_path": lineage_path if lineage is not None else None,
            "supersedes_urls_path": supersedes_path,
        }
        tmp = os.path.join(self.manifest_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        # the atomic snapshot commit
        os.replace(tmp, os.path.join(self.manifest_dir, f"batch_{batch_id:06d}.json"))
        return batch_id


def _build_and_commit(
    spark: SparkSession,
    store: CheckpointedTripleStore,
    pages: DataFrame,
    urls: DataFrame | list[str],
    entity_dict: DataFrame | None = None,
    dico: DataFrame | None = None,
    supersede: bool = False,
) -> int:
    """Build the KG of ``pages`` and commit it as one batch that marks
    ``urls`` processed — including zero-triple and non-English docs,
    which would otherwise be reprocessed forever — and, with
    ``supersede``, re-crawled. The one commit path of every ingest.

    The triples write is the one Spark action that builds and commits
    the batch; nothing is cached. The batch commits a per-STAGE,
    per-partition lineage table (fused / spans / mentions / citations /
    triples — row counts, exact distinct urls, wall-ms) through the
    store's atomic manifest, counted during that write (see
    ``runner.stage_lineage``), so an operator can reconcile row counts
    across the whole pipeline for any batch from the committed data
    alone (north rule: per-partition lineage + metrics). The url-ledger
    and triple compactions run after the commit."""
    lineage = lineage_accumulator(spark)
    triples = build_kg(spark, pages, entity_dict, dico=dico, lineage=lineage)
    batch_id = store.commit_batch(
        triples, urls, lineage, supersedes_urls=urls if supersede else None
    )
    store.compact_url_ledger(spark)
    store.compact_triples(spark)
    return batch_id


def run_incremental(
    spark: SparkSession,
    pages: DataFrame,
    entity_dict: DataFrame,
    store: CheckpointedTripleStore,
    limit: int | None = None,
) -> int:
    """Process only not-yet-committed documents through
    ``_build_and_commit``; returns the batch id or -1 when nothing is
    left to do. ``limit`` caps the batch (test hook for the
    kill-and-rerun scenario); its at most ``limit`` urls are collected
    to the driver once and committed as that list, while ``limit=None``
    keeps the todo set lazy. The committed lineage is queryable via
    ``store.read_lineage(spark)``."""
    done = store.processed_urls(spark)
    todo = pages.join(done, "url", "left_anti")
    if limit is None:
        urls = todo.select("url")
        if todo.isEmpty():
            return -1
    else:
        # resolve the batch's url set ONCE: the ledger anti-join and the
        # sort run in this one collect, and the semi-join below and the
        # commit's url file both read the driver-side list
        urls = [r.url for r in todo.select("url").orderBy("url").limit(limit).collect()]
        if not urls:
            return -1
        picked = arrow_frame(spark, [(u,) for u in urls], "url string")
        todo = pages.join(F.broadcast(picked), "url", "left_semi")
    return _build_and_commit(spark, store, todo, urls, entity_dict)


def recommit_urls(
    spark: SparkSession,
    pages: DataFrame,
    entity_dict: DataFrame,
    store: CheckpointedTripleStore,
    urls: DataFrame | None = None,
) -> int:
    """Re-crawl path: reprocess ``urls`` (default: every url in
    ``pages``) REGARDLESS of the resume ledger and commit the result
    through ``_build_and_commit`` as a superseding batch, with the same
    per-stage lineage as any batch — earlier triples for those urls
    disappear from current reads atomically at manifest commit, while
    pinned time-travel reads still serve the pre-re-crawl view. This is
    the UPDATE half the append-only ledger cannot express: changed page
    content flows through without replaying the whole corpus."""
    todo = (
        pages
        if urls is None
        else pages.join(F.broadcast(urls.select("url")), "url", "left_semi")
    )
    if todo.isEmpty():
        return -1
    return _build_and_commit(
        spark, store, todo, todo.select("url"), entity_dict, supersede=True
    )
