"""Stage 6 — TRIPLES + end-to-end orchestration.

``build_kg`` wires the six stages into one lazy DataFrame plan:

    pages --map-only Arrow extract--> fused (span/mention/cite rows)
      --repartition(url)--> build_triples: one conditional explode
      + one (url, tag) dictionary join (broadcast, or sort-merge past
      the broadcast threshold) --> triples

Triple vocabulary (north star): statement_of, proved_in, cites,
defined_in — mapped from the reference's graph tables
(graph_results/graph_intra_extra, extract_graph.py:298-307) as frozen in
FIXTURES.md §6. Output is distinct on (subj, pred, obj, url) with
group = min provenance span.

The html NEVER shuffles: extraction is a map-only Arrow pass over the
byte-balanced source scan, whichever labeler (the rule state machine,
or a trained sequence model) opens the spans, and the explicit url-hash
repartition (north rule) lands on the ~40x smaller fused span table,
whose HashPartitioning every downstream groupBy/window reuses. A
broadcast-sized dictionary is canonicalized on the driver (the
shuffled regime, whose dictionary is too big for that, keeps the
distributed CC). ``build_triples`` takes any fused-shaped table, so a
second labeler's rows (the tests' window-function cross-check) are
assembled by the same code.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark import Accumulator, AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.joins import fits_broadcast
from ..session import arrow_frame
from .canon import canonicalize_dict
from .extract import FUSED_KINDS, extract_spans

TRIPLE_COLS = ["subj", "pred", "obj", "url", "group"]
TRIPLE_SCHEMA = "subj string, pred string, obj string, url string, group long"


def load_entity_dict(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    from ..corpus.generator import entity_dict_rows

    rows = entity_dict_rows(n_docs, seed)
    return spark.createDataFrame(
        [(r["url"], r["tag"], r["pdf_to"], r["title"], r["norm_title"]) for r in rows],
        schema="url string, tag string, pdf_to string, title string, norm_title string",
    )


def load_dico(spark: SparkSession, dict_rows) -> DataFrame:
    """Canonicalize a broadcast-sized dictionary driver-side and wrap it
    as the (url, tag, pdf_to_canon) DataFrame the LINK stage consumes.
    Same output as ``canonicalize_dict(load_entity_dict(...))`` without
    the half-dozen tiny Spark jobs (see canon.canonicalize_rows), and
    shipped as Arrow, so reading it runs no Python task. This is the
    path ``build_kg`` itself takes in the broadcast regime when no
    ``dico`` is passed."""
    from .canon import canonicalize_rows

    return arrow_frame(
        spark,
        canonicalize_rows(dict_rows),
        "url string, tag string, pdf_to_canon string",
    )


def _entity(url_col, name_col):
    return F.concat(url_col, F.lit("#"), name_col)


def build_triples(fused: DataFrame, dico: DataFrame) -> DataFrame:
    """Single-pass triples assembly over a fused-shaped table (span,
    mention and cite rows, ``extract.SPANS_FUSED_SCHEMA``'s columns), for
    any labeler.

    Each row emits its triples through a conditional-array explode, and
    the dictionary is attached by ONE left equi-join on (url, tag); the
    caller's broadcast hint on ``dico`` (``build_kg`` decides it) picks
    the physical join. Over ``build_kg``'s url-repartitioned table, a
    broadcast dictionary keeps the whole assembly exchange-free:
    broadcast preserves the stream side's partitioning, and the final
    groupBy(subj, pred, obj, url) reuses the url repartition's
    HashPartitioning — url is a subset of the grouping keys — so the
    rollup needs NO exchange. A sort-merge join adds the fact side's
    (url, tag) exchange and the rollup's own.
    """
    url, own = F.col("url"), F.col("own_name")
    kind, ref_kind = F.col("kind"), F.col("ref_kind")
    rel = fused.filter(
        (kind == "cite")
        | ((kind == "span") & own.isNotNull())
        | ((kind == "mention") & own.isNotNull() & ref_kind.isin("intra", "extra"))
    )
    # one join key for both dictionary consumers: cite rows keep their
    # anchor tag, extra-mention rows take their mined ref_tag; span and
    # intra rows get NULL (an equi-join never matches NULL, so they pass
    # through the left join untouched)
    rel = rel.withColumn(
        "tag",
        F.when(kind == "cite", F.col("tag")).when(
            (kind == "mention") & (ref_kind == "extra"), F.col("ref_tag")
        ),
    )
    # no triple reads the span text (the widest column) or its token
    # count, so neither rides the join exchange
    joined = rel.drop("text", "n_tokens").join(dico, ["url", "tag"], "left")

    own_ent = _entity(url, own)
    target = F.coalesce(
        F.col("pdf_to_canon"), F.concat(F.lit("unresolved:"), F.col("tag"))
    )

    def _t(subj, pred, obj, grp):
        return F.struct(
            subj.alias("subj"),
            F.lit(pred).alias("pred"),
            obj.alias("obj"),
            grp.cast("long").alias("group"),
        )

    grp = F.col("group")
    e1 = (
        F.when(kind == "span", _t(own_ent, "statement_of", url, grp))
        .when(
            (kind == "mention") & (ref_kind == "intra"),
            _t(own_ent, "cites", _entity(url, F.col("ref_name")), grp),
        )
        .when(
            (kind == "mention") & (ref_kind == "extra"),
            _t(own_ent, "cites", _entity(target, F.col("ref_name")), grp),
        )
        .when(kind == "cite", _t(url, "cites", target, F.lit(-1)))
    )
    e2 = F.when(
        (kind == "span") & (F.col("label") == "proof"),
        _t(own_ent, "proved_in", url, grp),
    ).when(
        (kind == "span") & (F.col("label") == "definition"),
        _t(own_ent, "defined_in", url, grp),
    )
    return (
        joined.select("url", F.explode(F.array(e1, e2)).alias("_t"))
        .filter(F.col("_t").isNotNull())
        # coalesce against a non-null literal keeps pred's schema flag
        # non-nullable (a struct field out of a `when` chain is not) —
        # value-neutral, pred is never NULL in surviving rows
        .select(
            "_t.subj",
            F.coalesce(F.col("_t.pred"), F.lit("")).alias("pred"),
            "_t.obj",
            "url",
            "_t.group",
        )
        .groupBy("subj", "pred", "obj", "url")
        .agg(F.min("group").alias("group"))
    )


def release_caches(registry: list[DataFrame]) -> None:
    """Unpersist every intermediate collected in a ``cache_registry``.

    Call AFTER the terminal action on the triples plan: long-lived
    incremental sessions (streaming foreachBatch, run_incremental in a
    loop) otherwise accumulate cached blocks for the session lifetime —
    a slow memory/disk leak on a shared cluster."""
    for df in registry:
        df.unpersist()
    registry.clear()


def build_kg(
    spark: SparkSession,
    pages: DataFrame,
    entity_dict: DataFrame | None = None,
    dico: DataFrame | None = None,
    model_file: str | None = None,
    cache_registry: list[DataFrame] | None = None,
    lineage: Accumulator | None = None,
) -> DataFrame:
    """pages + entity_dict -> triples DataFrame (lazy).

    One plan for every input: ``extract.extract_spans`` (map-only over
    the page scan) -> url repartition -> ``build_triples``. The rule
    labeler opens the spans unless ``model_file``, a pickled
    sequence-model artifact (``ml.crf``; a path or an ``sc.addFile``
    name), is given: then the model labels each document inside the
    same Arrow pass.

    The dictionary regime is decided once, from the size estimate of
    the raw dictionary input (``entity_dict``, else ``dico``; see
    ``joins.fits_broadcast``): a broadcast-sized dictionary is
    broadcast into the link join, a larger one joins by sort-merge.
    Without ``dico``, the broadcast regime canonicalizes ``entity_dict``
    eagerly on the driver (one collect, then ``load_dico``); the
    shuffled regime canonicalizes it lazily with ``canonicalize_dict``.
    Pass ``dico`` (pre-canonicalized (url, tag, pdf_to_canon)) to skip the
    canonicalization stage — e.g. from ``load_dico`` when the dictionary
    rows are already driver-resident. One of the two is required.

    Pass ``lineage`` (from ``lineage_accumulator``) to count per-stage,
    per-partition lineage in the passes that already touch the rows:
    the extraction kernel reports the fused table and its three row
    kinds, and a pass-through ``mapInArrow`` after the triple rollup
    reports the triples. The counts arrive when the triples plan runs,
    with no Spark action of their own; ``stage_lineage`` reads them.

    ``cache_registry`` is still accepted because the frozen ``bench.py``
    and ``perfbench`` pass it, but ``build_kg`` caches nothing: the list
    is left as it was given.
    """
    if entity_dict is None and dico is None:
        raise ValueError("build_kg needs entity_dict or dico (or both)")

    # decide the regime ONCE here, from the RAW dictionary input: the
    # canonicalized dico's own plan runs through the CC joins, whose
    # Catalyst stats multiply into a useless overestimate, while
    # canonicalization only ever SHRINKS the dictionary — so the
    # pre-canon size is the conservative-correct broadcast basis. The
    # regime also decides how the dictionary is canonicalized
    # (driver-side or distributed), below.
    broadcast = fits_broadcast(entity_dict if entity_dict is not None else dico)

    # single Arrow pass: parse + label + span assembly + name resolution
    # + mention mining per document (extract.extract_spans), MAP-ONLY
    # over the source scan: one page row is one whole document, so the
    # per-doc UDF needs no co-location, and the scan's byte-bounded
    # splits (spark.sql.files.maxPartitionBytes) already balance the
    # html across tasks — shuffling the full html corpus before
    # extraction was pure cost (measured 1.6x wall at 9600 docs; at
    # 100 TB it is the difference between shuffling 100 TB and shuffling
    # the ~40x smaller span table). The explicit url-hash repartition
    # (north rule) is applied to the FUSED output instead, where it is
    # nearly free and hands every downstream groupBy/window a reusable
    # HashPartitioning. Partitions = cores: every extra partition
    # multiplies the task count of every downstream scan of it (4x
    # cores measured 768 tasks and 8.9 s min-of-5 vs 5.2 s at 1x under
    # the round-3 six-branch plan; see BENCH/RECONCILE_r03.md).
    fused = extract_spans(pages, model_file, lineage).repartition(
        spark.sparkContext.defaultParallelism, F.col("url")
    )
    if dico is None:
        if broadcast:
            # a broadcast-sized dictionary is canonicalized on the driver
            # from one collect: no alias-edge, CC or join/distinct jobs,
            # and the small driver-built frame it yields needs no cache
            dico = load_dico(spark, entity_dict.collect())
        else:
            dico = canonicalize_dict(entity_dict)
    # the regime is applied as a hint both ways, so Catalyst's own
    # auto-broadcast threshold cannot overrule it
    triples = build_triples(
        fused, F.broadcast(dico) if broadcast else dico.hint("merge")
    )
    if lineage is None:
        return triples
    # the lineage pass-through sits AFTER the rollup: MapInArrow's output
    # attributes are new, so between the url repartition and the rollup
    # it would hide the HashPartitioning(url) the rollup reuses and plan
    # an extra exchange
    return triples.mapInArrow(_count_triples(lineage), triples.schema)


LINEAGE_SCHEMA = "stage string, partition_id int, rows long, urls long, wall_ms long"
# the same columns as Arrow, for the lineage files written on the driver
LINEAGE_ARROW = pa.schema(
    [
        ("stage", pa.string()),
        ("partition_id", pa.int32()),
        ("rows", pa.int64()),
        ("urls", pa.int64()),
        ("wall_ms", pa.int64()),
    ]
)

# the order of one batch's lineage rows: the fused table, its row kinds
# (the lineage stage names of extract.FUSED_KINDS), the triples
LINEAGE_STAGES = ("fused", *FUSED_KINDS, "triples")


class _LatestReport(AccumulatorParam):
    """Merge of the lineage accumulator's (stage, partition_id) ->
    (rows, urls, wall_ms) dict: a key's new report REPLACES the old one.
    Spark may apply one partition's update more than once (a retried
    task, a recomputed stage, a plan run twice); every run of a
    partition reports the same counts, so overwriting is idempotent
    where adding would double-count."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, value: dict, update: dict) -> dict:
        value.update(update)
        return value


def lineage_accumulator(spark: SparkSession) -> Accumulator:
    """A fresh lineage accumulator for one build: hand it to
    ``build_kg(lineage=)``, run the build's action, then turn its value
    into rows with ``stage_lineage``."""
    return spark.sparkContext.accumulator({}, _LatestReport())


def _count_triples(lineage: Accumulator):
    """The ``mapInArrow`` pass-through that reports each triples
    partition's row count and exact distinct urls to ``lineage``."""

    def count(batches: Iterator) -> Iterator:
        import pyarrow.compute as pc
        from pyspark import TaskContext

        rows, urls = 0, set()
        for batch in batches:
            rows += batch.num_rows
            urls.update(pc.unique(batch.column("url")).to_pylist())
            yield batch
        if rows:
            pid = TaskContext.get().partitionId()
            lineage.add({("triples", pid): (rows, len(urls), 0)})

    return count


def stage_lineage(
    counts: dict, triples_wall_ms: int
) -> list[tuple[str, int, int, int, int]]:
    """The lineage accumulator's value as ``LINEAGE_SCHEMA`` rows
    (stage, partition_id, rows, urls, wall_ms), in ``LINEAGE_STAGES``
    order, partitions ascending. Every count is exact.

    The extraction kernel reports the fused table and its three row
    kinds per extraction task: partition_id is that task's partition,
    and the fused row's wall_ms is the kernel's wall in the task (the
    kinds ride the same pass and record 0). The triples pass-through
    reports per triples partition, the partition of the committed
    ``part-<pid>`` file; those rows carry ``triples_wall_ms``, the wall
    of the action that builds and writes the batch. A partition with no
    rows of a stage has no row for it. The rows are tiny (#stages x
    #partitions), so they stay a driver-side list."""
    order = {stage: i for i, stage in enumerate(LINEAGE_STAGES)}
    return [
        (stage, pid, rows, urls, triples_wall_ms if stage == "triples" else wall)
        for (stage, pid), (rows, urls, wall) in sorted(
            counts.items(), key=lambda kv: (order[kv[0][0]], kv[0][1])
        )
    ]
