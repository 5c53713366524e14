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

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.joins import fits_broadcast
from .canon import canonicalize_dict
from .extract import extract_spans

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
    the half-dozen tiny Spark jobs (see canon.canonicalize_rows). This
    is the path ``build_kg`` itself takes in the broadcast regime when
    no ``dico`` is passed."""
    from .canon import canonicalize_rows

    return spark.createDataFrame(
        canonicalize_rows(dict_rows),
        schema="url string, tag string, pdf_to_canon string",
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
    stages_out: dict[str, DataFrame] | None = None,
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

    Pass ``cache_registry`` (a list) to collect the cached stage
    intermediates (the fused table, cached only for ``stages_out``);
    hand it to ``release_caches`` after the terminal action so looped
    callers don't leak cached blocks.

    Pass ``stages_out`` (a dict) to receive the cached fused table —
    the hook ``stage_lineage`` uses to commit per-stage, per-partition
    lineage rows through the checkpoint store.
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
    fused = extract_spans(pages, model_file).repartition(
        spark.sparkContext.defaultParallelism, F.col("url")
    )
    if stages_out is not None:
        # the assembly consumes fused exactly ONCE — caching it only for
        # the lineage hook keeps the repartition's HashPartitioning(url)
        # statically visible otherwise, so the triple rollup plans with
        # NO exchange (a cached plan hides its partitioning behind
        # AdaptiveSparkPlan until materialized)
        fused = fused.cache()
        if cache_registry is not None:
            cache_registry.append(fused)
        stages_out["fused"] = fused
    if dico is None:
        if broadcast:
            # a broadcast-sized dictionary is canonicalized on the driver
            # from one collect: no alias-edge, CC or join/distinct jobs,
            # and the small driver-built frame it yields needs no cache
            dico = load_dico(spark, entity_dict.collect())
        else:
            dico = canonicalize_dict(entity_dict)
    return build_triples(fused, F.broadcast(dico) if broadcast else dico)


def lineage_rows(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition lineage/metrics rows (north rule): row counts and
    distinct-url counts per physical partition for a stage."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.approx_count_distinct("url").alias("urls"),
        )
        .select(
            F.lit(stage).alias("stage"),
            F.col("_pid").alias("partition_id"),
            "rows",
            "urls",
        )
    )


LINEAGE_SCHEMA = "stage string, partition_id int, rows long, urls long, wall_ms long"

# the fused table's row kinds, by the lineage stage name each reports as
FUSED_KINDS = {"spans": "span", "mentions": "mention", "citations": "cite"}


def _fused_lineage(fused: DataFrame) -> list[tuple[str, int, int, int]]:
    """(stage, partition_id, rows, urls) of 'fused' and of its three row
    kinds from ONE groupBy over the cached fused table. A kind's rows
    are a narrow filter of fused, so their partition ids are fused's;
    approx_count_distinct skips the NULLs the kind condition leaves, so
    every count equals ``lineage_rows`` over that filter. A kind absent
    from a partition gets no row there, as its own groupBy would."""
    kind, url = F.col("kind"), F.col("url")
    aggs = [
        F.count(F.lit(1)).alias("fused_rows"),
        F.approx_count_distinct(url).alias("fused_urls"),
    ]
    for name, k in FUSED_KINDS.items():
        aggs += [
            F.count(F.when(kind == k, 1)).alias(f"{name}_rows"),
            F.approx_count_distinct(F.when(kind == k, url)).alias(f"{name}_urls"),
        ]
    parts = fused.groupBy(F.spark_partition_id().alias("_pid")).agg(*aggs).collect()
    return [
        (name, r["_pid"], r[f"{name}_rows"], r[f"{name}_urls"])
        for name in ("fused", *FUSED_KINDS)
        for r in parts
        if r[f"{name}_rows"]
    ]


def stage_lineage(stages: dict[str, DataFrame]) -> list[tuple[str, int, int, int, int]]:
    """Per-partition lineage for every exposed stage, with a per-stage
    wall-ms measured around that stage's lineage action: the
    ``LINEAGE_SCHEMA`` rows (stage, partition_id, rows, urls, wall_ms).

    Attribution note: stages is insertion-ordered with the cached fused
    table FIRST, so its wall-ms carries the extraction cost. The spans,
    mentions and citations counts ride the fused stage's single pass,
    so those three derived stages record wall_ms 0; every other stage
    (triples) runs its own action over the warm cache and measures only
    that work. The rows are tiny (#stages x #partitions), so they stay
    a driver-side list that the store writes without another Spark job;
    the walls come from a monotonic clock, so none is negative."""
    rows = []
    for name, df in stages.items():
        t0 = time.perf_counter()
        if name == "fused":
            part = _fused_lineage(df)
        else:
            part = [
                (name, r.partition_id, r.rows, r.urls)
                for r in lineage_rows(df, name).collect()
            ]
        wall = int((time.perf_counter() - t0) * 1000)
        rows.extend(
            (stage, pid, n, urls, wall if stage == name else 0)
            for stage, pid, n, urls in part
        )
    return rows
