"""The window-function labeler: an independent JVM-side twin of the
fused Arrow pass (``extract.extract_spans``), kept as the tests'
cross-check of the library's only labeler.

``window_fused(pages)`` runs the token path — ``extract_tokens`` ->
``label_tokens`` -> ``apply_parent_constraint`` -> ``assemble_spans`` /
``resolve_span_names`` -> ``mine_mentions`` + ``paper_citations`` — and
unions its spans, mentions and citation anchors into the rows
``extract.extract_spans`` emits. Feed it to ``runner.build_triples`` to
cross-check the production pass against the same labeling semantics
written as DataFrame expressions.

* ``label_tokens`` is the reference's naive rule extractor
  (``Styling/src/lib/extractors/results/naive_extractor.py:20-55``) as
  window functions over the token table. Span-open rule: a line-initial
  token whose word-pattern (get_pattern, misc/__init__.py:32-43) is a
  result label and whose font is bold or italic opens a span; a
  block-initial line that does not open closes the current span. Group =
  running count of opens per document in reading order — derived from
  ordinal windows, never monotonically_increasing_id (SURVEY §7.4.3).
* ``apply_parent_constraint`` keeps result tokens only in blocks that
  ``segment.segment_blocks`` puts in {body, annex}
  (``classes/__init__.py:135``, ``get_box_validator``
  ``paper/__init__.py:405-428``), marginal overrides included.
* ``assemble_spans`` .. ``paper_citations`` re-express the reference's
  per-document state machine (``extract_results``,
  Styling/tools/theoremdb/extract_graph.py:133-229) declaratively:
  link-marker transforms are per-token expressions, span text is an
  ordered aggregation, normalization and reference mining
  (``find_ref_results``, extract_graph.py:44-130) are pandas UDFs over
  the span table, and the last-theorem fallback for anonymous proofs
  (extract_graph.py:247-254) is a forward-fill window with a reset
  sentinel.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from theoremkb_spark.functions.text import RESULT_LABELS
from theoremkb_spark.pipeline.extract import extract_tokens
from theoremkb_spark.pipeline.segment import _pattern_col, segment_blocks

ORDER = ["page", "block", "line", "word"]

#: parents of the results class (classes/__init__.py:135)
RESULT_PARENT_SEGMENTS = ("body", "annex")

# (?i) prefixes keep the JVM regexes interchangeable with their frozen
# Python twins (RE_THM_START / RE_PROOF_BRACKET / RE_RESULT_NAME in
# functions/text.py all carry re.IGNORECASE).
NUM_RE = r"(([a-z]\.)?\d+(\.\d+)*)"
THM_START_RE = r"(?i)^((open )?(\w+) ([a-z]\.)?\d+(\.\d+)*)"
PROOF_BRACKET_RE = r"(?i)Proof. \[([^\]]+)\]"
RESULT_NAME_RE = r"(?i)((\w+) ([a-z]\.)?\d+(\.\d+)*)"
PROOF_OF_RE = r"(?i)Proof of ((\w+) ([a-z]\.)?\d+(\.\d+)*)"

_RESET = "\x00"  # lastThm reset sentinel (unnamed statement)


def label_tokens(tokens: DataFrame) -> DataFrame:
    """Window-function labeler. One shuffle (hash by url), then two
    running windows over the same sort — Catalyst collapses them into a
    single Window node."""
    w = Window.partitionBy("url").orderBy(*ORDER)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    pattern = _pattern_col(F.col("text"))
    opens = (
        (F.col("word") == 0)
        & pattern.isin(*RESULT_LABELS)
        & (F.coalesce(F.col("bold"), F.lit(False)) | F.coalesce(F.col("italic"), F.lit(False)))
    )
    closes = (F.col("word") == 0) & (F.col("line") == 0)

    event = F.when(opens, F.concat(F.lit("open:"), pattern)).when(closes, F.lit("close"))
    state = F.last(event, ignorenulls=True).over(run)
    group_counter = F.sum(opens.cast("long")).over(run)

    return (
        tokens.withColumn("_state", state)
        .withColumn("_n", group_counter)
        .withColumn(
            "label",
            F.when(
                F.col("_state").startswith("open:"), F.substring(F.col("_state"), 6, 64)
            ).otherwise(F.lit("O")),
        )
        .withColumn(
            "group",
            F.when(F.col("label") == "O", F.lit(0)).otherwise(F.col("_n")),
        )
        .drop("_state", "_n")
    )


def allowed_blocks(tokens: DataFrame) -> DataFrame:
    """(url, block) pairs whose segment admits result spans — the
    semi-join side of the parent-class constraint (P4 wiring)."""
    return (
        segment_blocks(tokens)
        .filter(F.col("segment").isin(*RESULT_PARENT_SEGMENTS))
        .select("url", "block")
    )


def apply_parent_constraint(labeled: DataFrame, tokens: DataFrame) -> DataFrame:
    """Labeled SPAN tokens (label != 'O') restricted to blocks whose
    segment is a results parent — a left-semi join on (url, block).
    Group numbers keep their gaps: the label layer numbers every span;
    this filter only removes boxes, exactly the reference's
    get_box_validator semantics."""
    return labeled.filter(F.col("label") != "O").join(
        allowed_blocks(tokens), ["url", "block"], "left_semi"
    )


@F.pandas_udf(T.StringType())
def normalize_udf(s: pd.Series) -> pd.Series:
    """Frozen normalize (extract_graph.py:21-23): de-hyphenate + NFKD."""
    from theoremkb_spark.functions.text import normalize_text

    return s.map(normalize_text)


REFS_SCHEMA = T.StructType(
    [
        T.StructField("intras", T.ArrayType(T.StringType()), False),
        T.StructField(
            "extras",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("tag", T.StringType(), False),
                        T.StructField("name", T.StringType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)


@F.pandas_udf(REFS_SCHEMA)
def refs_udf(own: pd.Series, text: pd.Series) -> pd.DataFrame:
    """Vectorized find_ref_results over span texts."""
    from theoremkb_spark.functions.text import find_ref_results

    intras, extras = [], []
    for o, t in zip(own, text):
        _, intra, extra = find_ref_results(o, t or "")
        intras.append(sorted(set(intra)))
        extras.append(sorted({(tag, name) for tag, name in extra}))
    return pd.DataFrame(
        {
            "intras": intras,
            "extras": [[{"tag": a, "name": b} for a, b in e] for e in extras],
        }
    )


def assemble_spans(labeled: DataFrame) -> DataFrame:
    """labeled tokens -> spans(url, group, label, text, start/end ordinals).

    The marker transform happens before aggregation so the aggregation
    itself is a plain ordered string concat.
    """
    marked = F.when(
        F.col("link") == "cite", F.concat(F.lit("<LINK:"), F.col("text"), F.lit(">"))
    ).when(
        F.col("link") == "in", F.regexp_replace(F.col("text"), NUM_RE, "$1#in")
    ).otherwise(F.col("text"))

    return (
        labeled.filter(F.col("label") != "O")
        .withColumn("_marked", marked)
        .groupBy("url", "group", "label")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("page", "block", "line", "word", F.col("_marked").alias("t"))
                        )
                    ),
                    lambda x: x["t"],
                ),
            ).alias("raw_text"),
            F.min(F.struct("page", "block", "line", "word")).alias("start"),
            F.max(F.struct("page", "block", "line", "word")).alias("end"),
        )
        .withColumn("text", normalize_udf(F.col("raw_text")))
        .drop("raw_text")
    )


def resolve_span_names(spans: DataFrame) -> DataFrame:
    """Attach each span's own result name.

    Statements: head-anchored find_thm_start (extract_graph.py:26-31).
    Proofs: bracketed or "Proof of X" explicit target (find_thm_proof,
    extract_graph.py:34-41), else forward-filled last statement name.
    """
    thm_raw = F.regexp_extract(F.col("text"), THM_START_RE, 1)
    thm = F.when(thm_raw != "", thm_raw)  # null when unnamed

    bracket = F.regexp_extract(F.col("text"), PROOF_BRACKET_RE, 1)
    bracket_name = F.regexp_extract(bracket, RESULT_NAME_RE, 1)
    proof_of = F.regexp_extract(F.col("text"), PROOF_OF_RE, 1)
    explicit = F.when(bracket_name != "", bracket_name).when(proof_of != "", proof_of)

    is_proof = F.col("label") == "proof"
    named = spans.withColumn("_thm", F.when(~is_proof, thm)).withColumn(
        "_explicit", F.when(is_proof, explicit)
    )

    w = (
        Window.partitionBy("url")
        .orderBy("group")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # unnamed statements RESET lastThm to null (reference behaviour:
    # extract_links keeps lastThm = None after an unnamed span)
    last_candidate = F.when(~is_proof, F.coalesce(F.col("_thm"), F.lit(_RESET)))
    filled = F.last(last_candidate, ignorenulls=True).over(w)
    last_thm = F.when(filled != _RESET, filled)

    own = F.when(is_proof, F.coalesce(F.col("_explicit"), last_thm)).otherwise(
        F.col("_thm")
    )
    return named.withColumn("own_name", F.lower(own)).drop("_thm", "_explicit")


def mine_mentions(spans_named: DataFrame) -> DataFrame:
    """spans -> exploded mention rows.

    Output: (url, group, label, own_name, kind, ref_name, ref_tag)
    kind in {intra, extra}; extra rows carry the citation tag.
    """
    with_refs = spans_named.withColumn(
        "_refs", refs_udf(F.col("own_name"), F.col("text"))
    )
    # one UDF evaluation + ONE explode: intra and extra mentions are
    # merged into a single array of (kind, tag, name) structs first
    merged = F.concat(
        F.transform(
            F.col("_refs.intras"),
            lambda x: F.struct(
                F.lit("intra").alias("kind"),
                F.lit(None).cast("string").alias("tag"),
                x.alias("name"),
            ),
        ),
        F.transform(
            F.col("_refs.extras"),
            lambda e: F.struct(
                F.lit("extra").alias("kind"),
                e["tag"].alias("tag"),
                e["name"].alias("name"),
            ),
        ),
    )
    return with_refs.select(
        "url",
        "group",
        "label",
        "own_name",
        F.explode(merged).alias("_m"),
    ).select(
        "url",
        "group",
        "label",
        "own_name",
        F.lower(F.col("_m.name")).alias("ref_name"),
        F.col("_m.kind").alias("kind"),
        F.col("_m.tag").alias("ref_tag"),
    )


def paper_citations(tokens: DataFrame) -> DataFrame:
    """Doc-wide citation anchors -> (url, tag). Pure JVM filter+project —
    pushed down to the token scan."""
    return (
        tokens.filter(F.col("link") == "cite")
        .select("url", F.regexp_replace(F.col("text"), r"\W", "").alias("tag"))
        .distinct()
    )


def window_spans(tokens: DataFrame) -> DataFrame:
    """tokens -> the kg_spans surface (url, group, label, n_tokens) by
    the window path."""
    return (
        apply_parent_constraint(label_tokens(tokens), tokens)
        .groupBy("url", "group", "label")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )


def window_fused(pages: DataFrame) -> DataFrame:
    """English pages -> (span | mention | cite) rows by the window path."""
    tokens = extract_tokens(pages)
    labeled = apply_parent_constraint(label_tokens(tokens), tokens)
    spans = resolve_span_names(assemble_spans(labeled))
    mentions = mine_mentions(spans).withColumnRenamed("kind", "ref_kind")
    return (
        spans.select("url", "group", "label", "text", "own_name")
        .withColumn("kind", F.lit("span"))
        .unionByName(
            mentions.withColumn("kind", F.lit("mention")),
            allowMissingColumns=True,
        )
        .unionByName(
            paper_citations(tokens).withColumn("kind", F.lit("cite")),
            allowMissingColumns=True,
        )
    )
