"""The window-function labeler in ``build_kg``'s fused shape.

``window_fused(pages)`` runs the token path — ``extract_tokens`` ->
``label_tokens`` -> the segmenter's parent constraint ->
``assemble_spans`` / ``resolve_span_names`` -> ``mine_mentions`` +
``paper_citations`` — and unions its spans, mentions and citation
anchors into the rows ``extract.extract_spans`` emits. Feed it to
``runner.build_triples`` to cross-check the production pass against an
independent, JVM-side implementation of the same labeling semantics.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from theoremkb_spark.pipeline.extract import extract_tokens
from theoremkb_spark.pipeline.label import label_tokens
from theoremkb_spark.pipeline.mentions import (
    assemble_spans,
    mine_mentions,
    paper_citations,
    resolve_span_names,
)
from theoremkb_spark.pipeline.segment import apply_parent_constraint


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
