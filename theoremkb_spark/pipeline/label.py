"""Stage 2 — LABEL: token stream -> (label, group) result spans.

``label_tokens`` is the reference's naive rule extractor
(``Styling/src/lib/extractors/results/naive_extractor.py:20-55``) as
pure DataFrame/window functions over the token table, fully JVM-side
(whole-stage codegen, zero Python): the cross-check of the production
pass and the labeler of ``__spark_entry__``'s ``kg_spans`` surface.

``build_kg`` labels inside the extract Arrow pass instead
(``extract.extract_spans``), so the token stream never crosses a
shuffle: the same rule state machine, or a trained sequence model
Viterbi-tagged and BIO-decoded per document
(``extractors/crf.py:89-132``). The fused pass and ``label_tokens``
are tested to emit identical triples.

Span-open rule: a line-initial token whose word-pattern (get_pattern,
misc/__init__.py:32-43) is a result label and whose font is bold or
italic opens a span; a block-initial line that does not open closes the
current span. Group = running count of opens per document in reading
order — derived from ordinal windows, never monotonically_increasing_id
(SURVEY §7.4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import RESULT_LABELS

ORDER = ["page", "block", "line", "word"]


def _pattern_col(col):
    """get_pattern as JVM expressions: strip non-alnum, digits->@, lower."""
    return F.lower(
        F.regexp_replace(F.regexp_replace(col, r"[^a-zA-Z0-9 ]", ""), r"[0-9]", "@")
    )


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
