"""Stage 2 — LABEL: token stream -> (label, group) result spans.

Two labelers over the token table, both emitting the same columns:

* ``label_tokens`` — the reference's naive rule extractor
  (``Styling/src/lib/extractors/results/naive_extractor.py:20-55``) as
  pure DataFrame/window functions, fully JVM-side (whole-stage codegen,
  zero Python): the cross-check of the fused production pass.
* ``label_tokens_arrow`` — ``applyInPandas`` grouped by url, the
  Arrow-batched sequence-inference stage of the north star: a TRAINED
  pickled model, loaded once per executor, Viterbi-tagged and
  BIO-decoded per document (``extractors/crf.py:89-132``; CRF
  apply-parity is the gate, not train-parity, SURVEY §2.9 M2).

The PRODUCTION path fuses the rule labeling into the extract Arrow pass
(``extract.extract_spans``) so the token stream never crosses a shuffle;
the fused pass and ``label_tokens`` are tested to emit identical triples.

Span-open rule: a line-initial token whose word-pattern (get_pattern,
misc/__init__.py:32-43) is a result label and whose font is bold or
italic opens a span; a block-initial line that does not open closes the
current span. Group = running count of opens per document in reading
order — derived from ordinal windows, never monotonically_increasing_id
(SURVEY §7.4.3).
"""

from __future__ import annotations

import pandas as pd
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


# --- Arrow-batched inference variant -------------------------------------

_MODEL_CACHE: dict = {}  # one model per (executor process, artifact)


def _resolve_artifact(name: str) -> str:
    """Absolute path, or a name registered through SparkContext.addFile
    (resolved per-executor via SparkFiles)."""
    import os

    if os.path.exists(name):
        return name
    from pyspark import SparkFiles

    return SparkFiles.get(name)


def _get_model(artifact: str):
    """Per-executor-memoized sequence tagger: a TRAINED pickled model
    (``ml.crf.load_artifact``: the chain perceptron, the lbfgs CRF or
    the CNN1D tagger), loaded ONCE per executor process (M1). Predict
    is pdf -> pdf with label/group: featurize, Viterbi-tag, BIO-decode
    to (label, group) exactly as the reference CRF apply does
    (Styling/src/lib/extractors/crf.py:89-132).
    """
    if artifact not in _MODEL_CACHE:
        import numpy as np

        from ..ml.crf import decode_bio, load_artifact, predict_tags

        ml_model = load_artifact(_resolve_artifact(artifact))

        def predict_ml(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(ORDER, kind="mergesort").reset_index(drop=True)
            tags = predict_tags(
                ml_model,
                pdf["text"].tolist(),
                pdf["bold"].fillna(False).tolist(),
                pdf["italic"].fillna(False).tolist(),
                pdf["word"].tolist(),
                pdf["line"].tolist(),
                pdf["block"].tolist(),
            )
            labels, groups = decode_bio(tags)
            pdf["label"] = labels
            pdf["group"] = np.asarray(groups, dtype="int64")
            return pdf

        _MODEL_CACHE[artifact] = predict_ml
    return _MODEL_CACHE[artifact]


def label_tokens_arrow(tokens: DataFrame, model_file: str) -> DataFrame:
    """applyInPandas-by-url labeler: the CRF-style Arrow inference stage.

    Sequence semantics stay sequential-per-document inside the UDF
    (SURVEY §7.4.2); parallelism comes from document-level grouping.
    ``model_file``: a pickled sequence-model artifact (``ml.crf``), by
    absolute path or by a name registered via ``sc.addFile`` — loaded
    once per executor, memoized across batches.
    """
    from pyspark.sql import types as T

    # copy — StructType.add mutates in place, which would corrupt the
    # DataFrame's cached client-side schema
    out_schema = T.StructType(
        list(tokens.schema.fields)
        + [
            T.StructField("label", T.StringType(), False),
            T.StructField("group", T.LongType(), False),
        ]
    )

    def infer(pdf: pd.DataFrame) -> pd.DataFrame:
        return _get_model(model_file)(pdf)

    return tokens.groupBy("url").applyInPandas(infer, schema=out_schema)
