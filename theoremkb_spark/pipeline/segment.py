"""Stage 1.5 — SEGMENT: tokens -> per-block segmentation labels + titles.

The reference's ``segmentation`` annotation class coarsely separates a
document into 8 zones (``Styling/src/lib/classes/__init__.py:73-83``):
acknowledgement, front, headnote, footnote, body, bibliography, page,
annex. Two downstream consumers:

* the RESULTS parent-class constraint (``classes/__init__.py:135``,
  ``get_box_validator`` ``paper/__init__.py:405-428``): result spans are
  valid only where segmentation in {body, annex}. The labeler applies
  the running-segment state machine inside its Arrow pass
  (extract._doc_spans), for the rule labeler and a trained model alike,
  but not the block-local marginal overrides below — no result span on
  the test corpora reaches a page-number, footnote or headnote block.
* the HEADER class (``classes/__init__.py:101-106``): the title lives
  in the front segment; ``extract_titles`` mirrors the reference's
  ``_refresh_title`` (``paper/__init__.py:305-317``) — concatenate the
  title block's token contents in reading order, the key of the
  ``link_title_match`` query.

Everything here is pure DataFrame expressions over the token table —
one groupBy (url, block) rollup, then window passes that all reuse the
url partitioning. No Python UDFs.

Rules (structural, recovering the generator's gold ``Block.seg``):

* running segment: documents open in ``front``; a bold block-initial
  marker flips it — an all-digit first token is a numbered section
  heading (-> body), ``Appendix`` -> annex, ``Acknowledgements`` ->
  acknowledgement, ``References`` -> bibliography;
* marginal overrides (block-local): a single-line all-digit block is a
  page number (-> page); a dagger-initial block is a footnote; a block
  (after the title) whose full text equals the title is the running
  headnote. Real segmentation CRFs learn these from geometry+content
  features; the deterministic corpus makes the structural rules exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: the reference's full segmentation vocabulary (classes/__init__.py:73-83)
SEGMENTATION_LABELS = (
    "acknowledgement",
    "front",
    "headnote",
    "footnote",
    "body",
    "bibliography",
    "page",
    "annex",
)


def _pattern_col(col):
    """get_pattern as JVM expressions: strip non-alnum, digits->@, lower."""
    return F.lower(
        F.regexp_replace(F.regexp_replace(col, r"[^a-zA-Z0-9 ]", ""), r"[0-9]", "@")
    )


def _block_rollup(tokens: DataFrame) -> DataFrame:
    """One row per (url, block): ordered text, first-token pattern/bold,
    single-line + all-digit flags. ONE exchange (the groupBy hash);
    every downstream window reuses its url component."""
    first = F.min(
        F.struct(
            "page",
            "line",
            "word",
            _pattern_col(F.col("text")).alias("pat"),
            F.coalesce(F.col("bold"), F.lit(False)).alias("bold"),
            F.col("text").alias("text"),
        )
    ).alias("_first")
    return (
        tokens.groupBy("url", "block")
        .agg(
            first,
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("page", "line", "word", F.col("text").alias("t"))
                        )
                    ),
                    lambda x: x["t"],
                ),
            ).alias("block_text"),
            (F.max("line") == 0).alias("single_line"),
            F.min(F.col("text").rlike(r"^[0-9]+$")).alias("all_digits"),
        )
        .select(
            "url",
            "block",
            F.col("_first.pat").alias("first_pat"),
            F.col("_first.bold").alias("first_bold"),
            F.col("_first.text").alias("first_text"),
            "block_text",
            "single_line",
            "all_digits",
        )
    )


def segment_blocks(tokens: DataFrame) -> DataFrame:
    """tokens (extract.TOKEN_SCHEMA) -> (url, block, segment) with
    segment in SEGMENTATION_LABELS."""
    blocks = _block_rollup(tokens)

    is_marker = F.col("first_bold") & (
        F.col("first_pat").rlike(r"^@+$")
        | F.col("first_pat").isin("appendix", "acknowledgements", "references")
    )
    marker = F.when(
        is_marker,
        F.when(F.col("first_pat").rlike(r"^@+$"), F.lit("body"))
        .when(F.col("first_pat") == "appendix", F.lit("annex"))
        .when(F.col("first_pat") == "acknowledgements", F.lit("acknowledgement"))
        .otherwise(F.lit("bibliography")),
    )

    w_run = (
        Window.partitionBy("url")
        .orderBy("block")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.coalesce(
        F.last(marker, ignorenulls=True).over(w_run), F.lit("front")
    )

    is_page = F.col("single_line") & F.col("all_digits")
    is_foot = F.col("first_text").startswith("†")
    # the running head repeats the title verbatim: compare each block's
    # text against the document's title text (the first block that is
    # not a marginal), computed in the same url window
    is_marginal = is_page | is_foot
    title_block = F.min(F.when(~is_marginal, F.col("block"))).over(
        Window.partitionBy("url")
    )
    title_text = F.max(
        F.when(F.col("block") == title_block, F.col("block_text"))
    ).over(Window.partitionBy("url"))
    is_head = (F.col("block") > title_block) & (F.col("block_text") == title_text)

    segment = (
        F.when(is_page, F.lit("page"))
        .when(is_foot, F.lit("footnote"))
        .when(is_head, F.lit("headnote"))
        .otherwise(running)
    )
    return (
        blocks.withColumn("_title_block", title_block)
        .withColumn("segment", segment)
        .select("url", "block", "segment", "block_text", "_title_block")
    )


def extract_titles(tokens: DataFrame) -> DataFrame:
    """tokens -> (url, title): the header layer's title extraction
    (reference ``_refresh_title``, paper/__init__.py:305-317 — join the
    title boxes' CONTENTs with single spaces). The title block is the
    first non-marginal block, which by construction of the front
    segment is the title."""
    seg = segment_blocks(tokens)
    return (
        seg.filter(F.col("block") == F.col("_title_block"))
        .select("url", F.col("block_text").alias("title"))
    )


def norm_title(col):
    """lowercase + keep [a-z] only — the shared normalized-title key
    (reference get_links.py:74-85)."""
    return F.regexp_replace(F.lower(col), "[^a-z]", "")
