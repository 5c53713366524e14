"""Giant-document resilience gates (round-5 verdict #4).

extract.py's scale notes claim the Arrow batch cap protects against one
huge document; these gates actually feed one. Hazards covered:

* a single ~50 MB html page through the extraction path —
  byte-identical text, correct token count, no job failure;
* a ~5 MB SINGLE-LINE document (no whitespace framing to split on)
  through the SimHash Arrow kernel and the fuzzy-link LSH path (whose
  per-id collect_set carry is the size-sensitive spot).

All runs execute under the session's pinned Arrow batch config
(spark.sql.execution.arrow.maxRecordsPerBatch) — asserted below so a
config regression fails here, not at 100 TB.
"""

import pytest
from pyspark.sql import functions as F

from theoremkb_spark.corpus.generator import (
    Block,
    Doc,
    Token,
    doc_text,
    doc_url,
    render_html,
)

GIANT_HTML_MB = 50


@pytest.fixture(scope="module")
def giant_page(spark, tmp_path_factory):
    """One ~50 MB html page, built from ALIASED blocks (one Block object
    repeated) so the driver never holds millions of Token objects."""
    words = [Token(w) for w in "giant document stress gate token stream".split()]
    block = Block("para", [list(words)] * 4, seg="body")
    # calibrate blocks-per-MB from a 100-block probe render
    probe = len(
        render_html(
            Doc(url="probe", title="p", lang="en", blocks=[block] * 100, idx=0)
        )
    )
    n_blocks = (GIANT_HTML_MB * 1024 * 1024 * 100) // probe
    doc = Doc(
        url=doc_url(999_999),
        title="giant stress doc",
        lang="en",
        blocks=[block] * n_blocks,
        idx=999_999,
    )
    html = render_html(doc)
    assert len(html) >= GIANT_HTML_MB * 1024 * 1024 * 0.8
    text = doc_text(doc)
    path = str(tmp_path_factory.mktemp("giant") / "pages.parquet")
    spark.createDataFrame(
        [(doc.url, doc.warc_ts, html, text, doc.lang)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).write.mode("overwrite").parquet(path)
    n_tokens = sum(len(line) for b in doc.blocks for line in b.lines)
    return path, text, n_tokens


def test_arrow_batch_cap_pinned(spark):
    assert int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")) <= 10000


def test_giant_doc_extraction_byte_identical(spark, giant_page):
    from theoremkb_spark.pipeline.extract import extract_text, extract_tokens

    path, want_text, n_tokens = giant_page
    pages = spark.read.parquet(path)
    [row] = extract_text(pages).collect()
    assert row.text == want_text  # bytewise, all ~7 MB of it
    assert extract_tokens(pages).count() == n_tokens


def test_single_line_doc_simhash_and_fuzzy_link(spark, caches):
    """A multi-MB document with NO newlines: the tokenizers see one
    giant line, the fuzzy-link rollup carries one giant shingle set."""
    from theoremkb_spark.operators.dedup import simhash_near_dups
    from theoremkb_spark.pipeline.link import fuzzy_link_lsh

    single_line = " ".join(f"tok{i % 9973}" for i in range(700_000))  # ~5 MB
    assert "\n" not in single_line and len(single_line) > 4_500_000
    docs = spark.createDataFrame(
        [
            (0, single_line),
            (1, single_line + " tail variant"),
            (2, "ordinary small document text"),
        ],
        "doc_id long, text string",
    )
    pairs = simhash_near_dups(
        docs, "doc_id", "text", max_hamming=8, cache_registry=caches
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} >= {(0, 1)}  # near-dup survives

    # fuzzy link: a ~250 KB slice of the giant text IS the mention
    # string — the per-id collect_set carry holds its full char-5-gram
    # set (~200k longs, vs ~60 for the production 64-char keys); must
    # complete and link the truncated-prefix mention to its dictionary
    # twin. (Full-MB keys are deliberately not fed here: char-gram
    # generation is per-position and the link stage's contract is
    # short keys — the gate checks the CARRY survives a giant set,
    # at a size that keeps the suite under control.)
    mentions = docs.filter("doc_id = 0").select(
        "doc_id", F.substring("text", 1, 200_000).alias("key")
    )
    dictionary = docs.filter("doc_id in (0, 2)").select(
        "doc_id", F.substring("text", 1, 250_000).alias("key")
    )
    links = fuzzy_link_lsh(
        mentions, dictionary, id_col="doc_id", text_col="key",
        dict_id_col="doc_id", dict_text_col="key", threshold=0.5,
        cache_registry=caches,
    ).collect()
    assert [(r.src, r.dst) for r in links] == [(0, 0)]
