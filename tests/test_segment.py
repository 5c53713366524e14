"""8-label segmentation layer, parent-class constraint, header titles.

Reference semantics under test:
* SegmentationAnnotationClass vocabulary (classes/__init__.py:73-83);
* ResultsAnnotationClass parents = segmentation {body, annex}
  (classes/__init__.py:135; get_box_validator paper/__init__.py:405-428);
* HeaderAnnotationClass title extraction (_refresh_title,
  paper/__init__.py:305-317).
"""

import pytest
from pyspark.sql import functions as F


def test_segment_blocks_recover_gold(spark):
    """The structural segmenter must recover the generator's GOLD
    per-block segmentation label for EVERY block of every English doc —
    all 8 labels exercised (front/body/annex/acknowledgement/
    bibliography via headings, headnote/footnote/page via marginals)."""
    from theoremkb_spark.corpus.generator import build_corpus
    from theoremkb_spark.pipeline.extract import extract_tokens, load_pages
    from theoremkb_spark.pipeline.segment import segment_blocks

    n = 20
    got = {
        (r.url, r.block): r.segment
        for r in segment_blocks(extract_tokens(load_pages(spark, n))).collect()
    }
    want = {}
    seen_labels = set()
    for doc, _t in build_corpus(n):
        if doc.lang != "en":
            continue
        for bi, b in enumerate(doc.blocks):
            want[(doc.url, bi)] = b.seg
            seen_labels.add(b.seg)
    assert got == want
    # the corpus exercises at least 7 of the 8 labels at n=20
    assert {"front", "body", "bibliography", "headnote", "page"} <= seen_labels


def test_extract_titles_match_gold(spark):
    """Pipeline-extracted titles == the gold title (capitalized token
    rendering) for every English document — the title parity gate."""
    from theoremkb_spark.corpus.generator import build_corpus
    from theoremkb_spark.pipeline.extract import extract_tokens, load_pages
    from theoremkb_spark.pipeline.segment import extract_titles

    n = 20
    got = {
        r.url: r.title
        for r in extract_titles(extract_tokens(load_pages(spark, n))).collect()
    }
    want = {
        doc.url: " ".join(w.capitalize() for w in doc.title.split())
        for doc, _t in build_corpus(n)
        if doc.lang == "en"
    }
    assert got == want


def _lookalike_doc_ids(n: int) -> list[int]:
    from theoremkb_spark.corpus.generator import build_corpus

    out = []
    for doc, _t in build_corpus(n):
        if doc.lang == "en" and any(
            b.kind == "theorem" and b.seg not in ("body", "annex")
            for b in doc.blocks
        ):
            out.append(doc.idx)
    return out


def test_front_matter_lookalikes_rejected(spark, tmp_path):
    """A bold 'Theorem 9.9.' in the abstract (and 'Theorem 9.8.' in the
    acknowledgements) IS matched by the label layer but must produce NO
    triples: the parent constraint rejects result spans outside
    segmentation {body, annex}. Every front end is checked — the fused
    pass with the rule labeler and with a trained model (trained on the
    unconstrained rule tags, so it tags the lookalikes too), and the
    window path; the unconstrained label layer is probed to prove the
    lookalike is real (i.e. the constraint, not the labeler, is doing
    the rejection)."""
    from window_path import label_tokens, window_fused

    from theoremkb_spark.ml.crf import ensure_crf_artifact
    from theoremkb_spark.pipeline.canon import canonicalize_dict
    from theoremkb_spark.pipeline.extract import extract_tokens, load_pages
    from theoremkb_spark.pipeline.runner import (
        build_kg,
        build_triples,
        load_entity_dict,
    )

    n = 20
    ids = _lookalike_doc_ids(n)
    assert ids, "corpus must contain at least one front/ack lookalike at n=20"

    pages = load_pages(spark, n)
    tokens = extract_tokens(pages)
    ents = load_entity_dict(spark, n)

    # the UNCONSTRAINED label layer sees the lookalike spans
    raw = (
        label_tokens(tokens)
        .filter(F.col("label") != "O")
        .filter(F.col("word") == 1)  # the number token of the head
        .filter(F.col("text").isin("9.9.", "9.8."))
        .count()
    )
    assert raw >= len(ids)

    # ... but no path emits a triple for them
    model = ensure_crf_artifact(str(tmp_path), trainer="perceptron")
    paths = {
        "fused": build_kg(spark, pages, ents),
        "model": build_kg(spark, pages, ents, model_file=model),
        "window": build_triples(
            window_fused(pages), F.broadcast(canonicalize_dict(ents))
        ),
    }
    for name, kg in paths.items():
        bad = [
            r for r in kg.collect()
            if "theorem 9.9" in r.subj or "theorem 9.8" in r.subj
            or "theorem 9.9" in r.obj or "theorem 9.8" in r.obj
        ]
        assert not bad, (name, bad[:3])


def test_annex_results_kept_and_group_gaps(spark, tmp_path):
    """The constraint must KEEP appendix (annex) results, and a rejected
    open still consumes a group number — the label layer numbers every
    span, the constraint only drops boxes (reference layer split). A
    trained model's spans go through the same constraint, so they keep
    the same numbers and gaps."""
    from theoremkb_spark.corpus.generator import build_corpus, render_html
    from theoremkb_spark.ml.crf import ensure_crf_artifact
    from theoremkb_spark.pipeline.extract import _doc_spans, _load_model

    from theoremkb_spark.functions.text import RESULT_LABELS, get_pattern

    n = 20
    label_set = frozenset(RESULT_LABELS)
    model = _load_model(ensure_crf_artifact(str(tmp_path), trainer="perceptron"))
    checked_annex = checked_gap = False
    for doc, _t in build_corpus(n):
        if doc.lang != "en":
            continue
        html = render_html(doc)
        spans, _tags = _doc_spans(doc.url, html)
        assert _doc_spans(doc.url, html, model) == (spans, _tags), doc.idx
        groups = [g for g, _l, _t2, _o, _n in spans]

        # gold replay: every open consumes a group number; only opens in
        # {body, annex} are emitted
        expected, g = [], 0
        for b in doc.blocks:
            first = b.lines[0][0] if b.lines and b.lines[0] else None
            if (
                first is not None
                and first.font in ("f1", "f2")
                and get_pattern(first.text) in label_set
            ):
                g += 1
                if b.seg in ("body", "annex"):
                    expected.append(g)
        assert groups == expected, doc.idx

        if any(b.seg == "annex" and b.kind in ("theorem", "lemma") for b in doc.blocks):
            assert any(
                own and lbl in ("theorem", "lemma")
                for _g, lbl, _t2, own, _n in spans
            )
            checked_annex = True
        if expected and expected != list(range(1, len(expected) + 1)):
            checked_gap = True  # a rejected open left a hole in the numbering
    assert checked_annex and checked_gap


# Hand-written pages where a bold or italic result word opens a line in
# a MARGINAL block that the running segment calls body. Lines are lists
# of (font, text); f1 is bold, f2 italic (generator.FONTS). The last
# block is a plain body theorem of 5 tokens that every path keeps.
_BODY_HEADING = [[("f1", "1"), ("f1", "Introduction")]]
_BODY_THEOREM = [[("f1", "Theorem"), ("f0", "3."), ("f0", "Body"),
                  ("f0", "results"), ("f0", "hold.")]]
_MARGINAL_PAGES = {
    # a footnote block (first token dagger-initial): its second line
    # opens an italic Theorem (group 1); the body theorem is group 2
    "footnote": [
        [[("f0", "Marginal"), ("f0", "Cases")]],
        _BODY_HEADING,
        [[("f0", "†1"), ("f0", "A"), ("f0", "footnote.")],
         [("f2", "Theorem"), ("f0", "2."), ("f0", "Footnotes"), ("f0", "hold.")]],
        _BODY_THEOREM,
    ],
    # the running headnote repeats a title that starts with a bold
    # Theorem: the title's open is rejected in front (group 1 is
    # consumed there), the headnote's opens group 2 in body and the
    # body theorem is group 3
    "headnote": [
        [[("f1", "Theorem"), ("f0", "Proving"), ("f0", "Things")]],
        _BODY_HEADING,
        [[("f1", "Theorem"), ("f0", "Proving"), ("f0", "Things")]],
        _BODY_THEOREM,
    ],
}


def _marginal_page(spark, kind):
    from theoremkb_spark.corpus.generator import FONTS
    from theoremkb_spark.pipeline.extract import PAGES_SCHEMA

    parts = [f'<meta name="font" id="{f}" family="{fam}" size="{sz}"/>'
             for f, fam, sz in FONTS]
    parts.append('<section class="page" n="0">')
    for b, lines in enumerate(_MARGINAL_PAGES[kind]):
        parts.append(f'<div class="block" n="{b}">')
        for line in lines:
            words = "".join(
                f'<w f="{f}" x="0" y="0" w="1" h="1">{t}</w>' for f, t in line
            )
            parts.append(f'<p class="line">{words}</p>')
        parts.append("</div>")
    parts.append("</section>")
    html = "".join(parts).encode("utf-8")
    return spark.createDataFrame([(kind, None, html, None, "en")], PAGES_SCHEMA)


def _window_span_rows(pages):
    from window_path import window_spans

    from theoremkb_spark.pipeline.extract import extract_tokens

    return {tuple(r) for r in window_spans(extract_tokens(pages)).collect()}


@pytest.mark.parametrize("kind", sorted(_MARGINAL_PAGES))
def test_window_path_drops_spans_in_marginal_blocks(spark, kind):
    """The window path applies segment_blocks' marginal overrides: the
    span opened in the footnote / headnote block is dropped (its group
    number stays consumed), the body theorem is kept."""
    from theoremkb_spark.pipeline.extract import extract_tokens
    from theoremkb_spark.pipeline.segment import segment_blocks

    pages = _marginal_page(spark, kind)
    segs = [
        r.segment
        for r in segment_blocks(extract_tokens(pages)).orderBy("block").collect()
    ]
    assert segs == ["front", "body", kind, "body"]
    group = {"footnote": 2, "headnote": 3}[kind]
    assert _window_span_rows(pages) == {(kind, group, "theorem", 5)}


@pytest.mark.xfail(
    strict=True,
    reason="the fused segment tracker (extract._doc_spans) follows only the "
    "running segment, without segment_blocks' marginal overrides, so a span "
    "opened in a footnote or running-headnote block survives where "
    "get_box_validator (paper/__init__.py:405-428) drops it",
)
@pytest.mark.parametrize("kind", sorted(_MARGINAL_PAGES))
def test_fused_matches_window_in_marginal_blocks(spark, kind):
    from theoremkb_spark.pipeline.extract import extract_spans

    pages = _marginal_page(spark, kind)
    fused = {
        tuple(r)
        for r in extract_spans(pages)
        .filter(F.col("kind") == "span")
        .select("url", "group", "label", "n_tokens")
        .collect()
    }
    assert fused == _window_span_rows(pages)
