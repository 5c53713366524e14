"""Property-based robustness gates (hypothesis) over the pure per-doc
functions — the recover-parse posture: arbitrary bytes must never crash
the extractor, and the fused span pass must agree with its own
row-oriented wrapper on any input."""

from hypothesis import given, settings
from hypothesis import strategies as st

from theoremkb_spark.corpus.generator import build_doc, render_html
from theoremkb_spark.functions.text import find_ref_results, get_pattern, normalize_text
from theoremkb_spark.pipeline.extract import _doc_spans, _parse_tokens


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2048))
def test_parse_never_crashes_on_garbage(blob):
    toks = _parse_tokens("u", blob)
    assert isinstance(toks, list)
    spans, tags = _doc_spans("u", blob)
    assert isinstance(spans, list) and isinstance(tags, list)


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=512))
def test_text_functions_total(s):
    # total functions: defined for every string, deterministic
    assert get_pattern(s) == get_pattern(s)
    assert normalize_text(s) == normalize_text(s)
    phrases, intra, extra = find_ref_results(None, s)
    assert isinstance(phrases, list)
    assert all(isinstance(t, tuple) and len(t) == 2 for t in extra)


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=5000))
def test_real_docs_roundtrip_and_span_group_invariants(i):
    doc = build_doc(i)
    html = render_html(doc)
    toks = _parse_tokens(doc.url, html)
    assert toks, "every generated doc has tokens"
    spans, tags = _doc_spans(doc.url, html)
    groups = [g for g, _, _, _, _ in spans]
    # group ids are strictly increasing positive ints; gaps are legal —
    # a rejected open (front/acknowledgement lookalike under the parent
    # constraint) still consumes its number (reference layer split)
    assert all(g > 0 for g in groups)
    assert groups == sorted(set(groups))
    assert all(text for _, _, text, _, _ in spans)
    assert all(own is None or own == own.lower() for _, _, _, own, _ in spans)
    assert all(n > 0 for *_, n in spans)


def test_malformed_numeric_attrs_yield_no_tokens_not_a_crash():
    """ADVICE round-1: a regex-matched but non-numeric attribute (x="")
    must not kill the task — the document yields zero tokens (S2)."""
    bad = (
        b'<html><head><meta name="font" id="f0" family="CMR10" size="9.96"/>'
        b'</head><body><section class="page" n="0"><div class="block" n="0">'
        b'<p class="line"><w f="f0" x="" y="72" w="10" h="9">word</w></p>'
        b"</div></section></body></html>"
    )
    assert _parse_tokens("u", bad) == []
    spans, tags = _doc_spans("u", bad)
    assert spans == [] and tags == []


def test_bad_font_size_yields_no_tokens():
    """float(size) on a malformed font meta is recovered per document."""
    bad = (
        b'<html><head><meta name="font" id="f0" family="CMR10" size="big"/>'
        b'</head><body><section class="page" n="0"><div class="block" n="0">'
        b'<p class="line"><w f="f0" x="56" y="72" w="10" h="9">word</w></p>'
        b"</div></section></body></html>"
    )
    assert _parse_tokens("u", bad) == []


def test_malformed_doc_rolls_back_only_its_own_rows():
    """Batch discipline: a failing document must not corrupt or drop the
    rows of healthy documents accumulated in the same columnar buffer."""
    from theoremkb_spark.pipeline.extract import TOKEN_SCHEMA, _parse_tokens_into

    good = render_html(build_doc(3))
    bad = (
        b'<html><head></head><body><section class="page" n="0">'
        b'<div class="block" n="0"><p class="line">'
        b'<w f="f0" x="nope" y="72" w="10" h="9">word</w></p>'
        b"</div></section></body></html>"
    )
    cols = {f.name: [] for f in TOKEN_SCHEMA.fields}
    n1 = _parse_tokens_into("good", good, cols)
    n2 = _parse_tokens_into("bad", bad, cols)
    n3 = _parse_tokens_into("good2", good, cols)
    assert n1 > 0 and n2 == 0 and n3 == n1
    assert len(cols["url"]) == n1 + n3
    assert all(len(v) == n1 + n3 for v in cols.values())
    assert set(cols["url"]) == {"good", "good2"}
