"""End-to-end pipeline gates (SURVEY §5.2): byte-identical extraction,
triple P/R vs the reference-semantics oracle, two-run determinism,
fused-vs-window labeler agreement."""

import pytest
from pyspark.sql import functions as F
from window_path import window_fused

from theoremkb_spark.corpus.generator import build_corpus, entity_dict_rows
from theoremkb_spark.corpus.oracle import oracle_triples
from theoremkb_spark.pipeline.canon import canonicalize_dict
from theoremkb_spark.pipeline.extract import (
    extract_spans,
    extract_text,
    extract_tokens,
    load_pages,
)
from theoremkb_spark.pipeline.runner import build_kg, build_triples, load_entity_dict

N_DOCS = 40


@pytest.fixture(scope="module")
def pages(spark):
    return load_pages(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def entity_dict(spark):
    return load_entity_dict(spark, N_DOCS).cache()


def test_byte_identical_extraction(spark, pages):
    """The per-url invariant from BASELINE.json input_hint."""
    got = {r.url: r.text for r in extract_text(pages).collect()}
    want = {r.url: r.text for r in pages.select("url", "text").collect()}
    assert got == want  # bytewise equality, all urls


def test_triple_parity(spark, pages, entity_dict):
    """Triple P/R >= 0.95 gate — we hold it at exactly 1.0."""
    got = {
        (r.subj, r.pred, r.obj, r.url)
        for r in build_kg(spark, pages, entity_dict).collect()
    }
    exp = oracle_triples(list(build_corpus(N_DOCS)), entity_dict_rows(N_DOCS))
    fp, fn = got - exp, exp - got
    assert not fp, f"false positives: {sorted(fp)[:5]}"
    assert not fn, f"false negatives: {sorted(fn)[:5]}"
    assert len(got) > 100  # sanity: non-trivial corpus


def test_two_run_determinism(spark, pages, entity_dict):
    t1 = build_kg(spark, pages, entity_dict)
    t2 = build_kg(spark, pages, entity_dict)
    assert t1.exceptAll(t2).isEmpty()
    assert t2.exceptAll(t1).isEmpty()


def test_fused_and_window_paths_emit_identical_triples(spark, pages, entity_dict):
    """The fused single-Arrow-pass front end and the window-function
    pipeline are alternative physical plans of the same logical job."""
    fused = build_kg(spark, pages, entity_dict)
    window = build_triples(
        window_fused(pages), F.broadcast(canonicalize_dict(entity_dict))
    )
    assert fused.exceptAll(window).isEmpty()
    assert window.exceptAll(fused).isEmpty()


def test_build_kg_rejects_bad_inputs(spark, pages):
    """Neither dictionary input fails fast with a ValueError naming the
    required inputs."""
    with pytest.raises(ValueError, match="entity_dict or dico"):
        build_kg(spark, pages)


def test_non_english_filtered(spark, pages):
    langs = {r.lang for r in pages.select("lang").distinct().collect()}
    tokens = extract_tokens(pages)
    token_urls = {r.url for r in tokens.select("url").distinct().collect()}
    non_en = {r.url for r in pages.filter("lang <> 'en'").select("url").collect()}
    assert not (token_urls & non_en)
    if len(langs) > 1:
        assert non_en  # corpus does contain non-en rows at this size


def test_window_path_regexes_case_insensitive(spark):
    """ADVICE round-1: the JVM regex constants must match the frozen
    Python twins (re.IGNORECASE) on lowercase/uppercase inputs, e.g.
    'proof. [Proof of theorem 2]' or an 'OPEN Problem 4' head."""
    from window_path import resolve_span_names

    from theoremkb_spark.functions.text import find_thm_proof, find_thm_start

    rows = [
        ("u", 1, "lemma", "OPEN Problem 4 holds trivially."),
        ("u", 2, "proof", "Proof. [Proof of theorem 2] qed"),
        ("u", 3, "proof", "proof OF Lemma 1.2. direct."),
    ]
    spans = spark.createDataFrame(rows, "url string, group long, label string, text string")
    got = {r.group: r.own_name for r in resolve_span_names(spans).collect()}
    want = {
        1: (find_thm_start(rows[0][3]) or "").lower() or None,
        2: (find_thm_proof(rows[1][3]) or "").lower() or None,
        3: (find_thm_proof(rows[2][3]) or "").lower() or None,
    }
    assert got[1] == want[1] == "open problem 4"
    assert got[2] == want[2] == "theorem 2"
    assert got[3] == want[3] == "lemma 1.2"


@pytest.mark.parametrize("regime", ["broadcast", "shuffled"])
@pytest.mark.parametrize("path", ["fused", "window"])
def test_triple_groups_match_sequential_oracle(
    spark, pages, entity_dict, path, regime, tmp_path, monkeypatch
):
    """Provenance groups (min span group per triple) must match the
    sequential oracle — the surface behind the kg_triples DuckDB gate —
    for both front ends in both dictionary-join regimes. The shuffled
    regime reads the dictionary back from parquet (a driver-local
    frame's unknowable estimate always counts as broadcast-sized) and
    lowers the broadcast threshold under it; the window path takes the
    regime build_kg would pick."""
    from theoremkb_spark.corpus.oracle import oracle_triples_grouped
    from theoremkb_spark.operators import joins

    if regime == "shuffled":
        path = str(tmp_path / "entity_dict.parquet")
        entity_dict.write.parquet(path)
        entity_dict = spark.read.parquet(path)
        monkeypatch.setattr(joins, "BROADCAST_MAX_BYTES", -1)
    if path == "fused":
        kg = build_kg(spark, pages, entity_dict)
    else:
        dico = canonicalize_dict(entity_dict)
        if joins.fits_broadcast(entity_dict):
            dico = F.broadcast(dico)
        kg = build_triples(window_fused(pages), dico)
    got = {(r.subj, r.pred, r.obj, r.url): r.group for r in kg.collect()}
    exp = oracle_triples_grouped(list(build_corpus(N_DOCS)), entity_dict_rows(N_DOCS))
    assert got == exp


@pytest.mark.parametrize("path", ["fused", "window"])
def test_span_rows_match_sequential_oracle(spark, pages, path):
    """Span-level (url, group, label, n_tokens) parity vs the sequential
    labeler-semantics + GOLD-segmentation oracle — the surface behind
    the kg_spans gate — for the fused pass's span rows (what the gate
    runs) and for the window path (label layer, then the parent-class
    constraint)."""
    from window_path import window_spans

    from theoremkb_spark.corpus.oracle import oracle_doc_spans

    if path == "fused":
        spans = extract_spans(pages).filter(F.col("kind") == "span")
    else:
        spans = window_spans(extract_tokens(pages))
    got = {
        (r.url, r.group, r.label, r.n_tokens)
        for r in spans.select("url", "group", "label", "n_tokens").collect()
    }
    exp = {
        (doc.url, g, lbl, n)
        for doc, _t in build_corpus(N_DOCS)
        for g, lbl, n in oracle_doc_spans(doc)
    }
    assert got == exp
