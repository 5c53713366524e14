"""Reference-semantics oracle: sequential, single-threaded triple extraction.

A deliberately simple Python mirror of the reference KG constructor
(``Styling/tools/theoremdb/extract_graph.py:133-288``) run over the
generator's token structures. The Spark pipeline is graded against this
oracle (triple P/R >= 0.95 gate, BASELINE.md), exactly as the reference's
``cli.py test`` harness compares predicted vs gold labels
(``Styling/src/cli.py:169-198``) — but at triple granularity.

Kept free of any Spark/pandas machinery on purpose: per-doc loops, dicts,
and a union-find. Slow and obvious beats fast and clever here.
"""

from __future__ import annotations

import re

from ..functions.text import (
    RESULT_LABELS,
    RE_NONWORD,
    find_ref_results,
    find_thm_proof,
    find_thm_start,
    get_pattern,
    normalize_text,
)
from .generator import Block, Doc

BOLD_OR_ITALIC = {"f1", "f2"}
# case-sensitive like the frozen pipeline twins (extract._RE_NUM_MARK and
# the tests' JVM NUM_RE): the reference's own call site passes re.IGNORECASE as
# re.sub's COUNT argument (extract_graph.py:174), so flags never apply
# there either.
RE_NUM_MARK = re.compile(r"(([a-z]\.)?\d+(\.\d+)*)")


# The reference's parent-class constraint (classes/__init__.py:135,
# get_box_validator paper/__init__.py:405-428): result boxes are valid
# only inside segmentation in {body, annex}. The ORACLE consumes the
# generator's GOLD per-block segmentation (Block.seg); the pipeline must
# recover the segment from observable structure and reach the same set.
RESULT_PARENT_SEGMENTS = {"body", "annex"}


def detect_spans(doc: Doc) -> list[tuple[int, str, Block]]:
    """Naive rule-labeler semantics (naive_extractor.py:20-55): a span opens
    at a line whose first token's word-pattern is a result label in bold or
    italic; a block-initial line that does not open closes the current span.
    Returns [(group, label, block)] — in this corpus a span is one block.

    Parent constraint (round 5): every open still CONSUMES a group number
    (the label layer numbers spans; the segmentation filter only drops
    boxes, exactly the reference's layer split), but opens outside
    {body, annex} emit nothing."""
    spans = []
    group = 0
    open_label = None
    for block in doc.blocks:
        first = block.lines[0][0] if block.lines and block.lines[0] else None
        opened = (
            first is not None
            and first.font in BOLD_OR_ITALIC
            and get_pattern(first.text) in RESULT_LABELS
        )
        if opened:
            group += 1
            open_label = get_pattern(first.text)
            if block.seg in RESULT_PARENT_SEGMENTS:
                spans.append((group, open_label, block))
        else:
            open_label = None  # block-initial line closes any open span
    return spans


def assemble_span_text(block: Block) -> str:
    """Span text with link markers, then normalized (extract_results
    semantics, extract_graph.py:147-221): cite anchors wrapped as
    <LINK:anchor>, goto-linked numbers suffixed with #in, tokens joined
    with single spaces, then de-hyphenate + NFKD."""
    parts = []
    for line in block.lines:
        for tok in line:
            if tok.link == "cite":
                parts.append(f"<LINK:{tok.text}>")
            elif tok.link == "in":
                parts.append(RE_NUM_MARK.sub(r"\1#in", tok.text))
            else:
                parts.append(tok.text)
    return normalize_text(" ".join(parts))


def oracle_doc_triples_grouped(
    doc: Doc, dico: dict[str, str]
) -> dict[tuple[str, str, str, str], int]:
    """(subj, pred, obj, url) -> min provenance group for one document.

    ``dico`` maps this doc's citation tags to (already canonicalized)
    target urls. Mirrors extract_links (extract_graph.py:232-288) with the
    triple mapping frozen in FIXTURES.md §6; the group value matches the
    pipeline's ``min(group)`` rollup (runner.build_triples, every regime),
    with -1 for doc-wide paper-level citations.
    """
    url = doc.url
    triples: dict[tuple[str, str, str, str], int] = {}
    if doc.lang != "en":
        return triples

    def add(t: tuple[str, str, str, str], group: int) -> None:
        g = triples.get(t)
        if g is None or group < g:
            triples[t] = group

    last_thm: str | None = None
    out_res: dict[str, int] = {}  # lowercased own name -> min group

    def resolve(tag: str) -> str:
        return dico.get(tag, f"unresolved:{tag}")

    for group, label, block in detect_spans(doc):
        text = assemble_span_text(block)
        if label == "proof":
            target = find_thm_proof(text) or last_thm
            own = target
            if target:
                tl = target.lower()
                out_res[tl] = min(out_res.get(tl, group), group)
                add((f"{url}#{tl}", "proved_in", url, url), group)
        else:
            thm = find_thm_start(text)
            last_thm = thm
            own = thm
            if thm:
                tl = thm.lower()
                out_res[tl] = min(out_res.get(tl, group), group)
                if label == "definition":
                    add((f"{url}#{tl}", "defined_in", url, url), group)

        _, intras, extras = find_ref_results(own, text)
        subj = f"{url}#{own.lower()}" if own else None
        if subj:
            for name in set(intras):
                add((subj, "cites", f"{url}#{name.lower()}", url), group)
            for tag, name in set(extras):
                add((subj, "cites", f"{resolve(tag)}#{name.lower()}", url), group)

    for name, group in out_res.items():
        add((f"{url}#{name}", "statement_of", url, url), group)

    # doc-wide paper-level citations (every cite anchor, spans or prose)
    for block in doc.blocks:
        for line in block.lines:
            for tok in line:
                if tok.link == "cite":
                    tag = RE_NONWORD.sub("", tok.text)
                    add((url, "cites", resolve(tag), url), -1)

    return triples


def oracle_doc_spans(doc: Doc) -> list[tuple[int, str, int]]:
    """[(group, label, n_tokens)] for one English document.

    Sequential token-level mirror of the naive-rule labeler semantics
    (naive_extractor.py:20-55): a line-initial bold/italic token whose
    word pattern is a result label opens a span; a block-initial line
    that does not open closes it. ``n_tokens`` counts every labeled
    token, the opener included.
    """
    if doc.lang != "en":
        return []
    out: list[list] = []  # [group, label, n_tokens]
    group = 0
    state_open = False
    for block in doc.blocks:
        allowed = block.seg in RESULT_PARENT_SEGMENTS
        for li, line in enumerate(block.lines):
            for wi, tok in enumerate(line):
                if wi == 0:
                    opened = tok.font in BOLD_OR_ITALIC and get_pattern(tok.text) in RESULT_LABELS
                    if opened:
                        # the label layer numbers EVERY open; the parent
                        # constraint only suppresses the emitted span
                        group += 1
                        if allowed:
                            out.append([group, get_pattern(tok.text), 0])
                        state_open = allowed
                    elif li == 0:
                        state_open = False
                if state_open:
                    out[-1][2] += 1
    return [(g, lbl, n) for g, lbl, n in out]


class UnionFind:
    def __init__(self):
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # deterministic representative: lexicographic min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


def canonical_map(entity_rows: list[dict]) -> dict[str, str]:
    """Alias resolution: target urls sharing a norm_title are coreferent;
    canonical id = lexicographically smallest url in the cluster."""
    uf = UnionFind()
    by_title: dict[str, str] = {}
    for row in entity_rows:
        t = row["norm_title"]
        if t in by_title:
            uf.union(by_title[t], row["pdf_to"])
        else:
            by_title[t] = row["pdf_to"]
            uf.find(row["pdf_to"])
    return {u: uf.find(u) for u in list(uf.parent)}


def oracle_triples_grouped(
    docs_with_targets, entity_rows
) -> dict[tuple[str, str, str, str], int]:
    """Full-corpus oracle with provenance groups: canonicalize the
    dictionary, then per-doc grouped triples."""
    canon = canonical_map(entity_rows)
    dico_all: dict[str, dict[str, str]] = {}
    for row in entity_rows:
        dico_all.setdefault(row["url"], {})[row["tag"]] = canon.get(
            row["pdf_to"], row["pdf_to"]
        )
    out: dict[tuple[str, str, str, str], int] = {}
    for doc, _targets in docs_with_targets:
        for t, g in oracle_doc_triples_grouped(doc, dico_all.get(doc.url, {})).items():
            prev = out.get(t)
            if prev is None or g < prev:
                out[t] = g
    return out


def oracle_triples(docs_with_targets, entity_rows) -> set[tuple[str, str, str, str]]:
    """Full-corpus oracle: canonicalize the dictionary, then per-doc triples."""
    return set(oracle_triples_grouped(docs_with_targets, entity_rows))
