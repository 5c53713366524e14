"""Deterministic synthetic scholarly-web-page corpus.

Materializes the ``pages(url, warc_ts, html, text, lang)`` input table of
``BASELINE.json input_hint`` plus the citation ``entity_dict`` broadcast
table (FIXTURES.md §1/§5). Fully seeded and pure — two calls with the same
``(n_docs, seed)`` produce byte-identical output (no wall clock, no global
RNG).

Each document embeds the structures the KG pipeline must recover:

* result statements headed by a bold keyword + number ("Theorem 1.2."),
  detectable by the naive rule labeler (ref semantics:
  Styling/src/lib/extractors/results/naive_extractor.py:20-55);
* proofs — anonymous ("Proof.") exercising the last-theorem fallback
  (ref: extract_graph.py:247-254) and explicit ("Proof of Theorem 1.2.");
* intra-document references, plain and goto-linked (``#in`` semantics),
  conjunction lists ("Theorems 1.1 and 1.2"), abbreviations ("thm. 1.2");
* citation anchors ("[EXT3]") carrying ``cite`` links, resolved through
  the entity dictionary, with one hot target (~30% of docs; a joined
  value, not a join key) and alias urls for canonicalization;
* NFKD/ligature and hyphen-break cases exercising text normalization;
* ~1% of docs ~30x longer than the median (skew), ~5% non-English rows.

The per-document token hierarchy mirrors ALTO Page>TextBlock>TextLine>
String (ref: Styling/src/lib/paper/features.py:14-20) rendered as
simple HTML; the frozen extracted-text rule is the reference ``get_text``:
token texts joined by single spaces within a line, '\\n' per line
(ref: Styling/src/lib/misc/__init__.py:9-25).
"""

from __future__ import annotations

import html as _html
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

VOCAB = (
    "abound bracket candor dorsal ember fathom gleam hollow ivory jostle "
    "kernel lattice meadow nimble orbit plume quartz ripple saddle tundra "
    "umbral vortex willow xenial yonder zephyr acumen bramble cinder drift "
    "enclave furrow grotto harbor inlet juncture knoll ledger mosaic nectar "
    "oracle parapet quiver rampart sojourn tessera undertow vellum warble "
    "yeoman zenith atrium bastion cobalt dynamo eddy flint gossamer hearth"
).split()

LIGATURE_WORDS = ("eﬃcient", "inﬁnite", "reﬂect")  # ﬃ ﬁ ﬂ

STATEMENT_KINDS = (
    ("theorem", "Theorem", 0.30),
    ("lemma", "Lemma", 0.25),
    ("proposition", "Proposition", 0.12),
    ("definition", "Definition", 0.12),
    ("corollary", "Corollary", 0.08),
    ("remark", "Remark", 0.05),
    ("claim", "Claim", 0.04),
    ("conjecture", "Conjecture", 0.02),
    ("assumption", "Assumption", 0.02),
)

FONTS = (
    ("f0", "CMR10", 9.96),       # regular
    ("f1", "CMBX10", 9.96),      # bold   (bold_re: CMBX)
    ("f2", "CMTI12", 9.96),      # italic (italic_re: TI12)
    ("f3", "CMMI10", 9.96),      # math   (math_re: CMMI)
)

N_EXTERNALS = 40
HOT_EXTERNAL = 0  # EXT0 is cited by ~30% of docs (skew target)

# bump when generator output changes for a fixed (n_docs, seed):
# derived on-disk fixtures (bench corpora, scale dirs) key their paths
# on this so a stale cache from an older corpus can never be reused.
# v2 (round 5): front/annex/acknowledgement/bibliography structures +
# fixed-y marginals + full-title internal dictionary entries.
CORPUS_VERSION = 2

EPOCH = datetime(2024, 5, 1, 0, 0, 0)

# Page geometry. Since round 4 the layout carries the two visual cues a
# real PDF render has and the round-3 synthetic geometry lacked — inter-
# block leading (paragraph gap) and a first-line indent — because with
# uniform line pitch a span's EXTENT below its styled opener is invisible
# in pixel space, which capped the U-Net's held-out vote accuracy at 0.65
# (VERDICT r3). Pure geometry: token TEXT (and hence the byte-identical
# extraction invariant) is unaffected; hpos/vpos consumers (the
# feature-frame query and its DuckDB oracle, the U-Net raster) all
# recompute from the rendered html. 30 lines/page keeps one text line
# ~1.4 px and one block gap ~2.9 px at the U-Net's 64-px raster (45
# lines + gaps cannot fit 63 pixel rows with distinct gap rows).
LINES_PER_PAGE = 30
LINE_PITCH = 11.5
BLOCK_GAP = 11.5  # one blank line of leading before each same-page block
FIRST_LINE_INDENT = 18.0  # body blocks only; the title stays flush
PAGE_TOP = 72.0
LEFT_MARGIN = 56.0
# marginal-zone y positions (round 5): above the flow's top margin /
# below its nominal bottom (PAGE_TOP + 30 lines = 417). Marginal blocks
# render here WITHOUT advancing the flow cursor, so body geometry is
# unchanged by their presence.
HEADNOTE_Y = 28.0
FOOTNOTE_Y = 424.0
PAGENUM_Y = 435.5


@dataclass
class Token:
    text: str
    font: str = "f0"
    link: str | None = None  # None | "in" | "cite"


@dataclass
class Block:
    kind: str  # "title" | "para" | "heading" | "bib" | ... | result labels
    lines: list[list[Token]] = field(default_factory=list)
    # GOLD segmentation label (reference SegmentationAnnotationClass
    # vocabulary, classes/__init__.py:73-83): acknowledgement | front |
    # headnote | footnote | body | bibliography | page | annex. The
    # pipeline must RECOVER this from observable structure; the oracle
    # consumes it directly as ground truth.
    seg: str = "body"
    # marginal blocks (headnote / footnote / page number) render at a
    # fixed per-page y and do NOT advance the flow cursor or the line
    # counter — they sit outside the body flow like a real page margin
    fixed_y: float | None = None


@dataclass
class Doc:
    url: str
    title: str
    lang: str
    blocks: list[Block]
    idx: int

    @property
    def warc_ts(self) -> datetime:
        return EPOCH + timedelta(seconds=(self.idx * 9973) % 31536000)


def _word(rng: random.Random) -> str:
    if rng.random() < 0.01:
        return rng.choice(LIGATURE_WORDS)
    return rng.choice(VOCAB)


def _words(rng: random.Random, n: int) -> list[Token]:
    out = []
    for _ in range(n):
        font = "f3" if rng.random() < 0.03 else "f0"
        out.append(Token(_word(rng), font))
    return out


def _title_words(i: int) -> list[str]:
    """Letters-only unique title core for doc i (norm_title-collision-free)."""
    v = len(VOCAB)
    return [VOCAB[(i // (v * v)) % v], VOCAB[(i // v) % v], VOCAB[i % v]]


def doc_title(i: int) -> str:
    """The full (lowercase) title of doc i — shared by the title block,
    the running headnote, and the entity dictionary's internal-paper
    rows, so title-based linking has an exact normalized key."""
    return " ".join(["on", "the"] + _title_words(i) + ["problem"])


def doc_url(i: int) -> str:
    return f"https://arxiv.example/abs/p{i:06d}"


def externals(seed: int = 42):
    """External citable papers: (key, canonical_url, alias_url|None, title)."""
    rng = random.Random(f"{seed}/externals")
    out = []
    for k in range(N_EXTERNALS):
        title = " ".join(
            [VOCAB[(k * 7 + j) % len(VOCAB)] for j in range(4)] + ["extern", VOCAB[k % len(VOCAB)]]
        )
        canonical = f"https://doi.example/10.5555/ext{k:03d}"
        alias = f"https://arxiv.example/abs/ext{k:03d}" if rng.random() < 0.35 else None
        out.append((f"EXT{k}", canonical, alias, title))
    return out


def _ref_phrase(rng: random.Random, own_results: list[tuple[str, str]], kw_title: dict):
    """Tokens referencing an earlier result of the same doc (intra)."""
    kind, num = rng.choice(own_results)
    style = rng.random()
    if style < 0.25:
        # goto-linked intra ref: number carries an "in" link
        return [Token("by"), Token(kw_title[kind]), Token(num, link="in")]
    if style < 0.40 and kind in ("theorem", "lemma", "proposition"):
        abbr = {"theorem": "thm.", "lemma": "lem.", "proposition": "prop."}[kind]
        return [Token("see"), Token(abbr), Token(num)]
    if style < 0.55 and len(own_results) >= 2:
        other = rng.choice(own_results)
        if other[0] == kind and other[1] != num:
            return [
                Token("using"),
                Token(kw_title[kind] + "s"),
                Token(num),
                Token("and"),
                Token(other[1]),
            ]
    return [Token("by"), Token(kw_title[kind]), Token(num)]


def _cite_phrase(rng: random.Random, tags: list[str], with_result: bool):
    """Tokens citing an external work; optionally naming a result in it."""
    tag = rng.choice(tags)
    anchor = Token(f"[{tag}]", link="cite")
    if with_result:
        num = f"{rng.randint(1, 5)}.{rng.randint(1, 9)}"
        return [Token("Theorem"), Token(num), Token("of"), anchor]
    return [Token("see"), anchor]


def _statement_block(
    rng, kind: str, num: str, kw_title: dict, own_results, cite_tags, seg: str
) -> Block:
    """One styled result-statement block (bold keyword head + body with
    optional intra-ref / cite phrases)."""
    head = [Token(kw_title[kind], "f1"), Token(num + ".", "f1")]
    body = _words(rng, rng.randint(10, 35))
    if own_results and rng.random() < 0.5:
        pos = rng.randint(0, len(body))
        body[pos:pos] = _ref_phrase(rng, own_results, kw_title)
    if cite_tags and rng.random() < 0.25:
        pos = rng.randint(0, len(body))
        body[pos:pos] = _cite_phrase(rng, cite_tags, with_result=True)
    return Block(kind, _to_lines(head + body), seg=seg)


def _proof_block(rng, kind, num, kw_title, own_results, cite_tags, seg: str) -> Block:
    explicit = rng.random() < 0.4
    phead = (
        [
            Token("Proof", "f2"),
            Token("of", "f2"),
            Token(kw_title[kind], "f2"),
            Token(num + ".", "f2"),
        ]
        if explicit
        else [Token("Proof.", "f2")]
    )
    pbody = _words(rng, rng.randint(15, 50))
    if own_results and rng.random() < 0.5:
        pos = rng.randint(0, len(pbody))
        pbody[pos:pos] = _ref_phrase(rng, own_results, kw_title)
    if cite_tags and rng.random() < 0.15:
        pos = rng.randint(0, len(pbody))
        pbody[pos:pos] = _cite_phrase(rng, cite_tags, with_result=True)
    return Block("proof", _to_lines(phead + pbody + [Token("QED")]), seg=seg)


def _with_marginals(i: int, seed: int, blocks: list[Block], title: str) -> list[Block]:
    """Insert per-page marginal blocks (page number every page, running
    headnote on pages >= 1, an occasional dagger footnote) at each page
    START in reading order. Marginals carry ``fixed_y`` and zero flow
    lines, so the body pagination this simulation replays is untouched
    by the insertion itself."""
    rng = random.Random(f"{seed}/marginals/{i}")
    head_toks = [Token(w.capitalize()) for w in title.split()]
    out: list[Block] = []
    line_no = 0
    cur_page = -1
    for b in blocks:
        page = line_no // LINES_PER_PAGE
        if page != cur_page:
            cur_page = page
            out.append(
                Block("page", [[Token(str(page + 1))]], seg="page", fixed_y=PAGENUM_Y)
            )
            if page >= 1:
                out.append(
                    Block("headnote", [list(head_toks)], seg="headnote",
                          fixed_y=HEADNOTE_Y)
                )
            if rng.random() < 0.2:
                out.append(
                    Block(
                        "footnote",
                        [[Token("†")] + _words(rng, rng.randint(4, 9))],
                        seg="footnote",
                        fixed_y=FOOTNOTE_Y,
                    )
                )
        out.append(b)
        line_no += len(b.lines)
    return out


def build_doc(
    i: int,
    seed: int = 42,
    cite_tags: list[str] | None = None,
    cite_entries: list[tuple[str, str | None]] | None = None,
) -> Doc:
    """One synthetic scholarly page, laid out in the reference's
    segmentation vocabulary (classes/__init__.py:73-83):

    * front — title, author line, bold-headed abstract; ~15% of docs
      carry a RESULT-LOOKALIKE in the abstract (bold "Theorem 9.9.")
      that the naive labeler would match — the parent-class constraint
      (results valid only in segmentation in {body, annex},
      classes/__init__.py:135) must reject it;
    * body — numbered bold section headings + the prose/statement/proof
      flow;
    * annex — ~30% of docs: an "Appendix." heading followed by a real
      theorem (+ proof) that the constraint must KEEP;
    * acknowledgement — ~50%: heading + a short paragraph (~10% with a
      second lookalike, "Theorem 9.8.");
    * bibliography — a "References." heading + one cite-anchored entry
      per citation target (the GROBID-shaped source of paper-level
      citation completeness);
    * headnote / footnote / page — fixed-y marginals via _with_marginals.

    ``cite_entries`` carries (tag, title|None) for the bibliography;
    ``cite_tags`` alone (legacy callers) yields title-less entries.
    """
    rng = random.Random(f"{seed}/doc/{i}")
    url = doc_url(i)
    lang = "en" if rng.random() >= 0.05 else rng.choice(["fr", "de"])
    long_doc = i % 97 == 0
    kw_title = {k: t for k, t, _ in STATEMENT_KINDS}
    kinds, weights = zip(*[(k, w) for k, _, w in STATEMENT_KINDS])

    title = doc_title(i)
    if cite_entries is None:
        cite_entries = [(t, None) for t in (cite_tags or [])]
    cite_tags = [t for t, _ in cite_entries]

    # ---- front matter -----------------------------------------------------
    blocks: list[Block] = [
        Block("title", [[Token(w.capitalize(), "f1") for w in title.split()]],
              seg="front"),
        Block(
            "author",
            [[Token("By")]
             + [Token(w.capitalize()) for w in (_word(rng), _word(rng))]
             + [Token("and")]
             + [Token(w.capitalize()) for w in (_word(rng), _word(rng))]],
            seg="front",
        ),
        Block(
            "abstract",
            _to_lines([Token("Abstract.", "f1")] + _words(rng, rng.randint(15, 30))),
            seg="front",
        ),
    ]
    if rng.random() < 0.15:
        # front-matter result lookalike: bold "Theorem 9.9." announcement
        # in the abstract zone — numbered outside any body section so the
        # unconstrained labeler emits a DISTINCT (wrong) entity
        blocks.append(
            Block(
                "theorem",
                _to_lines(
                    [Token("Theorem", "f1"), Token("9.9.", "f1")]
                    + _words(rng, rng.randint(8, 15))
                ),
                seg="front",
            )
        )

    n_sections = 3 if long_doc else rng.randint(1, 3)
    own_results: list[tuple[str, str]] = []  # (kind, num) in order of appearance
    para_scale = 30 if long_doc else 1

    # ---- body -------------------------------------------------------------
    for sec in range(1, n_sections + 1):
        blocks.append(
            Block(
                "heading",
                [[Token(str(sec), "f1"), Token(_word(rng).capitalize(), "f1")]],
                seg="body",
            )
        )
        counter = 0
        n_items = rng.randint(2, 4) * (3 if long_doc else 1)
        for _ in range(n_items):
            # leading prose paragraph(s)
            for _ in range(rng.randint(1, 2) * para_scale):
                body = _words(rng, rng.randint(12, 40))
                if rng.random() < 0.15 and cite_tags:
                    pos = rng.randint(0, len(body))
                    body[pos:pos] = _cite_phrase(rng, cite_tags, with_result=False)
                if rng.random() < 0.05:
                    # hyphen-break normalization case: "fur- row"
                    pos = rng.randint(0, len(body))
                    body[pos:pos] = [Token("fur-"), Token("row")]
                blocks.append(Block("para", _to_lines(body), seg="body"))

            counter += 1
            kind = rng.choices(kinds, weights=weights, k=1)[0]
            num = f"{sec}.{counter}"
            unnamed = kind == "remark" and rng.random() < 0.25
            if unnamed:
                head = [Token(kw_title[kind] + ".", "f1")]
                body = _words(rng, rng.randint(10, 35))
                if own_results and rng.random() < 0.5:
                    pos = rng.randint(0, len(body))
                    body[pos:pos] = _ref_phrase(rng, own_results, kw_title)
                if cite_tags and rng.random() < 0.25:
                    pos = rng.randint(0, len(body))
                    body[pos:pos] = _cite_phrase(rng, cite_tags, with_result=True)
                blocks.append(Block(kind, _to_lines(head + body), seg="body"))
            else:
                blocks.append(
                    _statement_block(
                        rng, kind, num, kw_title, own_results, cite_tags, "body"
                    )
                )
                own_results.append((kind, num))
                if kind in ("theorem", "lemma", "proposition", "claim") and rng.random() < 0.65:
                    blocks.append(
                        _proof_block(
                            rng, kind, num, kw_title, own_results, cite_tags, "body"
                        )
                    )

    # ---- annex (appendix): real results the constraint must KEEP ----------
    if rng.random() < 0.30:
        blocks.append(Block("heading", [[Token("Appendix.", "f1")]], seg="annex"))
        sec = n_sections + 1
        kind = rng.choice(("theorem", "lemma"))
        num = f"{sec}.1"
        blocks.append(
            _statement_block(rng, kind, num, kw_title, own_results, cite_tags, "annex")
        )
        own_results.append((kind, num))
        if rng.random() < 0.65:
            blocks.append(
                _proof_block(rng, kind, num, kw_title, own_results, cite_tags, "annex")
            )

    # ---- acknowledgement ----------------------------------------------------
    if rng.random() < 0.50:
        blocks.append(
            Block("heading", [[Token("Acknowledgements.", "f1")]],
                  seg="acknowledgement")
        )
        ack_body = _words(rng, rng.randint(10, 20))
        blocks.append(Block("ack", _to_lines(ack_body), seg="acknowledgement"))
        if rng.random() < 0.10:
            # second lookalike zone: a styled statement inside the
            # acknowledgements — also rejected by the parent constraint
            blocks.append(
                Block(
                    "theorem",
                    _to_lines(
                        [Token("Theorem", "f1"), Token("9.8.", "f1")]
                        + _words(rng, rng.randint(6, 12))
                    ),
                    seg="acknowledgement",
                )
            )

    # ---- bibliography -------------------------------------------------------
    if cite_entries:
        blocks.append(Block("heading", [[Token("References.", "f1")]],
                            seg="bibliography"))
        for tag, btitle in cite_entries:
            entry = [Token(f"[{tag}]", link="cite")] + [
                Token(w.capitalize()) for w in (btitle or "unpublished").split()[:6]
            ]
            blocks.append(Block("bib", _to_lines(entry), seg="bibliography"))

    blocks = _with_marginals(i, seed, blocks, title)
    return Doc(url=url, title=title, lang=lang, blocks=blocks, idx=i)


def _to_lines(tokens: list[Token], per_line: int = 8) -> list[list[Token]]:
    return [tokens[j : j + per_line] for j in range(0, len(tokens), per_line)] or [[]]


def doc_text(doc: Doc) -> str:
    """Frozen extracted-text rule (byte-identical invariant target).

    Semantics of reference ``get_text`` (misc/__init__.py:9-25): word
    CONTENTs joined by single spaces within a TextLine, '\\n' appended per
    line; blocks/pages concatenate with no extra separator.
    """
    out = []
    for block in doc.blocks:
        for line in block.lines:
            out.append(" ".join(t.text for t in line))
            out.append("\n")
    return "".join(out)


def render_html(doc: Doc) -> bytes:
    """Render the token hierarchy to the synthetic HTML page format."""
    parts = [
        "<html><head><title>",
        _html.escape(doc.title, quote=False),
        "</title>\n",
    ]
    for fid, family, size in FONTS:
        parts.append(f'<meta name="font" id="{fid}" family="{family}" size="{size}"/>\n')
    parts.append("</head><body>\n")

    line_no = 0  # running FLOW line count; a block lands on the page of its first line
    cur_page = -1
    block_idx = 0
    y = PAGE_TOP  # per-page vertical cursor (advanced per line and per block gap)
    first_flow = True  # first flow block of the page gets no leading gap
    for block in doc.blocks:
        page = line_no // LINES_PER_PAGE
        if page != cur_page:
            if cur_page >= 0:
                parts.append("</section>\n")
            parts.append(f'<section class="page" n="{page}">\n')
            cur_page = page
            y = PAGE_TOP
            first_flow = True
        marginal = block.fixed_y is not None
        if not marginal:
            if first_flow:
                first_flow = False
            else:
                y += BLOCK_GAP  # paragraph spacing between same-page flow blocks
        parts.append(f'<div class="block" n="{block_idx}">\n')
        for li, line in enumerate(block.lines):
            vpos = block.fixed_y + li * LINE_PITCH if marginal else y
            parts.append('<p class="line">')
            hpos = LEFT_MARGIN + (
                FIRST_LINE_INDENT
                if (li == 0 and block.kind != "title" and not marginal)
                else 0.0
            )
            for tok in line:
                width = round(5.2 * len(tok.text), 2)
                attrs = f'f="{tok.font}" x="{hpos}" y="{vpos}" w="{width}" h="9.0"'
                if tok.link:
                    attrs += f' l="{tok.link}"'
                parts.append(f"<w {attrs}>{_html.escape(tok.text, quote=False)}</w>")
                hpos = round(hpos + width + 3.1, 2)
            parts.append("</p>\n")
            if not marginal:
                line_no += 1
                y += LINE_PITCH
        parts.append("</div>\n")
        block_idx += 1
    if cur_page >= 0:
        parts.append("</section>\n")
    parts.append("</body></html>\n")
    return "".join(parts).encode("utf-8")


def _doc_cite_targets(i: int, seed: int, exts, n_docs: int):
    """Deterministic per-doc citation targets: [(tag, pdf_to, title)]."""
    rng = random.Random(f"{seed}/cites/{i}")
    targets = []
    if rng.random() < 0.30:  # hot external — skew target
        key, canonical, alias, title = exts[HOT_EXTERNAL]
        targets.append((key, canonical, title))
    for _ in range(rng.randint(0, 4)):
        if rng.random() < 0.7:
            k = rng.randint(1, N_EXTERNALS - 1)
            key, canonical, alias, title = exts[k]
            pdf_to = alias if (alias and rng.random() < 0.5) else canonical
            targets.append((key, pdf_to, title))
        elif n_docs > 1:
            j = rng.randint(0, n_docs - 1)
            if j != i:
                # internal papers carry their FULL title (doc_title), so
                # pipeline-extracted titles and dictionary titles share
                # one exact normalized key (header-linking, J6)
                targets.append((f"P{j}", doc_url(j), doc_title(j)))
    if rng.random() < 0.02:  # unresolvable anchor: tag absent from the dict
        targets.append((f"GHOST{i}", None, None))
    # dedupe by tag, keep first
    seen, out = set(), []
    for tag, pdf_to, title in targets:
        if tag not in seen:
            seen.add(tag)
            out.append((tag, pdf_to, title))
    return out


def build_corpus(n_docs: int, seed: int = 42):
    """Yield (doc, cite_targets) for each document."""
    exts = externals(seed)
    for i in range(n_docs):
        targets = _doc_cite_targets(i, seed, exts, n_docs)
        entries = [(t, title) for t, _, title in targets]
        yield build_doc(i, seed, cite_entries=entries), targets


def pages_rows(n_docs: int, seed: int = 42):
    """Rows of the pages input table (FIXTURES.md §1)."""
    for doc, _ in build_corpus(n_docs, seed):
        yield {
            "url": doc.url,
            "warc_ts": doc.warc_ts,
            "html": render_html(doc),
            "text": doc_text(doc),
            "lang": doc.lang,
        }


def entity_dict_rows(n_docs: int, seed: int = 42):
    """Rows of the citation/entity dictionary (FIXTURES.md §5).

    (url, tag, pdf_to, title, norm_title) — one row per (citing doc, tag);
    rows with a GHOST tag are omitted (unresolvable anchors).
    """
    import re as _re

    rows = []
    for i in range(n_docs):
        url = doc_url(i)
        for tag, pdf_to, title in _doc_cite_targets(i, seed, externals(seed), n_docs):
            if pdf_to is None:
                continue
            rows.append(
                {
                    "url": url,
                    "tag": tag,
                    "pdf_to": pdf_to,
                    "title": title,
                    "norm_title": _re.sub(r"[^a-z]", "", title.lower()),
                }
            )
    return rows


# --------------------------------------------------------------------------
# GROBID-style TEI fulltext documents (S10 — reference
# Styling/tools/references/get_links.py:15-102). The reference POSTs each
# pdf to a GROBID server and consumes the TEI XML it returns; this corpus
# synthesizes that TEI deterministically from the same citation targets,
# with the structures (and hazards) the reference's parser navigates:
#
# * ``listBibl`` of ``biblStruct`` entries — only those carrying an
#   ``xml:id`` count toward the bibliography index (get_links.py:70-72);
#   a stray no-id entry is injected ~15% of docs;
# * the matchable title is ``title[type="main"]`` only; ~30% of entries
#   carry a preceding non-main journal title that must be skipped
#   (get_links.py:74-78);
# * 0-2 extra untracked entries per doc (cited works absent from the
#   link dictionary) shift the indices of later entries;
# * in-text ``ref[type="bibr"][target="#bN"]`` anchors, 1-3 per tracked
#   entry in varied surface forms; figure refs and target-less bibr refs
#   are skip-noise (get_links.py:87-96);
# * ~5% of docs are truncated mid-bibliography — an unparseable GROBID
#   response, the reference's GROBID_ERR branch (get_links.py:62-66).

def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def render_tei(i: int, seed: int, n_docs: int) -> str:
    rng = random.Random(f"{seed}/tei/{i}")
    targets = _doc_cite_targets(i, seed, externals(seed), n_docs)
    # (title, tracked) bibliography candidates: every citation target plus
    # a few untracked works; ghosts carry a title the dictionary lacks
    entries = []
    for k, (tag, pdf_to, title) in enumerate(targets):
        if title is None:
            title = f"unarchived manuscript {i} {k}"
        entries.append((title, pdf_to is not None))
    for k in range(rng.randint(0, 2)):
        w1, w2 = rng.choice(VOCAB), rng.choice(VOCAB)
        entries.append((f"untracked study of {w1} {w2} {i} {k}", False))
    rng.shuffle(entries)

    bibl_xml, ref_pool = [], []
    n_item = 0  # position among xml:id-carrying entries == the id number
    for title, tracked in entries:
        journal = ""
        if rng.random() < 0.30:
            journal = (
                f'<title level="j">{_xml_escape(rng.choice(VOCAB).title())} '
                f"Journal</title>"
            )
        main = f'<title level="a" type="main">{_xml_escape(title)}</title>'
        if rng.random() < 0.15:  # stray no-id entry: parsed over, no index
            bibl_xml.append(f"<biblStruct><analytic>{journal}{main}</analytic></biblStruct>")
            continue
        bibl_xml.append(
            f'<biblStruct xml:id="b{n_item}"><analytic>{journal}{main}'
            f"</analytic></biblStruct>"
        )
        if tracked and rng.random() < 0.85:
            year = 2000 + rng.randint(0, 24)
            variants = [
                f"[{n_item + 1}]",
                f"({rng.choice(VOCAB).title()} et al., {year})",
                f"{rng.choice(VOCAB).title()} and {rng.choice(VOCAB).title()} ({year})",
            ]
            for v in rng.sample(variants, rng.randint(1, 3)):
                ref_pool.append(
                    f'<ref type="bibr" target="#b{n_item}">{_xml_escape(v)}</ref>'
                )
        n_item += 1

    rng.shuffle(ref_pool)
    # skip-noise anchors: a figure ref and a bibr ref with no target
    ref_pool.insert(
        rng.randint(0, len(ref_pool)) if ref_pool else 0,
        '<ref type="figure" target="#fig_0">Figure 1</ref>',
    )
    ref_pool.append('<ref type="bibr">[99]</ref>')
    sentences = []
    for anchor in ref_pool:
        lead = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 8)))
        sentences.append(f"<p>{_xml_escape(lead)} {anchor}.</p>")

    tei = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<TEI xmlns="http://www.tei-c.org/ns/1.0">'
        "<teiHeader><fileDesc><titleStmt>"
        f'<title level="a" type="main">{_xml_escape(doc_title(i))}</title>'
        "</titleStmt></fileDesc></teiHeader>"
        f'<text><body>{"".join(sentences)}</body>'
        f'<back><div><listBibl>{"".join(bibl_xml)}</listBibl></div></back>'
        "</text></TEI>"
    )
    if rng.random() < 0.05:  # truncated GROBID response: unparseable
        return tei[: int(len(tei) * 0.6)]
    return tei


def tei_rows(n_docs: int, seed: int = 42):
    """Rows of the TEI fulltext table (url, tei) — one per document."""
    for i in range(n_docs):
        yield {"url": doc_url(i), "tei": render_tei(i, seed, n_docs)}
