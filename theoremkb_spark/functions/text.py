"""Frozen text semantics of the KG pipeline.

These pure functions freeze the behaviour of the reference system's text
utilities and mention-mining regexes (studied at
``Styling/src/lib/misc/__init__.py:9-43``,
``Styling/tools/theoremdb/extract_graph.py:15-130``). They are used inside
Arrow-batched pandas UDFs (never per-row Python UDFs) and are unit-tested
against table-driven edge cases.

Everything here must stay pure and deterministic: no wall clock, no RNG,
no I/O.
"""

from __future__ import annotations

import re
import unicodedata

# Result-span label vocabulary (ref: Styling/src/lib/classes/__init__.py:120-131).
RESULT_LABELS = (
    "lemma",
    "theorem",
    "proposition",
    "definition",
    "remark",
    "corollary",
    "claim",
    "conjecture",
    "assumption",
    "proof",
)

# Keywords that can introduce a reference to a result — the reference's
# LIST_RESULTS verbatim, order included (alternation order is regex
# semantics), plus the abbreviations appended at extract_graph.py:15.
# Note this is deliberately WIDER than RESULT_LABELS (case/example/
# problem/... can be referenced without being span labels) and does NOT
# include "assumption" — the reference never mines assumption refs.
# (ref: Styling/tools/config/__init__.py:60-80, extract_graph.py:15)
RESULT_KEYWORDS = (
    "theorem",
    "claim",
    "case",
    "conjecture",
    "corollary",
    "definition",
    "lemma",
    "example",
    "exercice",
    "lemma",
    "note",
    "problem",
    "property",
    "proposition",
    "question",
    "solution",
    "remark",
    "fact",
    "hypothesis",
    "observation",
    "construction",
    "thm.",
    "lem.",
    "prop.",
)

ABBREVIATIONS = {"thm.": "theorem", "lem.": "lemma", "prop.": "proposition"}

_KEYWORD_ALT = "|".join(re.escape(k) for k in RESULT_KEYWORDS)

# number part of a result name: optional single-letter section prefix
# ("a.") then dotted number, e.g. "3", "3.1", "a.2.4"
_NUM = r"([a-z]\.)?[\d]+(\.\d+)*"

RE_PATTERN_NOT_ALNUM = re.compile(r"[^a-zA-Z0-9 ]")
RE_PATTERN_DIGIT = re.compile(r"[0-9]")

RE_DEHYPHEN = re.compile(r"(\w)-\s+(\w)")

RE_THM_START = re.compile(rf"((open )?(\w+) {_NUM})", re.IGNORECASE)

RE_PROOF_BRACKET = re.compile(r"Proof. \[([^\]]+)\]", re.IGNORECASE)
RE_PROOF_OF = re.compile(rf"Proof of ((\w+) {_NUM})", re.IGNORECASE)
RE_RESULT_NAME = re.compile(rf"((\w+) {_NUM})", re.IGNORECASE)

RE_REFS = re.compile(
    rf"((?P<kw>{_KEYWORD_ALT})(s)? (({_NUM})(#in)?(?P<rep>\s?(and|,|&) {_NUM}(#in)?)*))",
    re.IGNORECASE,
)
RE_NUMS = re.compile(rf"({_NUM})", re.IGNORECASE)
RE_LINK_MARK = re.compile(r"<LINK:([^>]+)>")
# ASCII on purpose: citation tags are normalized by the fused extract
# pass (this regex) and by its JVM cross-check, tests/window_path.py
# (regexp_replace '\\W' — Java's default \W is ASCII). re.ASCII freezes
# the two to the identical character class [^a-zA-Z0-9_]; without it a
# non-ASCII anchor ("[Hém22]") would yield different tags per path.
RE_NONWORD = re.compile(r"\W", re.ASCII)
RE_REFTO_IS_RESULT = re.compile(
    rf"(({_KEYWORD_ALT}|section|algorithm)([a-z])?[\d]+)", re.IGNORECASE
)


RE_CLEAN_LATEX = re.compile(
    r"\\[a-z]*(begin|end|cite|label|footnote|ref)[a-z]*\{[\w\s,\*:-]+\}(\[[^\]]+\])?"
)
RE_CLEAN_OPS = re.compile(r"([\+\*\^<>=_-])")
RE_CLEAN_DIGITS = re.compile(r"([0-9]+)")
RE_CLEAN_OTHER = re.compile(r"[^a-z0-9<>=\+\*\^_-]+")


def clean_thm(thm) -> str:
    """Theorem-text cleaner for similarity matching (F8) — the exact
    regex chain of the reference (thm_similarity/thmtools.py:64-70):
    lowercase, strip latex commands (\\begin{...}[...], \\cite{...},
    ...), space-pad math operators and digit runs, collapse every other
    character run to a single space."""
    s = str(thm).lower()
    s = RE_CLEAN_LATEX.sub(" ", s)
    s = RE_CLEAN_OPS.sub(r" \1 ", s)
    s = RE_CLEAN_DIGITS.sub(r" \1 ", s)
    s = RE_CLEAN_OTHER.sub(" ", s)
    return s


def get_pattern(text: str) -> str:
    """Word shape: strip non-alnum, digits -> '@', lowercase.

    Mirrors ``get_pattern`` (misc/__init__.py:32-43):
    ``"Page 10/52" -> "page @@@@"``.
    """
    return RE_PATTERN_DIGIT.sub("@", RE_PATTERN_NOT_ALNUM.sub("", text)).lower()


def normalize_text(text: str) -> str:
    """De-hyphenate across whitespace then NFKD-normalize
    (ref: extract_graph.py:21-23)."""
    return unicodedata.normalize("NFKD", RE_DEHYPHEN.sub(r"\1\2", text))


def norm_title(title: str) -> str:
    """Title normalization for citation matching
    (ref: tools/references/get_links.py:76-77): lowercase, keep [a-z] only."""
    return re.sub(r"[^a-z]", "", title.lower())


def find_thm_start(text: str):
    """Result name from the head of a statement ("Theorem 3.1. It holds...")
    -> "Theorem 3.1"; None when the head is not a named result
    (ref: extract_graph.py:26-31)."""
    m = RE_THM_START.match(text)
    return m[0] if m else None


def find_thm_proof(text: str):
    """Explicit proof target: "Proof. [Proof of Theorem 5.2]" (bracketed,
    instrumented-PDF style, ref: extract_graph.py:34-41) or the webtext
    form "Proof of Theorem 5.2." -> "Theorem 5.2"; None when the proof is
    anonymous."""
    bracket = RE_PROOF_BRACKET.search(text)
    if bracket is not None:
        m = RE_RESULT_NAME.search(bracket[1])
        return m[0] if m else None
    m = RE_PROOF_OF.search(text)
    return m[1] if m else None


def _expand(keyword: str, phrase: str, is_multi: bool):
    """Expand one matched reference phrase into individual result names.

    Names are lowercased here (the reference lowercases single refs but
    not expanded multi-refs — extract_graph.py:76 vs :78; we freeze
    lowercase everywhere since entity ids are case-normalized anyway).
    """
    keyword = keyword.lower()
    if keyword.endswith("."):  # abbreviation: expand + renumber
        base = ABBREVIATIONS[keyword]
        return [f"{base} {m[0].lower()}" for m in RE_NUMS.findall(phrase)]
    if is_multi:  # conjunction list: one name per number
        return [f"{keyword} {m[0].lower()}" for m in RE_NUMS.findall(phrase)]
    return [phrase.lower()]


def find_ref_results(thm: str | None, text: str):
    """Mine references to other results from a result-span text.

    Behavioural parity with ``find_ref_results``
    (extract_graph.py:44-130):

    * matches "Theorem 3.1", conjunction lists "Theorems 2 and 3" /
      "Lemmas 2.1, 2.2 & 2.3", abbreviations "thm. 4.1" (expanded);
    * a phrase equal to ``thm`` (the span's own name) is suppressed;
    * duplicate phrases are visited once;
    * numbers carrying an ``#in`` marker (intra-document goto links) are
      intra-references;
    * otherwise a ``<LINK:anchor>`` marker within +/-5 words decides:
      anchor that itself names a result/section -> intra; any other anchor
      -> extra-reference ``(tag, result_name)`` with ``tag`` = the anchor
      stripped of non-word chars; no link nearby -> intra.

    Returns ``(phrases, intrarefs, extrarefs)`` where extrarefs are
    ``(tag, result_name)`` pairs.
    """
    own = (thm or "").lower()
    seen: set[str] = set()
    intraref: list[str] = []
    extraref: list[tuple[str, str]] = []
    phrases: list[str] = []

    for m in RE_REFS.finditer(text):
        phrase_raw = m.group(1)
        keyword = m.group("kw")
        is_multi = bool(m.group("rep"))
        phrase = phrase_raw.replace("#in", "")
        phrases.append(phrase)
        if phrase in seen or phrase.lower() == own:
            continue
        seen.add(phrase)

        names = _expand(keyword, phrase, is_multi)

        if "#in" in phrase_raw:
            intraref.extend(names)
            continue

        # +/-5-word link window around the occurrence
        start, end = m.start(1), m.end(1)
        before = text[:start].split(" ")
        before = [w for w in before if w][-5:]
        after = text[end:].split(" ")
        after = [w for w in after if w][:5]
        refto = None
        for dist in range(5):
            if dist < len(before):
                hit = RE_LINK_MARK.match(before[-1 - dist])
                if hit is not None:
                    refto = hit
                    break
            if dist < len(after):
                hit = RE_LINK_MARK.match(after[dist])
                if hit is not None:
                    refto = hit
                    break

        if refto is not None:
            tag = RE_NONWORD.sub("", refto[1])
            if tag == RE_NONWORD.sub("", phrase) or RE_REFTO_IS_RESULT.search(tag):
                intraref.extend(names)
            else:
                extraref.extend((tag, n) for n in names)
        else:
            intraref.extend(names)

    return phrases, intraref, extraref
