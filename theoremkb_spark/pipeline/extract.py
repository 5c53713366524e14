"""Stage 1 — EXTRACT: html -> fused span rows, token stream, extracted text.

Replaces the reference's pdfalto subprocess + lxml scan
(``Styling/src/lib/paper/__init__.py:230-244``, ``paper/features.py:43-79``)
with deterministic Arrow-batched ``mapInPandas`` parsers over the
``html:binary`` column. No shelling out, no per-row Python UDFs — one
Python invocation per Arrow batch, heavy work amortized per document.

* ``extract_spans`` — what ``build_kg`` consumes: one pass per document
  that labels (rule state machine, or a trained sequence model),
  assembles and names result spans, mines mentions and collects
  citation anchors (``_doc_spans``). The token table never exists.
* ``extract_tokens`` — the long token table (FIXTURES.md §2), input of
  the segmenter, the feature frame and model training.
* ``extract_text`` — the per-row invariant (BASELINE.json input_hint):
  the extracted text is byte-identical to the reference extraction
  semantics per url (``get_text``: words joined by spaces within a
  line, '\\n' per line — ``Styling/src/lib/misc/__init__.py:9-25``).

Scale notes: every parse is a narrow map over the page scan — no
shuffle. The scan's byte-bounded splits balance the html across tasks,
and ``build_kg`` repartitions by url only the small fused output; the
Arrow batch size is capped in session.py so one giant document cannot
blow a batch.
"""

from __future__ import annotations

import html as _html
import re
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import RESULT_LABELS

TOKEN_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("block", T.IntegerType(), False),
        T.StructField("line", T.IntegerType(), False),
        T.StructField("word", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("hpos", T.DoubleType(), True),
        T.StructField("vpos", T.DoubleType(), True),
        T.StructField("width", T.DoubleType(), True),
        T.StructField("height", T.DoubleType(), True),
        T.StructField("font_id", T.StringType(), True),
        T.StructField("italic", T.BooleanType(), True),
        T.StructField("math", T.BooleanType(), True),
        T.StructField("bold", T.BooleanType(), True),
        T.StructField("font_size", T.DoubleType(), True),
        T.StructField("link", T.StringType(), True),
    ]
)

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

RE_FONT = re.compile(r'<meta name="font" id="(.*?)" family="(.*?)" size="(.*?)"/>')
RE_PAGE = re.compile(r'<section class="page" n="(\d+)">(.*?)</section>', re.S)
RE_BLOCK = re.compile(r'<div class="block" n="(\d+)">(.*?)</div>', re.S)
RE_LINE = re.compile(r'<p class="line">(.*?)</p>', re.S)
RE_WORD = re.compile(
    r'<w f="(.*?)" x="(.*?)" y="(.*?)" w="(.*?)" h="(.*?)"(?: l="(.*?)")?>(.*?)</w>'
)

# Font-class regexes frozen from the reference
# (Styling/src/lib/features/String.py:25-30).
RE_ITALIC = re.compile(r"((TI)[0-9]+|Ital|rsfs|EUSM)", re.IGNORECASE)
RE_BOLD = re.compile(r"(CMBX|Bold|NimbusRomNo9L-Medi)", re.IGNORECASE)
RE_MATH = re.compile(
    r"((CM)(SY|MI|EX)|math|Math|MSAM|MSBM|LASY|cmex|StandardSymL)", re.IGNORECASE
)


def _parse_fonts(page: str) -> dict[str, tuple[bool, bool, bool, float]]:
    fonts = {}
    for fid, family, size in RE_FONT.findall(page):
        fonts[fid] = (
            RE_ITALIC.search(family) is not None,
            RE_MATH.search(family) is not None,
            RE_BOLD.search(family) is not None,
            float(size),
        )
    return fonts


def _parse_tokens_into(url: str, html: bytes, cols: dict[str, list]) -> int:
    """One document -> token rows appended COLUMNAR into ``cols``.

    Columnar accumulation is the hot-path discipline: a list-of-tuples
    materializes millions of tuple objects per Arrow batch, which blows
    CPython GC time and makes ``pd.DataFrame(rows)`` the dominant cost
    of the whole pipeline (measured: ~7x the regex parse itself).

    Malformed rows yield no tokens rather than failing the job
    (recover-parse posture, ref: tools/ml/features.py:214-216). The
    whole per-document body — decode, font table, numeric attributes —
    is guarded: ANY failure rolls back this document's partial rows and
    yields zero tokens, so one bad real-world page can never kill a
    corpus run (S2).
    """
    col_lists = [cols[f.name] for f in TOKEN_SCHEMA.fields]
    mark = len(col_lists[0])  # rollback point for this document
    try:
        s = html.decode("utf-8")
        fonts = _parse_fonts(s)
        (
            c_url, c_page, c_block, c_line, c_word, c_text, c_hpos, c_vpos,
            c_width, c_height, c_fid, c_italic, c_math, c_bold, c_size, c_link,
        ) = col_lists
        n = 0
        unescape = _html.unescape
        no_font = (None, None, None, None)
        for page_n, page_body in RE_PAGE.findall(s):
            p = int(page_n)
            for block_n, block_body in RE_BLOCK.findall(page_body):
                b = int(block_n)
                for li, line_body in enumerate(RE_LINE.findall(block_body)):
                    for wi, m in enumerate(RE_WORD.finditer(line_body)):
                        fid, x, y, w, h, link, content = m.groups()
                        italic, math, bold, size = fonts.get(fid, no_font)
                        c_url.append(url)
                        c_page.append(p)
                        c_block.append(b)
                        c_line.append(li)
                        c_word.append(wi)
                        c_text.append(unescape(content))
                        c_hpos.append(float(x))
                        c_vpos.append(float(y))
                        c_width.append(float(w))
                        c_height.append(float(h))
                        c_fid.append(fid)
                        c_italic.append(italic)
                        c_math.append(math)
                        c_bold.append(bold)
                        c_size.append(size)
                        c_link.append(link if link else None)
                        n += 1
        return n
    except Exception:
        for lst in col_lists:
            del lst[mark:]
        return 0


def _parse_tokens(url: str, html: bytes) -> list[tuple]:
    """Row-oriented wrapper kept for the text-invariant path and tests."""
    cols: dict[str, list] = {f.name: [] for f in TOKEN_SCHEMA.fields}
    _parse_tokens_into(url, html, cols)
    names = [f.name for f in TOKEN_SCHEMA.fields]
    return list(zip(*(cols[n] for n in names))) if cols["url"] else []


def extract_tokens(pages: DataFrame) -> DataFrame:
    """English pages(url, html, lang, ...) -> long token DataFrame
    (FIXTURES.md §2)."""
    src = pages.filter(F.col("lang") == "en").select("url", "html")

    names = [f.name for f in TOKEN_SCHEMA.fields]
    flush_rows = 200_000  # bound worker memory: ~16 cols x 200k cells

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols: dict[str, list] = {n: [] for n in names}
        n_buf = 0
        for pdf in batches:
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None:
                    continue  # null payload -> no tokens, not a job failure
                n_buf += _parse_tokens_into(url, bytes(html), cols)
                if n_buf >= flush_rows:
                    yield pd.DataFrame(cols, columns=names)
                    cols = {n: [] for n in names}
                    n_buf = 0
        if n_buf:
            yield pd.DataFrame(cols, columns=names)

    return src.mapInPandas(parse, schema=TOKEN_SCHEMA)


SPANS_FUSED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # 'span'|'cite'|'mention'
        T.StructField("group", T.LongType(), False),
        T.StructField("label", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("own_name", T.StringType(), True),
        T.StructField("tag", T.StringType(), True),
        # span rows only: the span's token count (the kg_spans surface)
        T.StructField("n_tokens", T.LongType(), True),
        # mention rows only: the mined reference (find_ref_results)
        T.StructField("ref_name", T.StringType(), True),
        T.StructField("ref_kind", T.StringType(), True),  # 'intra'|'extra'
        T.StructField("ref_tag", T.StringType(), True),
    ]
)


def _doc_spans(url: str, html: bytes, model=None):
    """One document -> (span rows, citation tags), fused. A span row is
    (group, label, text, own_name, n_tokens).

    ONE sequential pass over the parse runs the link-marker transforms +
    ordered span-text assembly + normalization (extract_results,
    extract_graph.py:147-221) and own-name resolution with the
    last-theorem fallback (extract_graph.py:243-265) — the
    per-document-sequential semantics SURVEY §7.4.2 isolates in the
    Arrow stage. Only the open/close decision depends on the labeler:

    * ``model`` None: the naive-rule state machine
      (naive_extractor.py:20-55) decides while scanning — the library's
      only rule labeler (a JVM window-function twin in the tests
      cross-checks it token for token);
    * a loaded sequence model (``_load_model``): the scan collects every
      token's model inputs, and after it the model Viterbi-tags and
      BIO-decodes the whole document (``extractors/crf.py:89-132``).
    """
    from ..functions.text import (
        RE_NONWORD,
        find_thm_proof,
        find_thm_start,
        get_pattern,
        normalize_text,
    )

    spans: list[list] = []  # [group, label, parts]
    cite_tags: set[str] = set()
    # with a model: per token (text, bold, italic, word, line, block n,
    # marked text, in a result segment) — exactly the inputs the token
    # table gave the model; block is the `n` attribute, not an ordinal,
    # since featurize's block-head roll-up compares consecutive values
    toks: list[tuple] | None = None if model is None else []
    state_open = False
    group = 0
    num_mark = _RE_NUM_MARK
    unescape = _html.unescape
    no_font = (None, None, None, None)
    # Segmentation state (reference SegmentationAnnotationClass,
    # classes/__init__.py:73-83): documents open in `front`; a bold
    # block-initial marker flips the running segment (numbered heading ->
    # body, Appendix -> annex, Acknowledgements -> acknowledgement,
    # References -> bibliography). Result spans are valid ONLY in
    # {body, annex} (parent constraint, classes/__init__.py:135 +
    # get_box_validator paper/__init__.py:405-428); a rejected open
    # still CONSUMES a group number — the label layer numbers spans, the
    # constraint only drops boxes, exactly the reference's layer split.
    segment = "front"
    # the rule vocabulary; a model opens no span during the scan
    labels = RESULT_LABEL_SET if model is None else frozenset()
    seg_markers = _SEG_MARKERS
    result_segments = RESULT_PARENT_SEGMENTS

    # SINGLE-PASS scan instead of the nested page/block/line/word
    # findall hierarchy: one alternation regex walks the document once,
    # where the nested form rescans and COPIES every body substring at
    # each level (~4x character scanning + ~3x string copies). Measured
    # 2.4x faster over the corpus with byte-identical output; either
    # labeler only needs text/italic/bold/link, the line/word ordinals
    # and the block n, so the 16-column token table is never
    # materialized.
    # Open/close markers are tracked so stray words outside a
    # page>block>line nesting are dropped exactly like the nested form
    # (both paths treat malformed structure conservatively; token-level
    # identity with the tests' window-function twin is gated by
    # test_fused_and_window_paths_emit_identical_triples).
    # Recover-parse posture (S2) is unchanged: decode, the font table,
    # and every numeric attribute are validated, and ANY failure drops
    # the WHOLE document's spans/tags.
    try:
        s = html.decode("utf-8")
        fonts = _parse_fonts(s)
        in_page = in_block = in_line = False
        li = block_n = -1
        wi = 0
        for m in _RE_FUSED_SCAN.finditer(s):
            # one C call fetches all 7 captures (vs a group(1) probe plus
            # a 6-arg group(...) per word — ~18% of kernel CPU was group())
            fid, x, y, w, h, link, content = m.groups()
            if fid is None:  # structural marker — dispatch on prefix
                tok = m.group(0)
                c = tok[1]
                if c == "p":  # <p class="line">
                    li += 1
                    wi = 0
                    in_line = True
                elif c == "d":  # <div class="block" n="...">
                    in_block = True
                    li = -1
                    block_n = int(tok[22:-2])  # the n="..." digits
                elif c == "s":  # <section class="page" ...>
                    in_page = True
                elif tok[2] == "p":  # </p>
                    in_line = False
                elif tok[2] == "d":  # </div>
                    in_block = False
                else:  # </section>
                    in_page = False
                continue
            if not (in_page and in_block and in_line):
                continue
            float(x), float(y), float(w), float(h)  # numeric validation
            text = unescape(content)
            if wi == 0:
                italic, _math, bold, _size = fonts.get(fid, no_font)
                if bold or italic:
                    pat = get_pattern(text)
                    if li == 0 and bold:
                        marker = seg_markers.get(pat)
                        if marker is None and pat and not pat.strip("@"):
                            marker = "body"  # numbered section heading
                        if marker is not None:
                            segment = marker
                    if pat in labels:
                        group += 1
                        if segment in result_segments:
                            spans.append([group, pat, []])
                            state_open = True
                        else:
                            state_open = False
                    elif li == 0:
                        state_open = False
                elif li == 0:
                    state_open = False
            if link == "cite":
                cite_tags.add(RE_NONWORD.sub("", text))
                marked = f"<LINK:{text}>"
            elif link == "in":
                marked = num_mark.sub(r"\1#in", text)
            else:
                marked = text
            if state_open:
                spans[-1][2].append(marked)
            elif toks is not None:
                italic, _math, bold, _size = fonts.get(fid, no_font)
                toks.append(
                    (text, bold, italic, wi, li, block_n, marked,
                     segment in result_segments)
                )
            wi += 1
    except Exception:
        # one malformed real-world page never kills a corpus run
        return [], []

    if toks:
        from ..ml.crf import decode_bio, predict_tags

        texts, bold, italic, word, line, block, marks, kept = zip(*toks)
        tags = predict_tags(model, texts, bold, italic, word, line, block)
        for label, g, mark, ok in zip(*decode_bio(tags), marks, kept):
            # the parent constraint drops tokens, not groups: a span
            # opened outside {body, annex} still consumed its number
            if label != "O" and ok:
                if not spans or spans[-1][0] != g:
                    spans.append([g, label, []])
                spans[-1][2].append(mark)

    out = []
    last_thm = None
    for g, label, parts in spans:
        text = normalize_text(" ".join(parts))
        if label == "proof":
            own = find_thm_proof(text) or last_thm
        else:
            own = find_thm_start(text)
            last_thm = own
        out.append((g, label, text, own.lower() if own else None, len(parts)))
    return out, sorted(cite_tags)


_RE_NUM_MARK = re.compile(r"(([a-z]\.)?\d+(\.\d+)*)")

# bold block-initial heading patterns -> segmentation label (the
# structural twin of pipeline/segment.py::segment_blocks; gold truth is
# the generator's Block.seg, consumed only by the oracle)
_SEG_MARKERS = {
    "appendix": "annex",
    "acknowledgements": "acknowledgement",
    "references": "bibliography",
}
RESULT_PARENT_SEGMENTS = frozenset({"body", "annex"})
# word patterns that open a result span (the naive rule's vocabulary)
RESULT_LABEL_SET = frozenset(RESULT_LABELS)

# the fused path's one-pass scanner: structural open/close markers plus
# the word tag (negated character classes — attribute values and escaped
# content never contain '"' / '<' — scan linearly where lazy dots pay
# per-char backtrack bookkeeping)
_RE_FUSED_SCAN = re.compile(
    r'<section class="page" n="\d+">|</section>'
    r'|<div class="block" n="\d+">|</div>'
    r'|<p class="line">|</p>'
    r'|<w f="([^"]*)" x="([^"]*)" y="([^"]*)" w="([^"]*)" h="([^"]*)"'
    r'(?: l="([^"]*)")?>([^<]*)</w>'
)


_MODEL_CACHE: dict = {}  # one loaded model per (executor process, artifact)


def _resolve_artifact(name: str) -> str:
    """Absolute path, or a name registered through SparkContext.addFile
    (resolved per-executor via SparkFiles)."""
    import os

    if os.path.exists(name):
        return name
    from pyspark import SparkFiles

    return SparkFiles.get(name)


def _load_model(artifact: str):
    """A TRAINED pickled sequence model (``ml.crf.load_artifact``: the
    chain perceptron, the lbfgs CRF or the CNN1D tagger), loaded ONCE
    per executor process and memoized across tasks and batches (M1)."""
    if artifact not in _MODEL_CACHE:
        from ..ml.crf import load_artifact

        _MODEL_CACHE[artifact] = load_artifact(_resolve_artifact(artifact))
    return _MODEL_CACHE[artifact]


# the fused table's row kinds, by the lineage stage name each reports as
FUSED_KINDS = {"spans": "span", "mentions": "mention", "citations": "cite"}


def extract_spans(
    pages: DataFrame, model_file: str | None = None, lineage=None
) -> DataFrame:
    """English pages -> fused (span | mention | cite) rows: the
    single-Arrow-pass front end.

    ``model_file``, a pickled sequence-model artifact (``ml.crf``; an
    absolute path or a name registered via ``sc.addFile``), replaces the
    rule labeler inside the same pass; everything else is shared.

    ``lineage``, a ``runner.lineage_accumulator``, receives each task's
    lineage from the kernel itself: the fused rows, and per row kind
    (``FUSED_KINDS``) its rows, all with exact distinct urls, keyed by
    the task's partition; the fused entry carries the kernel's wall-ms
    in the task.

    Span rows carry the span's token count (``n_tokens``): filtered to
    ``kind = 'span'`` they are the ``kg_spans`` surface.

    Output partitioning follows the input (narrow map), and the result
    is a tiny table (~20 rows per document instead of ~800 tokens), so
    nothing downstream ever shuffles the token stream. One python pass
    labels, assembles and mines; a JVM window/collect_list pipeline over
    the token table measured ~19 us/token under full parallelism
    (sort+object-agg cache thrash) vs ~2 us/token here.
    """
    src = pages.filter(F.col("lang") == "en").select("url", "html")
    names = [f.name for f in SPANS_FUSED_SCHEMA.fields]

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.text import find_ref_results

        t0 = time.perf_counter()
        model = None if model_file is None else _load_model(model_file)
        cols: dict[str, list] = {n: [] for n in names}
        n_buf = 0
        # this task's lineage: rows and distinct urls per row kind
        kind_rows = dict.fromkeys(FUSED_KINDS.values(), 0)
        kind_urls: dict[str, set] = {k: set() for k in FUSED_KINDS.values()}

        def flush():
            nonlocal cols, n_buf
            out = pd.DataFrame(cols, columns=names)
            cols = {n: [] for n in names}
            n_buf = 0
            return out

        def emit(url, kind, group, label, text, own, tag, rname, rkind, rtag,
                 n_tok=None):
            cols["url"].append(url)
            cols["kind"].append(kind)
            cols["group"].append(group)
            cols["label"].append(label)
            cols["text"].append(text)
            cols["own_name"].append(own)
            cols["tag"].append(tag)
            cols["n_tokens"].append(n_tok)
            cols["ref_name"].append(rname)
            cols["ref_kind"].append(rkind)
            cols["ref_tag"].append(rtag)

        for pdf in batches:
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None:
                    continue
                spans, tags = _doc_spans(url, bytes(html), model)
                n = 0
                for g, label, text, own, n_tok in spans:
                    emit(url, "span", g, label, text, own, None, None, None,
                         None, n_tok)
                    # mention mining fused into the same pass: per span,
                    # find_ref_results deduped + sorted, ref names
                    # lowercased
                    _, intra, extra = find_ref_results(own, text or "")
                    for nm in sorted(set(intra)):
                        emit(url, "mention", g, label, None, own,
                             None, nm.lower(), "intra", None)
                        n += 1
                    for rtag, nm in sorted(set(extra)):
                        emit(url, "mention", g, label, None, own,
                             None, nm.lower(), "extra", rtag)
                        n += 1
                for tag in tags:
                    emit(url, "cite", 0, None, None, None, tag, None, None, None)
                for kind, k in (("span", len(spans)), ("mention", n),
                                ("cite", len(tags))):
                    if k:
                        kind_rows[kind] += k
                        kind_urls[kind].add(url)
                n_buf += len(spans) + len(tags) + n
                if n_buf >= 100_000:
                    yield flush()
        fused_rows = sum(kind_rows.values())
        if lineage is not None and fused_rows:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            wall = int((time.perf_counter() - t0) * 1000)
            urls = set().union(*kind_urls.values())
            report = {("fused", pid): (fused_rows, len(urls), wall)}
            for stage, kind in FUSED_KINDS.items():
                if kind_rows[kind]:
                    report[(stage, pid)] = (kind_rows[kind], len(kind_urls[kind]), 0)
            lineage.add(report)
        if n_buf:
            yield flush()

    return src.mapInPandas(parse, schema=SPANS_FUSED_SCHEMA)


def extract_text(pages: DataFrame) -> DataFrame:
    """pages (every language) -> (url, text) under the frozen get_text
    rule — the byte-identical invariant surface."""
    src = pages.select("url", "html")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, texts = [], []
            for url, html in zip(pdf["url"], pdf["html"]):
                toks = _parse_tokens(url, bytes(html)) if html is not None else []
                parts: list[str] = []
                cur_line = None
                words: list[str] = []
                for t in toks:
                    key = (t[1], t[2], t[3])
                    if cur_line is not None and key != cur_line:
                        parts.append(" ".join(words))
                        parts.append("\n")
                        words = []
                    cur_line = key
                    words.append(t[5])
                if cur_line is not None:
                    parts.append(" ".join(words))
                    parts.append("\n")
                urls.append(url)
                texts.append("".join(parts))
            yield pd.DataFrame({"url": urls, "text": texts})

    return src.mapInPandas(parse, schema="url string, text string")


def load_pages(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    """Materialize the synthetic pages corpus as a DataFrame (test scale)."""
    from ..corpus.generator import pages_rows

    rows = [
        (r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
        for r in pages_rows(n_docs, seed)
    ]
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)


def _pages_arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )


def _write_pages_part(task) -> None:
    """Docs [start, end) -> one parquet file (multiprocessing-friendly;
    deterministic regardless of chunking — every doc is independently
    seeded)."""
    start, end, n_docs, seed, path, chunk = task
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..corpus.generator import (
        _doc_cite_targets,
        build_doc,
        doc_text,
        externals,
        render_html,
    )

    exts = externals(seed)
    schema = _pages_arrow_schema()
    writer = pq.ParquetWriter(path, schema)
    buf: list[dict] = []

    def flush():
        nonlocal buf
        if buf:
            writer.write_table(pa.Table.from_pylist(buf, schema=schema))
            buf = []

    for i in range(start, end):
        targets = _doc_cite_targets(i, seed, exts, n_docs)
        doc = build_doc(i, seed, cite_entries=[(t, title) for t, _, title in targets])
        buf.append(
            {
                "url": doc.url,
                "warc_ts": doc.warc_ts,
                "html": render_html(doc),
                "text": doc_text(doc),
                "lang": doc.lang,
            }
        )
        if len(buf) >= chunk:
            flush()
    flush()
    writer.close()


def write_pages_parquet(
    path: str, n_docs: int, seed: int = 42, chunk: int = 100, jobs: int = 1
) -> None:
    """Write the synthetic corpus to parquet without Spark (pyarrow),
    chunked so large corpora never sit in memory at once. ``jobs > 1``
    writes a DIRECTORY of part files in parallel (same rows — per-doc
    seeding is chunking-independent)."""
    if jobs > 1:
        import multiprocessing as mp
        import os

        os.makedirs(path, exist_ok=True)
        per = -(-n_docs // jobs)
        tasks = [
            (lo, min(lo + per, n_docs), n_docs, seed,
             os.path.join(path, f"part-{lo:08d}.parquet"), chunk)
            for lo in range(0, n_docs, per)
        ]
        with mp.Pool(jobs) as pool:
            pool.map(_write_pages_part, tasks)
        return
    _write_pages_part((0, n_docs, n_docs, seed, path, chunk))
