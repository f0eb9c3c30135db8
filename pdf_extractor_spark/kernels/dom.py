"""DOM boilerplate stripper (SURVEY.md OP-64) — one-pass regex tokenizer.

Boilerpipe/trafilatura-style block classification: parse HTML into
block-level text blocks, compute per-block text-density / link-density
features, classify content vs boilerplate, and emit

    {title, text, blocks[], links[], tables[]}

Link harvesting reproduces the reference's per-page link dump
(/root/reference/extract_cam_followers.py:96-99: keep ``link["uri"]`` when
present).  ``<table>`` parsing is the HTML analogue of the reference's table
extraction (/root/reference/pdf_extractor/extractors/table_extractor.py:65-135);
cell cleaning (whitespace collapse, null->'' coalesce) stays relational
(SURVEY.md OP-14/OP-15) — the kernel emits the raw ragged grid.

The tokenizer emits exactly the start-tag / end-tag / data events of
CPython 3.11's ``html.parser`` (``convert_charrefs=True``, one feed, then
close), data-chunk boundaries included: a chunk can open a ``_text``
block.  Each step takes a text run and the markup at its ``<``, read with
``html.parser``'s own patterns and recovery rules.  One deliberate
difference: a ``<![`` section with an unknown keyword is a bogus comment up
to the next ``>`` (the HTML5 rule), where ``html.parser`` raised and lost
the rest of the page.  Attributes are parsed only for the tags whose
attributes are read.

Deterministic: a pure function of the input bytes.  No wall clock, no I/O.
"""

from __future__ import annotations

import re
from html import unescape

from .tokenizer import decode_bytes, normalize_text, word_count

__all__ = ["parse_html"]

# Tags that open a new text block.
_BLOCK_TAGS = {
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "pre",
    "blockquote", "article", "section", "main", "header", "footer",
    "nav", "aside", "td", "th", "caption", "figcaption", "dd", "dt",
    "title", "br", "tr", "ul", "ol", "table", "body",
}
# Content inside these is dropped entirely.
_SKIP_TAGS = {"script", "style", "noscript", "template", "svg", "iframe"}

# Classification thresholds (fixed constants => deterministic goldens).
MAX_LINK_DENSITY = 0.333  # boilerpipe-style: link-dominated block = nav
MIN_CONTENT_WORDS = 8     # short isolated blocks are boilerplate
HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
_NOISE_TAGS = {"nav", "footer", "aside", "header"}
# the tags whose attributes are read, and all tags that change _Doc state
_ATTR_TAGS = {"a", "link", "meta"}
_STATE_TAGS = _NOISE_TAGS | _ATTR_TAGS | {"title", "table", "tr", "td", "th"}

# html.parser's own patterns (CPython 3.11 html/parser.py, _markupbase.py)
_ATTR = r"""(?<=['"\s/])[^\s/>][^\s/=>]*"""
_VALUE = r"""'[^']*'|"[^"]*"|(?!['"])[^>\s]*"""
_ATTRFIND = re.compile(r"(%s)(\s*=+\s*(%s))?(?:\s|/(?!>))*" % (_ATTR, _VALUE))
_TAGFIND = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
# One step: a text run, then its '<': a well-formed end tag (endtagfind), a
# start tag up to where html.parser stops reading it (locatestarttagend),
# or whatever _markup reads there
_NEXT = re.compile(r"""([^<]*)(?:</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>
  |<([a-zA-Z][^\t\n\r\f\ />\x00]*)(?:[\s/]*(?:%s(?:\s*=+\s*(?:%s)\s*)?(?:\s|/(?!>))*)*)?\s*
  |<)""" % (_ATTR, _VALUE), re.VERBOSE)
_COMMENT_CLOSE = re.compile(r"--\s*>")
_DECL_NAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*")
_MARKED_CLOSE = {**dict.fromkeys(("temp", "cdata", "ignore", "include", "rcdata"),
                                 re.compile(r"]\s*]\s*>")),
                 **dict.fromkeys(("if", "else", "endif"), re.compile(r"]\s*>"))}
# html.parser ends script/style raw text at `</\s*script\s*>` under re.I, but
# skips a match whose name holds a non-ASCII case-fold (`ſ`, `K`): ASCII-only
# case-insensitivity finds the same close
_RAW_TEXT_END = {t: re.compile(r"</\s*(?ai:%s)\s*>" % t) for t in ("script", "style")}
# next after html.parser's readable part of a start tag: the tag is cut short
_INCOMPLETE = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ=/")


class _Block:
    __slots__ = ("tag", "in_noise", "parts", "link_chars")

    def __init__(self, tag: str, in_noise: bool) -> None:
        self.tag, self.in_noise, self.parts, self.link_chars = tag, in_noise, [], 0


class _Doc:
    """Block / link / table / title / canonical / robots state, fed one
    event at a time: start, startend, end (lowercase tag) and data."""

    def __init__(self) -> None:
        self.blocks: list[_Block] = []
        self.links: list[str] = []
        self.tables: list[list[list[str | None]]] = []
        self.title_parts: list[str] = []
        self.canonical: str | None = None  # first <link rel=canonical href>
        self.robots: str | None = None     # first <meta name=robots content>
        self.cur: _Block | None = None
        self.skip = self.anchors = self.noise = 0  # open element depths
        self.in_title = self.cell_seen_text = False
        self.table_stack: list[list[list[str | None]]] = []
        self.row: list[str | None] | None = None
        self.cell: list[str] | None = None

    def start(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self.skip += 1
        elif self.skip:
            return
        elif tag in _STATE_TAGS:
            if tag in _NOISE_TAGS:
                self.noise += 1
            elif tag == "a":
                self.anchors += 1
                href = dict(attrs).get("href")
                if href:  # URI presence predicate (OP-31)
                    self.links.append(href)
            elif tag == "title":
                self.in_title = True
            elif tag == "link" and self.canonical is None:
                a = dict(attrs)
                if (a.get("rel") or "").strip().lower() == "canonical" \
                        and (a.get("href") or "").strip():
                    self.canonical = a["href"].strip()
            elif tag == "meta" and self.robots is None:
                a = dict(attrs)
                if (a.get("name") or "").strip().lower() == "robots":
                    # normalize the directive list: lowercase, trim each
                    # token, canonical ', ' separator — crawl policy
                    # compares tokens, not author formatting
                    toks = (t.strip() for t in (a.get("content") or "").lower().split(","))
                    self.robots = ", ".join(t for t in toks if t) or None
            elif tag == "table":
                self.table_stack.append([])
            elif tag == "tr":
                if self.table_stack:
                    self.row = []
            elif tag in ("td", "th") and self.table_stack:
                self.cell = []
                self.cell_seen_text = False
        if tag in _BLOCK_TAGS and not self.skip:
            self.cur = _Block(tag, self.noise > 0)
            self.blocks.append(self.cur)

    def startend(self, tag: str, attrs) -> None:
        if tag == "br" and self.cur is not None:
            self.cur.parts.append("\n")
        elif tag != "img":
            self.start(tag, attrs)
            self.end(tag)

    def end(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self.skip = max(0, self.skip - 1)
            return
        if self.skip:
            return
        if tag in _STATE_TAGS:
            if tag in _NOISE_TAGS:
                self.noise = max(0, self.noise - 1)
            elif tag == "a":
                self.anchors = max(0, self.anchors - 1)
            elif tag == "title":
                self.in_title = False
            elif tag in ("td", "th"):
                if self.cell is not None and self.row is not None:
                    # None-cell fidelity: pdfplumber yields None for empty
                    # cells (coalesced relationally per OP-15) — mirror that.
                    self.row.append("".join(self.cell) if self.cell_seen_text else None)
                    self.cell = None
            elif tag == "tr":
                if self.row is not None and self.table_stack:
                    self.table_stack[-1].append(self.row)
                    self.row = None
            elif tag == "table" and self.table_stack:
                self.tables.append(self.table_stack.pop())
        if tag in _BLOCK_TAGS:
            self.cur = None

    def data(self, data: str) -> None:
        if self.skip:
            return
        if self.in_title:
            self.title_parts.append(data)
        if self.cell is not None:
            self.cell.append(data)
            self.cell_seen_text = self.cell_seen_text or bool(data.strip())
        cur = self.cur
        if cur is None:
            if not data.strip():
                return
            cur = self.cur = _Block("_text", self.noise > 0)
            self.blocks.append(cur)
        cur.parts.append(data)
        if self.anchors:
            cur.link_chars += len(data)


def _tokenize(raw: str, doc: _Doc) -> None:
    """Feed ``doc`` the events html.parser emits for ``raw``."""
    data, end, match = doc.data, doc.end, _NEXT.match
    i = 0
    while True:
        m = match(raw, i)
        if m is None:  # no '<' left: the rest is one chunk
            if i < len(raw):
                data(unescape(raw[i:]))
            return
        text, etag, stag = m.groups()
        if text:
            data(unescape(text) if "&" in text else text)
        i = m.end()
        if etag:
            end(etag.lower())
        elif stag:
            i = _starttag(raw, m.start(3) - 1, i, stag, doc)
        else:
            i = _markup(raw, i - 1, doc)


def _markup(raw: str, i: int, doc: _Doc) -> int:
    """Whatever starts at the '<' raw[i] when it opens no tag, by
    html.parser's rules; returns the index after it."""
    if raw.startswith("</", i):
        k = raw.find(">", i + 1)
        if k >= 0:
            m = _TAGFIND.match(raw, i + 2)
            if m:  # else `</>` or a bogus comment, both up to that '>'
                doc.end(m.group(1).lower())
            k += 1
    elif raw.startswith("<!--", i):
        m = _COMMENT_CLOSE.search(raw, i + 4)
        k = m.end() if m else -1
    elif raw.startswith(("<!", "<?"), i):
        m = raw.startswith("<![", i) and _DECL_NAME.match(raw, i + 3)
        close = m and _MARKED_CLOSE.get(m.group().lower())
        if close:  # a marked section
            m = close.search(raw, i + 3)
            k = m.end() if m else -1
        else:  # doctype, processing instruction or bogus comment
            k = raw.find(">", i + 2) + 1 or -1
    else:  # a lone '<' is a chunk of its own
        doc.data("<")
        return i + 1
    return k if k >= 0 else _unterminated(raw, i, doc)


def _unterminated(raw: str, i: int, doc: _Doc) -> int:
    """The construct at the '<' raw[i] never ends: up to its '>' (else the
    next '<') is text."""
    k = raw.find(">", i + 1) + 1 or raw.find("<", i + 1)
    k = k if k > 0 else i + 1
    doc.data(unescape(raw[i:k]))
    return k


def _starttag(raw: str, i: int, j: int, name: str, doc: _Doc) -> int:
    """Emit the start tag ``name`` at the '<' raw[i], read up to raw[j];
    return where tokenizing goes on (the end of the input when a
    script/style element never closes: html.parser drops the rest).
    Attributes are read only for the tags that use them, and script/style
    raw text is never emitted: the element is in _SKIP_TAGS, so _Doc.data
    would drop it."""
    nxt = raw[j:j + 1]
    if nxt == ">":
        endpos = j + 1
    elif raw.startswith("/>", j):
        endpos = j + 2
    elif not nxt or nxt in _INCOMPLETE:  # cut short
        return _unterminated(raw, i, doc)
    else:
        endpos = j
    tag, k, attrs = name.lower(), i + 1 + len(name), []
    if k < j:  # more than the name: read on as html.parser does
        k, keep = _TAGFIND.match(raw, i + 1).end(), tag in _ATTR_TAGS
        while k < endpos and (m := _ATTRFIND.match(raw, k)):
            k = m.end()
            if keep:
                name, rest, value = m.group(1, 2, 3)
                if not rest:
                    value = None
                elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
                    value = value[1:-1]
                attrs.append((name.lower(), unescape(value) if value else value))
    tail = raw[k:endpos].strip()
    if tail == "/>":
        doc.startend(tag, attrs)
        return endpos
    if tail != ">":
        doc.data(raw[i:endpos])
        return endpos
    doc.start(tag, attrs)
    close = _RAW_TEXT_END.get(tag)
    if close is None:
        return endpos
    m = close.search(raw, endpos)
    if m is None:
        return len(raw)
    doc.end(tag)
    return m.end()


def _classify(blocks: list[dict], in_noise: list[bool]) -> None:
    """Boilerpipe-style two-pass classification; sets ``is_content`` and
    ``block_type`` (0 content, 1 boilerplate).  ``in_noise[i]`` is whether
    block ``i`` sits inside a nav/footer/aside/header element."""
    for b, noise in zip(blocks, in_noise):
        min_words = 1 if b["tag"] in HEADING_TAGS else MIN_CONTENT_WORDS
        b["is_content"] = not (noise or b["tag"] == "title") and \
            b["word_count"] >= min_words and b["link_density"] <= MAX_LINK_DENSITY
    # smoothing pass: promote short low-link blocks sandwiched between
    # content (left to right: a promoted block counts for its successor)
    for prev, b, nxt, noise in zip(blocks, blocks[1:], blocks[2:], in_noise[1:]):
        if not (b["is_content"] or noise or b["tag"] == "title") \
                and b["word_count"] and b["link_density"] <= MAX_LINK_DENSITY \
                and prev["is_content"] and nxt["is_content"]:
            b["is_content"] = True
    # demote headings with no non-heading content after them (trailing
    # boilerplate)
    last = max((i for i, b in enumerate(blocks)
                if b["is_content"] and b["tag"] not in HEADING_TAGS), default=-1)
    for b in blocks[last + 1:]:
        if b["tag"] in HEADING_TAGS:
            b["is_content"] = False
    for b in blocks:
        b["block_type"] = 0 if b["is_content"] else 1


def parse_html(data: bytes) -> dict:
    """OP-64 kernel: HTML bytes -> extraction dict.

    Returns {title, text, blocks, links, tables, encoding, canonical,
    robots}; ``text`` is the main content (content blocks joined by blank
    lines, normalized).
    """
    raw, enc = decode_bytes(data, sniff_meta=True)
    doc = _Doc()
    _tokenize(raw, doc)
    return _result(doc, enc)


def _result(doc: _Doc, enc: str) -> dict:
    """Blocks come out in schema.BLOCK_SCHEMA shape (no bbox in html)."""
    blocks: list[dict] = []
    in_noise: list[bool] = []
    for blk in doc.blocks:
        text = normalize_text("".join(blk.parts))
        if text:
            blocks.append({
                "block_no": len(blocks), "tag": blk.tag, "text": text,
                "char_count": len(text), "word_count": word_count(text),
                "x0": None, "y0": None, "x1": None, "y1": None,
                "block_type": 1,
                "link_density": round(min(1.0, blk.link_chars / len(text)), 6)
                if blk.link_chars else 0.0,
                "is_content": False,
            })
            in_noise.append(blk.in_noise)
    _classify(blocks, in_noise)
    return {
        "title": normalize_text("".join(doc.title_parts)),
        "text": "\n\n".join(b["text"] for b in blocks if b["is_content"]),
        "blocks": blocks, "links": doc.links, "tables": doc.tables, "encoding": enc,
        # crawl-policy metadata (first occurrence wins, per WHATWG
        # duplicate-handling): canonical URL and normalized robots
        # directives; None when the document declares neither
        "canonical": doc.canonical, "robots": doc.robots,
    }
