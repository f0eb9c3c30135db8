"""Differential test of the DOM kernel's tokenizer against the running
interpreter's stdlib ``html.parser``.

The oracle is ``HTMLParser`` (``convert_charrefs=True``, one feed, then
close) whose handlers are the kernel's own block logic (``dom._Doc``), so
any difference is the tokenizer's.  Both sides are compared event by event
(tag, attributes the kernel reads, every data chunk outside dropped
content) and on the final result, over the fixture rows, generated crawl
docs with oversized pages, and seeded mutants of both.  The one permitted
difference: a ``<![`` section with an unknown keyword (or none), where
``html.parser`` raises ``AssertionError`` and the kernel reads a bogus
comment; there the oracle's events must be a prefix of the kernel's.

The kernel reproduces CPython 3.11's parser; later versions changed its
recovery rules (``--!>`` closes a comment, unclosed script text is
emitted), so the oracle only holds on 3.11.
"""

from __future__ import annotations

import gzip
import random
import sys
from html.parser import HTMLParser
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from gen_fixtures import fixture_rows  # noqa: E402

from pdf_extractor_spark.kernels import dom  # noqa: E402
from pdf_extractor_spark.kernels.dispatch import extract_document  # noqa: E402
from pdf_extractor_spark.kernels.tokenizer import decode_bytes  # noqa: E402
from pdf_extractor_spark.sources.synth import gen_doc  # noqa: E402

pytestmark = pytest.mark.skipif(
    sys.version_info[:2] != (3, 11),
    reason="the oracle is CPython 3.11's html.parser, which the kernel reproduces")


class _RecordingDoc(dom._Doc):
    """A _Doc that logs each event it acts on."""

    def __init__(self) -> None:
        super().__init__()
        self.events: list[tuple] = []

    def start(self, tag, attrs):
        self.events.append(("start", tag, list(attrs) if tag in dom._ATTR_TAGS else ()))
        super().start(tag, attrs)

    def startend(self, tag, attrs):
        self.events.append(("startend", tag, list(attrs) if tag in dom._ATTR_TAGS else ()))
        super().startend(tag, attrs)

    def end(self, tag):
        self.events.append(("end", tag))
        super().end(tag)

    def data(self, data):
        if not self.skip:  # chunks inside script/style/... are dropped unread
            self.events.append(("data", data))
        super().data(data)


def _oracle(raw: str) -> tuple[_RecordingDoc, bool]:
    doc = _RecordingDoc()
    p = HTMLParser(convert_charrefs=True)
    p.handle_starttag, p.handle_startendtag = doc.start, doc.startend
    p.handle_endtag, p.handle_data = doc.end, doc.data
    try:
        p.feed(raw)
        p.close()
    except AssertionError:  # _markupbase: unknown marked-section keyword
        return doc, True
    return doc, False


def _kernel(raw: str) -> _RecordingDoc:
    doc = _RecordingDoc()
    dom._tokenize(raw, doc)
    return doc


def _compare(payload: bytes) -> bool:
    """Assert kernel == oracle on ``payload``; True for the pinned `<![` case."""
    raw, enc = decode_bytes(payload, sniff_meta=True)
    want, raised = _oracle(raw)
    got = _kernel(raw)
    if raised:
        assert got.events[:len(want.events)] == want.events
        return True
    assert got.events == want.events
    assert dom._result(got, enc) == dom._result(want, enc) == dom.parse_html(payload)
    return False


def _payloads() -> list[bytes]:
    out = []
    for row in fixture_rows():
        p = row["html"]
        out.append(gzip.decompress(p) if p[:3] == b"\x1f\x8b\x08" else p)
    return out


_TOKENS = [b"<", b"</", b"&", b"<!--", b"-->", b"<!", b"<?", b"'", b'"', b"<script>",
           b"</script", b"</script>", b"<style>", b">", b"/>", b"=", b"<![CDATA[", b"]]>",
           b"<![if", b"<![foo[", b"&amp;", b"&#", b"&#x41", b"<a href=", b"<br/>", b"\x00",
           b" ", b"\n", b"<p", b"</p", b"<!DOCTYPE", b"</>", b"<a\x0b", b"\xc5\xbf",
           b"<script src=a.js?v=1>", b"<style media=a=b>", b"</iframe>", b"</svg>"]


def _mutant(rng: random.Random, base: bytes) -> bytes:
    b = bytearray(base)
    for _ in range(rng.randint(1, 4)):
        pos = rng.randint(0, len(b))
        op = rng.random()
        if op < 0.45:
            b[pos:pos] = rng.choice(_TOKENS)
        elif op < 0.6:
            b[pos:pos] = bytes([rng.randrange(256)])
        elif op < 0.75 and pos < len(b):
            b[pos] = rng.randrange(256)
        elif op < 0.9:
            del b[pos:pos + rng.randint(1, 8)]
        else:
            del b[pos:]  # truncation: constructs cut at end of input
    return bytes(b)


def test_fixture_rows_match_oracle():
    assert not any(_compare(p) for p in _payloads())


def test_crawl_docs_with_oversized_pages_match_oracle():
    docs = [gen_doc(i, seed=7)["html"] for i in range(200)]
    docs += [gen_doc(i, seed=7, oversize_frac=1.0)["html"] for i in (3, 11)]
    docs = [gzip.decompress(p) if p[:3] == b"\x1f\x8b\x08" else p for p in docs]
    assert sum(len(p) > 1 << 20 for p in docs) == 2
    assert not any(_compare(p) for p in docs)


@pytest.mark.parametrize("part", range(4))
def test_seeded_mutants_match_oracle(part):
    """1,500 mutants per part, 6,000 in all; every one is also total through
    extract_document."""
    rng = random.Random(part)
    bases = [p for p in _payloads() if len(p) < 40_000]
    pinned = 0
    for _ in range(1500):
        m = _mutant(rng, rng.choice(bases))
        pinned += _compare(m)
        assert extract_document(m)["status"] in ("ok", "error")
    assert pinned < 150  # the permitted difference stays the rare case


def test_unknown_marked_section_is_a_bogus_comment():
    page = (b"<p>aaaa bbbb cccc dddd eeee ffff gggg hhhh</p><![foo[ x ]]>"
            b"<p>one two three four five six seven eight</p>")
    r = dom.parse_html(page)
    assert r["text"] == ("aaaa bbbb cccc dddd eeee ffff gggg hhhh\n\n"
                         "one two three four five six seven eight")
    assert _compare(page)  # html.parser raised here and lost the second block
    # known keywords keep html.parser's reading
    assert not _compare(page.replace(b"foo", b"CDATA"))
    assert not _compare(page.replace(b"<![foo[ x ]]>", b"<![if x]>"))


@pytest.mark.parametrize("page", [
    b"<p>a < b <a href=x>c < d</a>",            # lone '<' chunks inside an anchor
    b"<p>fish &amp; chips &#x26",               # charref at the end of the input
    b"<p>text at eof &am",                      # incomplete entity at EOF
    b"<div><a href='/x'>t</a><b>x<",            # lone '<' at EOF
    b"<p>x</p><script>if (a</b) {}</script >y",  # raw text, spaced close tag
    b"<p>x<style>p{}</\xc5\xbftyle><p>no</style>tail",  # non-ASCII lookalike close
    b"<p>x<script>never closed <p>gone",
    # never closed, from a start tag the well-formed-tag pattern rejects:
    # a later close of another dropped element must not revive the text
    b'<p>x<script src=a.js?v=1>var s="</iframe>";<p>one two three four five six seven eight',
    b'<p>x<script src=a.js?v=1>var s="</style>";<p>one two three four five six seven eight',
    b'<p>x<style media=a=b>p{}</svg><p>one two three four five six seven eight',
    b"<a href=/a/b/>x</a><a href=c/ >y</a><br/><br />",
    b"<p>v<a\tb='1'c=\"2\" d = e>w</a></p>",
    b"<p>x</p  junk><!-- c --><!-- open <p>y",
    b"<!DOCTYPE html><?xml x?><!bogus><p>z</p></ p></>",
    b"<p>x<a href='1' <b>y",                    # start tag cut by another '<'
    b"<p>x<a&amp;\x00>y",                        # junk start tag is raw text
    b"<p>x<![CDATA[ y <p>z",                    # unterminated marked section
])
def test_malformed_markup_matches_oracle(page):
    _compare(page)
