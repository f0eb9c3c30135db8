"""Transparent bounded gunzip in the dispatch layer (round 5).

Real crawl tables carry occasional double-compressed bodies — a
Content-Encoding survivor the WARC writer stored verbatim.  Before this,
a gzip payload sniffed as 'raw' and shipped binary soup as content with
status 'ok' — silent wrong output, the failure mode the error
side-channel exists to prevent.  The reference never sees this (its CLI
reads files pre-decoded), but a 10^12-row pipeline will.
"""

import gzip
import random
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_extractor_spark.kernels.dispatch import extract_document
from pdf_extractor_spark.sources.synth import make_html, make_pdf, make_raw


class TestTransparentGunzip:
    def test_all_kinds_twin(self):
        for doc_id in range(9):
            kind = ("pdf", "html", "raw")[doc_id % 3]
            rng = random.Random(f"gz:{doc_id}")
            if kind == "pdf":
                payload = make_pdf(rng, doc_id)[0]
            elif kind == "html":
                payload = make_html(rng, doc_id, "en")
            else:
                payload = make_raw(rng, doc_id)
            rp = extract_document(payload)
            rg = extract_document(gzip.compress(payload, 6, mtime=0))
            assert rp == rg
            assert rg["kind"] == kind and rg["status"] == "ok"

    def test_nested_members_unwrap(self):
        html = (b'<html><body><article><h1>T</h1><p>nested body with '
                b'plenty of words to clear the content gate here</p>'
                b'</article></body></html>')
        double = gzip.compress(gzip.compress(html, mtime=0), mtime=0)
        r = extract_document(double)
        assert r["kind"] == "html" and r["status"] == "ok"
        assert "nested body" in r["pages"][0]["text"]

    def test_truncated_member_error_routes(self):
        full = gzip.compress(random.Random(5).randbytes(4096), mtime=0)
        assert len(full) > 2000  # incompressible: the cut below is real
        r = extract_document(full[:len(full) // 2])
        assert r["status"] == "error" and "gzip" in r["error"]

    def test_bomb_capped(self):
        bomb = gzip.compress(b"\x00" * (1 << 28), 1)  # 256 MiB of zeros
        assert len(bomb) < 2 << 20  # the hostile payload itself is small
        r = extract_document(bomb)
        assert r["status"] == "error" and "exceeds" in r["error"]

    def test_corpus_gzip_share_results_identical(self):
        # gen_doc wraps doc_id % 32 == 14 AFTER all rng draws, so the
        # extraction result equals the unwrapped generator output exactly
        from pdf_extractor_spark.sources.synth import gen_doc

        hit = False
        for doc_id in (14, 46, 78, 110):
            row = gen_doc(doc_id)
            assert row["html"][:3] == b"\x1f\x8b\x08"
            r = extract_document(row["html"])
            assert r["status"] == "ok"
            rg = extract_document(gzip.decompress(row["html"]))
            assert r == rg
            hit = True
        assert hit


class TestPdfPreamble:
    """%PDF- headers behind glued preamble junk (HTTP fragments, chunked
    residue) — crawled PDFs carry these; MuPDF scans for the header."""

    def test_glued_http_preamble(self):
        pdf, _ = make_pdf(random.Random("pre:1"), 1)
        glued = (b"HTTP/1.1 200 OK\r\nContent-Type: application/pdf"
                 b"\r\n\r\n" + pdf)
        r1, r2 = extract_document(pdf), extract_document(glued)
        assert r2["kind"] == "pdf" and r2["status"] == "ok"
        assert [p["text"] for p in r1["pages"]] == \
               [p["text"] for p in r2["pages"]]

    def test_html_mentioning_pdf_magic_stays_html(self):
        html = (b'<html><body><article><h1>T</h1><p>article about the '
                b'%PDF- magic header with plenty of words in this body'
                b'</p></article></body></html>')
        assert extract_document(html)["kind"] == "html"

    def test_text_mentioning_pdf_magic_extracts_as_raw(self):
        text = (b"Release notes\n\nThe exporter now writes a %PDF-1.4 header "
                b"and a startxref trailer.\n")
        r = extract_document(text)
        assert (r["kind"], r["status"]) == ("raw", "ok")
        assert "%PDF-1.4 header" in r["pages"][0]["text"]

    def test_broken_glued_pdf_still_error_routes(self):
        # object structure present: a failed parse is a broken PDF, never
        # binary soup returned as raw text
        pdf, _ = make_pdf(random.Random("pre:3"), 3)
        r = extract_document(b"junk\r\n" + pdf[:len(pdf) // 2])
        assert (r["kind"], r["status"]) == ("pdf", "error")
        # cut inside the first object, before any `endobj` (a crawl byte
        # cap over a large first stream)
        cut = pdf.index(b"endobj") - 1
        assert b" obj" in pdf[:cut]
        r = extract_document(b"junk\r\n" + pdf[:cut])
        assert (r["kind"], r["status"]) == ("pdf", "error")

    def test_deep_magic_not_sniffed(self):
        # the scan window is 1 KiB: %PDF- beyond it stays raw
        r = extract_document(b"\x00" * 2000 + b"%PDF-1.4")
        assert r["kind"] == "raw"

    def test_gzip_wrapped_glued_pdf(self):
        import gzip as _g
        pdf, _ = make_pdf(random.Random("pre:2"), 2)
        payload = _g.compress(b"junk-preamble\r\n" + pdf, mtime=0)
        r = extract_document(payload)
        assert r["kind"] == "pdf" and r["status"] == "ok"


class TestMultiMemberGzip:
    """Concatenated members decode like gzip.decompress: every member,
    NUL padding between members skipped, the 64 MiB cap on the total,
    anything else after a member error-routed."""

    HTML_A = (b'<html><body><article><h1>T</h1><p>first member body with '
              b'plenty of words to clear the content gate')
    HTML_B = (b' and the second member carries the rest of this paragraph'
              b'</p></article></body></html>')

    def test_two_members(self):
        payload = (gzip.compress(self.HTML_A, mtime=0)
                   + gzip.compress(self.HTML_B, mtime=0))
        assert gzip.decompress(payload) == self.HTML_A + self.HTML_B
        r = extract_document(payload)
        assert r == extract_document(self.HTML_A + self.HTML_B)
        assert r["status"] == "ok"
        assert "second member" in r["pages"][0]["text"]

    def test_nul_padding_between_members(self):
        payload = (gzip.compress(self.HTML_A, mtime=0) + b"\x00" * 7
                   + gzip.compress(self.HTML_B, mtime=0) + b"\x00" * 3)
        r = extract_document(payload)
        assert r == extract_document(self.HTML_A + self.HTML_B)

    def test_members_total_over_cap(self):
        # each member is under the 64 MiB cap; together they exceed it
        member = gzip.compress(b"\x00" * (40 << 20), 1)
        r = extract_document(member + member)
        assert r["status"] == "error" and "exceeds" in r["error"]

    def test_trailing_junk_error_routes(self):
        payload = gzip.compress(self.HTML_A, mtime=0) + b"trailing junk"
        with pytest.raises(gzip.BadGzipFile):
            gzip.decompress(payload)
        r = extract_document(payload)
        assert r["status"] == "error" and "gzip" in r["error"]
