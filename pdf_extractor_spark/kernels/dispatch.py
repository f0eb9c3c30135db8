"""Content-type dispatch + unified extraction result (SURVEY.md §3.4).

One pure function ``extract_document(payload) -> dict`` replacing the
reference's triple-parse orchestration (/root/reference/pdf_extractor/core/
extractor.py:90-194, which opens the same document three times at :116, :149
and :201): a single pass over the byte payload, dispatched by magic bytes —

    %PDF-                       -> PDF layout parser   (OP-59/60)
    '<' after BOM/whitespace    -> DOM stripper        (OP-64)
    otherwise                   -> byte tokenizer      (OP-65)

The result mirrors the reference's ExtractionResult tree
(/root/reference/pdf_extractor/models/extraction_result.py:86-141) as plain
dicts: pages -> texts/blocks/images/tables with derived char/word counts
(extraction_result.py:20-23).  Errors never raise: invalid rows surface as
``status='error'`` side-channel values (SURVEY.md OP-32 mapping).
"""

from __future__ import annotations

import re

from . import dom, pdf, tokenizer

__all__ = ["sniff_kind", "extract_document", "assemble_doc_text", "PAGE_BANNER"]

_OBJ_HEADER = re.compile(rb"\d+\s+\d+\s+obj\b")
_BOMS = (b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff", b"\xff\xfe\x00\x00", b"\x00\x00\xfe\xff")


def sniff_kind(payload: bytes) -> str:
    """Magic-byte content-type detection: 'pdf' | 'html' | 'raw'.

    A %PDF- header ANYWHERE in the first 1 KiB counts as PDF — crawled
    PDFs frequently carry glued preamble junk (HTTP header fragments,
    chunked-encoding residue); viewers and MuPDF scan for the header the
    same way.  extract_document slices the preamble off before parsing
    (xref offsets are relative to the header in such files), and extracts
    as raw text a payload that fails to parse and has no object in it."""
    if payload.startswith(b"%PDF-"):
        return "pdf"
    head = payload[:256]
    for bom in _BOMS:
        if head.startswith(bom):
            head = head[len(bom):]
            break
    # UTF-16 HTML: '<' interleaved with NULs
    stripped = head.replace(b"\x00", b"").lstrip()
    low = stripped[:64].lower()
    if low.startswith((b"<!doctype", b"<html", b"<head", b"<body")) or (
        low.startswith(b"<") and b">" in low
    ):
        return "html"  # checked BEFORE the preamble scan: an HTML page
        # whose text mentions %PDF- must stay HTML
    if b"%PDF-" in payload[:1024]:
        return "pdf"
    return "raw"


def _page(page_number: int, text: str, word_count: int, blocks=None,
          images=None, tables=None, links=None) -> dict:
    """``word_count`` is ``len(text.split())``, which each kind derives
    without re-splitting the page text."""
    return {
        "page_number": page_number,
        "text": text,
        "char_count": len(text),
        "word_count": word_count,
        "blocks": blocks or [],
        "images": images or [],
        "tables": tables or [],
        "links": links or [],
    }


#: Transparent-gunzip output cap: one hostile member must never OOM an
#: executor (same discipline as the PDF stream decoders).
_MAX_GUNZIP_BYTES = 1 << 26  # 64 MiB


def _gunzip_bounded(payload: bytes) -> bytes:
    """Bounded transparent gunzip of a \\x1f\\x8b\\x08 payload.  Real crawl
    tables carry occasional double-compressed bodies (a Content-Encoding
    survivor the WARC writer stored verbatim); treating them as 'raw'
    would emit binary soup as content — silent wrong output.  Like
    gzip.decompress, every concatenated member is decoded and NUL padding
    between members is skipped; the cap applies to the total output.
    Truncated or oversized members and trailing non-gzip bytes raise
    ValueError (-> error side-channel)."""
    import zlib

    out: list[bytes] = []
    room = _MAX_GUNZIP_BYTES
    while True:
        d = zlib.decompressobj(wbits=31)
        # room + 1: output past the cap is detected, never buffered whole
        chunk = d.decompress(payload, room + 1)
        if len(chunk) > room:
            raise ValueError(
                f"gzip output exceeds {_MAX_GUNZIP_BYTES} bytes decompressed")
        if not d.eof:
            raise ValueError("truncated gzip member")
        out.append(chunk)
        room -= len(chunk)
        payload = d.unused_data.lstrip(b"\x00")
        if not payload:
            return b"".join(out)
        if payload[:2] != b"\x1f\x8b":
            raise ValueError("trailing bytes after gzip member")


def _pdf_pages(payload: bytes) -> tuple[list, str, dict]:
    r = pdf.parse_pdf(payload)
    pages = []
    for pg in r["pages"]:
        text = tokenizer.normalize_text(pg["text"])
        pages.append(_page(
            pg["page_number"], text, tokenizer.word_count(text),
            blocks=pg["blocks"], images=pg["images"],
            tables=pg["tables"],
            links=pg["links"],
        ))
    return pages, r["metadata"].get("Title", ""), r["metadata"]


def _html_pages(payload: bytes) -> tuple[list, str, dict]:
    r = dom.parse_html(payload)
    # the page text is the content blocks (stripped, non-empty) joined by
    # blank lines, so its words are theirs
    words = sum(b["word_count"] for b in r["blocks"] if b["is_content"])
    pages = [_page(1, r["text"], words,
                   blocks=r["blocks"],
                   tables=r["tables"], links=r["links"])]
    meta = {"encoding": r["encoding"]}
    # additive crawl-policy keys: absent when the doc declares neither
    # (default corpus), so goldens stay byte-identical
    if r.get("canonical"):
        meta["canonical"] = r["canonical"]
    if r.get("robots"):
        meta["robots"] = r["robots"]
    return pages, r["title"], meta


def _raw_pages(payload: bytes) -> tuple[list, str, dict]:
    r = tokenizer.tokenize_bytes(payload, sniff_meta=False)
    text = r["text"]
    blocks = []
    for i, (s, e) in enumerate(r["spans"]):
        btxt = text[s:e]
        blocks.append({
            "block_no": i, "tag": "span", "text": btxt,
            "char_count": len(btxt), "word_count": tokenizer.word_count(btxt),
            "x0": None, "y0": None, "x1": None, "y1": None,
            "block_type": 0, "link_density": 0.0, "is_content": True,
        })
    # the spans are the text's paragraphs, so its words are theirs
    words = sum(b["word_count"] for b in blocks)
    return [_page(1, text, words, blocks=blocks)], "", {"encoding": r["encoding"]}


_EXTRACTORS = {"pdf": _pdf_pages, "html": _html_pages, "raw": _raw_pages}


def extract_document(payload: bytes) -> dict:
    """Single-pass extraction: bytes -> unified result tree.

    A gzip-wrapped payload (magic 1f 8b 08) is transparently,
    boundedly decompressed first (up to 3 nested members — proxies
    occasionally double-wrap); the result reports the INNER kind."""
    for _ in range(3):
        if payload[:3] != b"\x1f\x8b\x08":
            break
        try:
            payload = _gunzip_bounded(payload)
        except Exception as e:
            return {
                "kind": "raw", "status": "error",
                "error": f"gzip: {e}", "title": "",
                "n_pages": 0, "pages": [], "metadata": {},
            }
    kind = sniff_kind(payload)
    try:
        if kind == "pdf" and not payload.startswith(b"%PDF-"):
            # glued preamble junk before the header: offsets in such files
            # are relative to the header (sniff_kind docstring).  Text that
            # merely mentions a header is not a PDF: when the sliced parse
            # fails and no object header (`N G obj`) appears, extract it as
            # raw.
            try:
                pages, title, meta = _pdf_pages(payload[payload.index(b"%PDF-"):])
            except Exception:
                if _OBJ_HEADER.search(payload):
                    raise
                kind = "raw"
                pages, title, meta = _raw_pages(payload)
        else:
            pages, title, meta = _EXTRACTORS[kind](payload)
        return {
            "kind": kind, "status": "ok", "error": None,
            "title": title, "n_pages": len(pages), "pages": pages,
            "metadata": {str(k): str(v) for k, v in meta.items()},
        }
    except Exception as e:  # side-channel, never crash the task (OP-32)
        return {
            "kind": kind, "status": "error",
            "error": f"{type(e).__name__}: {e}",
            "title": "", "n_pages": 0, "pages": [], "metadata": {},
        }


PAGE_BANNER = "=== Page %d ==="  # reference delimiter, ocr_extractor.py:293-298


def assemble_doc_text(result: dict) -> str:
    """Ordered text reassembly (OP-43b / OP-09).

    PDFs: pages joined in page order with ``=== Page N ===`` banners
    (reference combined-text sink, pdf_extractor/extractors/
    ocr_extractor.py:293-298).  Single-page kinds (html/raw): the page text
    as-is.  The only text assembly: every docs table, a ``--pages`` subset
    included, gets its text from here (operators/extract._doc_row), and the
    goldens are generated with it.
    """
    pages = sorted(result["pages"], key=lambda p: p["page_number"])
    if result["kind"] == "pdf":
        return "\n\n".join(
            (PAGE_BANNER % p["page_number"]) + "\n" + p["text"] for p in pages
        )
    return pages[0]["text"] if pages else ""
