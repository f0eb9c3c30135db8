"""OP-59/OP-60 PDF layout-parser kernel tests (FIXTURES.md dialect B)."""

import random
import re
import zlib

import pytest

from pdf_extractor_spark.kernels.pdf import PdfError, parse_pdf
from pdf_extractor_spark.sources.synth import make_pdf


def test_roundtrip_reading_order():
    """Writer emits operators shuffled; parser must restore (y desc, x asc)
    reading order — the OP-48 invariant."""
    for seed in range(10):
        rng = random.Random(seed)
        pdf, expected_pages = make_pdf(rng, seed, n_pages=3)
        r = parse_pdf(pdf)
        assert r["n_pages"] == 3
        for pg, exp_lines in zip(r["pages"], expected_pages):
            assert pg["text"].split("\n") == exp_lines


def test_pages_one_indexed():
    rng = random.Random(1)
    pdf, _ = make_pdf(rng, 1, n_pages=2)
    r = parse_pdf(pdf)
    assert [p["page_number"] for p in r["pages"]] == [1, 2]


def test_blocks_have_bbox_and_type():
    rng = random.Random(2)
    pdf, _ = make_pdf(rng, 2, n_pages=1)
    blocks = parse_pdf(pdf)["pages"][0]["blocks"]
    assert blocks
    ys = [b["y0"] for b in blocks]
    assert ys == sorted(ys, reverse=True)  # top-to-bottom
    assert all(b["block_type"] == 0 for b in blocks)
    assert all(b["x1"] > b["x0"] for b in blocks)


def test_images_extracted_with_dims():
    rng = random.Random(3)
    pdf, _ = make_pdf(rng, 3, n_pages=6, with_images=True)
    r = parse_pdf(pdf)
    imgs = [i for p in r["pages"] for i in p["images"]]
    assert imgs, "expected at least one image across 6 pages"
    for img in imgs:
        assert img["width"] > 0 and img["height"] > 0
        assert img["format"] in ("raw", "jpeg", "jp2", "bilevel")
        assert isinstance(img["payload"], bytes) and img["payload"]


def test_flate_content_streams_are_real():
    rng = random.Random(4)
    pdf, _ = make_pdf(rng, 4, n_pages=1)
    assert b"/FlateDecode" in pdf
    # the text must NOT appear in cleartext (honest compression)
    r = parse_pdf(pdf)
    line0 = r["pages"][0]["text"].split("\n")[0]
    assert line0.encode("latin-1") not in pdf


def test_metadata():
    rng = random.Random(5)
    pdf, _ = make_pdf(rng, 55, n_pages=1)
    meta = parse_pdf(pdf)["metadata"]
    assert meta["Title"] == "Synthetic Doc 55"
    assert meta["Author"] == "corpus-gen"


def test_string_escapes():
    """Literal-string escapes: \\( \\) \\\\ and octal."""
    content = b"BT /F1 12 Tf 72 700 Td (paren \\( close \\) back\\\\ oct\\101) Tj ET\n"
    pdf = _tiny_pdf(content)
    r = parse_pdf(pdf)
    assert r["pages"][0]["text"] == "paren ( close ) back\\ octA"


def test_tj_array_and_quote_ops():
    content = (b"BT /F1 12 Tf 16 TL 72 700 Td [(he) -10 (llo )] TJ ET\n"
               b"BT /F1 12 Tf 16 TL 200 700 Td (world) Tj ET\n"
               b"BT /F1 12 Tf 16 TL 72 700 Td (next line) ' ET\n")
    pdf = _tiny_pdf(content)
    text = parse_pdf(pdf)["pages"][0]["text"]
    assert text.split("\n") == ["hello world", "next line"]


def test_malformed_raises_pdferror():
    with pytest.raises(PdfError):
        parse_pdf(b"not a pdf at all")
    with pytest.raises(PdfError):
        parse_pdf(b"%PDF-1.4\njunk with no xref")


def test_deterministic():
    rng1, rng2 = random.Random(9), random.Random(9)
    p1, _ = make_pdf(rng1, 9)
    p2, _ = make_pdf(rng2, 9)
    assert p1 == p2
    assert parse_pdf(p1) == parse_pdf(p2)


def _tiny_pdf(content: bytes, compress: bool = False) -> bytes:
    """Hand-rolled single-page PDF (independent of synth.make_pdf)."""
    if compress:
        body = zlib.compress(content)
        stream_dict = b"<< /Length %d /Filter /FlateDecode >>" % len(body)
    else:
        body = content
        stream_dict = b"<< /Length %d >>" % len(body)
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        4: stream_dict + b"\nstream\n" + body + b"\nendstream",
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for n in sorted(objs):
        offs[n] = len(out)
        out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 6\n0000000000 65535 f \n"
    for n in range(1, 6):
        out += b"%010d 00000 n \n" % offs[n]
    out += b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % xref
    return bytes(out)


def test_uncompressed_stream_supported():
    pdf = _tiny_pdf(b"BT /F1 12 Tf 72 700 Td (plain stream) Tj ET\n")
    assert parse_pdf(pdf)["pages"][0]["text"] == "plain stream"


def test_compressed_tiny():
    pdf = _tiny_pdf(b"BT /F1 12 Tf 72 700 Td (flate stream) Tj ET\n", compress=True)
    assert parse_pdf(pdf)["pages"][0]["text"] == "flate stream"


# ---------------------------------------------------------------------------
# PDF 1.5 dialect: xref streams, object streams, extended filters
# ---------------------------------------------------------------------------
def test_modern_dialect_equals_classic():
    """Same content serialized as PDF 1.4 (classic xref, Flate) and PDF 1.5
    (xref stream + ObjStm + mixed filters) must parse identically."""
    import random

    from pdf_extractor_spark.kernels.pdf import parse_pdf
    from pdf_extractor_spark.sources.synth import make_pdf

    for doc_id in range(25):
        rng1 = random.Random((7 << 32) ^ doc_id)
        rng2 = random.Random((7 << 32) ^ doc_id)
        classic, lines = make_pdf(rng1, doc_id, dialect="classic")
        modern, _ = make_pdf(rng2, doc_id, dialect="modern")
        assert modern.startswith(b"%PDF-1.5")
        assert b"/Type /ObjStm" in modern and b"/Type /XRef" in modern
        rc, rm = parse_pdf(classic), parse_pdf(modern)
        assert [p["text"] for p in rc["pages"]] == [p["text"] for p in rm["pages"]]
        assert rc["metadata"] == rm["metadata"]
        assert [len(p["images"]) for p in rc["pages"]] == \
               [len(p["images"]) for p in rm["pages"]]


def test_filter_decoders():
    from pdf_extractor_spark.kernels.pdf import (
        _ascii85_decode,
        _ascii_hex_decode,
        _png_unpredict,
        _run_length_decode,
    )

    assert _ascii_hex_decode(b"48 65 6C 6C 6F>") == b"Hello"
    assert _ascii_hex_decode(b"48656C6C6F7") == b"Hellop"  # odd -> pad 0
    import base64
    for payload in (b"", b"a", b"ab", b"abc", b"abcd", b"abcde",
                    b"\x00\x00\x00\x00rest", bytes(range(256))):
        assert _ascii85_decode(base64.a85encode(payload) + b"~>") == payload
    # RLE: literal + repeat + EOD
    assert _run_length_decode(b"\x02abc" + bytes([257 - 4]) + b"x\x80") == b"abcxxxx"
    # PNG Up predictor round trip
    from pdf_extractor_spark.sources.synth import _png_up_predict
    raw = bytes(range(30))
    assert _png_unpredict(_png_up_predict(raw, 6), 6) == raw


def test_modern_dialect_hostile_inputs():
    """Truncated/corrupt modern PDFs must raise PdfError (side-channel route),
    never crash with an unrelated exception."""
    import random

    from pdf_extractor_spark.kernels.pdf import PdfError, parse_pdf
    from pdf_extractor_spark.sources.synth import make_pdf

    modern, _ = make_pdf(random.Random(1), 1, dialect="modern")
    for cut in (len(modern) // 3, len(modern) // 2, len(modern) - 30):
        try:
            parse_pdf(modern[:cut])
        except PdfError:
            pass  # expected
        except Exception as e:  # pragma: no cover
            raise AssertionError(f"non-PdfError escaped: {type(e).__name__}: {e}")


def test_decodeparms_shorter_than_filter_chain_still_decodes_all_filters():
    """A /DecodeParms array shorter than /Filter must not truncate the
    decode chain (zip-truncation regression)."""
    import base64
    import random
    import zlib

    from pdf_extractor_spark.kernels.pdf import Document, Name, Stream
    from pdf_extractor_spark.sources.synth import make_pdf

    doc = Document(make_pdf(random.Random(2), 2)[0])
    payload = b"hello chained filters"
    raw = base64.a85encode(zlib.compress(payload)) + b"~>"
    st = Stream(
        {Name("Filter"): [Name("ASCII85Decode"), Name("FlateDecode")],
         Name("DecodeParms"): [None]},
        raw,
    )
    assert doc.stream_data(st) == payload
    st2 = Stream(
        {Name("Filter"): [Name("ASCII85Decode"), Name("FlateDecode")],
         Name("DecodeParms"): []},
        raw,
    )
    assert doc.stream_data(st2) == payload


def test_incremental_update_free_entry_shadows_prev_section():
    """An incremental update marking an object FREE must shadow the older
    /Prev section's live entry — the freed object reads as absent, not as
    its stale content (resurrection regression)."""
    import random
    import re

    from pdf_extractor_spark.kernels.pdf import Document, parse_pdf
    from pdf_extractor_spark.sources.synth import make_pdf

    base, _ = make_pdf(random.Random(4), 4, dialect="classic")
    assert parse_pdf(base)["metadata"]  # Info present initially

    info_id = int(re.search(rb"/Info (\d+) 0 R", base).group(1))
    old_xref = int(re.search(rb"startxref\s+(\d+)", base).group(1))
    size = int(re.search(rb"/Size (\d+)", base).group(1))
    update = (
        b"xref\n%d 1\n0000000000 65535 f \n" % info_id
        + b"trailer\n<< /Size %d /Root 1 0 R /Prev %d >>\n" % (size, old_xref)
        + b"startxref\n%d\n%%%%EOF\n" % len(base)
    )
    updated = base + update
    doc = Document(updated)
    assert doc.get_object(info_id) is None  # freed, not resurrected
    assert parse_pdf(updated)["metadata"] == {}  # Info gone
    # text content is untouched by the update
    assert [p["text"] for p in parse_pdf(updated)["pages"]] == \
           [p["text"] for p in parse_pdf(base)["pages"]]


# --------------------------------------------------------------------------
# Composite (Type0/CID) fonts — round-3 item 1
# --------------------------------------------------------------------------
def test_cid_font_equals_simple_font():
    """The same document serialized with a Type0/Identity-H font + ToUnicode
    CMap must parse to byte-identical text, both xref dialects."""
    for doc_id in (0, 1, 2, 3, 17):
        for dialect in ("classic", "modern"):
            rs = random.Random(f"k-cid:{doc_id}")
            simple, lines = make_pdf(rs, doc_id, dialect=dialect, font="simple")
            rc = random.Random(f"k-cid:{doc_id}")
            cid, lines2 = make_pdf(rc, doc_id, dialect=dialect, font="cid")
            assert lines == lines2
            ps, pc = parse_pdf(simple), parse_pdf(cid)
            assert [p["text"] for p in ps["pages"]] == [p["text"] for p in pc["pages"]]
            assert [p["text"] for p in pc["pages"]] == ["\n".join(ls) for ls in lines]


def test_cid_cmap_exercises_bfchar_and_bfrange():
    from pdf_extractor_spark.sources.synth import _cid_assignment, _tounicode_cmap

    a = _cid_assignment([["abcdefgh zq", "Mortar"]])
    cm = _tounicode_cmap(a)
    assert b"beginbfchar" in cm and b"beginbfrange" in cm
    from pdf_extractor_spark.kernels.pdf import _parse_tounicode

    cmap, width = _parse_tounicode(cm)
    assert width == 2
    inv = {cid: ch for ch, cid in a.items()}
    assert cmap == inv


def test_bfrange_array_destination():
    from pdf_extractor_spark.kernels.pdf import _parse_tounicode

    cm = (b"begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
          b"1 beginbfrange\n<0001> <0003> [<0041> <0058> <005A>]\nendbfrange\n")
    cmap, width = _parse_tounicode(cm)
    assert cmap == {1: "A", 2: "X", 3: "Z"}


def test_type0_without_tounicode_error_routes():
    """A Type0 font with no /ToUnicode has no extractable text mapping —
    must raise PdfError (-> status='error' side channel), never crash."""
    rng = random.Random("k-cid-notu")
    data, _ = make_pdf(rng, 5, dialect="classic", font="cid")
    # blank the /ToUnicode entry with equal-length padding so the classic
    # xref offsets stay valid — only the font dict changes
    import re as _re

    broken = _re.sub(rb"/ToUnicode \d+ 0 R ",
                     lambda m: b" " * len(m.group()), data, count=1)
    assert broken != data
    with pytest.raises(PdfError):
        parse_pdf(broken)

    from pdf_extractor_spark.kernels.dispatch import extract_document

    r = extract_document(broken)
    assert r["status"] == "error" and "ToUnicode" in r["error"]


def test_unmapped_cid_decodes_to_replacement_char():
    from pdf_extractor_spark.kernels.pdf import _CidDecoder

    dec = _CidDecoder({1: "h", 2: "i"}, 2)
    assert dec(b"\x00\x01\x00\x02\x00\x63") == "hi�"
    # odd trailing byte is ignored (incomplete code)
    assert dec(b"\x00\x01\x00") == "h"


# --------------------------------------------------------------------------
# Round-3 robustness: inline images, TIFF predictor, UTF-16LE strings
# --------------------------------------------------------------------------
def test_inline_images_do_not_disturb_text():
    """BI/ID/EI inline images (binary payload with high-bit bytes) must be
    skipped; text equals the generator's reading-order plan."""
    found = False
    for doc_id in range(40):
        rng = random.Random(f"bi:{doc_id}")
        data, lines = make_pdf(rng, doc_id, dialect="classic")
        r = parse_pdf(data)
        assert [p["text"] for p in r["pages"]] == ["\n".join(ls) for ls in lines]
        # confirm at least one fixture actually contains an inline image
        content = zlib.decompress(
            re.search(rb"stream\r?\n(.*?)\nendstream", data, re.S).group(1))
        if b"BI /W 4" in content:
            found = True
    assert found


def test_unterminated_inline_image_error_routes():
    from pdf_extractor_spark.kernels.pdf import _extract_runs

    with pytest.raises(PdfError, match="inline image"):
        _extract_runs(b"BI /W 4 /H 4 ID \x80\x81\x82")


def test_tiff_predictor_roundtrip():
    from pdf_extractor_spark.kernels.pdf import _tiff_unpredict

    orig = bytes((i * 37) & 0xFF for i in range(24))
    cols, colors = 4, 2
    rowlen = cols * colors
    diff = bytearray(orig)
    for s in range(0, len(diff), rowlen):
        for i in range(s + rowlen - 1, s + colors - 1, -1):
            diff[i] = (orig[i] - orig[i - colors]) & 0xFF
    assert _tiff_unpredict(bytes(diff), cols, colors, 8) == orig
    with pytest.raises(PdfError, match="bpc"):
        _tiff_unpredict(b"\x00", 4, 1, 4)


def test_utf16le_string_decode():
    from pdf_extractor_spark.kernels.pdf import _decode_pdf_string

    assert _decode_pdf_string(b"\xff\xfeh\x00i\x00") == "hi"
    assert _decode_pdf_string(b"\xfe\xff\x00h\x00i") == "hi"


def test_inline_image_payload_containing_ei_pattern():
    """An UNFILTERED inline image whose raw bytes contain whitespace+'EI'
    must not be truncated: the exact payload length is computed from
    /W /H /BPC /CS (byte-padded rows, §8.9.5.2) so the embedded pattern is
    skipped over (ADVICE r3, kernels/pdf.py _skip_inline_image)."""
    from pdf_extractor_spark.kernels.pdf import _tokenize_content

    payload = b"\nEI \xaa\xbb\xcc\xdd"       # 8 bytes = 4x2 gray 8bpc
    cs = (b"BT (keep) Tj ET BI /W 4 /H 2 /BPC 8 /CS /G ID "
          + payload + b"\nEI q Q")
    ops = [t for k, t in _tokenize_content(cs) if k == "op"]
    assert ops == ["BT", "Tj", "ET", "q", "Q"]

    # ImageMask: 1 bit/pixel, byte-padded rows (9px -> 2 bytes/row)
    cs2 = b"BI /IM true /W 9 /H 2 ID " + bytes(4) + b"EI cm"
    assert [t for k, t in _tokenize_content(cs2) if k == "op"] == ["cm"]

    # filtered payloads keep the delimiter scan (length not dict-derivable)
    cs3 = b"BI /W 4 /H 2 /BPC 8 /CS /G /F /AHx ID 0011>\nEI q"
    assert [t for k, t in _tokenize_content(cs3) if k == "op"] == ["q"]

    # inconsistent dict (claims more data than exists) falls back to scan
    cs4 = b"BI /W 9999 /H 9999 /BPC 8 /CS /RGB ID abc\nEI q"
    assert [t for k, t in _tokenize_content(cs4) if k == "op"] == ["q"]


# --------------------------------------------------------------------------
# Round-4: LZWDecode (PDF 32000-1 §7.4.4, TIFF variant)
# --------------------------------------------------------------------------
def test_lzw_roundtrip_both_earlychange_modes():
    import random

    from pdf_extractor_spark.kernels.pdf import _lzw_decode
    from pdf_extractor_spark.sources.synth import _lzw_encode

    rng = random.Random(4)
    cases = [b"", b"A", b"AAAAAA", b"TOBEORNOTTOBEORTOBEORNOT",
             rng.randbytes(10), rng.randbytes(300000),     # forces table-full Clear
             bytes(rng.choices(b"abcd", k=120000)), b"ab" * 50000]
    for early in (1, 0):
        for c in cases:
            assert _lzw_decode(_lzw_encode(c, early), early) == c


def test_lzw_roundtrip_every_length_to_6000():
    """Stream ends swept over all three code-width boundaries (9→10→11→12):
    the decoder adds a table entry after the final code and may widen before
    it reads EOD, so the encoder must emit EOD at that width."""
    import random

    from pdf_extractor_spark.kernels.pdf import _lzw_decode
    from pdf_extractor_spark.sources.synth import _lzw_encode

    data = bytes(random.Random(8).choices(b"abcdefgh BT ET Tj()0123", k=6000))
    for early in (1, 0):
        bad = [n for n in range(1, 6001)
               if _lzw_decode(_lzw_encode(data[:n], early), early) != data[:n]]
        assert bad == [], f"EarlyChange {early}: lengths {bad[:10]}"


def test_lzw_hostile_inputs_error_route():
    from pdf_extractor_spark.kernels.pdf import PdfError, _lzw_decode

    # 9-bit first code 258 (not a literal, table empty)
    with pytest.raises(PdfError, match="LZW"):
        _lzw_decode(bytes([0b10000001, 0b00000000]))  # code 258 then pad
    with pytest.raises(PdfError, match="EarlyChange"):
        _lzw_decode(b"\x00", early=2)


def _lzw_code_ends(stream: bytes, early: int) -> tuple[str, list[int]]:
    """The stream's bits and the bit offset where each code before EOD
    ends, walking the code widths of PDF 32000-1 §7.4.4 (9→12 bits,
    ClearTable resets, one table entry per code after the first)."""
    bits = "".join(f"{b:08b}" for b in stream)
    ends, pos, width, size, first = [], 0, 9, 258, True
    while (code := int(bits[pos:pos + width], 2)) != 257:
        pos += width
        ends.append(pos)
        if code == 256:
            width, size, first = 9, 258, True
            continue
        if not first:
            size = min(size + 1, 4096)
        first = False
        if width < 12 and size >= (1 << width) - early:
            width += 1
    return bits, ends


def _lzw_cases() -> list[bytes]:
    rng = random.Random(10)
    text = bytes(rng.choices(b"abcdefgh BT ET Tj()0123", k=3000))
    return [text[:n] for n in range(1, 3001, 7)] + [rng.randbytes(20000)]


def test_lzw_without_eod_decodes_equal():
    """A writer that omits EOD ends the stream on the last code, zero-padded
    to the byte; such streams decode as if EOD were there."""
    from pdf_extractor_spark.kernels.pdf import _lzw_decode
    from pdf_extractor_spark.sources.synth import _lzw_encode

    for early in (1, 0):
        for data in _lzw_cases():
            bits, ends = _lzw_code_ends(_lzw_encode(data, early), early)
            kept = bits[:ends[-1]] + "0" * (-ends[-1] % 8)
            stripped = int(kept, 2).to_bytes(len(kept) // 8, "big")
            assert _lzw_decode(stripped, early) == data


def test_lzw_cut_mid_code_error_routes():
    """A stream cut before EOD decodes only when the bits after its last
    whole code are zero padding (< 8 bits); otherwise it is truncated."""
    from pdf_extractor_spark.kernels.pdf import PdfError, _lzw_decode
    from pdf_extractor_spark.sources.synth import _lzw_encode

    raised = 0
    for early in (1, 0):
        for data in _lzw_cases()[::100]:
            stream = _lzw_encode(data, early)
            bits, ends = _lzw_code_ends(stream, early)
            for n in range(1, ends[-1] // 8 + 1):
                rest = bits[max(e for e in [0, *ends] if e <= 8 * n):8 * n]
                if "1" in rest or len(rest) >= 8:
                    with pytest.raises(PdfError, match="LZW: truncated stream"):
                        _lzw_decode(stream[:n], early)
                    raised += 1
                else:
                    assert data.startswith(_lzw_decode(stream[:n], early))
    assert raised > 1000


def test_lzw_streams_parse_in_modern_dialect():
    """Documents whose modern serialization drew the LZW filter (with and
    without /EarlyChange 0) must parse byte-identical to their classic
    (Flate) twins — the VERDICT r4 item-2 'LZW twins' gate."""
    seen_lzw = seen_ec0 = 0
    for doc_id in range(60):
        dc, _ = make_pdf(random.Random(f"lzw:{doc_id}"), doc_id,
                         dialect="classic")
        dm, _ = make_pdf(random.Random(f"lzw:{doc_id}"), doc_id,
                         dialect="modern")
        if b"/LZWDecode" in dm:
            seen_lzw += 1
            if b"/EarlyChange 0" in dm:
                seen_ec0 += 1
        rc, rm = parse_pdf(dc), parse_pdf(dm)
        assert [p["text"] for p in rc["pages"]] == \
               [p["text"] for p in rm["pages"]]
    assert seen_lzw >= 10 and seen_ec0 >= 3


# ---------------------------------------------------------------------------
# Decompression-bomb guards (real-crawl hazard: one hostile doc must never
# OOM an executor; policy = bounded streaming decode + error-route)
# ---------------------------------------------------------------------------
def test_flate_bomb_error_routes_without_materializing():
    from pdf_extractor_spark.kernels.pdf import (
        MAX_DECODED_BYTES,
        PdfError,
        _flate_decode,
    )

    bomb = zlib.compress(b"\x00" * (MAX_DECODED_BYTES + 4096), 9)
    assert len(bomb) < 1 << 20  # the attack payload itself is tiny
    with pytest.raises(PdfError, match="exceeds"):
        _flate_decode(bomb)
    # just under the cap still decodes
    ok = zlib.compress(b"\x00" * 4096, 9)
    assert _flate_decode(ok) == b"\x00" * 4096


def test_runlength_bomb_error_routes():
    from pdf_extractor_spark.kernels.pdf import (
        MAX_DECODED_BYTES,
        PdfError,
        _run_length_decode,
    )

    reps = MAX_DECODED_BYTES // 128 + 16
    bomb = b"\x81\x00" * reps  # each 2-byte pair expands to 128 zeros
    with pytest.raises(PdfError, match="exceeds"):
        _run_length_decode(bomb)


def test_lzw_bomb_error_routes(monkeypatch):
    import pdf_extractor_spark.kernels.pdf as pdfmod
    from pdf_extractor_spark.sources.synth import _lzw_encode

    monkeypatch.setattr(pdfmod, "MAX_DECODED_BYTES", 1000)
    with pytest.raises(pdfmod.PdfError, match="exceeds"):
        pdfmod._lzw_decode(_lzw_encode(b"\x00" * 4096))
    assert pdfmod._lzw_decode(_lzw_encode(b"\x00" * 999)) == b"\x00" * 999


def test_bombed_pdf_error_routes_at_dispatch():
    from pdf_extractor_spark.kernels.dispatch import extract_document
    from pdf_extractor_spark.kernels.pdf import MAX_DECODED_BYTES

    pdf = _tiny_pdf(b"\x00" * (MAX_DECODED_BYTES + 4096), compress=True)
    assert len(pdf) < 1 << 20  # the hostile document itself is tiny
    r = extract_document(pdf)
    assert r["status"] == "error"
    assert "exceeds" in (r["error"] or "")


def test_png_idat_bomb_error_routes():
    import struct

    from pdf_extractor_spark.kernels.png import PngError, decode_png, encode_png

    # valid 4x4 gray PNG, then replace IDAT with a stream inflating far
    # beyond the declared geometry
    good = encode_png(4, 4, bytes(16), channels=1)
    sig_end = 8
    # walk chunks, rebuild with a bombed IDAT
    out = bytearray(good[:sig_end])
    pos = sig_end
    while pos < len(good):
        (length,) = struct.unpack(">I", good[pos:pos + 4])
        tag = good[pos + 4:pos + 8]
        body = good[pos + 8:pos + 8 + length]
        if tag == b"IDAT":
            body = zlib.compress(b"\x00" * (1 << 22), 9)  # 4 MiB vs 36 B
            length = len(body)
        out += struct.pack(">I", length) + tag + body
        out += zlib.crc32(tag + body).to_bytes(4, "big")
        pos += 12 + struct.unpack(">I", good[pos:pos + 4])[0]
    with pytest.raises(PngError, match="beyond the declared geometry"):
        decode_png(bytes(out))
    # untouched image still decodes
    assert decode_png(good)[3] == bytes(16)


def test_png_giant_ihdr_error_routes():
    import struct

    from pdf_extractor_spark.kernels.png import PngError, decode_png, encode_png

    good = encode_png(4, 4, bytes(16), channels=1)
    # rewrite IHDR to claim a 65535x65535 RGBA image
    ihdr_at = good.index(b"IHDR")
    body = bytearray(good[ihdr_at + 4:ihdr_at + 4 + 13])
    body[0:8] = struct.pack(">II", 65535, 65535)
    body[9] = 6  # RGBA
    patched = bytearray(good)
    patched[ihdr_at + 4:ihdr_at + 4 + 13] = body
    patched[ihdr_at + 17:ihdr_at + 21] = zlib.crc32(
        b"IHDR" + bytes(body)).to_bytes(4, "big")
    with pytest.raises(PngError, match="too large"):
        decode_png(bytes(patched))


def test_round5_fuzz_findings_error_route():
    """Round-5 fuzz campaign (74k structural mutations over all 16 font
    routes, both dialects, encrypted shares): every escape site found is
    pinned here — each crafted input must raise PdfError, never leak
    ValueError / UnicodeDecodeError / AttributeError / RecursionError."""
    import random

    import pytest

    from pdf_extractor_spark.kernels.pdf import PdfError, _Lexer, parse_pdf
    from pdf_extractor_spark.sources.synth import make_pdf

    # 1. non-hex garbage inside a hex string
    with pytest.raises(PdfError):
        _Lexer(b"<41zz\xdb42>", 0).parse_object()
    # 2. invalid #-escape in a name token
    with pytest.raises(PdfError):
        _Lexer(b"/Na#q1me", 0).parse_object()
    # 3. \8 and \9 are NOT octal escapes: backslash ignored, digit literal
    assert _Lexer(b"(a\\9b)", 0).parse_object() == b"a9b"
    # \6 is a valid ONE-digit octal escape; the 9 ends it and stays literal
    assert _Lexer(b"(a\\698b)", 0).parse_object() == b"a\x0698b"
    # 4. unterminated array at EOF
    with pytest.raises(PdfError):
        _Lexer(b"[1 2 3", 0).parse_object()

    base, _ = make_pdf(random.Random("fuzzpin"), 1, n_pages=1,
                       with_images=False)

    def patched(old: bytes, new: bytes) -> bytes:
        assert len(old) == len(new) and old in base
        return base.replace(old, new)

    # 5. trailer replaced by a bare integer (same length, xref intact)
    mutated = base.replace(b"trailer\n<< /Size",
                           b"trailer\n 7 %/Size")
    with pytest.raises(PdfError):
        parse_pdf(mutated)
    # 6. /Info pointing at a non-dictionary object (the content stream)
    mutated = base.replace(b"/Info ", b"/Infq ")
    parse_pdf(mutated)  # absent /Info is fine; now corrupt it to an int
    # 7. /Root pointing at a page-tree node that is not a dict is already
    #    covered by the isinstance gates in parse_pdf; cycles:
    cyc = (b"%PDF-1.4\n"
           b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Pages /Kids [2 0 R] /Count 1 >>\nendobj\n")
    start1 = cyc.find(b"1 0 obj")
    start2 = cyc.find(b"2 0 obj")
    cyc += (b"xref\n0 3\n0000000000 65535 f \n"
            + b"%010d 00000 n \n" % start1
            + b"%010d 00000 n \n" % start2
            + b"trailer\n<< /Size 3 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF"
            % len(cyc))
    with pytest.raises(PdfError):
        parse_pdf(cyc)
    # 8. two streams whose /Length entries reference each other
    rec = (b"%PDF-1.4\n"
           b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Length 3 0 R >>\nstream\nxx\nendstream\nendobj\n"
           b"3 0 obj\n<< /Length 2 0 R >>\nstream\nyy\nendstream\nendobj\n")
    o1 = rec.find(b"1 0 obj"); o2 = rec.find(b"2 0 obj"); o3 = rec.find(b"3 0 obj")
    rec += (b"xref\n0 4\n0000000000 65535 f \n"
            + b"%010d 00000 n \n" % o1 + b"%010d 00000 n \n" % o2
            + b"%010d 00000 n \n" % o3
            + b"trailer\n<< /Size 4 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF"
            % len(rec))
    with pytest.raises(PdfError):
        parse_pdf(rec)
    # 9. content stream with a name where a number belongs
    bad_content = base.replace(b" Tf", b" TL", 1)
    try:
        parse_pdf(bad_content)
    except PdfError:
        pass  # either outcome is contract-conforming; no other exception


def test_fuzz_finding_zero_length_encryption_key():
    """A corrupted /Length of 0 must error-route, not ZeroDivisionError in
    the RC4 keystream (round-5 full-campaign fuzz finding)."""
    import random

    import pytest

    from pdf_extractor_spark.kernels.pdf import PdfError, parse_pdf
    from pdf_extractor_spark.sources.synth import make_pdf

    pdf, _ = make_pdf(random.Random("zk:1"), 1, dialect="classic",
                      encrypt="rc4-128")
    assert b"/Length 128" in pdf
    bad = pdf.replace(b"/Length 128", b"/Length 000")
    with pytest.raises(PdfError):
        parse_pdf(bad)
