"""From-scratch PDF layout parser (SURVEY.md OP-59/OP-60).

A pdfminer-style reader built only on stdlib (``re``, ``zlib``): xref-table
walk, object graph resolution, FlateDecode, content-stream text operators
(``BT/ET Tf Td TD TL T* Tm Tj TJ ' "``), text-run assembly, and
reading-order sort by bbox (y desc, x asc) — the Spark-native rebuild of the
reference's text path (/root/reference/pdf_extractor/extractors/
text_extractor.py:33-64,123-153, whose ``get_text(sort=True)`` delegates the
same (y, x) ordering to native MuPDF) and image xref walk
(/root/reference/pdf_extractor/extractors/image_extractor.py:111-121).

Scope: the PDF 1.4-1.5 dialects produced by ``tests/gen_fixtures.py`` —
classic xref tables AND cross-reference streams (/Type /XRef with /W
field widths, /Index subsections, and PNG predictors), object streams
(/Type /ObjStm compressed objects), the filter set FlateDecode,
ASCIIHexDecode, ASCII85Decode, RunLengthDecode, LZWDecode (TIFF-variant
with /EarlyChange; chainable, with /DecodeParms predictor support),
simple fonts (Latin-1 default; /WinAnsiEncoding and /MacRomanEncoding
base tables, /Differences arrays resolved through a transcribed Adobe
Glyph List subset + the AGL uniXXXX algorithm, and 1-byte /ToUnicode
CMaps) AND
Type0/CID composite fonts with ToUnicode CMap text mapping (bfchar /
bfrange / array-destination bfrange, 1- or 2-byte codespaces), Type0
fonts WITHOUT /ToUnicode via predefined Uni*-UCS2 CMaps, predefined
national-encoding / UTF-16 CMaps (90ms-RKSJ, GBK-EUC, ETen-B5,
KSCms-UHC, Uni*-UTF16 families — decoded via the stdlib codec whose
byte sequences those CMaps consume), embedded
/Encoding CMap streams (cidchar/cidrange code->CID composed with the
descendant font program; uniform AND mixed-width codespaces, with
per-byte range code splitting; /UseCMap composition over an
Identity/UCS2/national-encoding/UTF-16 base), or an Identity-encoded
FontFile2 cmap, and
standard-security-handler encryption with an empty user password
(RC4-40 V1/R2, RC4-128 V2/R3, AES-128 V4/R4 /AESV2, and AES-256 V5
R5/R6 /AESV3 incl. the ISO 32000-2 Algorithm 2.B iterated KDF —
kernels/crypto.py holds the from-scratch RC4/AES primitives).
Remaining out-of-dialect constructs (a Type0 font naming a predefined
CMap outside the families above with no embedded mapping to fall
back on, a /UseCMap base outside those same families,
non-Standard security handlers, real passwords) raise ``PdfError`` so
the pipeline can route the row to the error side-channel instead of
crashing the task (SURVEY.md OP-32 mapping).

Deterministic: pure function of the input bytes.
"""

from __future__ import annotations

import re
import struct
import zlib

from .ccitt import CcittError, ccitt_decode

__all__ = ["parse_pdf", "PdfError"]


class PdfError(ValueError):
    """Raised on malformed / out-of-dialect PDF input."""


# --------------------------------------------------------------------------
# Object model: Python natives + these two wrappers
# --------------------------------------------------------------------------
class Name(str):
    """A PDF /Name (distinct from a string value)."""


class Ref(tuple):
    """Indirect reference (num, gen)."""

    def __new__(cls, num: int, gen: int):
        return super().__new__(cls, (num, gen))


class Stream:
    __slots__ = ("dict", "raw", "num", "gen")

    def __init__(self, d: dict, raw: bytes,
                 num: int | None = None, gen: int = 0) -> None:
        self.dict = d
        self.raw = raw
        self.num = num  # owning object number (None = not file-backed)
        self.gen = gen


_WS = b"\x00\t\n\x0c\r "
_WS_RE = re.compile(rb"[\x00\t\n\x0c\r ]+")
_DELIM = b"()<>[]{}/%"
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)")
# name token: run of bytes that are neither whitespace (_WS) nor
# delimiters (_DELIM) — one C-level match replaces the per-char loop
_NAME_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")


class _Lexer:
    """Tokenizer over a bytes buffer with a cursor."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        # byte loop, not regex: whitespace runs are almost always 0-1 bytes
        # between tokens, where the regex CALL dominates (profiled: _skip_ws
        # was the #2 kernel hotspot at ~1 µs/call; the `in` test is ~60 ns)
        d, n = self.data, len(self.data)
        pos = self.pos
        while pos < n:
            b = d[pos]
            if b in _WS:
                pos += 1
                continue
            if b == 0x25:  # '%' comment to EOL
                nl = d.find(b"\n", pos)
                pos = n if nl < 0 else nl + 1
                continue
            break
        self.pos = pos

    def peek_keyword(self, kw: bytes) -> bool:
        self._skip_ws()
        return self.data.startswith(kw, self.pos)

    def expect(self, kw: bytes) -> None:
        if not self.peek_keyword(kw):
            raise PdfError(f"expected {kw!r} at {self.pos}")
        self.pos += len(kw)

    # -- value parsing ----------------------------------------------------
    def parse_object(self):
        self._skip_ws()
        d = self.data
        if self.pos >= len(d):
            raise PdfError("eof")
        c = d[self.pos]
        if d.startswith(b"<<", self.pos):
            return self._parse_dict_or_stream()
        if c == 0x3C:  # '<' hex string
            return self._parse_hex_string()
        if c == 0x28:  # '('
            return self._parse_literal_string()
        if c == 0x2F:  # '/'
            return self._parse_name()
        if c == 0x5B:  # '['
            self.pos += 1
            arr = []
            while True:
                self._skip_ws()
                if self.pos >= len(self.data):
                    raise PdfError("unterminated array")
                if self.data[self.pos] == 0x5D:
                    self.pos += 1
                    return arr
                arr.append(self.parse_object())
        # keyword probes gated on the first byte: numbers/refs are the
        # dominant case and should not pay three startswith calls each
        if c == 0x74 and d.startswith(b"true", self.pos):  # 't'
            self.pos += 4
            return True
        if c == 0x66 and d.startswith(b"false", self.pos):  # 'f'
            self.pos += 5
            return False
        if c == 0x6E and d.startswith(b"null", self.pos):  # 'n'
            self.pos += 4
            return None
        m = _NUM_RE.match(d, self.pos)
        if m:
            # try `num gen R` indirect reference
            save = self.pos
            self.pos = m.end()
            tok = m.group()
            if b"." not in tok:
                self._skip_ws()
                m2 = _NUM_RE.match(d, self.pos)
                if m2 and b"." not in m2.group():
                    p2 = m2.end()
                    q = p2
                    while q < len(d) and d[q] in _WS:
                        q += 1
                    if q < len(d) and d[q:q + 1] == b"R" and (
                        q + 1 >= len(d) or d[q + 1] in _WS or d[q + 1] in _DELIM
                    ):
                        self.pos = q + 1
                        return Ref(int(tok), int(m2.group()))
                self.pos = m.end()
                return int(tok)
            return float(tok)
        raise PdfError(f"cannot parse object at {self.pos}: {d[self.pos:self.pos+20]!r}")

    def _parse_name(self) -> Name:
        self.pos += 1  # '/'
        d = self.data
        # one C-level match to the next delimiter/whitespace; the per-char
        # loop only runs for names that actually contain '#xx' escapes
        # (rare — profiled ~2x on this third-hottest kernel function)
        m = _NAME_RE.match(d, self.pos)
        tok = m.group()
        self.pos = m.end()
        if b"#" not in tok:
            return Name(tok.decode("latin-1"))
        out = bytearray()
        i, n = 0, len(tok)
        while i < n:
            c = tok[i]
            # '#xx' escape when 2 digits follow WITHIN the name token; a
            # truncated trailing '#'/'#x' stays literal (an escape whose
            # digits cross a delimiter was never a valid name anyway)
            if c == 0x23 and i + 2 < n:
                try:
                    out += bytes([int(tok[i + 1:i + 3], 16)])
                except ValueError:
                    # '#' not followed by two hex digits is an invalid
                    # name escape (PDF 32000-1 §7.3.5) — error-route,
                    # never leak ValueError (round-5 fuzz finding)
                    raise PdfError(
                        f"invalid #-escape in name: {tok[i:i + 3]!r}")
                i += 3
                continue
            out.append(c)
            i += 1
        return Name(out.decode("latin-1"))

    def _parse_literal_string(self) -> bytes:
        d = self.data
        self.pos += 1  # '('
        depth = 1
        out = bytearray()
        esc = {b"n": 10, b"r": 13, b"t": 9, b"b": 8, b"f": 12}
        while self.pos < len(d):
            c = d[self.pos]
            if c == 0x5C:  # backslash
                nxt = d[self.pos + 1:self.pos + 2]
                if nxt in esc:
                    out.append(esc[nxt])
                    self.pos += 2
                elif nxt in (b"(", b")", b"\\"):
                    out += nxt
                    self.pos += 2
                elif nxt and nxt in b"01234567":  # octal: \d, \dd, \ddd
                    j = self.pos + 1
                    oct_digits = b""
                    while (j < len(d) and len(oct_digits) < 3
                           and d[j:j + 1] in
                           (b"0", b"1", b"2", b"3", b"4", b"5", b"6", b"7")):
                        oct_digits += d[j:j + 1]
                        j += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                    self.pos = j
                elif nxt == b"\n":
                    self.pos += 2  # line continuation
                else:
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos += 1
                    return bytes(out)
                out.append(c)
                self.pos += 1
            else:
                out.append(c)
                self.pos += 1
        raise PdfError("unterminated string")

    def _parse_hex_string(self) -> bytes:
        d = self.data
        end = d.find(b">", self.pos)
        if end < 0:
            raise PdfError("unterminated hex string")
        hx = re.sub(rb"\s", b"", d[self.pos + 1:end])
        if len(hx) % 2:
            hx += b"0"
        self.pos = end + 1
        try:
            return bytes.fromhex(hx.decode("ascii"))
        except (ValueError, UnicodeDecodeError):
            # non-hex garbage inside <...> is an error per PDF 32000-1
            # §7.3.4.3 — error-route, never leak ValueError /
            # UnicodeDecodeError (round-5 fuzz finding)
            raise PdfError(f"invalid hex string near offset {end}")

    def _parse_dict_or_stream(self):
        self.pos += 2  # '<<'
        out: dict = {}
        while True:
            self._skip_ws()
            if self.data.startswith(b">>", self.pos):
                self.pos += 2
                break
            key = self._parse_name()
            out[key] = self.parse_object()
        self._skip_ws()
        if self.data.startswith(b"stream", self.pos):
            self.pos += len(b"stream")
            if self.data.startswith(b"\r\n", self.pos):
                self.pos += 2
            elif self.data.startswith(b"\n", self.pos):
                self.pos += 1
            return ("__stream__", out, self.pos)  # resolved by Document (needs /Length)
        return out


# --------------------------------------------------------------------------
# Stream filters (PDF 32000-1 §7.4) — hand-rolled, no codec shared with the
# fixture generator (which uses base64.a85encode / its own RLE packer).
# --------------------------------------------------------------------------
def _ascii_hex_decode(data: bytes) -> bytes:
    end = data.find(b">")
    if end >= 0:
        data = data[:end]
    hx = _WS_RE.sub(b"", data)
    if len(hx) % 2:
        hx += b"0"  # odd count: implicit trailing 0 (§7.4.2)
    try:
        return bytes.fromhex(hx.decode("ascii"))
    except ValueError as e:
        raise PdfError(f"ASCIIHexDecode: {e}") from e


def _ascii85_decode(data: bytes) -> bytes:
    data = _WS_RE.sub(b"", data)
    if data.startswith(b"<~"):
        data = data[2:]
    end = data.find(b"~>")
    if end >= 0:
        data = data[:end]
    out = bytearray()
    group: list[int] = []
    for ch in data:
        if ch == 0x7A:  # 'z' == four zero bytes, only between groups
            if group:
                raise PdfError("ASCII85Decode: 'z' inside group")
            out += b"\x00\x00\x00\x00"
            continue
        if not (0x21 <= ch <= 0x75):
            raise PdfError(f"ASCII85Decode: bad byte {ch:#x}")
        group.append(ch - 33)
        if len(group) == 5:
            n = 0
            for g in group:
                n = n * 85 + g
            if n > 0xFFFFFFFF:  # max group is 's8W-!' (2^32 - 1)
                raise PdfError("ASCII85Decode: group value overflow")
            out += n.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise PdfError("ASCII85Decode: single trailing digit")
        k = len(group)
        padded = group + [84] * (5 - k)  # pad with 'u'
        n = 0
        for g in padded:
            n = n * 85 + g
        if n > 0xFFFFFFFF:  # 'u'-padding can push a partial group past 2^32
            raise PdfError("ASCII85Decode: group value overflow")
        out += n.to_bytes(4, "big")[: k - 1]
    return bytes(out)


# Decompression-bomb guard (real-crawl hazard at 100 TB: ONE hostile
# document must never OOM an executor).  Flate expands ~1000:1, RunLength
# up to 64:1, LZW up to ~1365:1, and a chained /Filter array multiplies the
# stages — so every EXPANDING decoder bounds its output and error-routes
# beyond the cap (the module's standard policy for out-of-dialect input).
# 64 MiB is far above any legitimate content/ToUnicode/ObjStm stream.
MAX_DECODED_BYTES = 64 << 20


def _flate_decode(data: bytes) -> bytes:
    """Bounded FlateDecode: decompress at most MAX_DECODED_BYTES + 1 bytes
    (streaming, so a bomb never materializes), then error-route."""
    d = zlib.decompressobj()
    try:
        out = d.decompress(data, MAX_DECODED_BYTES + 1)
        if len(out) <= MAX_DECODED_BYTES:
            out += d.flush(MAX_DECODED_BYTES + 1 - len(out))
    except zlib.error as e:
        raise PdfError(f"FlateDecode failed: {e}") from e
    if len(out) > MAX_DECODED_BYTES:
        raise PdfError(
            f"FlateDecode output exceeds {MAX_DECODED_BYTES} bytes")
    return out


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """LZWDecode (PDF 32000-1 §7.4.4 — the TIFF variant): MSB-first
    variable-width codes 9→12 bits, 256=ClearTable, 257=EOD, /EarlyChange
    (default 1) widens one code early.  Legacy Acrobat-era PDFs use this
    for content and ToUnicode streams (reference reads them via MuPDF —
    table_extractor-era fixtures; here it's ~50 lines of spec).

    A missing EOD is accepted only where a writer that omits it would end
    the stream: after the last whole code, fewer than 8 bits remain and all
    of them are zero (padding to the byte).  Any other end, such as a code
    cut short, raises ``PdfError("LZW: truncated stream")``."""
    if early not in (0, 1):
        raise PdfError(f"LZW: bad EarlyChange {early}")
    base = [bytes([c]) for c in range(256)] + [b"", b""]  # 256/257 sentinels
    dic = list(base)
    width = 9
    out = bytearray()
    prev_entry: bytes | None = None
    acc = nacc = 0
    i, n = 0, len(data)
    while True:
        while nacc < width:
            if i >= n:  # no EOD: accept only zero padding to the byte
                if nacc < 8 and not acc:
                    return bytes(out)
                raise PdfError("LZW: truncated stream")
            acc = (acc << 8) | data[i]
            i += 1
            nacc += 8
        nacc -= width
        code = (acc >> nacc) & ((1 << width) - 1)
        acc &= (1 << nacc) - 1  # keep the accumulator a small int
        if code == 256:  # ClearTable
            dic = list(base)
            width = 9
            prev_entry = None
            continue
        if code == 257:  # EOD
            return bytes(out)
        if prev_entry is None:
            if code >= len(dic):
                raise PdfError("LZW: first code not a literal")
            entry = dic[code]
        else:
            if code < len(dic):
                entry = dic[code]
            elif code == len(dic):  # the KwKwK case
                entry = prev_entry + prev_entry[:1]
            else:
                raise PdfError("LZW: code out of range")
            if len(dic) < 4096:
                dic.append(prev_entry + entry[:1])
        out += entry
        if len(out) > MAX_DECODED_BYTES:
            raise PdfError(
                f"LZWDecode output exceeds {MAX_DECODED_BYTES} bytes")
        prev_entry = entry
        if width < 12 and len(dic) >= (1 << width) - early:
            width += 1


def _run_length_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        length = data[i]
        if length == 128:  # EOD
            break
        if length < 128:
            out += data[i + 1:i + 2 + length]
            i += 2 + length
        else:
            out += data[i + 1:i + 2] * (257 - length)
            i += 2
        if len(out) > MAX_DECODED_BYTES:
            raise PdfError(
                f"RunLengthDecode output exceeds {MAX_DECODED_BYTES} bytes")
    return bytes(out)


def _png_unpredict(data: bytes, columns: int, colors: int = 1,
                   bpc: int = 8) -> bytes:
    """Reverse PNG row filters (predictors 10-15; xref streams conventionally
    use Up=12).  Each row: 1 filter-tag byte + columns*colors*bpc/8 bytes."""
    bpp = max(1, (colors * bpc) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    while pos < len(data):
        tag = data[pos]
        row = bytearray(data[pos + 1:pos + 1 + rowlen])
        if len(row) < rowlen:
            raise PdfError("predictor: truncated row")
        if tag == 0:  # None
            pass
        elif tag == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif tag == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif tag == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif tag == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        else:
            raise PdfError(f"unknown PNG filter tag {tag}")
        out += row
        prev = row
        pos += 1 + rowlen
    return bytes(out)


def _tiff_unpredict(data: bytes, columns: int, colors: int = 1,
                    bpc: int = 8) -> bytes:
    """Reverse TIFF Predictor 2 (horizontal differencing): each sample adds
    the sample one pixel to its left, per row.  8-bit components only (the
    common case; other depths error-route)."""
    if bpc != 8:
        raise PdfError(f"TIFF predictor with bpc={bpc} out of scope")
    rowlen = columns * colors
    out = bytearray(data)
    for start in range(0, len(out) - rowlen + 1, rowlen):
        for i in range(start + colors, start + rowlen):
            out[i] = (out[i] + out[i - colors]) & 0xFF
    return bytes(out)


class Document:
    """Parsed PDF: xref map + lazy object cache.

    ``xref`` maps object number -> byte offset (classic entries and type-1
    xref-stream entries); ``xref_compressed`` maps object number ->
    (object-stream number, index) for type-2 entries (PDF 1.5 /ObjStm)."""

    def __init__(self, data: bytes) -> None:
        if not data.startswith(b"%PDF-"):
            raise PdfError("missing %PDF- header")
        self.data = data
        self.xref: dict[int, int] = {}
        self.xref_compressed: dict[int, tuple[int, int]] = {}
        # objects FREED by the newest section that mentions them: a free
        # entry must shadow any older /Prev section's live entry, else an
        # incremental update's deleted object gets resurrected
        self.xref_free: set[int] = set()
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._resolving: set[int] = set()  # cycle guard (fuzz finding)
        self._objstm_loaded: set[int] = set()
        self._crypt = None  # (method, file_key) once /Encrypt is validated
        self._parse_xref_chain()
        if self.trailer.get(Name("Encrypt")) is not None:
            self._setup_decryption()

    def _xref_seen(self, num: int) -> bool:
        return (
            num in self.xref
            or num in self.xref_compressed
            or num in self.xref_free
        )

    # -- xref -------------------------------------------------------------
    def _parse_xref_chain(self) -> None:
        tail = self.data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise PdfError("no startxref")
        pos = int(m.group(1))
        seen = set()
        while pos not in seen:
            seen.add(pos)
            pos = self._parse_xref_section(pos)
            if pos is None:
                break

    def _parse_xref_section(self, pos: int):
        lx = _Lexer(self.data, pos)
        if not lx.peek_keyword(b"xref"):
            return self._parse_xref_stream(pos)  # PDF 1.5+ /Type /XRef
        lx.expect(b"xref")
        while True:
            lx._skip_ws()
            if lx.peek_keyword(b"trailer"):
                lx.expect(b"trailer")
                trailer = lx.parse_object()
                if not isinstance(trailer, dict):
                    # corrupted trailer (e.g. a bare number) — error-route,
                    # never leak AttributeError (round-5 fuzz finding)
                    raise PdfError(
                        f"trailer is {type(trailer).__name__}, expected "
                        f"dictionary")
                if not self.trailer:
                    self.trailer = trailer
                prev = trailer.get(Name("Prev"))
                return int(prev) if prev is not None else None
            m = re.match(rb"(\d+)\s+(\d+)", self.data[lx.pos:lx.pos + 40])
            if not m:
                raise PdfError("bad xref subsection header")
            start, count = int(m.group(1)), int(m.group(2))
            lx.pos += m.end()
            lx._skip_ws()
            for i in range(count):
                entry = self.data[lx.pos:lx.pos + 20]
                em = re.match(rb"(\d{10})\s(\d{5})\s([nf])", entry)
                if not em:
                    raise PdfError(f"bad xref entry at {lx.pos}")
                num = start + i
                if not self._xref_seen(num):
                    if em.group(3) == b"n":
                        self.xref[num] = int(em.group(1))
                    else:
                        self.xref_free.add(num)
                lx.pos += 20 if entry[18:19] in (b"\r", b"\n", b" ") else em.end()

    def _parse_xref_stream(self, pos: int):
        """Cross-reference STREAM section (PDF 32000-1 §7.5.8): the trailer
        dict IS the stream dict; entries are packed binary rows of /W field
        widths over the /Index subsections."""
        m = re.match(rb"(\d+)\s+(\d+)\s+obj", self.data[pos:pos + 40])
        if not m:
            raise PdfError(f"bad xref section at {pos}")
        lx = _Lexer(self.data, pos + m.end())
        obj = lx.parse_object()
        if not (isinstance(obj, tuple) and obj and obj[0] == "__stream__"):
            raise PdfError("startxref target is neither 'xref' nor a stream")
        d, data_start = obj[1], obj[2]
        length = d.get(Name("Length"))
        if not isinstance(length, int):
            # the xref stream bootstraps object access — /Length must be direct
            raise PdfError("xref stream with indirect /Length")
        st = Stream(d, self.data[data_start:data_start + length])
        if d.get(Name("Type")) != "XRef":
            raise PdfError("startxref stream is not /Type /XRef")
        data = self.stream_data(st)
        w = [int(x) for x in d.get(Name("W")) or []]
        if len(w) != 3:
            raise PdfError(f"bad /W {w!r}")
        size = int(d.get(Name("Size")) or 0)
        index = d.get(Name("Index")) or [0, size]
        rowlen = sum(w)
        rows = [data[i:i + rowlen] for i in range(0, len(data) - rowlen + 1, rowlen)]
        it = iter(rows)
        for start, count in zip(index[0::2], index[1::2]):
            for num in range(int(start), int(start) + int(count)):
                try:
                    row = next(it)
                except StopIteration as e:
                    raise PdfError("xref stream: short data") from e
                fields = []
                off = 0
                for width in w:
                    fields.append(
                        int.from_bytes(row[off:off + width], "big") if width else None
                    )
                    off += width
                ftype = fields[0] if fields[0] is not None else 1  # default type 1
                if self._xref_seen(num):
                    continue  # first (newest) section wins
                if ftype == 1:
                    self.xref[num] = fields[1]
                elif ftype == 2:
                    self.xref_compressed[num] = (fields[1], fields[2] or 0)
                else:  # ftype 0: freed HERE — shadows older /Prev entries
                    self.xref_free.add(num)
        if not self.trailer:
            self.trailer = {
                k: d[k]
                for k in (Name("Root"), Name("Info"), Name("Size"),
                          Name("Encrypt"), Name("ID"))
                if k in d
            }
        prev = d.get(Name("Prev"))
        return int(prev) if prev is not None else None

    # -- standard security handler (PDF 32000-1 §7.6.3) -------------------
    _PAD = bytes([
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ])  # public spec constant (Algorithm 2 step a)

    def _setup_decryption(self) -> None:
        """Validate the /Encrypt dict (standard handler, empty user
        password) and derive the file key.  RC4-40 (V1/R2), RC4-128
        (V2/R3), AES-128 (V4/R4 /AESV2) and AES-256 (V5 R5/R6 /AESV3,
        via ``_setup_v5``) are all in dialect; anything else — non-Standard
        handlers (pubkey), a non-empty user password — raises PdfError and
        error-routes (the reference opens these via MuPDF prompts; a batch
        pipeline cannot)."""
        import hashlib

        enc = self.resolve(self.trailer.get(Name("Encrypt")))
        if not isinstance(enc, dict):
            raise PdfError("bad /Encrypt dictionary")
        if self.resolve(enc.get(Name("Filter"))) != "Standard":
            raise PdfError(
                f"unsupported security handler {enc.get(Name('Filter'))!r}")
        v = int(self.resolve(enc.get(Name("V"))) or 0)
        r = int(self.resolve(enc.get(Name("R"))) or 0)
        length = int(self.resolve(enc.get(Name("Length"))) or 40)
        o = self.resolve(enc.get(Name("O")))
        u = self.resolve(enc.get(Name("U")))
        p = int(self.resolve(enc.get(Name("P"))) or 0)
        if v == 5:
            self._setup_v5(enc, r, u)
            return
        if v not in (1, 2, 4) or r not in (2, 3, 4):
            raise PdfError(f"unsupported encryption V={v} R={r}")
        method = "rc4"
        if v == 4:
            cf = self.resolve(enc.get(Name("CF"))) or {}
            stdcf = self.resolve(cf.get(Name("StdCF"))) or {}
            cfm = self.resolve(stdcf.get(Name("CFM")))
            if cfm == "AESV2":
                method = "aesv2"
            elif cfm != "V2":
                raise PdfError(f"unsupported crypt filter method {cfm!r}")
        if not isinstance(o, bytes) or len(o) < 32 or not isinstance(u, bytes):
            raise PdfError("malformed /O or /U entry")
        ids = self.resolve(self.trailer.get(Name("ID"))) or []
        id0 = ids[0] if ids and isinstance(ids[0], bytes) else b""
        n = 5 if r == 2 else length // 8
        if not 5 <= n <= 16:
            # a corrupted /Length (e.g. 0 or negative) would derive an
            # empty RC4 key and crash the keystream's modulo — /Length
            # must be 40-128 bits per the standard handler (round-5 fuzz
            # finding)
            raise PdfError(f"encryption key length {length} out of range")
        # Algorithm 2 with an EMPTY user password
        m = hashlib.md5()
        m.update(self._PAD)
        m.update(o[:32])
        m.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
        m.update(id0)
        h = m.digest()
        if r >= 3:
            for _ in range(50):
                h = hashlib.md5(h[:n]).digest()
        key = h[:n]
        # Verify /U (Algorithm 6/7): wrong result means a real password is
        # required — undecryptable in a batch pipeline, error-route.
        from .crypto import rc4

        if r == 2:
            ok = rc4(key, self._PAD) == u[:32]
        else:
            x = hashlib.md5(self._PAD + id0).digest()
            x = rc4(key, x)
            for i in range(1, 20):
                x = rc4(bytes(b ^ i for b in key), x)
            ok = x == u[:16]
        if not ok:
            raise PdfError("encrypted with a non-empty user password")
        self._crypt = (method, key)

    def _setup_v5(self, enc: dict, r: int, u) -> None:
        """AES-256 / ISO 32000-2 (V5): R6 iterated KDF (or R5's plain
        SHA-256), /U hash validation for the empty user password, file key
        unwrapped from /UE.  AESV3 encrypts every object with the file key
        directly — no per-object derivation."""
        import hashlib

        from .crypto import aes_cbc_decrypt_nopad, hash_r6

        if r not in (5, 6):
            raise PdfError(f"unsupported encryption V=5 R={r}")
        cf = self.resolve(enc.get(Name("CF"))) or {}
        stdcf = self.resolve(cf.get(Name("StdCF"))) or {}
        cfm = self.resolve(stdcf.get(Name("CFM")))
        if cfm != "AESV3":
            raise PdfError(f"unsupported crypt filter method {cfm!r} for V5")
        ue = self.resolve(enc.get(Name("UE")))
        if not isinstance(u, bytes) or len(u) < 48 or not isinstance(
                ue, bytes) or len(ue) != 32:
            raise PdfError("malformed /U or /UE entry")
        vsalt, ksalt = u[32:40], u[40:48]

        def pw_hash(salt: bytes) -> bytes:
            if r == 5:  # deprecated revision: single SHA-256, no iteration
                return hashlib.sha256(b"" + salt).digest()
            return hash_r6(b"", salt)

        if pw_hash(vsalt) != u[:32]:
            raise PdfError("encrypted with a non-empty user password")
        key = aes_cbc_decrypt_nopad(pw_hash(ksalt), b"\x00" * 16, ue)
        self._crypt = ("aesv3", key)

    def _obj_crypt(self, num: int, gen: int, data: bytes) -> bytes:
        """Algorithm 1: per-object key + RC4 or AES-CBC decrypt."""
        import hashlib

        from .crypto import CryptoError, aes_cbc_decrypt, rc4

        method, key = self._crypt
        if method == "aesv3":  # V5: the file key is the object key
            try:
                return aes_cbc_decrypt(key, data)
            except CryptoError as e:
                raise PdfError(f"AES decrypt: {e}") from e
        m = hashlib.md5()
        m.update(key)
        m.update(num.to_bytes(3, "little"))
        m.update(gen.to_bytes(2, "little"))
        if method == "aesv2":
            m.update(b"sAlT")
        okey = m.digest()[:min(len(key) + 5, 16)]
        if method == "aesv2":
            try:
                return aes_cbc_decrypt(okey, data)
            except CryptoError as e:
                raise PdfError(f"AES decrypt: {e}") from e
        return rc4(okey, data)

    def _decrypt_strings(self, obj, num: int, gen: int):
        """Recursively decrypt string values of a directly-stored object
        (strings inside object streams are covered by the ObjStm stream
        decryption and must not be decrypted twice)."""
        if isinstance(obj, bytes):
            return self._obj_crypt(num, gen, obj)
        if isinstance(obj, list):
            return [self._decrypt_strings(v, num, gen) for v in obj]
        if isinstance(obj, dict):
            return {k: self._decrypt_strings(v, num, gen)
                    for k, v in obj.items()}
        if isinstance(obj, Stream):
            obj.dict = self._decrypt_strings(obj.dict, num, gen)
        return obj

    # -- object access ----------------------------------------------------
    def resolve(self, obj):
        while isinstance(obj, Ref):
            obj = self.get_object(obj[0])
        return obj

    def _load_objstm(self, stm_num: int) -> None:
        """Parse ALL objects of one /ObjStm into the cache (one decode pass
        serves every compressed object it holds)."""
        if stm_num in self._objstm_loaded:
            return
        self._objstm_loaded.add(stm_num)
        stm = self.get_object(stm_num)
        if not isinstance(stm, Stream):
            raise PdfError(f"object stream {stm_num} is not a stream")
        if self.resolve(stm.dict.get(Name("Type"))) != "ObjStm":
            raise PdfError(f"object {stm_num} is not /Type /ObjStm")
        data = self.stream_data(stm)
        n = int(self.resolve(stm.dict.get(Name("N"))) or 0)
        first = int(self.resolve(stm.dict.get(Name("First"))) or 0)
        header = data[:first].split()
        if len(header) < 2 * n:
            raise PdfError("ObjStm: short pair header")
        for i in range(n):
            onum = int(header[2 * i])
            ooff = int(header[2 * i + 1])
            # Only cache objects whose NEWEST xref entry actually points into
            # this stream at this index: an incremental update may supersede
            # an ObjStm-carried object, and an unconditional cache fill would
            # resurrect the stale copy past the newest-section-wins shadowing.
            if self.xref_compressed.get(onum) != (stm_num, i):
                continue
            lx = _Lexer(data, first + ooff)
            self._cache[onum] = lx.parse_object()

    def get_object(self, num: int):
        if num in self._cache:
            return self._cache[num]
        if num in self._resolving:
            # a reference cycle through uncached objects (e.g. two streams
            # whose /Length entries point at each other) would otherwise
            # recurse without bound — error-route (round-5 fuzz finding)
            raise PdfError(f"circular reference through object {num}")
        self._resolving.add(num)
        try:
            return self._get_object_uncached(num)
        finally:
            self._resolving.discard(num)

    def _get_object_uncached(self, num: int):
        off = self.xref.get(num)
        if off is None:
            comp = self.xref_compressed.get(num)
            if comp is not None:
                self._load_objstm(comp[0])
                return self._cache.get(num)
            return None
        lx = _Lexer(self.data, off)
        m = re.match(rb"(\d+)\s+(\d+)\s+obj", self.data[off:off + 40])
        if not m:
            raise PdfError(f"bad object header for {num} at {off}")
        gen = int(m.group(2))
        lx.pos = off + m.end()
        obj = lx.parse_object()
        if isinstance(obj, tuple) and obj and obj[0] == "__stream__":
            _, d, data_start = obj
            length = self.resolve(d.get(Name("Length")))
            if not isinstance(length, int):
                raise PdfError("stream without integer /Length")
            raw = self.data[data_start:data_start + length]
            obj = Stream(d, raw, num, gen)
        if self._crypt is not None:
            obj = self._decrypt_strings(obj, num, gen)
        self._cache[num] = obj
        return obj

    def raw_data(self, st: Stream) -> bytes:
        """Stream bytes with decryption applied but filters NOT decoded —
        what an image sink stores for /DCTDecode payloads."""
        if (
            self._crypt is not None
            and st.num is not None
            and self.resolve(st.dict.get(Name("Type"))) != "XRef"
        ):
            # decryption precedes every decode filter; the xref stream is
            # never encrypted (it bootstraps object access)
            return self._obj_crypt(st.num, st.gen, st.raw)
        return st.raw

    def stream_data(self, st: Stream) -> bytes:
        raw = self.raw_data(st)
        filt = self.resolve(st.dict.get(Name("Filter")))
        if filt is None:
            return raw
        filters = filt if isinstance(filt, list) else [filt]
        parms = self.resolve(
            st.dict.get(Name("DecodeParms")) or st.dict.get(Name("DP"))
        )
        if isinstance(parms, list):
            # pad: a short /DecodeParms array must not truncate the filter
            # chain via zip — missing entries mean "no parms for that filter"
            parms_list = parms + [None] * (len(filters) - len(parms))
        else:
            parms_list = [parms] + [None] * (len(filters) - 1)
        data = raw
        for f, p in zip(filters, parms_list):
            f = self.resolve(f)
            p = self.resolve(p)
            if f == "FlateDecode":
                data = _flate_decode(data)
                data = self._unpredict(data, p)
            elif f == "ASCIIHexDecode":
                data = _ascii_hex_decode(data)
            elif f == "ASCII85Decode":
                data = _ascii85_decode(data)
            elif f == "RunLengthDecode":
                data = _run_length_decode(data)
            elif f == "LZWDecode":
                early = 1
                if isinstance(p, dict):
                    ec = self.resolve(p.get(Name("EarlyChange"), 1))
                    early = ec if isinstance(ec, int) else 1
                data = _lzw_decode(data, early)
                data = self._unpredict(data, p)
            elif f == "CCITTFaxDecode":
                p = p if isinstance(p, dict) else {}
                rows = self.resolve(p.get(Name("Rows")))
                try:
                    data = ccitt_decode(
                        data,
                        columns=int(self.resolve(
                            p.get(Name("Columns"), 1728)) or 1728),
                        rows=rows if isinstance(rows, int) and rows > 0
                        else None,
                        k=int(self.resolve(p.get(Name("K"), 0)) or 0),
                        black_is_1=bool(
                            self.resolve(p.get(Name("BlackIs1"), False))),
                        byte_align=bool(self.resolve(
                            p.get(Name("EncodedByteAlign"), False))),
                    )
                except CcittError as e:
                    raise PdfError(f"CCITTFaxDecode: {e}") from e
            elif f in ("DCTDecode", "JPXDecode"):
                # compressed image payload — pass through as-is
                return data
            else:
                raise PdfError(f"unsupported filter {f}")
        return data

    @staticmethod
    def _unpredict(data: bytes, parms) -> bytes:
        if not isinstance(parms, dict):
            return data
        pred = parms.get(Name("Predictor"), 1)
        if not isinstance(pred, int) or pred <= 1:
            return data
        columns = int(parms.get(Name("Columns"), 1))
        colors = int(parms.get(Name("Colors"), 1))
        bpc = int(parms.get(Name("BitsPerComponent"), 8))
        if pred >= 10:  # PNG predictors (per-row tag byte)
            return _png_unpredict(data, columns, colors, bpc)
        if pred == 2:  # TIFF horizontal differencing (§7.4.4.4)
            return _tiff_unpredict(data, columns, colors, bpc)
        raise PdfError(f"unsupported predictor {pred}")


# --------------------------------------------------------------------------
# Content-stream interpretation
# --------------------------------------------------------------------------
_OP_RE = re.compile(rb"[A-Za-z'\"*]{1,3}")
_EI_RE = re.compile(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ]|$)")


# inline-image /CS (ColorSpace) → component count, abbreviated and full
# names (PDF 32000-1 Table 94); Indexed / /I is 1 index component per pixel
_INLINE_CS_COMPS = {
    "G": 1, "DeviceGray": 1, "RGB": 3, "DeviceRGB": 3,
    "CMYK": 4, "DeviceCMYK": 4, "I": 1, "Indexed": 1,
}


def _skip_inline_image(lx: _Lexer) -> None:
    """Skip a BI ... ID <binary> EI inline image (PDF 32000-1 §8.9.7): the
    key/value dict parses with the normal lexer.  For UNFILTERED payloads
    the exact data length is computed from /W /H /BPC /CS (rows are
    byte-padded, §8.9.5.2), so raw bytes that happen to contain
    whitespace+'EI' cannot truncate the image; the whitespace-delimited EI
    scan remains the path for filtered payloads (whose length the dict
    doesn't determine).  The text path ignores inline images (like the
    reference's get_text), but must not let their raw bytes derail the
    operator stream."""
    data = lx.data
    kv: list[object] = []
    while True:
        lx._skip_ws()
        if data.startswith(b"ID", lx.pos):
            lx.pos += 2
            break
        if lx.pos >= len(data):
            raise PdfError("inline image without ID")
        kv.append(lx.parse_object())
    if lx.pos < len(data) and data[lx.pos] in _WS:
        lx.pos += 1  # single whitespace after ID
    params = {
        str(k): v for k, v in zip(kv[::2], kv[1::2]) if isinstance(k, Name)
    }
    has_filter = "F" in params or "Filter" in params
    if not has_filter:
        w = params.get("W", params.get("Width"))
        h = params.get("H", params.get("Height"))
        if params.get("IM", params.get("ImageMask")) is True:
            bpc, comps = 1, 1
        else:
            bpc = params.get("BPC", params.get("BitsPerComponent"))
            cs = params.get("CS", params.get("ColorSpace"))
            comps = _INLINE_CS_COMPS.get(str(cs)) if isinstance(cs, Name) else None
        if isinstance(w, int) and isinstance(h, int) and isinstance(bpc, int) \
                and comps is not None and w >= 0 and h >= 0:
            n = h * ((w * comps * bpc + 7) // 8)  # byte-padded rows
            end = lx.pos + n
            if end <= len(data):
                m = _EI_RE.match(data, end)
                if m:
                    lx.pos = m.end()
                    return
                if data.startswith(b"EI", end):  # writer omitted whitespace
                    lx.pos = end + 2
                    return
            # inconsistent dict vs data: fall through to the EI scan
    m = _EI_RE.search(data, lx.pos)
    if not m:
        raise PdfError("unterminated inline image")
    lx.pos = m.end()


def _tokenize_content(data: bytes):
    """Yield operand/operator tokens from a content stream."""
    lx = _Lexer(data, 0)
    n = len(data)
    while True:
        lx._skip_ws()
        if lx.pos >= n:
            return
        c = data[lx.pos]
        if c == 0x2F or c in b"([<" or (0x30 <= c <= 0x39) or c in b"+-." or data.startswith(b"<<", lx.pos):
            yield ("operand", lx.parse_object())
        else:
            m = _OP_RE.match(data, lx.pos)
            if not m:
                raise PdfError(f"bad content token at {lx.pos}: {data[lx.pos:lx.pos+10]!r}")
            lx.pos = m.end()
            op = m.group().decode("latin-1")
            if op == "BI":
                _skip_inline_image(lx)
                continue
            yield ("op", op)


def _decode_pdf_string(b: bytes) -> str:
    """Simple-font string decode.  Fixture dialect uses WinAnsi-ish Latin-1;
    UTF-16BE and UTF-16LE with BOM also handled (PDF 2.0 allows both
    text-string encodings)."""
    if b.startswith(b"\xfe\xff"):
        return b[2:].decode("utf-16-be", "replace")
    if b.startswith(b"\xff\xfe"):
        return b[2:].decode("utf-16-le", "replace")
    return b.decode("latin-1")


# --------------------------------------------------------------------------
# Composite (Type0/CID) fonts: ToUnicode CMap text mapping (PDF 32000-1
# §9.7/§9.10.3; the reference reads these via MuPDF,
# /root/reference/pdf_extractor/extractors/text_extractor.py:51-53).
# --------------------------------------------------------------------------
_HEX_TOK = re.compile(rb"<([0-9A-Fa-f\s]*)>")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CSRANGE_RE = re.compile(rb"begincodespacerange(.*?)endcodespacerange", re.S)


def _hexbytes(tok: bytes) -> bytes:
    hx = _WS_RE.sub(b"", tok)
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


def _parse_tounicode(data: bytes) -> tuple[dict[int, str], int]:
    """ToUnicode CMap -> (code -> unicode string, code byte width).

    Supports bfchar sections, bfrange with scalar destination (consecutive
    code points) and bfrange with an array destination; destination hex is
    UTF-16BE (may be multi-code-unit).  Code width comes from the
    codespacerange (Identity-H CMaps declare <0000> <FFFF> → 2)."""
    width = 2
    m = _CSRANGE_RE.search(data)
    if m:
        toks = _HEX_TOK.findall(m.group(1))
        if toks:
            width = max(1, len(_hexbytes(toks[0])))
    cmap: dict[int, str] = {}
    for sec in _BFCHAR_RE.findall(data):
        toks = _HEX_TOK.findall(sec)
        for i in range(0, len(toks) - 1, 2):
            src = int.from_bytes(_hexbytes(toks[i]), "big")
            cmap[src] = _hexbytes(toks[i + 1]).decode("utf-16-be", "replace")
    for sec in _BFRANGE_RE.findall(data):
        pos = 0
        while True:
            mlo = _HEX_TOK.search(sec, pos)
            if not mlo:
                break
            mhi = _HEX_TOK.search(sec, mlo.end())
            if not mhi:
                break
            lo = int.from_bytes(_hexbytes(mlo.group(1)), "big")
            hi = int.from_bytes(_hexbytes(mhi.group(1)), "big")
            # destination: array of hex strings, or one scalar hex start
            nxt = sec[mhi.end():].lstrip()
            if nxt.startswith(b"["):
                close = sec.find(b"]", mhi.end())
                if close < 0:
                    raise PdfError("bfrange: unterminated array destination")
                dsts = _HEX_TOK.findall(sec[mhi.end():close])
                for off, d in enumerate(dsts):
                    if lo + off <= hi:
                        cmap[lo + off] = _hexbytes(d).decode(
                            "utf-16-be", "replace")
                pos = close + 1
            else:
                mdst = _HEX_TOK.search(sec, mhi.end())
                if not mdst:
                    break
                start = _hexbytes(mdst.group(1))
                base = int.from_bytes(start, "big")
                for off in range(hi - lo + 1):
                    cmap[lo + off] = (base + off).to_bytes(
                        max(2, len(start)), "big").decode("utf-16-be", "replace")
                pos = mdst.end()
    if not cmap:
        raise PdfError("ToUnicode CMap with no bfchar/bfrange mappings")
    return cmap, width


_CIDCHAR_RE = re.compile(rb"begincidchar(.*?)endcidchar", re.S)
_CIDRANGE_RE = re.compile(rb"begincidrange(.*?)endcidrange", re.S)
_CIDCHAR_PAIR = re.compile(rb"<([0-9A-Fa-f\s]*)>\s*(\d+)")
_CIDRANGE_TRIPLE = re.compile(
    rb"<([0-9A-Fa-f\s]*)>\s*<([0-9A-Fa-f\s]*)>\s*(\d+)")
_MAX_CID_ENTRIES = 1 << 17  # bomb guard: 2 bytes of code space = 65536


#: ``/BaseName usecmap`` (bare) or ``/BaseName /CMap findresource usecmap``
#: (the CMap-spec PostScript form) — both name the base CMap composed under
#: the embedded one.
_USECMAP_RE = re.compile(
    rb"/([^\s/<>()\[\]{}%]+)\s*(?:/CMap\s+findresource\s+)?usecmap")


def _parse_cid_cmap(data: bytes) -> tuple[dict[bytes, int], list, str | None]:
    """Embedded CMap stream (/Encoding, PDF 32000-1 §9.7.5.3) ->
    (code -> CID map keyed by the code's raw BYTES, codespace ranges
    [(lo_bytes, hi_bytes), ...], usecmap base name or None).

    Parses cidchar pairs (<code> cid) and cidrange triples
    (<lo> <hi> startCID) — the code->CID half of the CMap grammar the
    ToUnicode parser above already implements for code->unicode.  A
    code's width is the byte length of its hex token, so MIXED-width
    codespaces (e.g. 1-byte ASCII plus 2-byte CJK ranges, the shape of
    every real RKSJ/EUC-style CMap) parse fine; the caller splits show
    strings against the returned ranges (_VarWidthCidDecoder).  A
    ``usecmap`` reference is returned by NAME for the caller to compose
    (codes the embedded sections don't map fall through to the base,
    PDF 32000-1 §9.7.5.3); an unparseable usecmap form error-routes."""
    base = None
    if b"usecmap" in data:
        m = _USECMAP_RE.search(data)
        if not m:
            raise PdfError("embedded CMap: unparseable usecmap reference")
        base = m.group(1).decode("latin-1")
    ranges: list[tuple[bytes, bytes]] = []
    m = _CSRANGE_RE.search(data)
    if m:
        toks = _HEX_TOK.findall(m.group(1))
        for i in range(0, len(toks) - 1, 2):
            lo, hi = _hexbytes(toks[i]), _hexbytes(toks[i + 1])
            if not lo or len(lo) != len(hi) or hi < lo:
                raise PdfError("embedded CMap: bad codespace range")
            ranges.append((lo, hi))
    if not ranges and base is None:
        ranges = [(b"\x00\x00", b"\xff\xff")]  # Identity-style default
    code2cid: dict[bytes, int] = {}
    work = 0  # cumulative mapping entries, counting overwrites (CPU bound)
    for sec in _CIDCHAR_RE.findall(data):
        for hx, cid in _CIDCHAR_PAIR.findall(sec):
            code2cid[_hexbytes(hx)] = int(cid)
            work += 1
            if work > _MAX_CID_ENTRIES:
                raise PdfError("embedded CMap: too many cidchar entries")
    for sec in _CIDRANGE_RE.findall(data):
        for lo_hx, hi_hx, start in _CIDRANGE_TRIPLE.findall(sec):
            lo_b, hi_b = _hexbytes(lo_hx), _hexbytes(hi_hx)
            if len(lo_b) != len(hi_b):
                raise PdfError("embedded CMap: cidrange width mismatch")
            w = len(lo_b)
            lo = int.from_bytes(lo_b, "big")
            hi = int.from_bytes(hi_b, "big")
            work += max(0, hi - lo + 1)
            if hi < lo or work > _MAX_CID_ENTRIES:
                raise PdfError("embedded CMap: cidrange bounds invalid")
            start_cid = int(start)
            for off in range(hi - lo + 1):
                code2cid[(lo + off).to_bytes(w, "big")] = start_cid + off
    if not code2cid and base is None:
        raise PdfError("embedded CMap with no cidchar/cidrange mappings")
    return code2cid, ranges, base


class _CidDecoder:
    """String-show decoder for a Type0 font: split the byte string into
    fixed-width codes and map each through the ToUnicode CMap."""

    __slots__ = ("cmap", "width")

    def __init__(self, cmap: dict[int, str], width: int) -> None:
        self.cmap = cmap
        self.width = width

    def __call__(self, b: bytes) -> str:
        w = self.width
        if w == 2:
            # one struct.unpack for the whole string beats per-code
            # int.from_bytes — CID text decode is on the corpus hot path
            n = len(b) // 2
            codes = struct.unpack(f">{n}H", b[:2 * n])
        else:
            codes = (
                int.from_bytes(b[i:i + w], "big")
                for i in range(0, len(b) - w + 1, w)
            )
        get = self.cmap.get
        return "".join(get(c, "�") for c in codes)


class _VarWidthCidDecoder:
    """Show-string decoder for an embedded CMap with a MIXED-width
    codespace (PDF 32000-1 §9.7.6.2-3): at each position the next code is
    the codespace range whose PER-BYTE bounds contain the next
    range-width bytes — checked shortest range first, so a 1-byte ASCII
    range wins over a 2-byte CJK range sharing no lead bytes, exactly the
    RKSJ/EUC code-splitting discipline.  (Every supported codespace
    family is lead-byte-disjoint across widths, so sort order only breaks
    genuine ties; per-byte verification rejects false prefixes like a
    GB18030 4-byte code's 0x30-0x39 second byte against the 2-byte
    range.)  A byte starting no range consumes one byte as notdef (the
    spec's undefined-code handling, collapsed to this kernel's U+FFFD
    convention).

    ``base``: optional /UseCMap fallback — a callable taking the matched
    code BYTES and returning its text or None; codes the embedded map
    doesn't name fall through to it (PDF 32000-1 §9.7.5.3 lookup order:
    embedded sections first, then the referenced CMap)."""

    __slots__ = ("cmap", "by_first", "base")

    def __init__(self, cmap: dict[bytes, str],
                 ranges: list[tuple[bytes, bytes]],
                 base=None) -> None:
        self.cmap = cmap
        self.base = base
        by_first: list[list[tuple[bytes, bytes]]] = [[] for _ in range(256)]
        for lo, hi in sorted(ranges, key=lambda r: len(r[0])):
            for b0 in range(lo[0], hi[0] + 1):
                by_first[b0].append((lo, hi))
        self.by_first = by_first

    def __call__(self, b: bytes) -> str:
        out = []
        get = self.cmap.get
        base = self.base
        by_first = self.by_first
        i, n = 0, len(b)
        while i < n:
            for lo, hi in by_first[b[i]]:
                w = len(lo)
                j = i + w
                if j <= n and all(
                        lo[k] <= b[i + k] <= hi[k] for k in range(1, w)):
                    code = b[i:j]
                    u = get(code)
                    if u is None and base is not None:
                        u = base(code)
                    out.append(u if u is not None else "�")
                    i = j
                    break
            else:
                out.append("�")
                i += 1
        return "".join(out)


#: Predefined CMaps whose 2-byte code IS the UCS-2 code point of the shown
#: character (Adobe's Uni* CMap families for the GB1/CNS1/Japan1/Korea1
#: collections).  For text extraction these need no CID table at all — the
#: code bytes decode directly, the route pdfminer takes for the same names
#: (the reference reads such text via MuPDF's bundled CMap resources).
_UCS2_CMAPS = frozenset(
    f"Uni{reg}-UCS2-{wm}"
    for reg in ("GB", "CNS", "JIS", "KS")
    for wm in ("H", "V")
)


def _ucs2_decode(b: bytes) -> str:
    """Show-string decoder for a predefined Uni*-UCS2 CMap: each 2-byte
    big-endian code is one UCS-2 code point.  Surrogate halves are not
    characters in UCS-2 (the Adobe UCS2 CMaps map none) — they decode to
    U+FFFD like any unmapped CID elsewhere in this kernel."""
    n = len(b) // 2
    codes = struct.unpack(f">{n}H", b[:2 * n])
    return "".join(
        "�" if 0xD800 <= c <= 0xDFFF else chr(c) for c in codes)


#: Predefined CMaps whose CODE SPACE is a national multi-byte text encoding
#: (or UTF-16BE) with a CPython stdlib codec.  For these, Adobe's bundled
#: code->CID table composed with the collection's CID->unicode table is, for
#: text-extraction purposes, exactly the national encoding's own decode: the
#: show-string bytes ARE Shift-JIS / GBK / Big5 / UHC / UTF-16BE text
#: (PDF 32000-1 §9.7.5.2 Table 118 names the encoding each CMap consumes;
#: the reference recovers the same text via MuPDF's bundled CMaps,
#: text_extractor.py:51-53).  The "ms"/"p" variants share their base
#: encoding's Microsoft codec (90ms-RKSJ = cp932, ETen-B5 = cp950,
#: KSCms-UHC = cp949).  The codec also performs the variable-width code
#: split (1-byte vs 2-byte lead ranges), so mixed-width predefined code
#: spaces need no separate splitter here.
_CODEC_CMAPS: dict[str, str] = {
    f"{base}-{wm}": codec
    for base, codec in (
        ("90ms-RKSJ", "cp932"), ("90msp-RKSJ", "cp932"),
        ("GBK-EUC", "gbk"), ("GBKp-EUC", "gbk"), ("GBK2K", "gb18030"),
        ("ETen-B5", "cp950"), ("ETenms-B5", "cp950"),
        ("KSCms-UHC", "cp949"), ("KSCms-UHC-HW", "cp949"),
        ("UniGB-UTF16", "utf-16-be"), ("UniCNS-UTF16", "utf-16-be"),
        ("UniJIS-UTF16", "utf-16-be"), ("UniKS-UTF16", "utf-16-be"),
    )
    for wm in ("H", "V")
}


class _CodecCMapDecoder:
    """Show-string decoder for a predefined CMap over a national encoding:
    delegate byte splitting AND mapping to the stdlib codec.  Bytes outside
    the encoding decode to U+FFFD, the same notdef convention every other
    decoder in this kernel uses (a real viewer renders .notdef there)."""

    __slots__ = ("codec",)

    def __init__(self, codec: str) -> None:
        self.codec = codec

    def __call__(self, b: bytes) -> str:
        return b.decode(self.codec, "replace")


#: Published codespace ranges of the predefined CMap families this kernel
#: can compose under /UseCMap, keyed by codec (transcribed from the Adobe
#: CMap resources: RKSJ mixes 1-byte ASCII/half-width-katakana with two
#: 2-byte kanji lead windows; the EUC/B5/UHC families are 1-byte ASCII +
#: one 2-byte window; GB18030 adds the 4-byte plane; UTF-16 splits the BMP
#: around the 4-byte surrogate window).  Every family is lead-byte-disjoint
#: across widths, which _VarWidthCidDecoder's shortest-first probe relies
#: on; the per-byte bounds reject false prefixes (e.g. a GB18030 4-byte
#: code's 0x30-0x39 second byte never matches the 2-byte trail window).
_PREDEF_CODESPACES: dict[str, list[tuple[bytes, bytes]]] = {
    "cp932": [(b"\x00", b"\x80"), (b"\xa0", b"\xdf"),
              (b"\x81\x40", b"\x9f\xfc"), (b"\xe0\x40", b"\xfc\xfc")],
    "gbk": [(b"\x00", b"\x80"), (b"\x81\x40", b"\xfe\xfe")],
    "gb18030": [(b"\x00", b"\x80"), (b"\x81\x40", b"\xfe\xfe"),
                (b"\x81\x30\x81\x30", b"\xfe\x39\xfe\x39")],
    "cp950": [(b"\x00", b"\x80"), (b"\xa1\x40", b"\xfe\xfe")],
    "cp949": [(b"\x00", b"\x80"), (b"\x81\x41", b"\xfe\xfe")],
    "utf-16-be": [(b"\x00\x00", b"\xd7\xff"), (b"\xe0\x00", b"\xff\xff"),
                  (b"\xd8\x00\xdc\x00", b"\xdb\xff\xdf\xff")],
}
_IDENTITY_CODESPACE: list[tuple[bytes, bytes]] = [(b"\x00\x00", b"\xff\xff")]


def _usecmap_base(name: str, cid2uni: dict[int, str] | None):
    """/UseCMap base CMap -> (code-bytes -> text-or-None, its codespace
    ranges).  Supported bases: Identity-H/V (code == CID, text from the
    descendant font program), the predefined Uni*-UCS2 family, and the
    predefined national-encoding / UTF-16 families; anything else is out
    of dialect and error-routes."""
    if name in ("Identity-H", "Identity-V"):
        if cid2uni is None:
            raise PdfError(
                "usecmap Identity base needs a descendant font mapping")

        def identity_fn(cb: bytes, _m=cid2uni):
            return _m.get(int.from_bytes(cb, "big")) if len(cb) == 2 else None

        return identity_fn, list(_IDENTITY_CODESPACE)
    if name in _UCS2_CMAPS:

        def ucs2_fn(cb: bytes):
            if len(cb) != 2:
                return None
            c = (cb[0] << 8) | cb[1]
            return "�" if 0xD800 <= c <= 0xDFFF else chr(c)

        return ucs2_fn, list(_IDENTITY_CODESPACE)
    if name in _CODEC_CMAPS:
        codec = _CODEC_CMAPS[name]

        def codec_fn(cb: bytes, _c=codec):
            try:
                return cb.decode(_c)
            except UnicodeDecodeError:
                return None

        return codec_fn, list(_PREDEF_CODESPACES[codec])
    raise PdfError(f"usecmap base {name!r} out of dialect")


# --------------------------------------------------------------------------
# Simple-font encodings (PDF 32000-1 §9.6.6 + Appendix D): /WinAnsiEncoding,
# /MacRomanEncoding, /Differences arrays with Adobe-Glyph-List names, and
# 1-byte /ToUnicode CMaps.  The reference gets all of this from MuPDF's
# builtin encoding tables (text_extractor.py:51-53).
# --------------------------------------------------------------------------

#: Hand-transcribed Adobe Glyph List subset: the Appendix D glyph names of
#: the ASCII, Latin-1 and WinAnsi-special ranges (the names real
#: /Differences arrays overwhelmingly use).  Everything else resolves via
#: the AGL algorithm's uniXXXX / uXXXXXX forms in _glyph_to_unicode, or
#: falls to notdef.
_AGL_SUBSET: dict[str, int] = {}
for _i, _n in enumerate(
        "space exclam quotedbl numbersign dollar percent ampersand "
        "quotesingle parenleft parenright asterisk plus comma hyphen "
        "period slash zero one two three four five six seven eight nine "
        "colon semicolon less equal greater question at".split()):
    _AGL_SUBSET[_n] = 0x20 + _i
for _c in range(0x41, 0x5B):
    _AGL_SUBSET[chr(_c)] = _c
for _i, _n in enumerate(
        "bracketleft backslash bracketright asciicircum underscore "
        "grave".split()):
    _AGL_SUBSET[_n] = 0x5B + _i
for _c in range(0x61, 0x7B):
    _AGL_SUBSET[chr(_c)] = _c
for _i, _n in enumerate("braceleft bar braceright asciitilde".split()):
    _AGL_SUBSET[_n] = 0x7B + _i
for _i, _n in enumerate(
        "exclamdown cent sterling currency yen brokenbar section dieresis "
        "copyright ordfeminine guillemotleft logicalnot - registered "
        "macron degree plusminus twosuperior threesuperior acute mu "
        "paragraph periodcentered cedilla onesuperior ordmasculine "
        "guillemotright onequarter onehalf threequarters questiondown "
        "Agrave Aacute Acircumflex Atilde Adieresis Aring AE Ccedilla "
        "Egrave Eacute Ecircumflex Edieresis Igrave Iacute Icircumflex "
        "Idieresis Eth Ntilde Ograve Oacute Ocircumflex Otilde Odieresis "
        "multiply Oslash Ugrave Uacute Ucircumflex Udieresis Yacute Thorn "
        "germandbls agrave aacute acircumflex atilde adieresis aring ae "
        "ccedilla egrave eacute ecircumflex edieresis igrave iacute "
        "icircumflex idieresis eth ntilde ograve oacute ocircumflex "
        "otilde odieresis divide oslash ugrave uacute ucircumflex "
        "udieresis yacute thorn ydieresis".split()):
    if _n != "-":  # 0xAD soft hyphen has no stable single AGL name here
        _AGL_SUBSET[_n] = 0xA1 + _i
_AGL_SUBSET.update({
    # StandardEncoding's extra glyph repertoire (ligatures, spacing
    # accents, slashed letters)
    "fraction": 0x2044, "fi": 0xFB01, "fl": 0xFB02, "breve": 0x02D8,
    "dotaccent": 0x02D9, "ring": 0x02DA, "hungarumlaut": 0x02DD,
    "ogonek": 0x02DB, "caron": 0x02C7, "dotlessi": 0x0131,
    "Lslash": 0x0141, "lslash": 0x0142,
    "Euro": 0x20AC, "quotesinglbase": 0x201A, "florin": 0x0192,
    "quotedblbase": 0x201E, "ellipsis": 0x2026, "dagger": 0x2020,
    "daggerdbl": 0x2021, "circumflex": 0x02C6, "perthousand": 0x2030,
    "Scaron": 0x0160, "guilsinglleft": 0x2039, "OE": 0x0152,
    "Zcaron": 0x017D, "quoteleft": 0x2018, "quoteright": 0x2019,
    "quotedblleft": 0x201C, "quotedblright": 0x201D, "bullet": 0x2022,
    "endash": 0x2013, "emdash": 0x2014, "tilde": 0x02DC,
    "trademark": 0x2122, "scaron": 0x0161, "guilsinglright": 0x203A,
    "oe": 0x0153, "zcaron": 0x017E, "Ydieresis": 0x0178,
})
del _i, _n, _c


def _glyph_to_unicode(name: str) -> str | None:
    """Adobe Glyph List name -> unicode string, or None when the name is
    outside the transcribed subset and the AGL uniXXXX / uXXXX[XX]
    algorithmic forms (the caller maps None to notdef — a lone odd glyph
    name must not error-route a whole document)."""
    if name in _AGL_SUBSET:
        return chr(_AGL_SUBSET[name])
    if name.startswith("uni") and len(name) >= 7 and (len(name) - 3) % 4 == 0:
        try:
            units = bytes.fromhex(name[3:])
        except ValueError:
            return None
        try:
            return units.decode("utf-16-be")
        except UnicodeDecodeError:
            return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            cp = int(name[1:], 16)
        except ValueError:
            return None
        if cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
            return chr(cp)
    return None


#: Named base encodings with a CPython codec whose table IS the PDF one
#: (Appendix D: WinAnsiEncoding == Windows cp1252, MacRomanEncoding ==
#: Mac OS Roman).
_BASE_ENCODINGS = {"WinAnsiEncoding": "cp1252",
                   "MacRomanEncoding": "mac_roman"}

#: Adobe StandardEncoding (PDF 32000-1 Appendix D, Adobe's PostScript
#: layout): no stdlib codec exists, so the table is transcribed here as
#: {code: AGL glyph name}, ASCII range implied except for the two quote
#: slots.  Codes Appendix D leaves unassigned resolve to notdef.
#: Spot positions are hand-pinned in tests/test_pdf_simple_enc.py; the
#: generator's encoder is a SEPARATE transcription (codepoint-keyed), so
#: a slip on either side breaks the twin gate loudly.
_STANDARD_ENCODING_NAMES: dict[int, str] = {
    0x27: "quoteright", 0x60: "quoteleft",
    0xA1: "exclamdown", 0xA2: "cent", 0xA3: "sterling", 0xA4: "fraction",
    0xA5: "yen", 0xA6: "florin", 0xA7: "section", 0xA8: "currency",
    0xA9: "quotesingle", 0xAA: "quotedblleft", 0xAB: "guillemotleft",
    0xAC: "guilsinglleft", 0xAD: "guilsinglright", 0xAE: "fi", 0xAF: "fl",
    0xB1: "endash", 0xB2: "dagger", 0xB3: "daggerdbl",
    0xB4: "periodcentered", 0xB6: "paragraph", 0xB7: "bullet",
    0xB8: "quotesinglbase", 0xB9: "quotedblbase", 0xBA: "quotedblright",
    0xBB: "guillemotright", 0xBC: "ellipsis", 0xBD: "perthousand",
    0xBF: "questiondown",
    0xC1: "grave", 0xC2: "acute", 0xC3: "circumflex", 0xC4: "tilde",
    0xC5: "macron", 0xC6: "breve", 0xC7: "dotaccent", 0xC8: "dieresis",
    0xCA: "ring", 0xCB: "cedilla", 0xCD: "hungarumlaut", 0xCE: "ogonek",
    0xCF: "caron", 0xD0: "emdash",
    0xE1: "AE", 0xE3: "ordfeminine", 0xE8: "Lslash", 0xE9: "Oslash",
    0xEA: "OE", 0xEB: "ordmasculine",
    0xF1: "ae", 0xF5: "dotlessi", 0xF8: "lslash", 0xF9: "oslash",
    0xFA: "oe", 0xFB: "germandbls",
}


def _standard_encoding_table() -> list[str]:
    table = ["�"] * 256
    for i in range(0x20, 0x7F):
        table[i] = chr(i)
    for code, name in _STANDARD_ENCODING_NAMES.items():
        u = _glyph_to_unicode(name)
        assert u is not None, name  # every name is in the AGL subset
        table[code] = u
    return table


def _simple_encoding_table(doc: "Document", enc, fname) -> list[str]:
    """Simple-font /Encoding (name or dictionary) -> 256-entry unicode
    table.  A dictionary's /BaseEncoding seeds the table (absent ->
    Latin-1, this kernel's historical simple-font default) and
    /Differences overrides runs of codes with glyph names (PDF 32000-1
    §9.6.6.1: an integer resets the code counter, each name assigns the
    next code).  Unknown glyph names map to notdef."""
    base = enc
    diffs = None
    if isinstance(enc, dict):
        base = doc.resolve(enc.get(Name("BaseEncoding")))
        diffs = doc.resolve(enc.get(Name("Differences")))
    if base is None:
        table = [chr(i) for i in range(256)]
    elif isinstance(base, str) and base in _BASE_ENCODINGS:
        codec = _BASE_ENCODINGS[base]
        table = [bytes([i]).decode(codec, "replace") for i in range(256)]
    elif base == "StandardEncoding":
        table = _standard_encoding_table()
    else:
        raise PdfError(
            f"simple font {fname}: unsupported base encoding {base!r} "
            f"(WinAnsiEncoding, MacRomanEncoding, StandardEncoding and "
            f"/Differences are handled; symbol-font builtins are out "
            f"of dialect)")
    if diffs is not None:
        if not isinstance(diffs, list):
            raise PdfError(f"simple font {fname}: /Differences not an array")
        code = 0
        for item in diffs:
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, Name):
                if not 0 <= code <= 255:
                    raise PdfError(
                        f"simple font {fname}: /Differences code {code} "
                        f"out of range")
                table[code] = _glyph_to_unicode(str(item)) or "�"
                code += 1
            else:
                raise PdfError(
                    f"simple font {fname}: bad /Differences entry {item!r}")
    return table


class _TableDecoder:
    """Show-string decoder for a simple font with an explicit /Encoding:
    one table lookup per byte."""

    __slots__ = ("table",)

    def __init__(self, table: list[str]) -> None:
        self.table = table

    def __call__(self, b: bytes) -> str:
        t = self.table
        return "".join(t[x] for x in b)


def _parse_truetype_cmap(data: bytes) -> dict[int, str]:
    """Embedded TrueType font program (sfnt) -> {glyph id: unicode char}.

    Implements the OpenType ``cmap`` format-4 LOOKUP semantics (walk every
    segment's code range; idDelta arithmetic when idRangeOffset == 0, else
    the glyphIdArray word at idRangeOffset[i]-slot + offset + 2*(c-start))
    and inverts it.  Subtable preference: (3,1) windows-unicode, then (0,*)
    legacy unicode, then (3,10) UCS-4.  Non-format-4 subtables and fonts
    without a usable unicode cmap error-route via PdfError — honest refusal
    beats silently wrong text."""
    if len(data) < 12:
        raise PdfError("FontFile2: truncated sfnt")
    num_tables = struct.unpack(">H", data[4:6])[0]
    cmap_off = None
    for i in range(num_tables):
        rec = data[12 + 16 * i:12 + 16 * i + 16]
        if len(rec) < 16:
            raise PdfError("FontFile2: truncated table directory")
        if rec[:4] == b"cmap":
            cmap_off = struct.unpack(">I", rec[8:12])[0]
            break
    if cmap_off is None or cmap_off + 4 > len(data):
        raise PdfError("FontFile2: no cmap table")
    n_sub = struct.unpack(">H", data[cmap_off + 2:cmap_off + 4])[0]
    subs: dict[tuple[int, int], int] = {}
    for i in range(n_sub):
        rec = data[cmap_off + 4 + 8 * i:cmap_off + 4 + 8 * i + 8]
        if len(rec) < 8:
            raise PdfError("FontFile2: truncated cmap encoding records")
        pid, eid, off = struct.unpack(">HHI", rec)
        subs[(pid, eid)] = cmap_off + off
    pick = None
    for want in ((3, 1),) + tuple((0, e) for e in range(7)) + ((3, 10),):
        if want in subs:
            pick = subs[want]
            break
    if pick is None:
        raise PdfError("FontFile2: no unicode cmap subtable")
    fmt = struct.unpack(">H", data[pick:pick + 2])[0]
    if fmt != 4:
        raise PdfError(f"FontFile2: unsupported cmap format {fmt}")
    seg_x2 = struct.unpack(">H", data[pick + 6:pick + 8])[0]
    seg_count = seg_x2 // 2
    p = pick + 14
    end_codes = struct.unpack(f">{seg_count}H", data[p:p + seg_x2])
    p += seg_x2 + 2  # + reservedPad
    start_codes = struct.unpack(f">{seg_count}H", data[p:p + seg_x2])
    p += seg_x2
    id_deltas = struct.unpack(f">{seg_count}H", data[p:p + seg_x2])
    p += seg_x2
    iro_base = p
    id_range_offsets = struct.unpack(f">{seg_count}H", data[p:p + seg_x2])
    inv: dict[int, str] = {}
    for i in range(seg_count):
        s, e = start_codes[i], end_codes[i]
        if s == 0xFFFF:
            continue  # terminator segment maps nothing
        for c in range(s, min(e, 0xFFFE) + 1):
            if id_range_offsets[i] == 0:
                gid = (c + id_deltas[i]) & 0xFFFF
            else:
                gpos = iro_base + 2 * i + id_range_offsets[i] + 2 * (c - s)
                if gpos + 2 > len(data):
                    raise PdfError("FontFile2: glyphIdArray out of bounds")
                gid = struct.unpack(">H", data[gpos:gpos + 2])[0]
                if gid:
                    gid = (gid + id_deltas[i]) & 0xFFFF
            if gid:
                inv.setdefault(gid, chr(c))
    if not inv:
        raise PdfError("FontFile2: cmap maps no glyphs")
    return inv


def _descendant_cid2uni(doc: "Document", fd: dict, fname) -> dict[int, str]:
    """Recover cid -> unicode from the descendant font's embedded TrueType
    program (inverting its cmap; the route real subsetted PDFs force,
    VERDICT.md round-3 'What's missing' #3).  /CIDToGIDMap may be
    /Identity or an explicit 2-byte map stream.  Anything else
    error-routes."""
    desc_arr = doc.resolve(fd.get(Name("DescendantFonts")))
    desc = doc.resolve(desc_arr[0]) if isinstance(desc_arr, list) and desc_arr else None
    if not isinstance(desc, dict):
        raise PdfError(f"Type0 font {fname}: missing descendant font")
    fdesc = doc.resolve(desc.get(Name("FontDescriptor")))
    ff = doc.resolve(fdesc.get(Name("FontFile2"))) if isinstance(fdesc, dict) else None
    if not isinstance(ff, Stream):
        raise PdfError(
            f"Type0 font {fname} without /ToUnicode CMap or embedded "
            f"/FontFile2 — no text mapping to extract")
    gid2uni = _parse_truetype_cmap(doc.stream_data(ff))
    c2g = doc.resolve(desc.get(Name("CIDToGIDMap")))
    if isinstance(c2g, Stream):
        raw = doc.stream_data(c2g)
        cmap = {}
        for cid in range(len(raw) // 2):
            gid = (raw[2 * cid] << 8) | raw[2 * cid + 1]
            uni = gid2uni.get(gid)
            if gid and uni is not None:
                cmap[cid] = uni
        if not cmap:
            raise PdfError(f"Type0 font {fname}: empty CIDToGIDMap stream")
        return cmap
    if c2g in (None, "Identity"):
        return gid2uni  # cid == gid under Identity
    raise PdfError(f"Type0 font {fname}: unsupported CIDToGIDMap {c2g!r}")


def _page_fonts(doc: "Document", page: dict) -> dict[str, object]:
    """/Resources /Font -> {font name: decoder}.  Simple fonts decode
    through their 1-byte /ToUnicode CMap when present, else an explicit
    /Encoding (WinAnsi / MacRoman base tables, /Differences glyph-name
    overrides via the AGL subset + uniXXXX algorithm), else the default
    Latin-1 decode (None marker); Type0 fonts decode through their
    ToUnicode CMap, falling back — when /ToUnicode is absent — on the
    /Encoding: direct UCS-2 decode for the predefined Uni*-UCS2 CMap
    family, code->CID->unicode for an embedded CMap STREAM (round-4
    VERDICT missing #1: the grammar is shared with ToUnicode, the
    CID->unicode half comes from the descendant FontFile2), or the
    embedded TrueType program's inverted cmap under Identity-H/V, or —
    for the predefined CMaps whose code space is a national encoding or
    UTF-16 (90ms-RKSJ, GBK-EUC, ETen-B5, KSCms-UHC, Uni*-UTF16) — a
    direct stdlib-codec decode of the show-string bytes.  A Type0 font
    with NO mapping — a predefined CMap outside those families (e.g.
    Add-RKSJ-H, EUC-H, which genuinely need Adobe's bundled CID tables)
    — is out of dialect and error-routes via PdfError."""
    res = doc.resolve(page.get(Name("Resources"))) or {}
    return _fonts_from_resources(doc, res if isinstance(res, dict) else {})


def _fonts_from_resources(doc: "Document", res: dict) -> dict[str, object]:
    """A resolved /Resources dictionary -> {font name: decoder} — shared
    by pages and Form XObjects (a form's own /Resources scope its fonts,
    PDF 32000-1 §8.10.3)."""
    fonts = doc.resolve(res.get(Name("Font"))) or {}
    if not isinstance(fonts, dict):
        raise PdfError(
            f"/Font is {type(fonts).__name__}, expected dictionary")
    out: dict[str, object] = {}
    for fname, fref in fonts.items():
        fd = doc.resolve(fref)
        if not isinstance(fd, dict):
            continue
        if doc.resolve(fd.get(Name("Subtype"))) == "Type0":
            tu = doc.resolve(fd.get(Name("ToUnicode")))
            enc = doc.resolve(fd.get(Name("Encoding")))
            if not isinstance(enc, (str, Stream, type(None))):
                # a corrupted /Encoding resolving to a dict/array must
                # error-route, not TypeError on the set membership probes
                # below (round-5 fuzz finding)
                raise PdfError(
                    f"Type0 font {fname}: /Encoding is "
                    f"{type(enc).__name__}, expected name or stream")
            if isinstance(tu, Stream):
                cmap, width = _parse_tounicode(doc.stream_data(tu))
            elif enc in _UCS2_CMAPS:
                # Uni*-UCS2 predefined CMap: code == UCS-2 code point, no
                # table needed (residual of VERDICT round-3 missing #3)
                out[str(fname)] = _ucs2_decode
                continue
            elif enc in _CODEC_CMAPS:
                # predefined CMap over a national multi-byte encoding
                # (90ms-RKSJ, GBK-EUC, ETen-B5, KSCms-UHC, Uni*-UTF16):
                # the code bytes are that encoding's text — decode via the
                # stdlib codec (VERDICT round-4 'What's missing' #1)
                out[str(fname)] = _CodecCMapDecoder(_CODEC_CMAPS[enc])
                continue
            elif isinstance(enc, Stream):
                # embedded CMap stream: code -> CID here, CID -> unicode
                # from the descendant font program; an optional usecmap
                # base catches codes the embedded sections don't map
                code2cid, ranges, base_name = _parse_cid_cmap(
                    doc.stream_data(enc))
                cid2uni = None
                if code2cid or base_name in ("Identity-H", "Identity-V"):
                    cid2uni = _descendant_cid2uni(doc, fd, fname)
                cmap_b = {
                    code: cid2uni[cid]
                    for code, cid in code2cid.items() if cid in cid2uni
                } if code2cid else {}
                if base_name is not None:
                    base_fn, base_ranges = _usecmap_base(base_name, cid2uni)
                    out[str(fname)] = _VarWidthCidDecoder(
                        cmap_b, ranges + base_ranges, base=base_fn)
                    continue
                if not cmap_b:
                    raise PdfError(
                        f"Type0 font {fname}: embedded CMap maps no CID "
                        f"the descendant font can name")
                if {len(lo) for lo, _ in ranges} == {2}:
                    # uniform 2-byte codespace: keep the struct.unpack
                    # fast path (the corpus hot path)
                    cmap = {int.from_bytes(k, "big"): v
                            for k, v in cmap_b.items()}
                    width = 2
                else:
                    # mixed-width codespace: split show strings by
                    # per-byte range matching
                    out[str(fname)] = _VarWidthCidDecoder(cmap_b, ranges)
                    continue
            elif enc in ("Identity-H", "Identity-V"):
                cmap, width = _descendant_cid2uni(doc, fd, fname), 2
            else:
                raise PdfError(
                    f"Type0 font {fname} without /ToUnicode and "
                    f"unsupported encoding {enc!r} (UCS2/UTF16/"
                    f"national-encoding predefined CMaps and embedded "
                    f"CMap streams are handled; other predefined CMaps "
                    f"are out of dialect)")
            out[str(fname)] = _CidDecoder(cmap, width)
        else:
            # simple font: a /ToUnicode CMap wins (subset fonts with
            # scrambled codes), then an explicit /Encoding (WinAnsi /
            # MacRoman / Differences, Appendix D), else the historical
            # Latin-1 default (None marker -> _decode_pdf_string)
            tu = doc.resolve(fd.get(Name("ToUnicode")))
            enc = doc.resolve(fd.get(Name("Encoding")))
            if isinstance(tu, Stream):
                cmap, width = _parse_tounicode(doc.stream_data(tu))
                out[str(fname)] = _CidDecoder(cmap, width)
            elif enc is not None:
                out[str(fname)] = _TableDecoder(
                    _simple_encoding_table(doc, enc, fname))
            else:
                out[str(fname)] = None
    return out


class _TextState:
    __slots__ = ("tm", "tlm", "leading", "size", "font")

    def __init__(self) -> None:
        self.tm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)  # a b c d e f
        self.tlm = self.tm
        self.leading = 0.0
        self.size = 12.0
        self.font = ""


def _mat_mul(m1, m2):
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


_MAX_FORM_DEPTH = 16  # bounds Form XObject nesting (self-reference bomb)


def _extract_runs(content: bytes,
                  fonts: dict[str, object] | None = None,
                  doc: "Document | None" = None,
                  resources: dict | None = None,
                  depth: int = 0,
                  ctm0: tuple | None = None) -> list[dict]:
    """Interpret text operators; emit runs {x, y, text, size}.

    ``fonts`` maps resource font names to decoders (None = simple-font
    Latin-1 default; a callable = composite-font ToUnicode decode).

    ``doc``/``resources`` enable the ``Do`` operator: a named
    /Subtype /Form XObject's content stream is interpreted recursively
    with the form's own /Resources (falling back to the caller's per
    §8.10.3) and its /Matrix composed onto the current CTM, so form text
    lands at its final page position before reading-order sort.  Image
    XObjects named by Do are ignored here (they carry no text; the image
    sink walks resources separately).  ``ctm0`` is the inherited CTM for
    a recursive call; nesting is bounded by _MAX_FORM_DEPTH."""
    fonts = fonts or {}
    runs: list[dict] = []
    ts: _TextState | None = None
    operands: list = []
    ctm = ctm0 if ctm0 is not None else (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    ctm_stack: list = []

    def decode(b) -> str:
        if not isinstance(b, bytes):
            return ""
        dec = fonts.get(ts.font) if ts is not None else None
        return dec(b) if dec is not None else _decode_pdf_string(b)

    def emit(s: str) -> None:
        if ts is None or not s:
            return
        m = _mat_mul(ts.tm, ctm)
        runs.append({"x": m[4], "y": m[5], "text": s, "size": ts.size})
        # advance Tm.e by an estimated width so consecutive Tj on one line
        # stay ordered; exact glyph metrics are out of dialect scope.
        adv = 0.5 * ts.size * len(s)
        a, b, c, d, e, f = ts.tm
        ts.tm = (a, b, c, d, e + adv, f)

    def next_line(tx: float, ty: float) -> None:
        assert ts is not None
        ts.tlm = _mat_mul((1, 0, 0, 1, tx, ty), ts.tlm)
        ts.tm = ts.tlm

    for kind, tok in _tokenize_content(content):
        if kind == "operand":
            operands.append(tok)
            continue
        op = tok
        try:
            if op == "BT":
                ts = _TextState()
            elif op == "ET":
                ts = None
            elif op == "q":
                ctm_stack.append(ctm)
            elif op == "Q":
                ctm = ctm_stack.pop() if ctm_stack else ctm
            elif op == "cm" and len(operands) >= 6:
                ctm = _mat_mul(tuple(float(v) for v in operands[-6:]), ctm)
            elif op == "Do" and operands and doc is not None:
                nm = operands[-1]
                xobjs = doc.resolve(
                    (resources or {}).get(Name("XObject")))
                xo = (doc.resolve(xobjs.get(Name(str(nm))))
                      if isinstance(xobjs, dict) and isinstance(nm, str)
                      else None)
                if (isinstance(xo, Stream) and doc.resolve(
                        xo.dict.get(Name("Subtype"))) == "Form"):
                    if depth + 1 >= _MAX_FORM_DEPTH:
                        raise PdfError("Form XObject nesting too deep")
                    fres = doc.resolve(xo.dict.get(Name("Resources")))
                    if isinstance(fres, dict):
                        sub_fonts = _fonts_from_resources(doc, fres)
                        sub_res = fres
                    else:
                        sub_fonts, sub_res = fonts, resources
                    mtx = doc.resolve(xo.dict.get(Name("Matrix")))
                    sub_ctm = ctm
                    if isinstance(mtx, list) and len(mtx) == 6:
                        sub_ctm = _mat_mul(
                            tuple(float(v) for v in mtx), ctm)
                    runs.extend(_extract_runs(
                        doc.stream_data(xo), sub_fonts, doc=doc,
                        resources=sub_res, depth=depth + 1,
                        ctm0=sub_ctm))
            elif ts is not None:
                if op == "Tf" and len(operands) >= 2:
                    if isinstance(operands[-2], str):
                        ts.font = str(operands[-2])
                    ts.size = float(operands[-1])
                elif op == "Td" and len(operands) >= 2:
                    next_line(float(operands[-2]), float(operands[-1]))
                elif op == "TD" and len(operands) >= 2:
                    ts.leading = -float(operands[-1])
                    next_line(float(operands[-2]), float(operands[-1]))
                elif op == "TL" and operands:
                    ts.leading = float(operands[-1])
                elif op == "Tm" and len(operands) >= 6:
                    ts.tlm = tuple(float(v) for v in operands[-6:])
                    ts.tm = ts.tlm
                elif op == "T*":
                    next_line(0.0, -ts.leading)
                elif op == "Tj" and operands:
                    emit(decode(operands[-1]))
                elif op == "'" and operands:
                    next_line(0.0, -ts.leading)
                    emit(decode(operands[-1]))
                elif op == '"' and len(operands) >= 3:
                    next_line(0.0, -ts.leading)
                    emit(decode(operands[-1]))
                elif op == "TJ" and operands and isinstance(operands[-1], list):
                    parts = [
                        decode(el)
                        for el in operands[-1]
                        if isinstance(el, bytes)
                    ]
                    emit("".join(parts))
        except (ValueError, TypeError) as e:
            # a corrupted content stream can put a name/string where a
            # number belongs — error-route, never leak ValueError
            # (round-5 fuzz finding)
            raise PdfError(f"malformed operand for {op}: {e}")
        finally:
            operands = []
    return runs


_Y_TOL = 2.0  # runs within 2 text-space units share a line


def _group_lines(runs: list[dict]) -> list[list[dict]]:
    """Reading-order sort (y desc, x asc — PDF y grows upward) + line
    grouping, each line x-sorted: the shared single pass feeding BOTH text
    assembly (OP-48/OP-39/OP-49) and table detection (OP-61)."""
    ordered = sorted(runs, key=lambda r: (-r["y"], r["x"]))
    lines: list[list[dict]] = []
    for r in ordered:
        if lines and abs(lines[-1][0]["y"] - r["y"]) <= _Y_TOL:
            lines[-1].append(r)
        else:
            lines.append([r])
    for line in lines:
        line.sort(key=lambda r: r["x"])  # OP-49 x-sort within line
    return lines


def _assemble_from_lines(lines: list[list[dict]]) -> tuple[str, list[dict]]:
    blocks: list[dict] = []
    out_lines: list[str] = []
    for i, line in enumerate(lines):
        text = "".join(r["text"] for r in line).strip()
        if not text:  # OP-27 non-empty filter
            continue
        x0 = line[0]["x"]
        y = line[0]["y"]
        size = max(r["size"] for r in line)
        x1 = line[-1]["x"] + 0.5 * line[-1]["size"] * len(line[-1]["text"])
        blocks.append({  # BLOCK_SCHEMA shape; counts: extraction_result.py:20-23
            "block_no": len(blocks), "tag": "line", "text": text,
            "char_count": len(text), "word_count": len(text.split()),
            "x0": round(x0, 2), "y0": round(y, 2),
            "x1": round(x1, 2), "y1": round(y + size, 2),
            "block_type": 0,  # text block (reference block[6]==0, OP-26)
            "link_density": 0.0, "is_content": True,
        })
        out_lines.append(text)
    return "\n".join(out_lines), blocks


# --------------------------------------------------------------------------
# PDF-native table detection (OP-61): x-cluster column alignment over the
# per-line run stream — the word-cluster discipline pdfplumber's text
# strategy applies at /root/reference/pdf_extractor/extractors/
# table_extractor.py:65 (the reference calls page.extract_tables; this is a
# from-scratch detector over the kernel's own bbox blocks).
# --------------------------------------------------------------------------
_X_TOL = 3.0          # run x-starts within 3 units share a column
_MIN_TABLE_ROWS = 3   # a grid needs >= 3 aligned rows ...
_MIN_TABLE_COLS = 3   # ... spanning >= 3 columns.  Both bounds are the
# false-positive guard: a region can only OPEN on a >= 3-run line (ordinary
# justified/split text lines carry at most 2 runs), and repeated incidental
# alignments never reach 3 rows.  Sparse rows (2 filled cells) may JOIN an
# open region, but only when every run sits on an existing column.


def _detect_tables(lines: list[list[dict]]) -> list[list[list[str | None]]]:
    """Detect grid-layout tables: maximal blocks of consecutive lines whose
    >= 3 run x-starts align into shared columns across >= 3 lines.

    Returns pdfplumber-shaped data: list of tables, each a list of rows,
    each a list of cells — a cell is the stripped concatenation of that
    column's runs, or None where the row places nothing in the column (the
    same None-for-empty fidelity the DOM parser keeps for <td>)."""
    return [t for t, _ in detect_tables_with_cols(lines)]


def detect_tables_with_cols(
    lines: list[list[dict]],
) -> list[tuple[list[list[str | None]], list[float]]]:
    """_detect_tables plus each table's column x-centers — the COLUMN
    SIGNATURE a multi-page merge needs to decide that the table at the top
    of page n+1 continues the one at the bottom of page n (round-5
    q_table_merge; the reference's aspirational multi-page merge,
    generate_word_doc.py:88-96, never shipped)."""
    tables: list[tuple[list[list[str | None]], list[float]]] = []
    region: list[list[dict]] = []
    centers: list[float] = []

    def flush() -> None:
        nonlocal region, centers
        if len(region) >= _MIN_TABLE_ROWS:
            t = _region_to_table(region)
            if t is not None:
                tables.append(t)
        region, centers = [], []

    for line in lines:
        xs = [r["x"] for r in line]
        if len(xs) < 2:
            flush()
            continue
        if len(xs) < _MIN_TABLE_COLS:
            # sparse row (2 filled cells): may JOIN an open region, but only
            # when EVERY run sits on an existing column — it can neither
            # open a region nor add columns, so 2-run paragraph lines (whose
            # second run starts at an arbitrary text-width offset) stay out.
            if region and all(
                any(abs(x - c) <= _X_TOL for c in centers) for x in xs
            ):
                region.append(line)
            else:
                flush()
            continue
        if not region:
            region = [line]
            centers = list(xs)
            continue
        matched = sum(
            1 for x in xs if any(abs(x - c) <= _X_TOL for c in centers)
        )
        # two shared columns are enough to JOIN a region: rows with empty
        # cells can overlap a neighbor on as few as 2 columns even in a
        # 5-column grid.  The >=3-column / >=3-row minimums still apply to
        # the finalized region, so this does not weaken the FP guard (a
        # region-OPENING line must carry >= _MIN_TABLE_COLS runs).
        if matched >= 2:
            region.append(line)
            for x in xs:  # unmatched starts open NEW columns for later rows
                if not any(abs(x - c) <= _X_TOL for c in centers):
                    centers.append(x)
        else:
            flush()
            region = [line]
            centers = list(xs)
    flush()
    return tables


def _region_to_table(
    region: list[list[dict]],
) -> tuple[list[list[str | None]], list[float]] | None:
    """Cluster the region's run x-starts into columns (1-D gap clustering)
    and assign each line's runs to its nearest column.  Returns
    (rows, column x-centers) or None."""
    starts = sorted(x for line in region for r in line for x in [r["x"]])
    clusters: list[list[float]] = []
    for x in starts:
        if clusters and x - clusters[-1][-1] <= _X_TOL:
            clusters[-1].append(x)
        else:
            clusters.append([x])
    if len(clusters) < _MIN_TABLE_COLS:
        return None
    centers = [sum(c) / len(c) for c in clusters]
    rows: list[list[str | None]] = []
    for line in region:
        cells: list[list[str]] = [[] for _ in centers]
        for r in line:
            ci = min(range(len(centers)), key=lambda i: abs(r["x"] - centers[i]))
            cells[ci].append(r["text"])
        rows.append([
            ("".join(parts).strip() if parts else None) for parts in cells
        ])
    return rows, centers


_IMG_FMT = {"DCTDecode": "jpeg", "JPXDecode": "jp2", "FlateDecode": "raw",
            "CCITTFaxDecode": "bilevel", None: "raw"}


def _page_images(doc: Document, page: dict) -> list[dict]:
    """Walk /Resources /XObject for /Subtype /Image — the xref-walk analogue
    of image_extractor.py:111-121 — recursing into /Subtype /Form XObjects
    so images carried inside a form's own /Resources are found too (depth-
    and cycle-bounded; round 5, with the Do text support).  Size filtering
    (OP-25) stays relational."""
    res = doc.resolve(page.get(Name("Resources"))) or {}

    def walk(res_dict, depth: int, seen: set):
        xobjs = doc.resolve(res_dict.get(Name("XObject"))) or {}
        if not isinstance(xobjs, dict):
            return
        for name, ref in sorted(xobjs.items()):
            xo = doc.resolve(ref)
            if not isinstance(xo, Stream):
                continue
            subtype = doc.resolve(xo.dict.get(Name("Subtype")))
            if subtype == "Form" and depth + 1 < _MAX_FORM_DEPTH:
                if id(xo) in seen:
                    continue  # a form cycle must not loop the image walk
                seen.add(id(xo))
                fres = doc.resolve(xo.dict.get(Name("Resources")))
                if isinstance(fres, dict):
                    yield from walk(fres, depth + 1, seen)
                continue
            if subtype == "Image":
                yield name, xo

    images: list[dict] = []
    if not isinstance(res, dict):
        return images
    for idx, (name, xo) in enumerate(walk(res, 0, set())):
        filt = doc.resolve(xo.dict.get(Name("Filter")))
        if isinstance(filt, list):
            filt = filt[-1] if filt else None
        fmt = _IMG_FMT.get(str(filt) if filt else None, "raw")
        if fmt == "bilevel":
            # CCITT needs /DecodeParms to decode, which downstream
            # consumers don't see — so (unlike the pass-through formats)
            # the payload carries the DECODED packed 1-bit rows, i.e.
            # exactly the bytes an unencoded 1-bit /DeviceGray XObject
            # would hold (kernels/ccitt.py; the reference decodes via
            # MuPDF, image_extractor.py:114)
            payload = doc.stream_data(xo)
        else:
            payload = doc.raw_data(xo)
        images.append({
            "image_index": idx,
            "name": str(name),
            "width": int(doc.resolve(xo.dict.get(Name("Width"))) or 0),
            "height": int(doc.resolve(xo.dict.get(Name("Height"))) or 0),
            "format": fmt,
            "size_bytes": len(payload),
            "payload": payload,
        })
    return images


def _page_links(doc: Document, page: dict) -> list[str]:
    """Harvest /Annots link URIs in annotation-array order (the reference
    walks fitz ``page.get_links()``, extract_cam_followers.py:96-99 —
    PDF-side parity for what the DOM kernel does with <a href>):
    /Subtype /Link annotations carrying a /A action with /S /URI, or the
    PDF 1.1 legacy direct /URI key on the annotation itself.  Non-link
    annotations and malformed entries are skipped, not fatal."""
    annots = doc.resolve(page.get(Name("Annots")))
    if not isinstance(annots, list):
        return []
    out: list[str] = []
    for a in annots:
        ad = doc.resolve(a)
        if not isinstance(ad, dict):
            continue
        if doc.resolve(ad.get(Name("Subtype"))) != "Link":
            continue
        uri = None
        action = doc.resolve(ad.get(Name("A")))
        if isinstance(action, dict) and doc.resolve(action.get(Name("S"))) == "URI":
            uri = doc.resolve(action.get(Name("URI")))
        if uri is None:
            uri = doc.resolve(ad.get(Name("URI")))
        if isinstance(uri, bytes):
            out.append(_decode_pdf_string(uri))
        elif isinstance(uri, str):
            out.append(uri)
    return out


def _walk_pages(doc: Document, node: dict, out: list[dict],
                _seen: set | None = None) -> None:
    if not isinstance(node, dict):
        # a /Kids entry resolving to a non-dict (corrupted xref) —
        # error-route, never leak AttributeError (round-5 fuzz finding)
        raise PdfError(
            f"page-tree node is {type(node).__name__}, expected dictionary")
    if _seen is None:
        _seen = set()
    if id(node) in _seen:
        # a /Kids cycle would recurse without bound (round-5 fuzz finding)
        raise PdfError("page tree contains a cycle")
    _seen.add(id(node))
    t = doc.resolve(node.get(Name("Type")))
    if t == "Pages":
        for kid in doc.resolve(node.get(Name("Kids"))) or []:
            _walk_pages(doc, doc.resolve(kid), out, _seen)
    elif t == "Page":
        out.append(node)


def parse_pdf(data: bytes) -> dict:
    """OP-59/OP-60 kernel: PDF bytes -> {n_pages, pages[], metadata}.

    Each page: {page_number (1-indexed), text, blocks[], tables[], images[]},
    blocks and images already in schema.BLOCK_SCHEMA / IMAGE_SCHEMA shape.
    Raises PdfError on out-of-dialect input.
    """
    doc = Document(data)
    root = doc.resolve(doc.trailer.get(Name("Root")))
    if not isinstance(root, dict):
        raise PdfError("no /Root catalog")
    pages_node = doc.resolve(root.get(Name("Pages")))
    if not isinstance(pages_node, dict):
        raise PdfError("no /Pages tree")
    page_dicts: list[dict] = []
    _walk_pages(doc, pages_node, page_dicts)

    info = doc.resolve(doc.trailer.get(Name("Info"))) or {}
    if not isinstance(info, dict):
        # /Info resolving to a non-dict (corrupted xref) — error-route
        # (round-5 fuzz finding)
        raise PdfError(f"/Info is {type(info).__name__}, expected dictionary")
    metadata = {
        str(k): (_decode_pdf_string(v) if isinstance(v, bytes) else str(v))
        for k, v in info.items()
    }

    pages: list[dict] = []
    for i, pg in enumerate(page_dicts):
        contents = doc.resolve(pg.get(Name("Contents")))
        streams = contents if isinstance(contents, list) else [contents]
        buf = b"\n".join(
            doc.stream_data(doc.resolve(s))
            for s in streams
            if isinstance(doc.resolve(s), Stream)
        )
        page_res = doc.resolve(pg.get(Name("Resources")))
        runs = _extract_runs(
            buf, _page_fonts(doc, pg), doc=doc,
            resources=page_res if isinstance(page_res, dict) else None)
        lines = _group_lines(runs) if runs else []
        text, blocks = _assemble_from_lines(lines) if lines else ("", [])
        tables_ex = detect_tables_with_cols(lines)
        pages.append({
            "page_number": i + 1,  # 1-indexed like the reference (OP-19)
            "text": text,
            "blocks": blocks,
            "tables": [t for t, _ in tables_ex],
            # per-table column x-centers — the multi-page merge signature
            # (q_table_merge); dispatch/pipeline carry "tables" only
            "table_cols": [c for _, c in tables_ex],
            "images": _page_images(doc, pg),
            "links": _page_links(doc, pg),
        })
    return {"n_pages": len(pages), "pages": pages, "metadata": metadata}
