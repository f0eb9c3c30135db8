"""CCITTFaxDecode: ITU-T T.4 (Group 3 one-dimensional) and T.6 (Group 4)
bilevel image decoding, from the published specs.

The reference reads CCITT-compressed scanned images via MuPDF
(/root/reference/pdf_extractor/extractors/image_extractor.py:114); this
module rebuilds the decode path in pure Python: modified-Huffman white/
black run tables, 2-D vertical/horizontal/pass coding against a reference
line of changing elements, and PDF DecodeParms semantics (K, Columns,
Rows, BlackIs1, EncodedByteAlign — PDF 32000-1 §7.4.6).

Output is the PDF filter contract: packed 1-bit rows, MSB first, each row
padded to a byte boundary — exactly the bytes an unencoded 1-bit
/DeviceGray image XObject would carry (BlackIs1 false, the default, means
0 bits are black, which IS DeviceGray sample semantics).

Supported: K < 0 (pure G4/T.6) and K = 0 (G3 one-dimensional).  K > 0
(mixed 2-D G3) error-routes via CcittError — out of dialect, documented.

Deterministic: pure function of the input bytes.  Hostile input raises
CcittError (never any other exception), and output is bomb-capped.
"""

from __future__ import annotations


class CcittError(Exception):
    """Malformed or out-of-dialect CCITT data."""


# --- modified-Huffman code tables (ITU-T T.4 §2.2.2, tables 2/3/4) --------
# {(code_bit_length, code_value): run_length}; transcribed from the spec
# INDEPENDENTLY of the encoder tables in sources/synth_ccitt.py — a
# transcription error in either side fails the round-trip tests loudly.

_WHITE = {
    (8, 0b00110101): 0, (6, 0b000111): 1, (4, 0b0111): 2, (4, 0b1000): 3,
    (4, 0b1011): 4, (4, 0b1100): 5, (4, 0b1110): 6, (4, 0b1111): 7,
    (5, 0b10011): 8, (5, 0b10100): 9, (5, 0b00111): 10, (5, 0b01000): 11,
    (6, 0b001000): 12, (6, 0b000011): 13, (6, 0b110100): 14,
    (6, 0b110101): 15, (6, 0b101010): 16, (6, 0b101011): 17,
    (7, 0b0100111): 18, (7, 0b0001100): 19, (7, 0b0001000): 20,
    (7, 0b0010111): 21, (7, 0b0000011): 22, (7, 0b0000100): 23,
    (7, 0b0101000): 24, (7, 0b0101011): 25, (7, 0b0010011): 26,
    (7, 0b0100100): 27, (7, 0b0011000): 28, (8, 0b00000010): 29,
    (8, 0b00000011): 30, (8, 0b00011010): 31, (8, 0b00011011): 32,
    (8, 0b00010010): 33, (8, 0b00010011): 34, (8, 0b00010100): 35,
    (8, 0b00010101): 36, (8, 0b00010110): 37, (8, 0b00010111): 38,
    (8, 0b00101000): 39, (8, 0b00101001): 40, (8, 0b00101010): 41,
    (8, 0b00101011): 42, (8, 0b00101100): 43, (8, 0b00101101): 44,
    (8, 0b00000100): 45, (8, 0b00000101): 46, (8, 0b00001010): 47,
    (8, 0b00001011): 48, (8, 0b01010010): 49, (8, 0b01010011): 50,
    (8, 0b01010100): 51, (8, 0b01010101): 52, (8, 0b00100100): 53,
    (8, 0b00100101): 54, (8, 0b01011000): 55, (8, 0b01011001): 56,
    (8, 0b01011010): 57, (8, 0b01011011): 58, (8, 0b01001010): 59,
    (8, 0b01001011): 60, (8, 0b00110010): 61, (8, 0b00110011): 62,
    (8, 0b00110100): 63,
    # makeup codes
    (5, 0b11011): 64, (5, 0b10010): 128, (6, 0b010111): 192,
    (7, 0b0110111): 256, (8, 0b00110110): 320, (8, 0b00110111): 384,
    (8, 0b01100100): 448, (8, 0b01100101): 512, (8, 0b01101000): 576,
    (8, 0b01100111): 640, (9, 0b011001100): 704, (9, 0b011001101): 768,
    (9, 0b011010010): 832, (9, 0b011010011): 896, (9, 0b011010100): 960,
    (9, 0b011010101): 1024, (9, 0b011010110): 1088, (9, 0b011010111): 1152,
    (9, 0b011011000): 1216, (9, 0b011011001): 1280, (9, 0b011011010): 1344,
    (9, 0b011011011): 1408, (9, 0b010011000): 1472, (9, 0b010011001): 1536,
    (9, 0b010011010): 1600, (6, 0b011000): 1664, (9, 0b010011011): 1728,
}

_BLACK = {
    (10, 0b0000110111): 0, (3, 0b010): 1, (2, 0b11): 2, (2, 0b10): 3,
    (3, 0b011): 4, (4, 0b0011): 5, (4, 0b0010): 6, (5, 0b00011): 7,
    (6, 0b000101): 8, (6, 0b000100): 9, (7, 0b0000100): 10,
    (7, 0b0000101): 11, (7, 0b0000111): 12, (8, 0b00000100): 13,
    (8, 0b00000111): 14, (9, 0b000011000): 15, (10, 0b0000010111): 16,
    (10, 0b0000011000): 17, (10, 0b0000001000): 18,
    (11, 0b00001100111): 19, (11, 0b00001101000): 20,
    (11, 0b00001101100): 21, (11, 0b00000110111): 22,
    (11, 0b00000101000): 23, (11, 0b00000010111): 24,
    (11, 0b00000011000): 25, (12, 0b000011001010): 26,
    (12, 0b000011001011): 27, (12, 0b000011001100): 28,
    (12, 0b000011001101): 29, (12, 0b000001101000): 30,
    (12, 0b000001101001): 31, (12, 0b000001101010): 32,
    (12, 0b000001101011): 33, (12, 0b000011010010): 34,
    (12, 0b000011010011): 35, (12, 0b000011010100): 36,
    (12, 0b000011010101): 37, (12, 0b000011010110): 38,
    (12, 0b000011010111): 39, (12, 0b000001101100): 40,
    (12, 0b000001101101): 41, (12, 0b000011011010): 42,
    (12, 0b000011011011): 43, (12, 0b000001010100): 44,
    (12, 0b000001010101): 45, (12, 0b000001010110): 46,
    (12, 0b000001010111): 47, (12, 0b000001100100): 48,
    (12, 0b000001100101): 49, (12, 0b000001010010): 50,
    (12, 0b000001010011): 51, (12, 0b000000100100): 52,
    (12, 0b000000110111): 53, (12, 0b000000111000): 54,
    (12, 0b000000100111): 55, (12, 0b000000101000): 56,
    (12, 0b000001011000): 57, (12, 0b000001011001): 58,
    (12, 0b000000101011): 59, (12, 0b000000101100): 60,
    (12, 0b000001011010): 61, (12, 0b000001100110): 62,
    (12, 0b000001100111): 63,
    # makeup codes
    (10, 0b0000001111): 64, (12, 0b000011001000): 128,
    (12, 0b000011001001): 192, (12, 0b000001011011): 256,
    (12, 0b000000110011): 320, (12, 0b000000110100): 384,
    (12, 0b000000110101): 448, (13, 0b0000001101100): 512,
    (13, 0b0000001101101): 576, (13, 0b0000001001010): 640,
    (13, 0b0000001001011): 704, (13, 0b0000001001100): 768,
    (13, 0b0000001001101): 832, (13, 0b0000001110010): 896,
    (13, 0b0000001110011): 960, (13, 0b0000001110100): 1024,
    (13, 0b0000001110101): 1088, (13, 0b0000001110110): 1152,
    (13, 0b0000001110111): 1216, (13, 0b0000001010010): 1280,
    (13, 0b0000001010011): 1344, (13, 0b0000001010100): 1408,
    (13, 0b0000001010101): 1472, (13, 0b0000001011010): 1536,
    (13, 0b0000001011011): 1600, (13, 0b0000001100100): 1664,
    (13, 0b0000001100101): 1728,
}

# extended makeup codes, shared by both colors (T.4 table 4)
_EXT_MAKEUP = {
    (11, 0b00000001000): 1792, (11, 0b00000001100): 1856,
    (11, 0b00000001101): 1920, (12, 0b000000010010): 1984,
    (12, 0b000000010011): 2048, (12, 0b000000010100): 2112,
    (12, 0b000000010101): 2176, (12, 0b000000010110): 2240,
    (12, 0b000000010111): 2304, (12, 0b000000011100): 2368,
    (12, 0b000000011101): 2432, (12, 0b000000011110): 2496,
    (12, 0b000000011111): 2560,
}

_WHITE_ALL = {**_WHITE, **_EXT_MAKEUP}
_BLACK_ALL = {**_BLACK, **_EXT_MAKEUP}

_MAX_OUTPUT = 64 << 20  # same bomb cap as the other expanding decoders
_MAX_CODE_BITS = 14


class _BitReader:
    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes) -> None:
        # 4 zero pad bytes so peek can always slice 5 bytes (max peek is
        # 24 bits + 7 bits of intra-byte offset = 31 < 40)
        self.data = data + b"\x00\x00\x00\x00"
        self.pos = 0  # bit position
        self.nbits = len(data) * 8

    def peek(self, n: int) -> int:
        """Next n bits MSB-first, zero-padded past the end — O(1): one
        5-byte slice to int instead of a per-bit loop (the decoder's
        hottest call; the bit-loop version made a CCITT-bearing corpus
        doc parse ~60x slower than its Flate twin)."""
        p = self.pos
        chunk = int.from_bytes(self.data[p >> 3:(p >> 3) + 5], "big")
        return (chunk >> (40 - (p & 7) - n)) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        self.pos += n

    def exhausted(self) -> bool:
        return self.pos >= self.nbits

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _read_run(br: _BitReader, table: dict) -> int:
    """One MH run: zero or more makeup codes followed by a terminal code.
    One 14-bit peek per code; candidate lengths tested by masking."""
    total = 0
    while True:
        bits = br.peek(_MAX_CODE_BITS)
        for ln in range(1, _MAX_CODE_BITS + 1):
            hit = table.get((ln, bits >> (_MAX_CODE_BITS - ln)))
            if hit is not None:
                br.skip(ln)
                total += hit
                if hit < 64:  # terminal code ends the run
                    return total
                break
        else:
            raise CcittError(
                f"unrecognized run code at bit {br.pos}")


_EOL_BITS = 12
_EOL_VAL = 0b000000000001


def _skip_eol(br: _BitReader) -> bool:
    """Consume one EOL (with optional fill zeros before it) — but ONLY if
    one is actually present: run codes legitimately start with zeros, so
    nothing may be consumed unless the lookahead finds a full EOL."""
    # EOL = eleven 0s + 1; fill is extra 0s before it.  An EOL is present
    # iff the first 1-bit within the scan window sits at offset >= 11.
    save = br.pos
    zeros = 0
    while zeros <= 64 + _EOL_BITS:
        bit = br.peek(1)
        if bit == 1:
            if zeros >= _EOL_BITS - 1:
                br.skip(1)
                return True  # consumed fill + EOL
            br.pos = save
            return False
        if br.exhausted():
            br.pos = save
            return False
        br.skip(1)
        zeros += 1
    br.pos = save
    return False


def _transitions_to_packed(trans: list[int], columns: int,
                           black_is_1: bool) -> bytes:
    """Changing-element positions -> one packed row.  ``trans`` alternates
    white->black (even index) / black->white transitions.  Default PDF
    semantics (BlackIs1 false): white = 1 bits, black = 0 bits.  Spans
    paint as numpy slice assignments + packbits (per-pixel Python loops
    dominated the decode profile)."""
    import numpy as np

    bits = np.zeros(columns, dtype=np.uint8) if black_is_1 else \
        np.ones(columns, dtype=np.uint8)
    black = 1 if black_is_1 else 0
    # paint black spans [trans[2i], trans[2i+1])
    for i in range(0, len(trans) - 1, 2):
        bits[trans[i]:min(trans[i + 1], columns)] = black
    if len(trans) % 2 == 1:  # open black span to end of row
        bits[trans[-1]:columns] = black
    return np.packbits(bits).tobytes()  # pad bits are zero either way


def _decode_1d_row(br: _BitReader, columns: int) -> list[int]:
    """One G3 1-D row -> changing-element positions."""
    trans: list[int] = []
    pos = 0
    color = 0  # 0 = white
    while pos < columns:
        run = _read_run(br, _WHITE_ALL if color == 0 else _BLACK_ALL)
        pos += run
        if pos > columns:
            raise CcittError(f"1-D run overflows row ({pos} > {columns})")
        trans.append(pos)
        color ^= 1
    if trans and trans[-1] == columns:
        pass  # final transition at row edge carries no pixels
    return trans


def _decode_2d_row(br: _BitReader, ref: list[int],
                   columns: int) -> list[int]:
    """One T.6 2-D row against reference-line transitions ``ref``.  One
    7-bit peek decides the mode; the b1 search resumes from the previous
    match (a0 is non-decreasing), so a row decodes in O(codes + |ref|)."""
    cur: list[int] = []
    a0 = -1
    color = 0  # 0 = white
    n_ref = len(ref)
    j = 0
    while a0 < columns:
        # b1: first ref transition strictly right of a0 whose parity makes
        # it a transition to the opposite of the current color (even index
        # = white->black transition)
        while j > 0 and ref[j - 1] > a0:
            j -= 1  # vertical-left moves can step a0 backwards slightly
        while j < n_ref and ref[j] <= a0:
            j += 1
        k = j + 1 if (j & 1) != color else j
        b1 = ref[k] if k < n_ref else columns
        b2 = ref[k + 1] if k + 1 < n_ref else columns

        if br.exhausted():
            raise CcittError("2-D data exhausted mid-row")
        v7 = br.peek(7)
        if v7 >= 0b1000000:  # V0: '1'
            br.skip(1)
            a1 = b1
            cur.append(a1)
            a0, color = a1, color ^ 1
        elif v7 >= 0b0110000:  # VR1: '011'
            br.skip(3)
            a1 = b1 + 1
            cur.append(a1)
            a0, color = a1, color ^ 1
        elif v7 >= 0b0100000:  # VL1: '010'
            br.skip(3)
            a1 = b1 - 1
            cur.append(a1)
            a0, color = a1, color ^ 1
        elif v7 >= 0b0010000:  # horizontal: '001'
            br.skip(3)
            base = a0 if a0 > 0 else 0
            r1 = _read_run(br, _WHITE_ALL if color == 0 else _BLACK_ALL)
            r2 = _read_run(br, _BLACK_ALL if color == 0 else _WHITE_ALL)
            a1 = base + r1
            a2 = a1 + r2
            cur.append(a1)
            cur.append(a2)
            a0 = a2  # color unchanged (two runs flip twice)
        elif v7 >= 0b0001000:  # pass: '0001'
            br.skip(4)
            a0 = b2  # color unchanged, no transition recorded
        elif (v7 >> 1) == 0b000011:  # VR2: '000011'
            br.skip(6)
            a1 = b1 + 2
            cur.append(a1)
            a0, color = a1, color ^ 1
        elif (v7 >> 1) == 0b000010:  # VL2: '000010'
            br.skip(6)
            a1 = b1 - 2
            cur.append(a1)
            a0, color = a1, color ^ 1
        elif v7 == 0b0000011:  # VR3
            br.skip(7)
            a1 = b1 + 3
            cur.append(a1)
            a0, color = a1, color ^ 1
        elif v7 == 0b0000010:  # VL3
            br.skip(7)
            a1 = b1 - 3
            cur.append(a1)
            a0, color = a1, color ^ 1
        else:
            raise CcittError(f"unrecognized 2-D mode code at bit {br.pos}")
        if cur and (cur[-1] > columns or cur[-1] < 0):
            raise CcittError("2-D changing element outside row")
        if len(cur) >= 2 and cur[-1] < cur[-2]:
            raise CcittError("2-D changing elements not monotonic")
    return cur


_EOFB = (_EOL_VAL << _EOL_BITS) | _EOL_VAL  # two consecutive EOLs


def ccitt_decode(data: bytes, columns: int = 1728, rows: int | None = None,
                 k: int = -1, black_is_1: bool = False,
                 byte_align: bool = False) -> bytes:
    """CCITTFaxDecode with PDF DecodeParms semantics -> packed 1-bit rows.

    ``rows`` (PDF /Rows, usually the image /Height) bounds the output; when
    None, decoding continues until EOFB/RTC or the end of the data, where
    fewer than 8 zero bits (the last byte's padding) count as the end."""
    if not isinstance(k, int):
        raise CcittError("K must be an integer")
    if k > 0:
        raise CcittError(
            "mixed 2-D Group 3 (K > 0) is out of dialect; only K <= 0 "
            "(G4 / G3 one-dimensional) is supported")
    if columns <= 0 or columns > 1 << 20:
        raise CcittError(f"Columns {columns} out of range")
    rowbytes = (columns + 7) >> 3
    if rows is not None and rows * rowbytes > _MAX_OUTPUT:
        raise CcittError("decoded size exceeds output cap")

    br = _BitReader(data)
    out = bytearray()
    ref: list[int] = []  # imaginary all-white reference line
    n = 0
    while rows is None or n < rows:
        if byte_align:
            br.align()
        if k == 0:
            # G3 1-D: a row may be preceded by an EOL; a second EOL in a
            # row starts RTC (6 EOLs), which ends the data
            if _skip_eol(br) and _skip_eol(br):
                break
        elif br.peek(2 * _EOL_BITS) == _EOFB:
            br.skip(2 * _EOL_BITS)
            break
        left = br.nbits - br.pos
        if left < 8 and br.peek(max(left, 0)) == 0:
            break  # end of data, or the zero bits padding its last byte
        if k == 0:
            trans = _decode_1d_row(br, columns)
        else:
            trans = _decode_2d_row(br, ref, columns)
        out += _transitions_to_packed(trans, columns, black_is_1)
        if len(out) > _MAX_OUTPUT:
            raise CcittError("decoded size exceeds output cap")
        ref = trans
        n += 1
    if rows is not None and n < rows:
        raise CcittError(f"data ended after {n} of {rows} rows")
    return bytes(out)


def unpack_bilevel(packed: bytes, width: int, height: int,
                   black_is_1: bool = False) -> bytes:
    """Packed 1-bit rows -> 8-bit grayscale bytes (0x00 black, 0xff white),
    the representation the pixel-level pipeline stages consume."""
    import numpy as np

    rowbytes = (width + 7) >> 3
    if len(packed) < rowbytes * height:
        raise CcittError("packed bilevel data shorter than width*height")
    rows = np.frombuffer(
        packed[:rowbytes * height], dtype=np.uint8).reshape(height, rowbytes)
    bits = np.unpackbits(rows, axis=1)[:, :width]
    white = (bits == 0) if black_is_1 else (bits == 1)
    return (white.astype(np.uint8) * 0xFF).tobytes()
