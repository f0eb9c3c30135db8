"""Deterministic synthetic Common-Crawl-style corpus generator.

Produces the input table of BASELINE.json:input_hint —
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)`` —
with three payload dialects (FIXTURES.md §1):

  A. HTML pages (nav/footer boilerplate + main article + ragged ``<table>``)
  B. honest minimal PDF 1.4 (real xref table, Flate content streams,
     ``BT/Tf/Td/TD/Tm/T*/Tj/TJ`` operators emitted OUT of reading order so
     the (y, x) sort of the parser is observable, embedded image XObjects
     including sub-50x50 ones for the min-size filter)
  C. raw byte streams (UTF-8/UTF-16/Latin-1, BOMs, NFD pairs, CRLF, noise)

Everything is seeded per-doc (``random.Random(seed ^ doc_id)``) — the same
(seed, doc_id) always yields byte-identical payloads, which is what makes the
golden files and the N-vs-4N scaling runs comparable.

The PDF writer exists only to exercise the parser; it shares no code with it
(generator/parser honesty requirement, SURVEY.md §7 hard part (b)).
"""

from __future__ import annotations

import datetime as _dt
import random
import zlib

__all__ = ["make_pdf", "make_html", "make_raw", "gen_doc", "gen_corpus", "HEAVY_HOST"]

_WORDS = (
    "data spark table query column row batch shuffle join filter scan "
    "page text block image crawl token stream byte index hash merge sort "
    "group window count value partition salt skew vector model corpus "
    "article content extract parse render layout anchor footer header"
).split()

_LATIN1_EXTRA = ["caf\xe9", "na\xefve", "\xfcber", "se\xf1or"]

#: CJK word pools for the predefined-CMap font routes.  Each pool mixes a
#: CJK vocabulary (encodable in the matching national codec — asserted by
#: tests/test_pdf_codec_cmap.py) with a few ASCII words so every document
#: exercises BOTH the 1-byte and 2-byte halves of the encoding's code
#: space.  Keyed by the ``charset`` parameter of make_pdf.
_CJK_ASCII_MIX = ("data", "table", "query", "row", "page", "index")
_CJK_POOLS: dict[str, tuple[str, ...]] = {
    "ja": tuple(
        "データ 表 照会 列 行 区分 結合 抽出 解析 文書 画像 頁 索引 字句 "
        "流れ 整列 集計 値 分割 偏り 本文 見出し 脚注 余白".split()
    ) + _CJK_ASCII_MIX,
    "zh-hans": tuple(
        "数据 表格 查询 列 行 批次 连接 过滤 扫描 页面 文本 图像 抓取 词元 "
        "字节 索引 哈希 合并 排序 分组 正文 标题 脚注 边距".split()
    ) + _CJK_ASCII_MIX,
    "zh-hant": tuple(
        "資料 表格 查詢 欄位 行 批次 連接 過濾 掃描 頁面 文字 圖像 擷取 詞元 "
        "位元 索引 雜湊 合併 排序 分組 正文 標題 腳註 邊距".split()
    ) + _CJK_ASCII_MIX,
    "ko": tuple(
        "데이터 테이블 질의 열 행 배치 조인 필터 스캔 페이지 텍스트 이미지 "
        "토큰 바이트 색인 해시 병합 정렬 그룹 값 본문 제목 각주 여백".split()
    ) + _CJK_ASCII_MIX,
    # 'win': cp1252-specific punctuation/currency (every word encodable in
    # BOTH cp1252 and mac_roman — asserted by tests/test_pdf_simple_enc.py)
    # so the WinAnsi/MacRoman base-table routes are non-vacuous: bytes
    # 0x80-0x9F mean DIFFERENT things in Latin-1 vs WinAnsi.
    "win": (
        "€42", "™mark", "œuvre", "–dash", "—wide", "“quoted”", "‘single’",
        "…more", "•point", "café", "über", "señor", "naïve",
    ) + _CJK_ASCII_MIX,
    # 'std': Adobe-StandardEncoding repertoire (ligatures, old-style
    # punctuation, slashed letters) — every word encodable by
    # _STD_ENCODE below; no precomposed accents (Standard has none).
    "std": (
        "ﬁne", "ﬂow", "œuvre", "æon", "søster", "Łodz",
        "–dash", "—wide", "“quoted”", "‘single’", "…more", "•point",
        "§sign", "¶mark", "†note", "‡also", "‰rate", "¿que", "¡si",
        "aƒunc", "straße", "«guill»", "‹angle›",
    ) + _CJK_ASCII_MIX,
}

HEAVY_HOST = "heavy.example.com"
_BASE_TS = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)


def _sentence(rng: random.Random, n: int,
              pool: tuple[str, ...] | list[str] = _WORDS,
              extra: list[str] | None = _LATIN1_EXTRA) -> str:
    """One synthetic sentence from ``pool``.  The default arguments make
    EXACTLY the rng draws the pre-``charset`` generator made, so every
    existing corpus and gate stays byte-identical; CJK pools pass
    ``extra=None`` (the 10% draw then appends another pool word)."""
    ws = [rng.choice(pool) for _ in range(n)]
    if rng.random() < 0.1:
        ws.append(rng.choice(extra if extra is not None else pool))
    s = " ".join(ws)
    return s[0].upper() + s[1:] + "."


def _paragraph(rng: random.Random, n_sentences: int = 3) -> str:
    return " ".join(_sentence(rng, rng.randint(6, 14)) for _ in range(n_sentences))


# --------------------------------------------------------------------------
# Dialect B: honest minimal PDF 1.4 writer
# --------------------------------------------------------------------------
def _pdf_escape(s: str) -> bytes:
    b = s.encode("latin-1", "replace")
    return b.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def _simple_string(s: str) -> bytes:
    return b"(" + _pdf_escape(s) + b")"


# --- composite (Type0/CID) font dialect ----------------------------------
def _cid_assignment(page_lines: list[list[str]]) -> dict[str, int]:
    """Deterministic char -> CID map: distinct chars sorted by code point,
    CIDs from 1 (0 is notdef).  Sorted order means consecutive-codepoint
    chars get consecutive CIDs, so the ToUnicode CMap genuinely exercises
    bfrange sections, not just singleton bfchar entries."""
    chars = sorted({c for lines in page_lines for line in lines for c in line})
    return {c: i + 1 for i, c in enumerate(chars)}


def _tounicode_cmap(assign: dict[str, int]) -> bytes:
    """Emit the ToUnicode CMap: runs of >=3 consecutive (cid, codepoint)
    pairs as bfrange lines, the rest as bfchar lines."""
    by_cid = sorted((cid, ch) for ch, cid in assign.items())
    runs: list[list[tuple[int, str]]] = []
    for cid, ch in by_cid:
        if runs and cid == runs[-1][-1][0] + 1 and ord(ch) == ord(runs[-1][-1][1]) + 1:
            runs[-1].append((cid, ch))
        else:
            runs.append([(cid, ch)])
    bfchars = [p for r in runs if len(r) < 3 for p in r]
    bfranges = [r for r in runs if len(r) >= 3]
    parts = [
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 "
        b">> def\n/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    ]
    if bfchars:
        parts.append(b"%d beginbfchar\n" % len(bfchars))
        for cid, ch in bfchars:
            parts.append(b"<%04x> <%04x>\n" % (cid, ord(ch)))
        parts.append(b"endbfchar\n")
    if bfranges:
        parts.append(b"%d beginbfrange\n" % len(bfranges))
        for r in bfranges:
            parts.append(b"<%04x> <%04x> <%04x>\n"
                         % (r[0][0], r[-1][0], ord(r[0][1])))
        parts.append(b"endbfrange\n")
    parts.append(b"endcmap\nCMapName currentdict /CMap defineresource pop\n"
                 b"end\nend\n")
    return b"".join(parts)


#: Code-space offset for the embedded-CMap font dialect: show-string codes
#: are CID + this, so code != CID and the parser can only recover text by
#: actually applying the embedded /Encoding CMap's code->CID mapping.
CID_CMAP_CODE_OFFSET = 0x2100

#: Form-XObject route: vertical displacement the form's /Matrix undoes.
#: Form-held lines are emitted 500 units BELOW their final position, so
#: the page reads correctly only if the parser composes the Matrix.
_FORM_DY = 500.0

#: Predefined national-encoding / UTF-16 CMap font routes:
#: font value -> (/Encoding CMap name, codec the show-string bytes are
#: written in, CID collection Ordering, Supplement).  The writer encodes
#: show strings with the codec DIRECTLY (that is what those CMaps' code
#: spaces are, PDF 32000-1 §9.7.5.2 Table 118); the parser must route the
#: CMap NAME to the right decode to recover the text — a routing mistake
#: (e.g. reading ETen-B5 bytes as GBK) garbles every CJK character.
_CODEC_FONT_ROUTES: dict[str, tuple[str, str, str, int]] = {
    "cid-rksj": ("90ms-RKSJ-H", "cp932", "Japan1", 6),
    "cid-gbk": ("GBK-EUC-H", "gbk", "GB1", 2),
    "cid-b5": ("ETen-B5-H", "cp950", "CNS1", 0),
    "cid-uhc": ("KSCms-UHC-H", "cp949", "Korea1", 1),
    "cid-utf16": ("UniJIS-UTF16-H", "utf-16-be", "Japan1", 6),
}


def _encoding_cid_cmap(assign: dict[str, int]) -> bytes:
    """Emit an /Encoding CMap STREAM (PDF 32000-1 §9.7.5.3): code -> CID
    with code = CID + CID_CMAP_CODE_OFFSET.  Runs are split where the
    underlying CODEPOINT sequence has a gap (same discipline as the
    ToUnicode emitter) — CIDs alone are always consecutive by
    construction, which would collapse everything into one cidrange;
    splitting on codepoint gaps keeps runs of >=3 as cidrange lines and
    turns short runs into cidchar lines, so the parser's cidrange AND
    cidchar paths are both genuinely exercised."""
    by_cid = sorted((cid, ch) for ch, cid in assign.items())
    runs: list[list[int]] = []
    prev_cp = None
    for cid, ch in by_cid:
        if runs and cid == runs[-1][-1] + 1 and ord(ch) == prev_cp + 1:
            runs[-1].append(cid)
        else:
            runs.append([cid])
        prev_cp = ord(ch)
    cidchars = [c for r in runs if len(r) < 3 for c in r]
    cidranges = [r for r in runs if len(r) >= 3]
    parts = [
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> def\n/CMapName /SynthEmbedded def\n"
        b"/CMapType 1 def\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    ]
    if cidchars:
        parts.append(b"%d begincidchar\n" % len(cidchars))
        for cid in cidchars:
            parts.append(b"<%04x> %d\n" % (cid + CID_CMAP_CODE_OFFSET, cid))
        parts.append(b"endcidchar\n")
    if cidranges:
        parts.append(b"%d begincidrange\n" % len(cidranges))
        for r in cidranges:
            parts.append(b"<%04x> <%04x> %d\n" % (
                r[0] + CID_CMAP_CODE_OFFSET,
                r[-1] + CID_CMAP_CODE_OFFSET, r[0]))
        parts.append(b"endcidrange\n")
    parts.append(b"endcmap\nCMapName currentdict /CMap defineresource pop\n"
                 b"end\nend\n")
    return b"".join(parts)


def _mixed_code_assignment(assign: dict[str, int]) -> dict[str, bytes]:
    """char -> code BYTES for the mixed-width embedded-CMap route: ASCII
    chars get 1-byte codes from 0x20 up (codespace <20> <7E>), everything
    else 2-byte codes with lead from 0x80 (codespace <8020> <FEFE> —
    per-byte bounds, so trail bytes stay in [0x20, 0xFE]).  Codes differ
    from CIDs (1-byte codes are offset 0x20 past the small CID integers;
    2-byte codes start at 0x8020), so text only round-trips if the parser
    both SPLITS the variable-width string correctly and applies the
    mapping."""
    ascii_chars = sorted(c for c in assign if ord(c) < 0x80)
    wide_chars = sorted(c for c in assign if ord(c) >= 0x80)
    if len(ascii_chars) > 0x7E - 0x20 + 1:
        raise ValueError("too many 1-byte chars for the <20><7E> codespace")
    codes = {c: bytes([0x20 + i]) for i, c in enumerate(ascii_chars)}
    for i, c in enumerate(wide_chars):
        codes[c] = bytes([0x80 + i // 0xDF, 0x20 + i % 0xDF])
    return codes


def _encoding_mixed_cmap(assign: dict[str, int],
                         codes: dict[str, bytes]) -> bytes:
    """Emit a MIXED-width /Encoding CMap STREAM: a 1-byte and a 2-byte
    codespace range, cidchar entries whose hex token length IS the code
    width.  Written independently of the kernel's per-byte range splitter
    (kernels/pdf.py _VarWidthCidDecoder), so a splitting bug on either
    side garbles text loudly instead of cancelling."""
    parts = [
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> def\n/CMapName /SynthMixed def\n"
        b"/CMapType 1 def\n"
        b"2 begincodespacerange\n<20> <7E>\n<8020> <FEFE>\n"
        b"endcodespacerange\n"
    ]
    narrow = [(codes[c], assign[c]) for c in sorted(codes) if len(codes[c]) == 1]
    wide = [(codes[c], assign[c]) for c in sorted(codes) if len(codes[c]) == 2]
    for entries in (narrow, wide):
        if not entries:
            continue
        parts.append(b"%d begincidchar\n" % len(entries))
        for code, cid in entries:
            parts.append(b"<" + code.hex().encode() + b"> %d\n" % cid)
        parts.append(b"endcidchar\n")
    parts.append(b"endcmap\nCMapName currentdict /CMap defineresource pop\n"
                 b"end\nend\n")
    return b"".join(parts)


#: Generator-side Adobe-StandardEncoding encoder: codepoint -> code byte.
#: A SEPARATE transcription (char-keyed, from the same published Appendix
#: D table) from the kernel's name-keyed _STANDARD_ENCODING_NAMES — a
#: slip on either side breaks the q_pdf_simple_enc twin loudly.  ASCII
#: passes through at its own code EXCEPT ' and ` (Standard puts
#: quoteright/quoteleft there; quotesingle and grave live at A9/C1).
_STD_ENCODE = {
    "’": 0x27, "‘": 0x60, "¡": 0xA1, "¢": 0xA2, "£": 0xA3, "⁄": 0xA4,
    "¥": 0xA5, "ƒ": 0xA6, "§": 0xA7, "¤": 0xA8, "'": 0xA9, "“": 0xAA,
    "«": 0xAB, "‹": 0xAC, "›": 0xAD, "ﬁ": 0xAE, "ﬂ": 0xAF, "–": 0xB1,
    "†": 0xB2, "‡": 0xB3, "·": 0xB4, "¶": 0xB6, "•": 0xB7, "‚": 0xB8,
    "„": 0xB9, "”": 0xBA, "»": 0xBB, "…": 0xBC, "‰": 0xBD, "¿": 0xBF,
    "`": 0xC1, "—": 0xD0, "Æ": 0xE1, "ª": 0xE3, "Ł": 0xE8, "Ø": 0xE9,
    "Œ": 0xEA, "º": 0xEB, "æ": 0xF1, "ı": 0xF5, "ł": 0xF8, "ø": 0xF9,
    "œ": 0xFA, "ß": 0xFB,
}


def _std_encode_string(s: str) -> bytes:
    out = bytearray()
    for c in s:
        b = _STD_ENCODE.get(c)
        if b is None:
            if " " <= c <= "~":
                b = ord(c)
            else:
                raise ValueError(f"not StandardEncoding-expressible: {c!r}")
        out.append(b)
    return b"<" + bytes(out).hex().encode() + b">"


#: Generator-side classic AGL names for the /Differences route — a
#: SEPARATE transcription from the kernel's _AGL_SUBSET (a mistake on
#: either side breaks the twin gate loudly instead of cancelling).
_GEN_GLYPH_NAMES = {
    "é": "eacute", "ï": "idieresis", "ü": "udieresis", "ñ": "ntilde",
    "€": "Euro", "™": "trademark", "œ": "oe", "–": "endash",
    "—": "emdash", "“": "quotedblleft", "”": "quotedblright",
    "‘": "quoteleft", "’": "quoteright", "…": "ellipsis", "•": "bullet",
}


def _diff_encoding_assignment(page_lines: list[list[str]]) -> dict[str, int]:
    """char -> override CODE for the /Differences route: every non-ASCII
    distinct char gets a code from 0x80 up (ASCII stays at its WinAnsi
    position).  Codes deliberately disagree with the chars' WinAnsi/
    Latin-1 positions, so text only round-trips if the parser applies the
    /Differences array."""
    chars = sorted({c for lines in page_lines for line in lines
                    for c in line if ord(c) >= 0x80})
    if len(chars) > 0x80:
        raise ValueError("too many non-ASCII chars for one-byte codes")
    return {c: 0x80 + i for i, c in enumerate(chars)}


def _diff_glyph_name(c: str, i: int) -> bytes:
    """Glyph name for /Differences: classic AGL names where the generator
    knows one (odd slots, pinning the kernel's transcribed subset), else
    the AGL uniXXXX algorithmic form."""
    if i % 2 and c in _GEN_GLYPH_NAMES:
        return _GEN_GLYPH_NAMES[c].encode()
    return b"uni" + c.encode("utf-16-be").hex().upper().encode()


def _simple_tounicode_cmap(codes: dict[str, int]) -> bytes:
    """Emit a 1-byte-codespace ToUnicode CMap for a SIMPLE font: bfchar
    lines <code> <utf16-hex>.  Codes are sequential from 0x21 and disagree
    with every standard encoding, so text round-trips only through the
    CMap."""
    parts = [
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement "
        b"0 >> def\n/CMapName /SynthSimpleUCS def\n/CMapType 2 def\n"
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
    ]
    entries = sorted(codes.items(), key=lambda kv: kv[1])
    parts.append(b"%d beginbfchar\n" % len(entries))
    for ch, code in entries:
        parts.append(b"<%02x> <" % code
                     + ch.encode("utf-16-be").hex().encode() + b">\n")
    parts.append(b"endbfchar\n")
    parts.append(b"endcmap\nCMapName currentdict /CMap defineresource pop\n"
                 b"end\nend\n")
    return b"".join(parts)


def _usecmap_code_assignment(assign: dict[str, int]) -> dict[str, bytes]:
    """char -> override code BYTES for the /UseCMap embedded-CMap route:
    every SECOND distinct char (sorted) gets a 2-byte code in the private
    <E000><E0FF> override codespace; the rest serialize through the BASE
    CMap (UniGB-UCS2-H: code == UCS-2 code point).  Text round-trips only
    if the parser applies the embedded mappings AND falls through to the
    base for everything else."""
    chars = sorted(assign)
    overrides = chars[1::2]
    if len(overrides) > 0x100:
        raise ValueError("too many override chars for <E000><E0FF>")
    if any(0xE000 <= ord(c) <= 0xE0FF for c in chars):
        raise ValueError("document text collides with the override range")
    return {c: bytes([0xE0, i]) for i, c in enumerate(overrides)}


def _encoding_usecmap_cmap(assign: dict[str, int],
                           codes: dict[str, bytes]) -> bytes:
    """Emit an /Encoding CMap STREAM that COMPOSES a predefined base via
    ``usecmap``: own codespace <E000><E0FF>, cidchar overrides, and a
    /UniGB-UCS2-H base reference (PDF 32000-1 §9.7.5.3).  Written
    independently of the kernel's composition (kernels/pdf.py
    _usecmap_base + _VarWidthCidDecoder base fallback)."""
    parts = [
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"/UniGB-UCS2-H usecmap\n"
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> def\n/CMapName /SynthUse def\n"
        b"/CMapType 1 def\n"
        b"1 begincodespacerange\n<E000> <E0FF>\nendcodespacerange\n"
    ]
    entries = sorted((codes[c], assign[c]) for c in codes)
    parts.append(b"%d begincidchar\n" % len(entries))
    for code, cid in entries:
        parts.append(b"<" + code.hex().encode() + b"> %d\n" % cid)
    parts.append(b"endcidchar\n")
    parts.append(b"endcmap\nCMapName currentdict /CMap defineresource pop\n"
                 b"end\nend\n")
    return b"".join(parts)


def make_table_spec(rng: random.Random) -> dict:
    """Draw one grid-table spec shared by BOTH serializers (PDF text grid
    and HTML <table>), so the two renderings of the same logical table can
    be required to parse to identical cell data (the q_pdf_tables gate).

    rows: list of rows, each a list of cells (None = empty cell).  The
    FIRST row keeps >= 3 non-empty cells (a region can only OPEN on a
    >= 3-run line, kernels/pdf.py _MIN_TABLE_COLS); later rows may be
    sparse down to 2 filled cells (they JOIN via the all-on-existing-columns
    rule).
    col_x: the PDF column x-starts."""
    n_cols = rng.randint(3, 5)
    n_rows = rng.randint(3, 6)
    col_x = [72.0]
    for _ in range(n_cols - 1):
        col_x.append(col_x[-1] + rng.randint(95, 140))
    rows: list[list[str | None]] = []
    for r_i in range(n_rows):
        row: list[str | None] = []
        for _c in range(n_cols):
            if rng.random() < 0.15:
                row.append(None)
            else:
                n_words = rng.randint(1, 2)
                row.append(" ".join(rng.choice(_WORDS) for _ in range(n_words)))
        filled = [i for i, c in enumerate(row) if c is None]
        min_filled = 3 if r_i == 0 else 2
        while sum(c is not None for c in row) < min_filled:
            i = filled.pop()
            row[i] = rng.choice(_WORDS)
        rows.append(row)
    return {"rows": rows, "col_x": col_x}


def make_split_table_spec(rng: random.Random) -> tuple[dict, dict, dict]:
    """One logical grid split across a page break (the q_table_merge gate;
    the reference's aspirational multi-page merge,
    generate_word_doc.py:88-96, never shipped).  Returns
    (full_spec, top_half, bottom_half) where the halves share the full
    spec's col_x — so the detected column signatures align — and every
    half satisfies the detector's region rules independently: >= 3 rows
    and a FULLY-FILLED first row, so the half opens its region with every
    column established (this gate tests the MERGE, not the detector's
    sparse-row heuristics — q_pdf_tables covers those; a first row missing
    a column would let a later 2-run row fall off the region and the half
    would vanish)."""
    n_cols = rng.randint(3, 5)
    n_rows = rng.randint(6, 9)
    col_x = [72.0]
    for _ in range(n_cols - 1):
        col_x.append(col_x[-1] + rng.randint(95, 140))
    split = rng.randint(3, n_rows - 3)

    def half_rows(n: int) -> list[list[str | None]]:
        rows: list[list[str | None]] = []
        for r_i in range(n):
            row: list[str | None] = [
                None if r_i > 0 and rng.random() < 0.15
                else " ".join(rng.choice(_WORDS)
                              for _ in range(rng.randint(1, 2)))
                for _c in range(n_cols)
            ]
            empties = [i for i, c in enumerate(row) if c is None]
            while sum(c is not None for c in row) < 2:
                row[empties.pop()] = rng.choice(_WORDS)
            rows.append(row)
        return rows

    top = half_rows(split)
    bot = half_rows(n_rows - split)
    full = {"rows": top + bot, "col_x": col_x}
    return (full, {"rows": top, "col_x": col_x},
            {"rows": bot, "col_x": col_x})


def expected_merged_tables(
    page_specs: list[dict | None],
) -> list[list[list[str | None]]]:
    """Apply the q_table_merge column-signature rule to GENERATOR specs
    (pure spec data — no kernel): a table merges into the previous one
    when it sits on the NEXT page and its col_x signature matches (same
    column count, every center within 3.0).  This is the gate's ground
    truth for what the relational merge over detected tables must emit."""
    out: list[list[list[str | None]]] = []
    prev_page: int | None = None
    prev_colx: list[float] = []
    for page, spec in enumerate(page_specs):
        if spec is None:
            continue
        if (
            out
            and prev_page is not None
            and page == prev_page + 1
            and len(spec["col_x"]) == len(prev_colx)
            and max(abs(a - b) for a, b in zip(spec["col_x"], prev_colx))
            <= 3.0
        ):
            out[-1] = out[-1] + spec["rows"]
        else:
            out.append(list(spec["rows"]))
        prev_page, prev_colx = page, spec["col_x"]
    return out


def table_spec_html(spec: dict) -> str:
    """Render a table spec as the HTML twin: one <td> per cell, empty <td>
    for None (the DOM parser keeps None-for-empty fidelity)."""
    out = ["<table>"]
    for row in spec["rows"]:
        out.append(
            "<tr>" + "".join(f"<td>{c if c is not None else ''}</td>"
                             for c in row) + "</tr>"
        )
    out.append("</table>")
    return "".join(out)


def table_expected_lines(spec: dict) -> list[str]:
    """Reading-order text the kernel assembles from the PDF grid: per row,
    the non-empty cells joined by single spaces (each cell run carries one
    trailing space; line assembly concatenates x-sorted runs and strips)."""
    return [
        " ".join(c for c in row if c is not None) for row in spec["rows"]
    ]


def _content_stream(rng: random.Random, lines: list[str],
                    encode_string=_simple_string,
                    table: dict | None = None,
                    y_start: float = 720.0, y_step: float = 16.0,
                    font_name: bytes = b"F1") -> bytes:
    """Emit text operators for ``lines`` (top-to-bottom reading order) in a
    SHUFFLED order, with a mix of Td / Tm / TD+T* / TJ forms.
    ``encode_string`` serializes one shown string (literal for simple fonts,
    hex CID string for the composite-font dialect); the rng draw sequence is
    identical either way, so document TEXT is font-dialect-invariant.
    ``table``: an optional make_table_spec grid appended BELOW the
    paragraph lines — one positioned run per non-empty cell, shuffled into
    the same emission pool (reading-order sort must reassemble the grid)."""
    chunks: list[bytes] = []
    y = y_start
    size = 12.0
    for line in lines:
        x = 72.0
        ops: list[bytes] = [b"BT", b"/" + font_name + b" %.1f Tf" % size]
        style = rng.randrange(4)
        if style == 0:
            ops.append(b"%.2f %.2f Td" % (x, y))
            ops.append(encode_string(line) + b" Tj")
        elif style == 1:
            ops.append(b"1 0 0 1 %.2f %.2f Tm" % (x, y))
            # split the line into 2-3 runs emitted in random x order;
            # within-line x-sort (OP-49) must reassemble them.
            words = line.split(" ")
            cut = max(1, len(words) // 2)
            runs = [" ".join(words[:cut]) + " ", " ".join(words[cut:])]
            offsets = []
            off = 0.0
            for r in runs:
                offsets.append(off)
                off += 0.5 * size * len(r)
            idx = list(range(len(runs)))
            rng.shuffle(idx)
            for i in idx:
                ops.append(b"1 0 0 1 %.2f %.2f Tm" % (x + offsets[i], y))
                ops.append(encode_string(runs[i]) + b" Tj")
        elif style == 2:
            ops.append(b"%.1f TL" % 16.0)
            ops.append(b"%.2f %.2f Td" % (x, y + 16.0))
            ops.append(b"T*")
            ops.append(encode_string(line) + b" Tj")
        else:
            ops.append(b"%.2f %.2f Td" % (x, y))
            words = line.split(" ")
            arr = b" ".join(
                encode_string(w + (" " if i < len(words) - 1 else "")) + b" -10"
                for i, w in enumerate(words)
            )
            ops.append(b"[" + arr + b"] TJ")
        ops.append(b"ET")
        chunks.append(b"\n".join(ops))
        y -= y_step
    if table is not None:
        ty = y - 8.0
        for row in table["rows"]:
            for cx, cell in zip(table["col_x"], row):
                if cell is None:
                    continue
                chunks.append(b"\n".join([
                    b"BT", b"/" + font_name + b" 11.0 Tf",
                    b"1 0 0 1 %.2f %.2f Tm" % (cx, ty),
                    encode_string(cell + " ") + b" Tj", b"ET",
                ]))
            ty -= 18.0
    rng.shuffle(chunks)  # emission order != reading order: forces OP-48 sort
    # Inline images (BI/ID/EI, §8.9.7) between text objects for ~1 line in 5.
    # Keyed off a crc of the line text and inserted AFTER the shuffle — zero
    # rng draws, so document text is byte-invariant to this dialect.  The
    # binary payload uses only bytes >= 0x80, so a stray 'EI' cannot occur
    # inside it; the parser's text path must skip the image unharmed.
    import zlib as _z

    for line in lines:
        crc = _z.crc32(line.encode("utf-8"))
        if crc % 5 == 0:
            px = bytes(0x80 + ((crc >> (i % 24)) + 7 * i) % 128
                       for i in range(48))
            img = (b"BI /W 4 /H 4 /CS /RGB /BPC 8 ID " + px + b"\nEI")
            chunks.insert(crc % (len(chunks) + 1), img)
    return b"\n".join(chunks) + b"\n"


def _rgb_pixels(w: int, h: int, seed: bytes) -> bytes:
    """Deterministic RGB gradient (numpy-vectorized — up to 320x240x3 per
    image, a Python loop would dominate corpus generation)."""
    import numpy as np

    x = np.arange(w, dtype=np.int32)
    y = np.arange(h, dtype=np.int32)
    base = (3 * x[None, :] + 7 * y[:, None]) % 256  # (h, w)
    chan = np.array([seed[0], seed[1], seed[2]], dtype=np.int32)
    px = (base[:, :, None] + chan[None, None, :]) % 256
    return px.astype(np.uint8).tobytes()


# --- modern-dialect (PDF 1.5) encoding helpers ---------------------------
# Deliberately DIFFERENT implementations from the parser's decoders
# (stdlib base64.a85encode / binascii.hexlify / a naive RLE packer vs the
# parser's hand-rolled decoders): generator/parser honesty preserved.
def _rle_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i + 1
            while j < n and j - i < 128:
                if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                    break
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    out.append(128)  # EOD
    return bytes(out)


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Forward TIFF-variant LZW (PDF 32000-1 §7.4.4): MSB-first 9→12-bit
    codes, ClearTable emitted at start and on table-full, EOD at end,
    ``early`` mirroring /EarlyChange.  Forward direction only — the parser
    side (kernels/pdf.py _lzw_decode) is an independent inverse
    implementation (generator/parser honesty rule)."""
    out = bytearray()
    acc = nacc = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nacc
        acc = (acc << width) | code
        nacc += width
        while nacc >= 8:
            nacc -= 8
            out.append((acc >> nacc) & 0xFF)
        acc &= (1 << nacc) - 1

    def grow() -> None:
        # the decoder's dict trails by one entry; it widens before reading
        # our NEXT code once its size reaches (1<<width) - early
        nonlocal next_code, width
        next_code += 1
        if width < 12 and next_code - 1 >= (1 << width) - early:
            width += 1

    dic: dict[int, int] = {}  # (prefix code << 8 | next byte) -> code
    next_code = 258
    width = 9
    emit(256, width)
    w = -1  # code of the pending string; -1 = none yet
    for b in data:
        if w < 0:
            w = b
            continue
        code = dic.get(w << 8 | b)
        if code is not None:
            w = code
            continue
        emit(w, width)
        dic[w << 8 | b] = next_code
        grow()
        if next_code >= 4095:  # table full: clear and restart
            emit(256, width)
            dic = {}
            next_code = 258
            width = 9
        w = b
    if w >= 0:
        emit(w, width)
        grow()  # the decoder adds an entry after the final code too
    emit(257, width)
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def _png_up_predict(data: bytes, rowlen: int) -> bytes:
    """PNG Up (tag 2) per-row filter for xref-stream /Predictor 12."""
    out = bytearray()
    prev = bytes(rowlen)
    for pos in range(0, len(data), rowlen):
        row = data[pos:pos + rowlen]
        out.append(2)
        out += bytes((row[i] - prev[i]) & 0xFF for i in range(len(row)))
        prev = row
    return bytes(out)


def _encode_stream(enc_rng: random.Random, content: bytes) -> tuple[bytes, bytes]:
    """Pick a filter chain for a content stream; return (dict_extra, data).
    Filter array order is DECODE order, so encoding applies in reverse."""
    import base64
    import binascii

    choice = enc_rng.randrange(7)
    if choice == 0:
        return b"/Filter /FlateDecode", zlib.compress(content, 6)
    if choice == 1:
        return b"/Filter /ASCIIHexDecode", binascii.hexlify(content) + b">"
    if choice == 2:
        return b"/Filter /ASCII85Decode", base64.a85encode(content) + b"~>"
    if choice == 3:
        return b"/Filter /RunLengthDecode", _rle_encode(content)
    if choice == 4:
        return b"/Filter /LZWDecode", _lzw_encode(content)
    if choice == 5:  # non-default /EarlyChange exercises the DecodeParms path
        return (
            b"/Filter /LZWDecode /DecodeParms << /EarlyChange 0 >>",
            _lzw_encode(content, early=0),
        )
    # chain: decoder runs ASCII85 then Flate
    return (
        b"/Filter [/ASCII85Decode /FlateDecode]",
        base64.a85encode(zlib.compress(content, 6)) + b"~>",
    )


def plan_pages(rng: random.Random, n_pages: int | None = None,
               charset: str = "latin") -> list[list[str]]:
    """make_pdf's page plan, its first rng draws: the page count (unless
    given), then each page's paragraphs.  Counting a document's pages
    needs only this, not the serialization."""
    if n_pages is None:
        n_pages = rng.randint(1, 4)
    if charset == "latin":
        pool, extra = _WORDS, _LATIN1_EXTRA
    else:
        pool, extra = _CJK_POOLS[charset], None
    return [[_sentence(rng, rng.randint(4, 9), pool=pool, extra=extra)
             for _ in range(rng.randint(3, 10))] for _ in range(n_pages)]


def make_pdf(rng: random.Random, doc_id: int, n_pages: int | None = None,
             with_images: bool = True, dialect: str = "classic",
             font: str = "simple", encrypt: str | None = None,
             page_tables: list[dict] | None = None,
             page_links: list[list[str]] | None = None,
             image_coding: str | None = None,
             charset: str = "latin",
             wrap_form: bool = False,
             ) -> tuple[bytes, list[list[str]]]:
    """Return (pdf_bytes, per-page expected reading-order lines).

    ``page_tables``: optional per-page make_table_spec grids (len ==
    n_pages; None entries allowed) rendered BELOW each page's paragraphs as
    positioned text runs; the expected reading-order lines then include the
    grid rows (table_expected_lines).  Opt-in — the default corpus draws
    are byte-identical to before this parameter existed.

    ``page_links``: optional per-page URI lists serialized as /Annots
    /Subtype /Link annotations — even-indexed links use the /A << /S /URI >>
    action form, odd-indexed the PDF 1.1 legacy direct /URI key, so both
    parser paths are exercised.  Opt-in, zero rng draws — the default
    corpus is byte-identical with the parameter absent.

    ``dialect='classic'``: PDF 1.4, classic xref table, Flate content.
    ``dialect='modern'``: PDF 1.5 — cross-reference STREAM (optionally with
    PNG /Predictor 12), all non-stream objects packed into a /Type /ObjStm
    object stream, and content streams encoded with a per-stream filter mix
    (Flate / ASCIIHex / ASCII85 / RunLength / LZW with both /EarlyChange
    modes / ASCII85+Flate chain).  The
    encoding choices draw from a SEPARATE seeded rng so the document text is
    byte-identical across dialects — only the serialization layer differs.

    ``font='simple'``: one Type1 /Helvetica font, literal Latin-1 strings.
    ``font='cid'``: a Type0 composite font (/Encoding /Identity-H,
    CIDFontType2 descendant) with a /ToUnicode CMap (bfchar + bfrange
    sections); every shown string is a hex string of 2-byte CIDs.  CID
    assignment is a pure function of the document text (no rng draws), so
    TEXT is font-dialect-invariant too.
    ``font='cid-ucs2'``: a Type0 font with the PREDEFINED /UniGB-UCS2-H
    CMap — no /ToUnicode and no /FontFile2; shown strings are hex UTF-16BE
    code units (code == UCS-2 code point).  No rng draws either.
    ``font='cid-cmap'``: a Type0 font whose /Encoding is an EMBEDDED CMap
    STREAM (cidchar + cidrange, code = CID + CID_CMAP_CODE_OFFSET) with
    no /ToUnicode; CID -> unicode comes from the embedded TrueType
    program as in 'cid-fontfile'.  Codes differ from CIDs, so text only
    round-trips if the parser applies the CMap.  No rng draws.
    ``font='cid-mixed'``: like 'cid-cmap' but the embedded CMap declares a
    MIXED-width codespace — 1-byte codes <20><7E> for ASCII, 2-byte codes
    <8020><FEFE> for everything else (_mixed_code_assignment) — so text
    only round-trips if the parser splits variable-width show strings by
    per-byte codespace-range matching.  No rng draws.
    ``font='cid-usecmap'``: like 'cid-cmap' but the embedded CMap COMPOSES
    a predefined base via ``/UniGB-UCS2-H usecmap``: every second distinct
    char is overridden into the private <E000><E0FF> codespace
    (code -> CID -> FontFile2 unicode), the rest serialize as base UCS-2
    codes — text round-trips only if the parser applies the overrides AND
    falls through to the base (_usecmap_code_assignment).  No rng draws.
    ``font='cid-rksj' / 'cid-gbk' / 'cid-b5' / 'cid-uhc' / 'cid-utf16'``:
    a Type0 font naming a PREDEFINED national-encoding / UTF-16 CMap
    (_CODEC_FONT_ROUTES); show strings are hex strings of the encoding's
    own bytes (Shift-JIS / GBK / Big5 / UHC / UTF-16BE).  No /ToUnicode,
    no /FontFile2, no rng draws.  Pair with a ``charset`` whose pool the
    encoding covers ('ja'/'zh-hans'/'zh-hant'/'ko'; 'cid-utf16' and
    'cid-ucs2' cover all of them).

    ``font='simple-winansi' / 'simple-macroman'``: a simple Type1 font
    with a NAMED base encoding; show strings are cp1252 / mac_roman bytes
    (hex-serialized).  Pair with ``charset='win'`` so 0x80-0x9F bytes
    actually occur.  No rng draws.
    ``font='simple-standard'``: /Encoding dictionary with /BaseEncoding
    /StandardEncoding (the pre-WinAnsi PostScript layout; generator
    encodes via its own Appendix D transcription _STD_ENCODE).  Pair with
    ``charset='std'``.  No rng draws.
    ``font='simple-diff'``: /Encoding dictionary with /BaseEncoding
    /WinAnsiEncoding and a /Differences array remapping every non-ASCII
    char to a code from 0x80 (classic AGL names on odd slots, uniXXXX
    forms elsewhere — _diff_encoding_assignment/_diff_glyph_name).
    ``font='simple-tu'``: a simple font whose only text mapping is a
    1-byte /ToUnicode CMap with scrambled sequential codes
    (_simple_tounicode_cmap).  No rng draws.

    ``wrap_form``: serialize every page's odd-indexed lines inside a
    /Subtype /Form XObject (rendered _FORM_DY below final position,
    /Matrix translating back, /F2 font and the page's images scoped to
    the FORM's own /Resources) invoked by ``q /Fm0 Do Q`` from the page
    content.  Text equals the unwrapped twin ONLY if the parser executes
    Do, composes the Matrix, and scopes resources; rng draws diverge
    after the text is drawn, so only TEXT is twin-comparable (image
    payloads differ by construction).

    ``charset``: 'latin' (default — byte-identical rng draws to the
    pre-charset generator) or a _CJK_POOLS key ('ja'/'zh-hans'/'zh-hant'/
    'ko'/'win'); swaps the sentence word pool so CJK / cp1252-special
    font routes have text their encodings can express.

    ``image_coding``: None (default mix: RGB Flate / JPEG dialects / a
    CCITT bilevel share keyed off seed64), or force EVERY image in the
    document to the same thresholded-gradient bilevel pixels serialized as
    'flate-gray' (8-bit /DeviceGray /FlateDecode) or 'ccitt' (1-bit
    /CCITTFaxDecode, G4 or G3-1D per seed64) — the q_ccitt twin gate.
    Same rng draw sequence either way, so text goldens are unchanged.

    ``encrypt``: None, 'rc4-40', 'rc4-128' or 'aes-128' — standard security
    handler with an EMPTY user password (sources/synth_crypt.py writer).
    Streams are encrypted per object; strings are individually encrypted
    (hex-serialized) in the classic dialect, while in the modern dialect
    non-stream objects live inside the (already encrypted) ObjStm and keep
    plaintext strings, per spec.  No rng draws — TEXT is invariant.
    """
    page_paras = plan_pages(rng, n_pages, charset)
    if page_tables is not None and len(page_tables) != len(page_paras):
        raise ValueError("page_tables length must equal n_pages")
    if page_links is not None and len(page_links) != len(page_paras):
        raise ValueError("page_links length must equal n_pages")
    # expected reading-order lines = paragraphs, then the grid rows below
    page_lines = [list(p) for p in page_paras]
    if page_tables is not None:
        for pl, spec in zip(page_lines, page_tables):
            if spec is not None:
                pl.extend(table_expected_lines(spec))

    enc_rng = random.Random(f"enc:{doc_id}") if dialect == "modern" else None
    if encrypt:
        from .synth_crypt import StdEncryptor

        enc = StdEncryptor(encrypt, f"{doc_id}")
    else:
        enc = None

    def stream_enc(obj_id: int, data: bytes) -> bytes:
        return enc.encrypt(obj_id, 0, data) if enc else data

    def strenc(obj_id: int, s: str) -> bytes:
        # classic: strings of directly-stored objects are encrypted and
        # hex-serialized; modern: those objects live inside the encrypted
        # ObjStm, so their strings stay literal
        if enc and dialect == "classic":
            return enc.hex_string(obj_id, 0, s.encode("latin-1"))
        return _simple_string(s)

    objs: dict[int, bytes] = {}
    stream_ids: set[int] = set()
    next_id = 3
    font_id = next_id
    next_id += 1
    if font == "cid-ucs2":
        # Type0 with a PREDEFINED UCS2 CMap (/Encoding /UniGB-UCS2-H):
        # no /ToUnicode, no /FontFile2 — the 2-byte show-string codes ARE
        # the UCS-2 code points, which is exactly what the parser must
        # exploit to recover text (kernels/pdf.py _ucs2_decode).
        desc_id = next_id
        next_id += 1
        objs[font_id] = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthGB "
            b"/Encoding /UniGB-UCS2-H /DescendantFonts [%d 0 R] >>"
            % desc_id
        )
        objs[desc_id] = (
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SynthGB "
            b"/CIDSystemInfo << /Registry " + strenc(desc_id, "Adobe")
            + b" /Ordering " + strenc(desc_id, "GB1")
            + b" /Supplement 2 >> /CIDToGIDMap /Identity >>"
        )

        def encode_string(s: str) -> bytes:
            return b"<" + s.encode("utf-16-be").hex().encode() + b">"
    elif font in _CODEC_FONT_ROUTES:
        # Type0 with a PREDEFINED national-encoding / UTF-16 CMap
        # (/Encoding /90ms-RKSJ-H, /GBK-EUC-H, /ETen-B5-H, /KSCms-UHC-H,
        # /UniJIS-UTF16-H): no /ToUnicode, no /FontFile2 — show strings
        # are the encoding's own bytes, which is exactly what the parser
        # must route by CMap NAME to recover (kernels/pdf.py
        # _CodecCMapDecoder).  No rng draws — TEXT is font-invariant.
        enc_name, codec, ordering, supplement = _CODEC_FONT_ROUTES[font]
        desc_id = next_id
        next_id += 1
        objs[font_id] = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth"
            + ordering.encode() + b" /Encoding /" + enc_name.encode()
            + b" /DescendantFonts [%d 0 R] >>" % desc_id
        )
        objs[desc_id] = (
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Synth"
            + ordering.encode()
            + b" /CIDSystemInfo << /Registry " + strenc(desc_id, "Adobe")
            + b" /Ordering " + strenc(desc_id, ordering)
            + b" /Supplement %d >> /CIDToGIDMap /Identity >>" % supplement
        )

        def encode_string(s: str, _codec: str = codec) -> bytes:
            return b"<" + s.encode(_codec).hex().encode() + b">"
    elif font in ("cid", "cid-fontfile", "cid-cmap", "cid-mixed",
              "cid-usecmap"):
        assign = _cid_assignment(page_lines)
        desc_id = next_id
        next_id += 1
        aux_id = next_id  # ToUnicode CMap stream OR FontFile2 stream
        next_id += 1
        if font == "cid":
            cmap = _tounicode_cmap(assign)
            cmap_z = stream_enc(aux_id, zlib.compress(cmap, 6))
            objs[font_id] = (
                b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCID "
                b"/Encoding /Identity-H /DescendantFonts [%d 0 R] "
                b"/ToUnicode %d 0 R >>" % (desc_id, aux_id)
            )
            objs[desc_id] = (
                b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SynthCID "
                b"/CIDSystemInfo << /Registry " + strenc(desc_id, "Adobe")
                + b" /Ordering " + strenc(desc_id, "Identity")
                + b" /Supplement 0 >> /CIDToGIDMap /Identity >>"
            )
            objs[aux_id] = (
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(cmap_z)
                + cmap_z + b"\nendstream"
            )
            stream_ids.add(aux_id)
        else:
            # no /ToUnicode: the parser must recover text by inverting the
            # embedded TrueType program's format-4 cmap (unicode -> GID;
            # GID == CID under /CIDToGIDMap /Identity).  'cid-fontfile'
            # encodes with /Identity-H (code == CID); 'cid-cmap' routes
            # codes through an EMBEDDED /Encoding CMap stream with
            # code = CID + CID_CMAP_CODE_OFFSET, so parsing only succeeds
            # if the kernel actually applies the code->CID mapping.
            from .synth_ttf import build_truetype_cmap

            fdesc_id = next_id
            next_id += 1
            ttf = build_truetype_cmap(
                {ord(ch): cid for ch, cid in assign.items()})
            ttf_len1 = len(ttf)
            ttf_z = stream_enc(aux_id, zlib.compress(ttf, 6))
            if font in ("cid-cmap", "cid-mixed", "cid-usecmap"):
                encmap_id = next_id
                next_id += 1
                if font == "cid-mixed":
                    mixed_codes = _mixed_code_assignment(assign)
                    encmap = _encoding_mixed_cmap(assign, mixed_codes)
                elif font == "cid-usecmap":
                    use_codes = _usecmap_code_assignment(assign)
                    encmap = _encoding_usecmap_cmap(assign, use_codes)
                else:
                    encmap = _encoding_cid_cmap(assign)
                encmap_z = stream_enc(encmap_id, zlib.compress(encmap, 6))
                objs[encmap_id] = (
                    b"<< /Type /CMap /CMapName /SynthEmbedded "
                    b"/CIDSystemInfo << /Registry "
                    + strenc(encmap_id, "Adobe") + b" /Ordering "
                    + strenc(encmap_id, "Identity")
                    + b" /Supplement 0 >> /Length %d /Filter /FlateDecode "
                    b">>\nstream\n" % len(encmap_z)
                    + encmap_z + b"\nendstream"
                )
                stream_ids.add(encmap_id)
                objs[font_id] = (
                    b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCID "
                    b"/Encoding %d 0 R /DescendantFonts [%d 0 R] >>"
                    % (encmap_id, desc_id)
                )
            else:
                objs[font_id] = (
                    b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCID "
                    b"/Encoding /Identity-H /DescendantFonts [%d 0 R] >>"
                    % desc_id
                )
            objs[desc_id] = (
                b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SynthCID "
                b"/CIDSystemInfo << /Registry " + strenc(desc_id, "Adobe")
                + b" /Ordering " + strenc(desc_id, "Identity")
                + b" /Supplement 0 >> /CIDToGIDMap /Identity "
                + b"/FontDescriptor %d 0 R >>" % fdesc_id
            )
            objs[fdesc_id] = (
                b"<< /Type /FontDescriptor /FontName /SynthCID /Flags 4 "
                b"/FontBBox [0 0 1000 1000] /ItalicAngle 0 /Ascent 800 "
                b"/Descent -200 /CapHeight 700 /StemV 80 "
                b"/FontFile2 %d 0 R >>" % aux_id
            )
            objs[aux_id] = (
                b"<< /Length %d /Length1 %d /Filter /FlateDecode >>\nstream\n"
                % (len(ttf_z), ttf_len1) + ttf_z + b"\nendstream"
            )
            stream_ids.add(aux_id)

        if font == "cid-cmap":
            def encode_string(s: str) -> bytes:
                return b"<" + "".join(
                    "%04x" % (assign[c] + CID_CMAP_CODE_OFFSET) for c in s
                ).encode() + b">"
        elif font == "cid-mixed":
            def encode_string(s: str) -> bytes:
                return b"<" + b"".join(
                    mixed_codes[c] for c in s).hex().encode() + b">"
        elif font == "cid-usecmap":
            def encode_string(s: str) -> bytes:
                return b"<" + b"".join(
                    use_codes.get(c) or c.encode("utf-16-be") for c in s
                ).hex().encode() + b">"
        else:
            def encode_string(s: str) -> bytes:
                return b"<" + "".join(
                    "%04x" % assign[c] for c in s).encode() + b">"
    elif font in ("simple-winansi", "simple-macroman"):
        # simple font with a NAMED base encoding: bytes 0x80-0x9F mean
        # different things than Latin-1, so the parser must route the
        # /Encoding name to the right table (kernels/pdf.py
        # _simple_encoding_table).  No rng draws.
        enc_name, codec = (
            ("WinAnsiEncoding", "cp1252") if font == "simple-winansi"
            else ("MacRomanEncoding", "mac_roman"))
        objs[font_id] = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /" + enc_name.encode() + b" >>")

        def encode_string(s: str, _c: str = codec) -> bytes:
            return b"<" + s.encode(_c).hex().encode() + b">"
    elif font == "simple-standard":
        # simple font with /BaseEncoding /StandardEncoding inside an
        # /Encoding dict (the pre-WinAnsi PostScript layout); show strings
        # encoded by the generator's own Appendix D transcription
        # (_std_encode_string).  No rng draws.
        objs[font_id] = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman "
            b"/Encoding << /BaseEncoding /StandardEncoding >> >>")
        encode_string = _std_encode_string
    elif font == "simple-diff":
        # simple font with /Differences: every non-ASCII char remapped to
        # a code from 0x80 disagreeing with its WinAnsi position, named by
        # classic AGL names (odd slots) or uniXXXX forms.  No rng draws.
        diff_codes = _diff_encoding_assignment(page_lines)
        by_code = sorted(diff_codes.items(), key=lambda kv: kv[1])
        names = b" ".join(
            b"/" + _diff_glyph_name(c, i) for i, (c, _) in enumerate(by_code))
        diffs = (b"/Differences [ 128 " + names + b" ]") if by_code else b""
        objs[font_id] = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding << /BaseEncoding /WinAnsiEncoding " + diffs
            + b" >> >>")

        def encode_string(s: str) -> bytes:
            # non-ASCII always remapped; ASCII sits at its WinAnsi == ASCII
            # position
            return b"<" + bytes(
                diff_codes[c] if c in diff_codes else ord(c)
                for c in s).hex().encode() + b">"
    elif font == "simple-tu":
        # simple font whose ONLY text mapping is a 1-byte /ToUnicode CMap;
        # codes are sequential from 0x21 (a scrambled subset font).
        chars = sorted({c for lines in page_lines for line in lines
                        for c in line})
        if 0x21 + len(chars) > 0x100:
            raise ValueError("too many distinct chars for one-byte codes")
        tu_codes = {c: 0x21 + i for i, c in enumerate(chars)}
        tu_id = next_id
        next_id += 1
        tu = _simple_tounicode_cmap(tu_codes)
        tu_z = stream_enc(tu_id, zlib.compress(tu, 6))
        objs[tu_id] = (
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(tu_z)
            + tu_z + b"\nendstream")
        stream_ids.add(tu_id)
        objs[font_id] = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/ToUnicode %d 0 R >>" % tu_id)

        def encode_string(s: str) -> bytes:
            return b"<" + bytes(tu_codes[c] for c in s).hex().encode() + b">"
    else:
        objs[font_id] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        encode_string = _simple_string

    kid_ids: list[int] = []
    for pg_i, lines in enumerate(page_paras):
        spec = page_tables[pg_i] if page_tables is not None else None
        if wrap_form:
            # odd-indexed lines live INSIDE a Form XObject, rendered 500
            # units lower and translated back by the form /Matrix — their
            # final positions interleave with the direct lines, so the
            # reading order is only correct if the parser both executes
            # Do and composes the Matrix.  The form's text uses /F2 from
            # the FORM's own /Resources (scoping proof).
            form_text = _content_stream(
                rng, lines[1::2], encode_string,
                y_start=720.0 - 16.0 - _FORM_DY, y_step=32.0,
                font_name=b"F2")
            content = _content_stream(
                rng, lines[0::2], encode_string, table=spec,
                y_start=720.0, y_step=32.0) + b"\nq /Fm0 Do Q\n"
        else:
            content = _content_stream(rng, lines, encode_string, table=spec)
        if enc_rng is None:
            fdict, data = b"/Filter /FlateDecode", zlib.compress(content, 6)
        else:
            fdict, data = _encode_stream(enc_rng, content)
        cont_id = next_id
        next_id += 1
        data = stream_enc(cont_id, data)
        objs[cont_id] = (
            b"<< /Length %d %s >>\nstream\n" % (len(data), fdict)
            + data + b"\nendstream"
        )
        stream_ids.add(cont_id)
        xobj_entries = b""
        parts: list[bytes] = []
        if with_images and rng.random() < 0.6:
            n_imgs = rng.randint(1, 2)
            for k in range(n_imgs):
                # every other image is sub-50x50 → dropped by OP-25 filter
                if rng.random() < 0.5:
                    w, h = rng.randint(8, 49), rng.randint(8, 49)
                else:
                    w, h = rng.randint(50, 320), rng.randint(50, 240)
                # Real, decodable RGB pixels: a deterministic gradient seeded
                # by 64 rng bytes.  The 64 draws predate the pixel upgrade,
                # so every later rng draw — and thus all text goldens — is
                # byte-identical to the old corpus.  A quarter of images are
                # baseline JPEG (/DCTDecode, kernels/jpeg.py dialect); the
                # rest zlib'd raw RGB (/FlateDecode) — chosen from seed64,
                # not a fresh draw.
                seed64 = bytes(rng.getrandbits(8) for _ in range(64))
                cs, bpc, parms = b"/DeviceRGB", 8, b""
                if image_coding is not None or (
                        seed64[3] % 4 != 0 and seed64[11] % 5 == 0):
                    # CCITT bilevel share (or a forced twin for the q_ccitt
                    # gate): the SAME thresholded gradient serialized either
                    # as Flate 8-bit gray or CCITT G4 / G3-1D 1-bit, so a
                    # parser must reproduce the pixels exactly.  Keyed off
                    # seed64, no fresh draws — text goldens unchanged.
                    from .synth_ccitt import (
                        bilevel_gradient,
                        encode_g3_1d,
                        encode_g4,
                    )

                    pix = bilevel_gradient(w, h, seed64[:8])
                    cs = b"/DeviceGray"
                    if image_coding == "flate-gray":
                        payload = zlib.compress(pix, 6)
                        img_filter = b"/FlateDecode"
                    elif seed64[13] % 2:
                        payload = encode_g4(pix, w, h)
                        img_filter, bpc = b"/CCITTFaxDecode", 1
                        parms = (b" /DecodeParms << /K -1 /Columns %d "
                                 b"/Rows %d >>" % (w, h))
                    else:
                        payload = encode_g3_1d(pix, w, h)
                        img_filter, bpc = b"/CCITTFaxDecode", 1
                        parms = (b" /DecodeParms << /K 0 /Columns %d "
                                 b"/Rows %d >>" % (w, h))
                elif seed64[3] % 4 == 0:
                    from .synth_jpeg import encode_jpeg_baseline

                    # half the JPEGs use 4:2:0 chroma subsampling (the most
                    # common real-world dialect); of the rest, a quarter
                    # carry DRI/RST restart markers and a quarter are
                    # PROGRESSIVE (SOF2, successive-approximation script).
                    # All keyed off seed64, not fresh draws, so text goldens
                    # stay byte-identical.
                    sub = "420" if seed64[5] % 2 else "444"
                    if seed64[9] % 4 == 0:
                        from .synth_jpeg import encode_jpeg_progressive

                        payload = encode_jpeg_progressive(
                            w, h, _rgb_pixels(w, h, seed64), 3,
                            subsampling=sub,
                            successive=seed64[9] % 8 == 0,
                        )
                    else:
                        payload = encode_jpeg_baseline(
                            w, h, _rgb_pixels(w, h, seed64), 3,
                            subsampling=sub,
                            restart_interval=2 if seed64[7] % 4 == 0 else 0,
                        )
                    img_filter = b"/DCTDecode"
                else:
                    payload = zlib.compress(_rgb_pixels(w, h, seed64), 6)
                    img_filter = b"/FlateDecode"
                img_id = next_id
                next_id += 1
                payload = stream_enc(img_id, payload)
                objs[img_id] = (
                    b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
                    b"/ColorSpace %s /BitsPerComponent %d "
                    b"/Filter %s%s /Length %d >>\nstream\n"
                    % (w, h, cs, bpc, img_filter, parms, len(payload))
                    + payload + b"\nendstream"
                )
                stream_ids.add(img_id)
                parts.append(b"/Im%d %d 0 R" % (k, img_id))
            xobj_entries = b" /XObject << " + b" ".join(parts) + b" >>"
        if wrap_form:
            # images (if any) move INTO the form's resources — the image
            # walk must recurse into /Subtype /Form to find them
            form_id = next_id
            next_id += 1
            form_imgs = (b" /XObject << " + b" ".join(parts) + b" >>"
                         if parts else b"")
            fz = stream_enc(form_id, zlib.compress(form_text, 6))
            objs[form_id] = (
                b"<< /Type /XObject /Subtype /Form /BBox [0 -800 612 792] "
                b"/Matrix [1 0 0 1 0 %.1f]" % _FORM_DY
                + b" /Resources << /Font << /F2 %d 0 R >>" % font_id
                + form_imgs
                + b" >> /Filter /FlateDecode /Length %d >>\nstream\n"
                % len(fz) + fz + b"\nendstream"
            )
            stream_ids.add(form_id)
            xobj_entries = b" /XObject << /Fm0 %d 0 R >>" % form_id
        annots_entry = b""
        if page_links is not None and page_links[pg_i]:
            annot_ids = []
            for li, uri in enumerate(page_links[pg_i]):
                annot_id = next_id
                next_id += 1
                rect = b"/Rect [72 %d 300 %d]" % (700 - 14 * li, 712 - 14 * li)
                if li % 2 == 0:
                    body = (
                        b"<< /Type /Annot /Subtype /Link " + rect
                        + b" /Border [0 0 0] /A << /Type /Action /S /URI /URI "
                        + strenc(annot_id, uri) + b" >> >>"
                    )
                else:
                    body = (
                        b"<< /Type /Annot /Subtype /Link " + rect
                        + b" /Border [0 0 0] /URI "
                        + strenc(annot_id, uri) + b" >>"
                    )
                objs[annot_id] = body
                annot_ids.append(annot_id)
            annots_entry = (
                b" /Annots [" + b" ".join(b"%d 0 R" % a for a in annot_ids)
                + b"]"
            )
        page_id = next_id
        next_id += 1
        objs[page_id] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R /Resources << /Font << /F1 %d 0 R >>%s >>%s >>"
            % (cont_id, font_id, xobj_entries, annots_entry)
        )
        kid_ids.append(page_id)

    info_id = next_id
    next_id += 1
    objs[info_id] = (
        b"<< /Title " + strenc(info_id, "Synthetic Doc %d" % doc_id)
        + b" /Author " + strenc(info_id, "corpus-gen")
        + b" /Producer " + strenc(info_id, "pdf_extractor_spark fixtures")
        + b" >>"
    )
    enc_id = None
    if enc:
        enc_id = next_id
        next_id += 1
        objs[enc_id] = enc.encrypt_dict(enc_id)
        stream_ids.add(enc_id)  # never packed into an ObjStm (spec)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        b"<< /Type /Pages /Kids [" + b" ".join(b"%d 0 R" % k for k in kid_ids)
        + b"] /Count %d >>" % len(kid_ids)
    )

    if dialect == "classic":
        out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
        offsets: dict[int, int] = {}
        for num in sorted(objs):
            offsets[num] = len(out)
            out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
        xref_off = len(out)
        max_id = max(objs)
        out += b"xref\n0 %d\n" % (max_id + 1)
        out += b"0000000000 65535 f \n"
        for num in range(1, max_id + 1):
            out += b"%010d 00000 n \n" % offsets.get(num, 0)
        extra = enc.trailer_extra(enc_id) if enc else b""
        out += (
            b"trailer\n<< /Size %d /Root 1 0 R /Info %d 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
            % (max_id + 1, info_id, extra, xref_off)
        )
        return bytes(out), page_lines

    # ---- modern dialect: ObjStm for non-stream objects + xref stream ----
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(stream_ids):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    embedded = sorted(n for n in objs if n not in stream_ids)
    body = bytearray()
    offs: list[int] = []
    for n in embedded:
        offs.append(len(body))
        body += objs[n] + b"\n"
    pair_hdr = b" ".join(b"%d %d" % (n, o) for n, o in zip(embedded, offs)) + b" "
    objstm_id = next_id
    next_id += 1
    comp = stream_enc(objstm_id, zlib.compress(bytes(pair_hdr) + bytes(body), 6))
    offsets[objstm_id] = len(out)
    out += (
        b"%d 0 obj\n<< /Type /ObjStm /N %d /First %d /Length %d "
        b"/Filter /FlateDecode >>\nstream\n"
        % (objstm_id, len(embedded), len(pair_hdr), len(comp))
        + comp + b"\nendstream\nendobj\n"
    )
    xref_id = next_id
    next_id += 1
    xref_off = len(out)
    offsets[xref_id] = xref_off
    size = xref_id + 1
    rows = bytearray()
    for num in range(size):  # W = [1, 3, 2]
        if num == 0:
            t, f2, f3 = 0, 0, 65535
        elif num in offsets:
            t, f2, f3 = 1, offsets[num], 0
        else:
            t, f2, f3 = 2, objstm_id, embedded.index(num)
        rows.append(t)
        rows += f2.to_bytes(3, "big") + f3.to_bytes(2, "big")
    # one draw, three-way split (draw count unchanged vs the round-2 writer,
    # so document text stays byte-identical): PNG Up, TIFF horizontal
    # differencing, or no predictor
    pred_r = enc_rng.random()
    if pred_r < 0.34:
        xdata = zlib.compress(_png_up_predict(bytes(rows), 6), 6)
        parms = b" /DecodeParms << /Predictor 12 /Columns 6 >>"
    elif pred_r < 0.67:
        diff = bytearray(rows)
        for s in range(0, len(diff), 6):
            for i in range(min(s + 6, len(diff)) - 1, s, -1):
                diff[i] = (rows[i] - rows[i - 1]) & 0xFF
        xdata = zlib.compress(bytes(diff), 6)
        parms = b" /DecodeParms << /Predictor 2 /Columns 6 >>"
    else:
        xdata = zlib.compress(bytes(rows), 6)
        parms = b""
    extra = enc.trailer_extra(enc_id) if enc else b""
    out += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 3 2] /Root 1 0 R "
        b"/Info %d 0 R%s /Filter /FlateDecode%s /Length %d >>\nstream\n"
        % (xref_id, size, info_id, extra, parms, len(xdata))
        + xdata + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_off
    return bytes(out), page_lines


# --------------------------------------------------------------------------
# Dialect A: HTML page writer
# --------------------------------------------------------------------------
_HTML_CHARSETS = ["utf-8", "utf-8", "utf-8", "iso-8859-1", "utf-16"]


def make_html(rng: random.Random, doc_id: int, lang: str,
              min_bytes: int = 0, canonical: str | None = None,
              robots: str | None = None) -> bytes:
    """``canonical``/``robots`` (opt-in, draw-free — default corpus and
    goldens untouched): emit ``<link rel="canonical">`` / ``<meta
    name="robots">`` head elements VERBATIM, so a gate can feed messy
    author formatting and require the parser to normalize it."""
    charset = rng.choice(_HTML_CHARSETS)
    title = _sentence(rng, 4).rstrip(".")
    n_paras = rng.randint(2, 6)
    paras = [_paragraph(rng, rng.randint(2, 4)) for _ in range(n_paras)]
    if min_bytes:  # oversized-doc dialect (memory-bounding fixture)
        while sum(len(p) for p in paras) < min_bytes:
            paras.append(_paragraph(rng, 6))
    nav_links = "".join(
        f'<a href="/{rng.choice(_WORDS)}/{i}">{rng.choice(_WORDS)}</a> '
        for i in range(rng.randint(3, 7))
    )
    inline_link = f'<a href="https://ref.example.org/{doc_id}">{rng.choice(_WORDS)}</a>'
    body_paras = []
    for i, para in enumerate(paras):
        extra = inline_link if i == 1 and rng.random() < 0.5 else ""
        body_paras.append(f"<p>{para} {extra}</p>")
    if rng.random() < 0.3:
        body_paras.insert(rng.randrange(len(body_paras)), f"<p>{_sentence(rng, 3)}</p>")
    table_html = ""
    if rng.random() < 0.5:
        rows = []
        n_cols = rng.randint(2, 4)
        for r in range(rng.randint(2, 5)):
            ncells = n_cols if rng.random() < 0.7 else rng.randint(1, n_cols)
            cells = "".join(
                f"<td>{'' if rng.random() < 0.2 else rng.choice(_WORDS) + '  ' + rng.choice(_WORDS)}</td>"
                for _ in range(ncells)
            )
            rows.append(f"<tr>{cells}</tr>")
        table_html = f"<table>{''.join(rows)}</table>"
    meta = (
        f'<meta charset="{charset}">' if charset != "utf-16" else ""
    )  # utf-16 detected via BOM, not meta
    if robots is not None:
        meta += f'<meta name="robots" content="{robots}">'
    if canonical is not None:
        meta += f'<link rel="canonical" href="{canonical}">'
    entity_bits = "&amp; &lt;tag&gt; &#233;" if rng.random() < 0.3 else ""
    doc = f"""<!DOCTYPE html>
<html lang="{lang}"><head>{meta}<title>{title}</title>
<style>body {{ margin: 0 }}</style>
<script>var boiler = "<p>not content</p>";</script>
</head><body>
<header><nav>{nav_links}</nav></header>
<h1>{title}</h1>
{''.join(body_paras)}
{entity_bits}
{table_html}
<aside>{_sentence(rng, 5)}</aside>
<footer>Generated {doc_id} <a href="/terms">{rng.choice(_WORDS)}</a></footer>
</body></html>"""
    if charset == "utf-16":
        return doc.encode("utf-16")  # includes BOM
    return doc.encode(charset, "xmlcharrefreplace")


# --------------------------------------------------------------------------
# Dialect C: raw byte streams
# --------------------------------------------------------------------------
def make_raw(rng: random.Random, doc_id: int) -> bytes:
    import unicodedata
    paras = [_paragraph(rng, rng.randint(1, 3)) for _ in range(rng.randint(1, 4))]
    text = "\r\n\r\n".join(paras) if rng.random() < 0.5 else "\n\n\n".join(paras)
    if rng.random() < 0.3:
        text = text.replace(" ", "\t", 3)
    if rng.random() < 0.3:
        text = unicodedata.normalize("NFD", text)  # NFC pair fixture
    enc = rng.choice(["utf-8", "utf-8-sig", "utf-16", "latin-1"])
    data = text.encode(enc, "replace")
    if rng.random() < 0.1 and enc == "latin-1":
        data += b"\xff\xfe\xfd"  # trailing junk: replacement-policy fixture
    return data


# --------------------------------------------------------------------------
# Corpus assembly
# --------------------------------------------------------------------------
_LANGS = ["en", "en", "en", "de", "ja", "und"]


def gen_doc(doc_id: int, seed: int = 42, host_skew: float = 0.3,
            oversize_frac: float = 0.01, oversize_bytes: int = 1 << 20,
            with_spec: bool = False) -> dict:
    """One deterministic corpus row (pure function of (doc_id, seed)).

    ``with_spec=True`` attaches ``_spec = {kind, n_pages}`` — the GENERATOR's
    own statement of what a correct parser must report (pdf page count comes
    from the page plan, html/raw are single-page).  This is the
    kernel-independent ground truth behind the q_pipeline_kinds oracle
    constants; the generator emits only well-formed payloads, so expected
    status is 'ok' by construction."""
    rng = random.Random((seed << 32) ^ doc_id)
    lang = rng.choice(_LANGS)
    if rng.random() < host_skew:
        host = HEAVY_HOST
    else:
        host = f"host{rng.randint(0, 199):03d}.example.org"
    r = rng.random()
    n_pages = 1
    if r < 0.70:
        kind = "html"
        oversized = rng.random() < oversize_frac
        payload = make_html(rng, doc_id, lang,
                            min_bytes=oversize_bytes if oversized else 0)
    elif r < 0.90:
        kind = "pdf"
        # Half the PDFs use the PDF 1.5 dialect (xref/object streams, mixed
        # filters); orthogonally half use a composite-font dialect — mostly
        # Type0/Identity-H + ToUnicode CMap (hex CID strings), with small
        # shares of the no-ToUnicode variants (embedded /Encoding CMap
        # stream, FontFile2-only, predefined UCS2 CMap, and — round 5 —
        # predefined UTF-16 CMap and mixed-width embedded CMap; the
        # national-encoding routes need CJK charsets and live in the
        # q_pdf_cjk gate) carved out of
        # the composite slots so every text-mapping route the kernel
        # supports runs in the real extraction pipeline, not just in
        # gates.  One in 16 is additionally ENCRYPTED (standard security
        # handler, RC4-128) — the share is bounded because pure-Python RC4
        # over image payloads costs ~8 ms/doc (the q_pdf_encrypted gate
        # covers all four variants densely).  Every choice keys off doc_id
        # (not rng draws), so document TEXT is unchanged vs the
        # classic-only corpus.
        if doc_id % 4 >= 2:
            font = {3: "cid-cmap", 7: "cid-utf16", 11: "cid-ucs2",
                    19: "cid-fontfile", 27: "cid-mixed"}.get(
                doc_id % 32, "cid")
        else:
            # round 5: three slots of the simple half carry explicit
            # encodings (all latin-charset-safe, zero rng draws)
            font = {5: "simple-winansi", 13: "simple-diff",
                    21: "simple-tu"}.get(doc_id % 32, "simple")
        payload, page_lines = make_pdf(
            rng, doc_id,
            dialect="modern" if doc_id % 2 else "classic",
            font=font,
            encrypt="rc4-128" if doc_id % 16 == 5 else None,
            # round 5: a share of pages carry their odd-indexed lines
            # inside a Form XObject (slot 6 composite, slot 9 simple) —
            # TEXT goldens unchanged (drawn before serialization
            # diverges); image payloads for these docs differ, which the
            # golden regeneration captures
            wrap_form=doc_id % 16 in (6, 9),
        )
        n_pages = len(page_lines)
    else:
        kind = "raw"
        payload = make_raw(rng, doc_id)
    if doc_id % 32 == 14:
        # round 5: a double-compressed share (a Content-Encoding survivor
        # stored verbatim — real crawl tables carry these).  Wrapped AFTER
        # all draws with mtime=0, so extraction results are byte-identical
        # to the unwrapped payload and ALL goldens are unchanged; only the
        # stored payload bytes differ.
        import gzip as _gzip

        payload = _gzip.compress(payload, 6, mtime=0)
    row = {
        "url": f"https://{host}/{lang}/{kind}/{doc_id:08d}",
        "warc_ts": _BASE_TS + _dt.timedelta(seconds=doc_id * 37),
        "html": payload,
        "text": "",
        "lang": lang,
    }
    if with_spec:
        row["_spec"] = {"kind": kind, "n_pages": n_pages}
    return row


def gen_corpus(n_docs: int, seed: int = 42, **kw):
    """Yield ``n_docs`` deterministic rows."""
    for doc_id in range(n_docs):
        yield gen_doc(doc_id, seed=seed, **kw)


def table_spec_fixed_pitch(spec: dict) -> list[str]:
    """Render a table spec as fixed-pitch text lines — the OCR twin of the
    positioned-PDF and HTML renderings (q_pdf_tables): each column is
    left-aligned and padded to its widest cell + 3 spaces, so cell starts
    land on exact shared character offsets (>= 2-space gaps separate cells
    from the single spaces inside multi-word cells).  None renders as
    blanks; trailing blanks are stripped per line."""
    rows = spec["rows"]
    n_cols = len(rows[0])
    colw = [
        max([len(c) for r in rows if (c := r[j]) is not None] or [0]) + 3
        for j in range(n_cols)
    ]
    return [
        "".join((c or "").ljust(colw[j]) for j, c in enumerate(r)).rstrip()
        for r in rows
    ]
