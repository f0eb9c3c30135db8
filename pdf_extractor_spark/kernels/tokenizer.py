"""Byte-stream tokenizer / encoding normalizer (SURVEY.md OP-65).

Pure Python + stdlib; importable without Spark so pytest goldens run the
kernel directly.  Reproduces the reference's text-canonicalization semantics
(strip: /root/reference/pdf_extractor/extractors/text_extractor.py:56,
whitespace collapse: /root/reference/pdf_extractor/extractors/table_extractor.py:127-129)
generalized to a deterministic bytes -> normalized-text kernel:

    charset detect (BOM / meta / UTF-8 heuristic)
      -> decode (fixed 'replace' policy for invalid bytes)
      -> NFC normalize
      -> whitespace canonicalize
      -> emit paragraph spans

Everything is deterministic by construction: no wall clock, no locale, no
environment dependence — required for the byte-identity invariant
(BASELINE.json input_hint).
"""

from __future__ import annotations

import codecs
import re
import unicodedata

__all__ = [
    "detect_encoding",
    "decode_bytes",
    "canonical_whitespace",
    "normalize_text",
    "word_count",
    "tokenize_bytes",
]

# BOM table, longest-first so UTF-32 wins over UTF-16 on shared prefixes.
_BOMS: list[tuple[bytes, str]] = [
    (codecs.BOM_UTF32_LE, "utf-32-le"),
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF8, "utf-8-sig"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
]

# charset= sniff inside the first 2 KiB (HTML meta or XML decl)
_CHARSET_RE = re.compile(
    rb"""charset\s*=\s*["']?\s*([A-Za-z0-9_\-]+)""", re.IGNORECASE
)
_ENCODING_ALIASES = {
    "utf8": "utf-8",
    "utf-8": "utf-8",
    "latin-1": "latin-1",
    "latin1": "latin-1",
    "iso-8859-1": "latin-1",
    "iso8859-1": "latin-1",
    "us-ascii": "ascii",
    "ascii": "ascii",
    "utf-16": "utf-16",
    "utf-16le": "utf-16-le",
    "utf-16be": "utf-16-be",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
    "shift_jis": "shift_jis",
    "shift-jis": "shift_jis",
    "sjis": "shift_jis",
    "euc-jp": "euc_jp",
}


def detect_encoding(data: bytes, *, sniff_meta: bool = True) -> tuple[str, int]:
    """Return (python_codec_name, bom_length).

    Order of precedence (all deterministic):
    1. BOM
    2. declared charset (``charset=``) within the first 2048 bytes
    3. strict-UTF-8 probe
    4. latin-1 fallback (total function: every byte sequence decodes)
    """
    for bom, enc in _BOMS:
        if data.startswith(bom):
            # utf-8-sig strips its own BOM; explicit-endian UTF-16/32 do not.
            return enc, (0 if enc == "utf-8-sig" else len(bom))
    if sniff_meta:
        m = _CHARSET_RE.search(data[:2048])
        if m:
            declared = m.group(1).decode("ascii", "ignore").lower()
            enc = _ENCODING_ALIASES.get(declared)
            if enc is not None:
                try:
                    codecs.lookup(enc)
                    return enc, 0
                except LookupError:  # pragma: no cover - alias table is valid
                    pass
    try:
        data.decode("utf-8", "strict")
        return "utf-8", 0
    except UnicodeDecodeError:
        return "latin-1", 0


def decode_bytes(data: bytes, *, sniff_meta: bool = True) -> tuple[str, str]:
    """bytes -> (decoded_text, encoding_used); invalid bytes -> U+FFFD."""
    enc, bom_len = detect_encoding(data, sniff_meta=sniff_meta)
    return data[bom_len:].decode(enc, "replace"), enc


# Horizontal whitespace: ASCII space/tab + NBSP + the Unicode Zs runs the
# fixtures use.  Applied per line so newlines survive as structure.
_HSPACE_RE = re.compile("[ \\t\\xa0\\u2000-\\u200a\\u202f\\u205f\\u3000]+")
_MULTI_NL_RE = re.compile(r"\n{3,}")


def _collapse_hspace(line: str) -> str:
    """_HSPACE_RE.sub(" ", line), skipped when it is the identity: no tab,
    no double space and no other class member.  For ASCII that takes two
    memchr scans instead of the regex (≈20 µs -> ≈1 µs on typical block
    text).  Beyond ASCII every class member other than ' ' is a Zs
    separator, which str.isprintable() rejects in one C scan."""
    if line.isascii():
        if "\t" not in line and "  " not in line:
            return line
    elif line.isprintable() and "  " not in line:
        return line
    return _HSPACE_RE.sub(" ", line)


def canonical_whitespace(text: str) -> str:
    """Deterministic whitespace canonicalization.

    CRLF/CR -> LF; horizontal-whitespace runs -> single space; each line
    stripped; >=3 consecutive newlines -> exactly 2 (paragraph break);
    whole text stripped (reference strip(),
    /root/reference/pdf_extractor/extractors/text_extractor.py:56).
    """
    if "\n" not in text and "\r" not in text:
        # fast path for the dominant case (single-line block text): exactly
        # the general pipeline below collapsed — one line, no NL handling
        return _collapse_hspace(text).strip()
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    lines = [_collapse_hspace(ln).strip() for ln in text.split("\n")]
    text = "\n".join(lines)
    text = _MULTI_NL_RE.sub("\n\n", text)
    return text.strip()


def word_count(text: str) -> int:
    """``len(text.split())`` for canonical_whitespace output, without
    building the list.  Such text has no edge whitespace and no run of
    spaces; if it is also printable, ' ' is its only separator (every other
    str.split() separator is a control or separator character), so the
    count is the number of spaces plus one."""
    if not text:
        return 0
    if text.isprintable():
        return text.count(" ") + 1
    return len(text.split())


def normalize_text(text: str) -> str:
    """NFC normalize then whitespace-canonicalize (order matters: NFC can
    produce composed chars whose width class differs; we normalize first so
    span offsets index the final string)."""
    if not text.isascii():  # ASCII is NFC-invariant; skip the normalize call
        text = unicodedata.normalize("NFC", text)
    return canonical_whitespace(text)


def paragraph_spans(text: str) -> list[tuple[int, int]]:
    """(start, end) char offsets of paragraphs (blank-line separated) in the
    final normalized text."""
    spans: list[tuple[int, int]] = []
    pos = 0
    for para in text.split("\n\n"):
        if para:
            spans.append((pos, pos + len(para)))
        pos += len(para) + 2
    return spans


def tokenize_bytes(data: bytes, *, sniff_meta: bool = True) -> dict:
    """Full OP-65 kernel: bytes -> {text, encoding, spans}."""
    raw, enc = decode_bytes(data, sniff_meta=sniff_meta)
    text = normalize_text(raw)
    return {
        "text": text,
        "encoding": enc,
        "spans": paragraph_spans(text),
    }
