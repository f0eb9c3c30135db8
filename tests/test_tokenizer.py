"""OP-65 tokenizer kernel tests (FIXTURES.md dialect C)."""

import unicodedata

import pytest

from pdf_extractor_spark.kernels.tokenizer import (
    canonical_whitespace,
    decode_bytes,
    detect_encoding,
    normalize_text,
    paragraph_spans,
    tokenize_bytes,
)


@pytest.mark.parametrize(
    "data,expected_enc",
    [
        (b"\xef\xbb\xbfhello", "utf-8-sig"),
        ("hi".encode("utf-16"), "utf-16-le"),
        ("hi".encode("utf-16-be"), "utf-16-be"),  # no BOM from -be codec... see below
        (b"plain ascii", "utf-8"),
        (b"caf\xe9 latin", "latin-1"),
        (b'<meta charset="iso-8859-1">caf\xe9', "latin-1"),
        (b'<meta charset="UTF-8">ok', "utf-8"),
    ],
)
def test_detect_encoding(data, expected_enc):
    # note: "hi".encode("utf-16") includes a LE BOM on this platform;
    # "utf-16-be" has no BOM and falls through to the utf-8/latin-1 probe.
    enc, _ = detect_encoding(data)
    if data == "hi".encode("utf-16-be"):
        assert enc in ("utf-8", "latin-1")
    else:
        assert enc == expected_enc


def test_bom_stripped():
    text, enc = decode_bytes(b"\xef\xbb\xbfhello")
    assert text == "hello" and enc == "utf-8-sig"
    text, enc = decode_bytes("hello".encode("utf-16"))
    assert text == "hello"


def test_invalid_bytes_replacement_deterministic():
    data = b"ok \xff\xfe then"
    t1, _ = decode_bytes(data)
    t2, _ = decode_bytes(data)
    assert t1 == t2  # fixed replacement policy


def test_canonical_whitespace():
    assert canonical_whitespace("a\r\nb\rc") == "a\nb\nc"
    assert canonical_whitespace("a \t  b") == "a b"
    assert canonical_whitespace("x\n\n\n\n\ny") == "x\n\ny"
    assert canonical_whitespace("  lead \n trail  ") == "lead\ntrail"
    assert canonical_whitespace("a\xa0 b　c") == "a b c"


def test_nfc_normalization():
    nfd = unicodedata.normalize("NFD", "café")
    assert normalize_text(nfd) == "café"
    assert len(normalize_text(nfd)) == 4


def test_paragraph_spans_index_final_text():
    r = tokenize_bytes(b"first para\n\n\nsecond one\ttabbed")
    text = r["text"]
    assert [text[s:e] for s, e in r["spans"]] == ["first para", "second one tabbed"]


def test_empty_and_ws_only():
    assert tokenize_bytes(b"")["text"] == ""
    assert tokenize_bytes(b"  \r\n \t ")["text"] == ""
    assert paragraph_spans("") == []


def test_crlf_vs_lf_converge():
    a = tokenize_bytes(b"p1\r\n\r\np2")["text"]
    b = tokenize_bytes(b"p1\n\np2")["text"]
    assert a == b == "p1\n\np2"


def test_hspace_fast_path_equivalence():
    """The ASCII no-tab no-double-space fast path must be byte-equivalent
    to the _HSPACE_RE pipeline on adversarial single-line strings."""
    import random

    from pdf_extractor_spark.kernels.tokenizer import (
        _HSPACE_RE,
        canonical_whitespace,
    )

    rng = random.Random(7)
    alphabet = (list("ab c\t") +
                ["\xa0", " ", "　", " ", "  ", "x",
                 "\x0b", "\f", "\x85"])
    for _ in range(20000):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        assert canonical_whitespace(s) == _HSPACE_RE.sub(" ", s).strip(), repr(s)


def test_hspace_identity_fast_path_beyond_ascii():
    """Non-ASCII lines skip the _HSPACE_RE sub when it is the identity;
    the result must equal the full pipeline on lines and multi-line text."""
    import random

    from pdf_extractor_spark.kernels.tokenizer import _HSPACE_RE, _MULTI_NL_RE

    rng = random.Random(11)
    alphabet = (list("ab c\t\n") +
                ["\xe9", "\xdf", "\u6f22", "\xa0", "\u2000", "\u3000", "\u202f",
                 "\u205f", "\u200a", "\u1680", "\u200b", "\x0b", "\x85", "  ", "\r\n"])
    for _ in range(20000):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 14)))
        lines = s.replace("\r\n", "\n").replace("\r", "\n").split("\n")
        want = _MULTI_NL_RE.sub(
            "\n\n", "\n".join(_HSPACE_RE.sub(" ", ln).strip() for ln in lines)).strip()
        assert canonical_whitespace(s) == want, repr(s)


def test_every_split_separator_but_space_is_unprintable():
    """word_count's premise: a printable string's only str.split()
    separator is ' ' (checked over every code point)."""
    import sys

    seps = [c for c in map(chr, range(sys.maxunicode + 1))
            if len(("a" + c + "b").split()) == 2]
    assert " " in seps and len(seps) > 20
    assert [c for c in seps if c != " " and c.isprintable()] == []


def test_word_count_equals_split_on_canonical_text():
    import random

    from pdf_extractor_spark.kernels.tokenizer import word_count

    rng = random.Random(12)
    alphabet = list("ab c\t\n\n") + ["\xe9", "\xa0", "\u3000", "\x0b", "\x1c",
                                       "\u2028", "\x85", "\u1680", "  ", "\u200b"]
    for _ in range(20000):
        text = normalize_text("".join(rng.choice(alphabet)
                                      for _ in range(rng.randint(0, 16))))
        assert word_count(text) == len(text.split()), repr(text)
    # paragraphs of canonical text (the raw kernel's blocks) qualify too
    text = normalize_text("one two\nthree\n\n\nfour \u3000five")
    assert [word_count(text[s:e]) for s, e in paragraph_spans(text)] == [3, 2]
