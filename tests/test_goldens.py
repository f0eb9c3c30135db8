"""Golden byte-identity layer (SURVEY.md §5.2 layer 1).

Recompute extraction over the fixture corpus and compare byte-for-byte
against the committed goldens — any kernel behavior drift fails here first.
"""

import json
from pathlib import Path

from pdf_extractor_spark.kernels.dispatch import assemble_doc_text
from tests.gen_fixtures import GOLDEN_DIR, compute_goldens, doc_key, fixture_rows


def test_goldens_exist():
    assert GOLDEN_DIR.is_dir()
    assert len(list(GOLDEN_DIR.glob("*.txt"))) >= 120


def test_byte_identity_vs_goldens():
    rows = fixture_rows()
    goldens = compute_goldens(rows)
    assert len(goldens) == len(rows)
    for key, (text_bytes, summary) in goldens.items():
        disk_txt = (GOLDEN_DIR / f"{key}.txt").read_bytes()
        assert disk_txt == text_bytes, f"text drift for {key}"
        disk_sum = json.loads((GOLDEN_DIR / f"{key}.json").read_text())
        assert disk_sum == summary, f"summary drift for {key}"


def test_assemble_doc_text_orders_pages():
    """The goldens' text oracle orders pdf pages by page_number, never by
    list order, and passes a single-page kind's text through unbannered."""
    pdf = {"kind": "pdf", "pages": [{"page_number": 2, "text": "second"},
                                    {"page_number": 1, "text": "first"}]}
    html = {"kind": "html", "pages": [{"page_number": 1, "text": "only"}]}
    assert assemble_doc_text(pdf) == (
        "=== Page 1 ===\nfirst\n\n=== Page 2 ===\nsecond")
    assert assemble_doc_text(html) == "only"


def test_no_orphan_goldens():
    keys = {doc_key(r["url"]) for r in fixture_rows()}
    on_disk = {p.stem for p in GOLDEN_DIR.glob("*.txt")}
    assert on_disk == keys


def test_corpus_dialect_mix():
    rows = fixture_rows()
    kinds = [r["url"].split("/")[-2] for r in rows if "edge" not in r["url"]]
    n = len(kinds)
    assert 0.55 < kinds.count("html") / n < 0.85
    assert 0.08 < kinds.count("pdf") / n < 0.35
    assert kinds.count("raw") > 0


def test_oversized_docs_present():
    sizes = [len(r["html"]) for r in fixture_rows()]
    assert max(sizes) >= 1 << 17  # memory-bounding fixture (FIXTURES.md §1)
