"""OCR-shaped chain (operators/ocr.py): word boxes projected from the shared
extraction pass, then the conf-filter / line-group / x-sort relational
stages."""

import hashlib
import re

import pandas as pd

from pdf_extractor_spark.operators.extract import with_extraction
from pdf_extractor_spark.operators.ocr import (
    ocr_lines,
    ocr_word_boxes_from_extraction,
)
from pdf_extractor_spark.schema import PAGES_INPUT_SCHEMA

SF = "/root/testdata/sf0.001"

_HTML = (
    b"<html><body><p>alpha beta gamma delta epsilon zeta eta theta iota "
    b"kappa lambda mu</p></body></html>"
)
_WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
          "mu").split()


def _pages(spark, doc_ids=(1,)):
    rows = [
        {"url": f"https://x/{d}", "warc_ts": None, "html": _HTML, "text": "",
         "lang": "en"}
        for d in doc_ids
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_INPUT_SCHEMA)
    return df.withColumn("doc_id", df.url.substr(11, 1).cast("long"))


def _boxes(pages, dpi=72):
    ext = with_extraction(pages).select("doc_id", "ext")
    return ocr_word_boxes_from_extraction(ext, dpi=dpi)


def _spec_boxes(text_by_doc, dpi):
    """The box spec restated from ``documents.text`` alone, as the q_ocr_lines
    oracle states it in SQL: docs past the 8-word DOM content gate, body
    whitespace collapsed, word idx at x = 72 + 90·(idx % 6),
    y = 720 - 16·(idx // 6) (scaled by dpi / 72), conf = 50 + 3·(first hex
    digit of md5(word))."""
    zoom = dpi / 72.0
    out = []
    for doc_id, text in text_by_doc.items():
        trimmed = text.strip(" ")
        if not trimmed or len(re.split(r"\s+", trimmed, flags=re.A)) < 8:
            continue
        body = re.sub(r"\s+", " ", trimmed, flags=re.A)
        for idx, w in enumerate(body.split(" ")):
            conf = 50 + 3 * int(hashlib.md5(w.encode()).hexdigest()[0], 16)
            out.append((doc_id, w, 72.0 * zoom + 90.0 * zoom * (idx % 6),
                        720.0 * zoom - 16.0 * zoom * (idx // 6), conf))
    return sorted(out)


def test_shared_pass_boxes_match_sql_spec(spark):
    """Boxes projected from the shared extraction pass over the wrapped
    documents equal the spec computed from ``documents.text``, at two
    rasterization dpis."""
    import pyarrow.parquet as pq

    from pdf_extractor_spark.operators.pipeline_queries import (
        pages_from_documents,
    )

    docs = pq.read_table(f"{SF}/documents.parquet",
                         columns=["doc_id", "text"]).to_pydict()
    text_by_doc = dict(zip(docs["doc_id"], docs["text"]))
    pages = pages_from_documents(spark, SF)
    for dpi in (72, 144):
        got = sorted(
            (r["doc_id"], r["w"], r["x0"], r["y0"], r["conf"])
            for r in _boxes(pages, dpi=dpi).collect()
        )
        assert got == _spec_boxes(text_by_doc, dpi) and got


def test_ocr_lines_sorts_reverse_order_boxes(spark):
    """Boxes fed in reverse reading order through one partition (so
    collect_list sees them reversed) still reassemble left to right: the
    (y, x) sort is load-bearing."""
    rows = [(1, w, 72.0 + 90.0 * (i % 6), 720.0 - 16.0 * (i // 6), 90)
            for i, w in enumerate(_WORDS)][::-1]
    boxes = spark.createDataFrame(
        rows, "doc_id long, w string, x0 double, y0 double, conf long"
    ).coalesce(1)
    lines = {r["line_no"]: r["line_text"]
             for r in ocr_lines(boxes).collect()}
    assert lines == {0: " ".join(_WORDS[:6]), 1: " ".join(_WORDS[6:])}


def test_conf_is_pure_function_of_word(spark):
    rows = _boxes(_pages(spark, doc_ids=(1, 2))).collect()
    assert len(rows) == 2 * len(_WORDS)
    by_word = {}
    for r in rows:
        assert 50 <= r["conf"] <= 95
        assert by_word.setdefault(r["w"], r["conf"]) == r["conf"]


def test_lines_reassemble_in_reading_order(spark):
    lines = {
        r["line_no"]: r["line_text"]
        for r in ocr_lines(_boxes(_pages(spark))).collect()
    }
    assert lines
    for line_no, text in lines.items():
        words = text.split(" ")
        # within a line, surviving words keep original (x) order
        idxs = [_WORDS.index(w) for w in words]
        assert idxs == sorted(idxs)
        assert all(line_no == _WORDS.index(w) // 6 for w in words)


def test_dpi_zoom_is_output_invariant(spark):
    """OP-22 (reference zoom = dpi/72): boxes scale with the raster DPI, but
    line output is identical — recognition resolution must not change what
    was read."""
    pages = _pages(spark)
    base = sorted(
        tuple(r) for r in ocr_lines(_boxes(pages, dpi=72), dpi=72).collect()
    )
    hi = sorted(
        tuple(r) for r in ocr_lines(_boxes(pages, dpi=144), dpi=144).collect()
    )
    assert base == hi and base
    # and the boxes themselves really did scale
    b72 = {(r["w"], r["x0"], r["y0"]) for r in _boxes(pages, dpi=72).collect()}
    b144 = {(r["w"], r["x0"] / 2, r["y0"] / 2)
            for r in _boxes(pages, dpi=144).collect()}
    assert b72 == b144
