"""CLI parity layer (reference main.py flags over api.py) on the fixture
corpus — in-process with the shared session so no second JVM spins up."""

import csv
import json
import random

import pytest

from pdf_extractor_spark.cli import main, parse_arguments
from pdf_extractor_spark.sources.synth import make_html, make_pdf


@pytest.fixture()
def doc_dir(tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    rng = random.Random(3)
    (d / "a.pdf").write_bytes(make_pdf(rng, 1, n_pages=3)[0])
    (d / "b.pdf").write_bytes(make_pdf(rng, 2, n_pages=2, dialect="modern")[0])
    (d / "c.html").write_bytes(make_html(rng, 3, "en"))
    return d


def test_cli_extract_writes_datasets(spark, tmp_path, doc_dir, capsys):
    out = tmp_path / "out"
    rc = main([str(doc_dir), "--output-dir", str(out),
               "--image-format", "webp"], spark=spark)
    assert rc == 0
    captured = capsys.readouterr().out
    assert "EXTRACTION COMPLETE" in captured
    assert "Documents processed: 3" in captured
    assert "Pages processed: 6" in captured  # 3 + 2 + 1
    docs = spark.read.parquet(str(out / "docs"))
    assert docs.count() == 3
    assert {r["kind"] for r in docs.select("kind").collect()} == {"pdf", "html"}
    imgs = spark.read.parquet(str(out / "images"))
    # --image-format override renames artifacts without crashing (the
    # reference's main.py:135 crashes on this flag)
    for r in imgs.select("artifact_name").collect():
        assert r["artifact_name"].endswith(".webp")
        # exactly one suffix swap: no doubled '.webp.webp' (zero-width
        # second regex match) and the stem survives
        assert not r["artifact_name"].endswith(".webp.webp")
        assert r["artifact_name"].startswith("page_")
    assert (out / "json").is_dir() and (out / "tables").is_dir()


def test_cli_analyze_prints_json(spark, doc_dir, capsys):
    rc = main([str(doc_dir), "--analyze"], spark=spark)
    assert rc == 0
    rows = json.loads(capsys.readouterr().out)
    assert len(rows) == 6
    assert {"url", "page_number", "text_length", "image_count",
            "table_count", "link_count", "block_count"} <= set(rows[0])


def test_cli_toggles_and_pages(spark, tmp_path, doc_dir):
    out = tmp_path / "out2"
    rc = main([str(doc_dir), "--output-dir", str(out), "--no-images",
               "--no-tables", "--no-json", "--no-text", "--pages", "1,2"],
              spark=spark)
    assert rc == 0
    assert not (out / "images").exists()
    assert not (out / "tables").exists()
    assert not (out / "json").exists()
    docs = spark.read.parquet(str(out / "docs"))
    assert "text" not in docs.columns


def _json_docs(out):
    return [json.loads(ln) for f in sorted((out / "json").glob("part-*"))
            for ln in f.read_text().splitlines()]


def _csv_rows(out):
    return [r for f in sorted((out / "tables").glob("part-*.csv"))
            for r in csv.DictReader(f.read_text().splitlines())]


@pytest.mark.parametrize("extra", [[], ["--pages", "1"]])
def test_cli_no_text_keeps_text_out_of_json(spark, tmp_path, doc_dir, extra):
    """The JSON rows are built from the docs table as written: --no-text
    drops the text from both, with or without --pages."""
    out = tmp_path / "out"
    assert main([str(doc_dir), "--output-dir", str(out), "--no-text",
                 "--no-images", "--no-tables"] + extra, spark=spark) == 0
    docs = spark.read.parquet(str(out / "docs"))
    rows = _json_docs(out)
    assert len(rows) == docs.count() == 3
    for r in rows:
        assert "text" not in r and "total_chars" in r
        assert set(r) <= set(docs.columns) - {"metadata_json"}


def test_cli_pages_filters_every_written_artifact(spark, tmp_path, doc_dir):
    """--pages must shape the OUTPUT datasets, not just the summary: each
    doc keeps only the requested pages, every docs column describes those
    pages alone, and a doc that has none of them is in no artifact."""
    import pyspark.sql.functions as F

    from pdf_extractor_spark.kernels.dispatch import extract_document
    from pdf_extractor_spark.operators.extract import _doc_row
    from pdf_extractor_spark.schema import DOC_SCHEMA
    from pdf_extractor_spark.sources.synth import make_table_spec

    rng = random.Random(5)
    (doc_dir / "d.pdf").write_bytes(make_pdf(
        rng, 4, n_pages=2, with_images=False,
        page_tables=[make_table_spec(rng), make_table_spec(rng)])[0])
    (doc_dir / "e.html").write_bytes(
        b"<html><body><p>one two three four five six seven eight nine</p>"
        b"<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr>"
        b"</table></body></html>")
    payloads = {f.resolve().as_uri(): f.read_bytes()
                for f in doc_dir.iterdir()}
    html_urls = {u for u in payloads if u.endswith(".html")}

    def expected_docs(keep):
        want = {}
        for url, b in payloads.items():
            r = extract_document(b)
            kept = [p for p in r["pages"] if p["page_number"] in keep]
            if kept:
                want[url] = {**_doc_row({**r, "pages": kept}),
                             "n_bytes": len(b)}
        return want

    for keep in ([1], [2]):
        out = tmp_path / f"out{keep[0]}"
        rc = main([str(doc_dir), "--output-dir", str(out), "--pages",
                   str(keep[0]), "--min-image-size", "1"], spark=spark)
        assert rc == 0
        want = expected_docs(keep)
        docs = spark.read.parquet(str(out / "docs"))
        assert {f.name for f in DOC_SCHEMA.fields} <= set(docs.columns)
        got = {r["url"]: r.asDict() for r in docs.collect()}
        assert set(got) == set(want)
        for url, row in want.items():
            for col, value in row.items():
                assert got[url][col] == value, (url, col)
        assert {r["url"] for r in _json_docs(out)} == set(want)
        imgs = spark.read.parquet(str(out / "images"))
        assert {r["page_number"] for r in imgs.collect()} == set(keep)
        tables = _csv_rows(out)
        assert tables and {int(r["page_number"]) for r in tables} == set(keep)
        if keep == [2]:
            assert not html_urls & set(want)
            assert not html_urls & {r["url"] for r in imgs.collect()}
            assert not html_urls & {r["url"] for r in tables}
        pdf_text = docs.filter(F.col("kind") == "pdf").select("text").collect()
        for r in pdf_text:
            assert f"=== Page {keep[0]} ===" in r["text"]
            assert f"=== Page {3 - keep[0]} ===" not in r["text"]


def test_cli_bad_pages_and_missing_input(spark, tmp_path):
    assert main(["nonexistent-dir-xyz"], spark=spark) == 1
    assert main([str(tmp_path), "--pages", "1,x"], spark=spark) == 1


def test_cli_flag_surface_matches_reference():
    """Every reference main.py flag exists here (parity check by name)."""
    ns = parse_arguments(["in", "--output-dir", "o", "--pages", "1",
                          "--no-text", "--no-images", "--no-tables",
                          "--image-format", "png", "--min-image-size", "64",
                          "--analyze", "--verbose", "--no-json"])
    assert ns.min_image_size == 64 and ns.image_format == "png"
