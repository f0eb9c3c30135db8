"""Spark-equals-kernel layer (SURVEY.md §5.2 layer 2).

The distributed pipeline must reproduce the committed goldens byte-for-byte
per url — the BASELINE.json invariant — and per-page structural counts must
match reference summary semantics (extraction_result.py:100-130).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.plans.pipeline import (
    extracted_docs,
    extracted_pages,
    route_oversized,
)
from pdf_extractor_spark.schema import PAGES_INPUT_SCHEMA
from tests.gen_fixtures import GOLDEN_DIR, doc_key, fixture_rows


@pytest.fixture(scope="module")
def fixture_df(spark):
    rows = fixture_rows()
    pdf = pd.DataFrame(rows)
    return spark.createDataFrame(pdf, schema=PAGES_INPUT_SCHEMA).repartition(8)


def _goldens() -> dict[str, bytes]:
    return {p.stem: p.read_bytes() for p in GOLDEN_DIR.glob("*.txt")}


def test_spark_text_byte_identity(spark, fixture_df):
    got = {
        doc_key(r["url"]): r["text"].encode("utf-8")
        for r in extracted_docs(fixture_df).select("url", "text").collect()
    }
    golden = _goldens()
    assert set(got) == set(golden)
    mismatched = [k for k in golden if got[k] != golden[k]]
    assert not mismatched, f"byte drift for {mismatched[:5]}"


def test_spark_structural_counts(spark, fixture_df):
    import json

    rows = extracted_docs(fixture_df).select(
        "url", "kind", "status", "n_pages", "total_chars", "total_words",
        "total_text_blocks", "total_images", "total_tables",
    ).collect()
    for r in rows:
        g = json.loads((GOLDEN_DIR / f"{doc_key(r['url'])}.json").read_text())
        assert r["kind"] == g["kind"] and r["status"] == g["status"]
        assert r["n_pages"] == g["n_pages"]
        assert r["total_chars"] == g["total_chars"]
        assert r["total_words"] == g["total_words"]
        assert r["total_text_blocks"] == g["total_text_blocks"]
        assert r["total_images"] == g["total_images"]
        assert r["total_tables"] == g["total_tables"]


def test_pages_table_shape(spark, fixture_df):
    pages = extracted_pages(fixture_df)
    rows = pages.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("page_number").alias("max_page"),
    ).collect()
    by_kind = {r["kind"]: r for r in rows}
    assert by_kind["pdf"]["max_page"] >= 2  # multi-page PDFs exploded
    assert by_kind["html"]["max_page"] == 1


def test_route_oversized_partitions(spark, fixture_df):
    routed = route_oversized(fixture_df, parts=8, threshold=1 << 16)
    assert routed.count() == fixture_df.count()  # no rows lost
    # oversized docs exist in the fixture corpus and survive routing
    big = routed.filter(F.length("html") > (1 << 16)).count()
    assert big >= 1


def test_parallelism_invariance(spark, fixture_df):
    """Same input, different partitioning -> byte-identical output
    (determinism guard behind the N-vs-4N scaling claim, SURVEY.md §4.3.4)."""
    a = extracted_docs(fixture_df.repartition(2)).select("url", "text")
    b = extracted_docs(fixture_df.repartition(17)).select("url", "text")
    assert {(r["url"], r["text"]) for r in a.collect()} == \
           {(r["url"], r["text"]) for r in b.collect()}


def test_slim_equals_shared_pass(spark, fixture_df):
    """One docs-table shape (schema.DOC_SCHEMA): the docs-only kernel pass
    must equal the docs table selected from persisted_extraction's struct
    pass on every output column, null and empty payloads included (both
    read ``n_bytes == 0``)."""
    from pdf_extractor_spark.plans.pipeline import persisted_extraction

    edge = spark.createDataFrame(
        [("https://edge.example.net/s/null-payload", None, None, "", "nl"),
         ("https://edge.example.net/s/empty-payload", None, b"", "", None)],
        PAGES_INPUT_SCHEMA,
    )
    df = fixture_df.unionByName(edge)
    slim = extracted_docs(df)
    ext = persisted_extraction(df)
    try:
        shared = extracted_docs(ext, has_ext=True)
        # Column ORDER and every value — including the canonical
        # metadata_json — must match, so docs-table bytes don't depend on
        # write_pages_table mode.
        assert slim.columns == shared.columns
        got = shared.collect()
    finally:
        ext.unpersist()
    cols = slim.columns
    assert ({tuple(r[c] for c in cols) for r in slim.collect()}
            == {tuple(r[c] for c in cols) for r in got})
    n_bytes = {r["url"]: r["n_bytes"] for r in got
               if r["url"].startswith("https://edge.example.net/s/")}
    assert n_bytes == {"https://edge.example.net/s/null-payload": 0,
                       "https://edge.example.net/s/empty-payload": 0}


def _project(value, dtype):
    """A kernel value cut to its Spark type's shape, as collect() returns it."""
    from pyspark.sql import types as T

    if value is None:
        return None
    if isinstance(dtype, T.StructType):
        return {f.name: _project(value.get(f.name), f.dataType) for f in dtype.fields}
    if isinstance(dtype, T.ArrayType):
        return [_project(v, dtype.elementType) for v in value]
    return value


def test_arrow_boundary_across_batch_edges(spark):
    """Both kernel passes trade Arrow batches with the JVM.  With three rows
    per batch, a null and an empty payload and an extra int column, every
    docs row must equal the driver-side _doc_row of its own payload and keep
    its own pass-through columns, and every doc's pages must equal its
    driver-side tree."""
    import datetime as dt

    from pyspark.sql import types as T

    from pdf_extractor_spark.kernels.dispatch import extract_document
    from pdf_extractor_spark.operators.extract import _doc_row, with_extraction
    from pdf_extractor_spark.schema import DOC_SCHEMA, PAGE_SCHEMA

    ts = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    rows = fixture_rows() + [
        {"url": "https://edge.example.net/t/null-payload", "warc_ts": ts,
         "html": None, "text": "", "lang": "nl"},
        {"url": "https://edge.example.net/t/empty-payload", "warc_ts": None,
         "html": b"", "text": "", "lang": None},
    ]
    schema = T.StructType(PAGES_INPUT_SCHEMA.fields + [T.StructField("seq", T.IntegerType())])
    df = spark.createDataFrame(
        [tuple(r[f] for f in PAGES_INPUT_SCHEMA.names) + (i,) for i, r in enumerate(rows)],
        schema,
    ).repartition(4)
    passthrough = ["url", "warc_ts", "lang", "seq"]
    inputs = {r["seq"]: r for r in df.select(*passthrough).collect()}
    results = [extract_document(r["html"] or b"") for r in rows]

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        docs = extracted_docs(df).collect()
        pages = extracted_pages(with_extraction(df)).collect()
    finally:
        spark.conf.set(key, old)

    assert sorted(r["seq"] for r in docs) == list(range(len(rows)))
    for got in docs:
        i = got["seq"]
        assert tuple(got[c] for c in passthrough) == tuple(inputs[i]), i
        want = _doc_row(results[i])
        assert {f.name: got[f.name] for f in DOC_SCHEMA.fields} == want, rows[i]["url"]
        assert got["n_bytes"] == len(rows[i]["html"] or b"")

    page_cols = [f.name for f in PAGE_SCHEMA.fields]
    got_pages: dict[str, list] = {}
    for p in pages:
        got_pages.setdefault(p["url"], []).append(p)
    assert set(got_pages) == {r["url"] for r in rows}
    for row, result in zip(rows, results):
        got = sorted(got_pages[row["url"]], key=lambda p: p["page_number"] or 0)
        assert all(p["kind"] == result["kind"] for p in got), row["url"]
        want = [_project(p, PAGE_SCHEMA) for p in result["pages"]] or [
            dict.fromkeys(page_cols)]
        got = [p.asDict(recursive=True) for p in got]
        assert [{c: p[c] for c in page_cols} for p in got] == want, row["url"]


def test_corrupt_payloads_surface_as_error_rows(spark):
    """Invalid/corrupt payloads must become status='error' side-channel rows
    (OP-32 mapping), never task failures — end-to-end through the slim path."""
    import pandas as pd

    from pdf_extractor_spark.schema import PAGES_INPUT_SCHEMA

    rows = [
        {"url": "https://x/ok", "warc_ts": None,
         "html": b"<html><body><p>good doc with enough words to classify as content here</p></body></html>",
         "text": "", "lang": "en"},
        {"url": "https://x/truncpdf", "warc_ts": None,
         "html": b"%PDF-1.4\ngarbage no xref", "text": "", "lang": "en"},
        {"url": "https://x/null", "warc_ts": None, "html": None,
         "text": "", "lang": "en"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_INPUT_SCHEMA)
    got = {r["url"]: r for r in extracted_docs(df).collect()}
    assert got["https://x/ok"]["status"] == "ok"
    assert got["https://x/ok"]["text"].startswith("good doc")
    assert got["https://x/truncpdf"]["status"] == "error"
    assert got["https://x/truncpdf"]["error"]
    assert got["https://x/null"]["status"] in ("ok", "error")  # never raises


def test_driver_heap_fits_physical_ram(spark):
    """The session's driver heap is no larger than physical RAM: a 32g
    default on a 16 GB machine let the test JVM grow until the kernel
    OOM-killed it mid-suite."""
    import os
    import re

    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    num, unit = re.fullmatch(r"(\d+)([kmgt]?)b?", conf.lower()).groups()
    heap = int(num) << {"k": 10, "": 20, "m": 20, "g": 30, "t": 40}[unit]
    assert heap <= os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
