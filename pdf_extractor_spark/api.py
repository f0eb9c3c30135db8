"""Reference-shaped convenience API (switching guide for reference users).

Every public entry point of the reference maps to one function here; each
returns a DataFrame (lazy, cluster-scale) instead of an eager dataclass
tree.  Reference surface -> Spark surface:

| reference | here |
|---|---|
| ``PDFExtractor.extract(pdf, pages=...)``  (core/extractor.py:90-194) | ``extract(df, pages=...)`` |
| ``PDFExtractor.extract_text_only``        (core/extractor.py:235-241) | ``extract_text_only(df)`` |
| ``PDFExtractor.extract_images_only``      (core/extractor.py:243-258) | ``extract_images_only(df)`` |
| ``PDFExtractor.extract_tables_only``      (core/extractor.py:260-273) | ``extract_tables_only(df)`` |
| ``PDFExtractor.analyze_pdf``              (core/extractor.py:275-294) | ``analyze(df)`` |
| ``TableExtractor.detect_tables`` count-only (table_extractor.py:217-248) | ``detect_tables(df)`` |
| JSON document sink                        (extraction_result.py:133-140) | ``to_json_rows(df)`` |

``df`` is always the input-hint pages table
``(url, warc_ts, html:binary, text, lang)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.extract import with_extraction
from .plans.pipeline import (
    docs_json_rows,
    extracted_docs,
    extracted_images,
    extracted_pages,
    extracted_tables,
)

__all__ = [
    "extract",
    "extract_text_only",
    "extract_images_only",
    "extract_tables_only",
    "analyze",
    "detect_tables",
    "to_json_rows",
]


def extract(df: DataFrame, pages: list[int] | None = None) -> DataFrame:
    """Full extraction -> page-level long table.  ``pages`` reproduces the
    reference's 1-indexed page-subset parameter (core/extractor.py:119-120,
    OP-03): the kernel pass keeps only those pages, and a document that has
    none of them yields no row."""
    return extracted_pages(with_extraction(df, pages=pages), has_ext=True)


def extract_text_only(df: DataFrame) -> DataFrame:
    """Doc-level text + counts (reference extract_text_only) — runs the
    docs-only kernel path: no page tree crosses the Arrow boundary."""
    return extracted_docs(df).select(
        "url", "kind", "status", "title", "n_pages", "text",
        "total_chars", "total_words",
    )


def extract_images_only(df: DataFrame, min_width: int = 50,
                        min_height: int = 50) -> DataFrame:
    return extracted_images(df, min_width=min_width, min_height=min_height)


def extract_tables_only(df: DataFrame) -> DataFrame:
    return extracted_tables(df)


def analyze(df: DataFrame) -> DataFrame:
    """Per-page structure stats without materializing content (reference
    analyze_pdf, core/extractor.py:275-294): text length, image/table/link
    counts per page + the table-count enrich join folded into one pass."""
    p = extracted_pages(df)
    return p.select(
        "url", "page_number",
        F.col("char_count").alias("text_length"),
        F.size("images").alias("image_count"),
        F.size("tables").alias("table_count"),
        F.size("links").alias("link_count"),
        F.size("blocks").alias("block_count"),
    )


def detect_tables(df: DataFrame) -> DataFrame:
    """Count-only table detection (reference find_tables / detect_tables,
    table_extractor.py:217-248): {url, page -> n_tables} with the table DATA
    column never touched downstream (Catalyst prunes the other page fields
    at the explode)."""
    return (
        extracted_pages(df)
        .select("url", "page_number", F.size("tables").alias("n_tables"))
        .filter(F.col("n_tables") > 0)
    )


def to_json_rows(df: DataFrame) -> DataFrame:
    """JSON document sink shape (OP-07; extraction_result.py:133-140):
    one JSON string per document, UTF-8, non-ASCII preserved — write with
    ``df.write.text`` for the reference's file-per-doc analogue."""
    return docs_json_rows(extracted_docs(df))
