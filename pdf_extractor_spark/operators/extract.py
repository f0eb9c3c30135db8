"""The extraction kernel's one Spark boundary (SURVEY.md OP-59/60/61/64/65).

One arrow_udf runs ``extract_document`` -> ``_doc_row`` per Arrow batch in a
single Python round trip, with no pandas frame on either side of the kernel
(no per-row Python at the Spark level, per BASELINE.json input_hint), and
attaches a struct column ``ext``.  Replaces the reference's triple document
parse (/root/reference/pdf_extractor/core/extractor.py:116,149,201) with a
single kernel pass per document.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from ..kernels.dispatch import assemble_doc_text, extract_document
from ..schema import DOC_SCHEMA, EXTRACTION_SCHEMA

__all__ = ["with_doc_columns", "with_extraction"]


def _payloads(col: pa.Array) -> list[bytes]:
    """A binary Arrow column as bytes; a null payload extracts as empty."""
    return [b if b is not None else b"" for b in col.to_pylist()]


def _doc_row(r: dict) -> dict:
    """The docs-table columns (schema.DOC_SCHEMA) of one extraction result:
    the per-doc summary of the reference (extraction_result.py:100-130).
    Every docs-table path builds its columns here and nowhere else.
    Metadata is canonical JSON: sorted keys, compact separators."""
    pages = r["pages"]
    return {
        "kind": r["kind"], "status": r["status"], "error": r["error"],
        "title": r["title"], "n_pages": len(pages),
        "text": assemble_doc_text(r),
        "total_chars": sum(p["char_count"] for p in pages),
        "total_words": sum(p["word_count"] for p in pages),
        "total_text_blocks": sum(len(p["blocks"]) for p in pages),
        "total_images": sum(len(p["images"]) for p in pages),
        "total_tables": sum(len(p["tables"]) for p in pages),
        "total_links": sum(len(p["links"]) for p in pages),
        "metadata_json": json.dumps(r["metadata"], sort_keys=True,
                                    ensure_ascii=False, separators=(",", ":")),
    }


def _kernel_udf(schema, keep: set | None = None):
    """The kernel as an arrow_udf from the payload to a ``schema`` struct:
    DOC_SCHEMA (the flat docs-table columns) or EXTRACTION_SCHEMA (plus the
    costly ``pages`` tree).  ``keep``
    (1-indexed page numbers) cuts each document's pages before ``_doc_row``
    builds its columns; a document that keeps none returns null."""
    arrow_type = to_arrow_type(schema)

    @arrow_udf(schema)
    def extract(payload: pa.Array) -> pa.Array:
        rows = []
        for b in _payloads(payload):
            r = extract_document(b)
            if keep is not None:
                r["pages"] = [p for p in r["pages"] if p["page_number"] in keep]
                if not r["pages"]:
                    rows.append(None)
                    continue
            # pa.array reads only the type's fields: DOC_SCHEMA drops pages
            rows.append({**_doc_row(r), "pages": r["pages"]})
        return pa.array(rows, type=arrow_type)

    return extract


def with_doc_columns(df):
    """Attach ``ext``: the docs-table columns (schema.DOC_SCHEMA) as one
    struct, for runs that never read the page tree."""
    return df.withColumn("ext", _kernel_udf(DOC_SCHEMA)(F.col("html")))


def with_extraction(df, pages: list[int] | None = None):
    """Attach ``ext``: the docs-table columns plus the ``pages`` tree
    (schema.EXTRACTION_SCHEMA); the payload stays.  ``pages`` (1-indexed,
    reference core/extractor.py:119-120) is the kernel's page subset; a
    document that keeps no page is dropped."""
    if not pages:
        return df.withColumn("ext", _kernel_udf(EXTRACTION_SCHEMA)(F.col("html")))
    # Nondeterministic only so that the optimizer cannot push the filter
    # below the projection: that would copy the kernel call into the filter
    # and run every document twice.
    extract = _kernel_udf(EXTRACTION_SCHEMA, set(pages)).asNondeterministic()
    return df.withColumn("ext", extract(F.col("html"))).filter(
        F.col("ext").isNotNull())
