"""Vectorized extraction passes (SURVEY.md OP-59/60/61/64/65 as one Arrow pass).

Both passes trade pyarrow data with the JVM: each Arrow batch is processed in
a single Python round trip, and no pandas frame is built on either side of
the kernel (no per-row Python at the Spark level, per BASELINE.json
input_hint).  Replaces the reference's triple document parse
(/root/reference/pdf_extractor/core/extractor.py:116,149,201) with a single
kernel pass per document.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from ..kernels.dispatch import assemble_doc_text, extract_document
from ..schema import DOC_SCHEMA, EXTRACTION_SCHEMA

__all__ = ["with_extraction", "extracted_docs_frame"]

_DOC_ARROW = to_arrow_schema(DOC_SCHEMA)
_EXTRACTION_ARROW = to_arrow_type(EXTRACTION_SCHEMA)


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


def extracted_docs_frame(df, payload_col: str = "html"):
    """Input pages frame -> flat doc-level frame via ONE mapInArrow pass.

    Only the docs-table scalars cross Arrow: serializing the full nested
    tree (thousands of block structs per big doc) costs ~5x the kernel
    itself.  All input columns except the payload and the (empty) input
    ``text`` pass through, as the very Arrow arrays they arrived as.
    """
    passthrough = [
        f for f in df.schema.fields if f.name not in (payload_col, "text")
    ]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}"
         for f in passthrough + DOC_SCHEMA.fields]
        + ["n_bytes long"]
    )
    pass_names = [f.name for f in passthrough]
    out_names = pass_names + _DOC_ARROW.names + ["n_bytes"]

    def run(batches):
        for batch in batches:
            payloads = _payloads(batch.column(payload_col))
            rows = [_doc_row(extract_document(b)) for b in payloads]
            cols = [batch.column(n) for n in pass_names]
            cols += [pa.array([r[f.name] for r in rows], type=f.type)
                     for f in _DOC_ARROW]
            cols.append(pa.array([len(b) for b in payloads], type=pa.int64()))
            yield pa.RecordBatch.from_arrays(cols, names=out_names)

    return df.mapInArrow(run, schema=out_schema)


def with_extraction(df, payload_col: str = "html", out_col: str = "ext",
                    pages: list[int] | None = None):
    """Attach the full extraction struct column: the docs-table columns plus
    the ``pages`` tree.  Callers select/prune fields so only needed data
    crosses later shuffles.

    ``pages`` (1-indexed, reference core/extractor.py:119-120) keeps only
    those pages of each document before ``_doc_row`` builds its columns, so
    they describe the kept pages alone; a document that keeps none is
    dropped."""
    keep = set(pages) if pages else None

    @arrow_udf(EXTRACTION_SCHEMA)
    def extract(payload: pa.Array) -> pa.Array:
        rows = []
        for b in _payloads(payload):
            r = extract_document(b)
            if keep is not None:
                r["pages"] = [p for p in r["pages"] if p["page_number"] in keep]
                if not r["pages"]:
                    rows.append(None)  # no page kept: filtered out below
                    continue
            rows.append({**_doc_row(r), "pages": r["pages"]})
        return pa.array(rows, type=_EXTRACTION_ARROW)

    if keep is None:
        return df.withColumn(out_col, extract(F.col(payload_col)))
    # Nondeterministic only so that the optimizer cannot push the filter
    # below the projection: that would copy the kernel call into the filter
    # and run every document twice.
    extract = extract.asNondeterministic()
    return df.withColumn(out_col, extract(F.col(payload_col))).filter(
        F.col(out_col).isNotNull())
