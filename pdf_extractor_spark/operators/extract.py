"""Vectorized extraction UDF (SURVEY.md OP-59/60/61/64/65 as one Arrow pass).

One scalar pandas UDF over the binary payload column: each Arrow batch is
processed in a single Python round-trip (no per-row Python at the Spark
level, per BASELINE.json input_hint).  Replaces the reference's triple
document parse (/root/reference/pdf_extractor/core/extractor.py:116,149,201)
with a single kernel pass per document.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernels.dispatch import assemble_doc_text, extract_document
from ..schema import DOC_SCHEMA, EXTRACTION_SCHEMA

__all__ = ["extract_udf", "with_extraction", "extracted_docs_frame"]

_FIELDS = [f.name for f in EXTRACTION_SCHEMA.fields]


def _doc_row(r: dict) -> dict:
    """The docs-table columns (schema.DOC_SCHEMA) of one extraction result:
    the per-doc summary of the reference (extraction_result.py:100-130).
    Every docs-table path builds its columns here and nowhere else.
    Metadata is canonical JSON: sorted keys, compact separators."""
    pages = r["pages"]
    return {
        "kind": r["kind"], "status": r["status"], "error": r["error"],
        "title": r["title"], "n_pages": r["n_pages"],
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


@pandas_udf(EXTRACTION_SCHEMA)
def extract_udf(payload: pd.Series) -> pd.DataFrame:
    """binary -> the docs-table columns plus the full ``pages`` tree."""
    rows = []
    for b in payload:
        r = extract_document(bytes(b) if b is not None else b"")
        rows.append({**_doc_row(r), "pages": r["pages"]})
    return pd.DataFrame({name: [r[name] for r in rows] for name in _FIELDS})


def extracted_docs_frame(df, payload_col: str = "html"):
    """Input pages frame -> flat doc-level frame via ONE mapInPandas pass.

    Only the docs-table scalars cross Arrow: serializing the full nested
    tree (thousands of block structs per big doc) costs ~5x the kernel
    itself, and a pandas_udf struct return costs ~4x over flat Arrow
    columns.  All input columns except the payload and the (empty) input
    ``text`` pass through.
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

    def run(batches):
        for pdf in batches:
            payloads = [bytes(b) if b is not None else b"" for b in pdf[payload_col]]
            rows = [_doc_row(extract_document(b)) for b in payloads]
            out = {n: pdf[n].reset_index(drop=True) for n in pass_names}
            for f in DOC_SCHEMA.fields:
                out[f.name] = [r[f.name] for r in rows]
            out["n_bytes"] = [len(b) for b in payloads]
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=out_schema)


def with_extraction(df, payload_col: str = "html", out_col: str = "ext"):
    """Attach the full extraction struct column; callers select/prune fields
    so only needed data crosses later shuffles."""
    return df.withColumn(out_col, extract_udf(F.col(payload_col)))
