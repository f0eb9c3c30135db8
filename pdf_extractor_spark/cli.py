"""Flag-parity CLI (reference main.py:27-177 surface, Spark execution).

    python -m pdf_extractor_spark.cli INPUT [--output-dir DIR] [--pages 1,2,3]
        [--no-text] [--no-images] [--no-tables] [--image-format png|jpeg|webp]
        [--min-image-size N] [--analyze] [--no-json] [--verbose] [--cores N]

INPUT is any of:
  * a parquet/Iceberg pages-table directory (url, warc_ts, html, text, lang);
  * one local document file (.pdf / .html / anything — kind is sniffed from
    magic bytes, exactly like the pipeline);
  * a directory of such files (lexicographic glob order, OP-04/50).

Differences from the reference CLI, all deliberate:
  * output is DATASETS under --output-dir (docs parquet, JSON rows, images
    parquet with inline payloads, tables CSV) instead of side files — the
    distributed sink shape (SURVEY.md OP-07/08/10);
  * ``--image-format`` selects the artifact-name extension and is accepted
    for every value — the reference crashes on it (main.py:135 passes
    ``image_format`` to a constructor that does not take it); we fix rather
    than reproduce the bug;
  * every artifact (docs, JSON, images, tables, the printed summary) is
    read from ONE persisted kernel pass per document instead of a parse per
    concern; ``--pages`` is applied inside that pass, so each artifact holds
    only the requested pages and the docs table describes them alone.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def parse_arguments(argv: list[str] | None = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(
        prog="pdf_extractor_spark",
        description="Extract text, images, and tables from document corpora",
        formatter_class=argparse.RawDescriptionHelpFormatter,
        epilog="""
Examples:
  python -m pdf_extractor_spark.cli corpus_dir/
  python -m pdf_extractor_spark.cli document.pdf --output-dir ./extracted
  python -m pdf_extractor_spark.cli document.pdf --pages 1,2,3,4,5
  python -m pdf_extractor_spark.cli corpus_dir/ --no-images --no-tables
  python -m pdf_extractor_spark.cli corpus_dir/ --analyze
        """,
    )
    parser.add_argument("input", help="pages table dir, document file, or dir of files")
    parser.add_argument("--output-dir", "-o", default="./extracted_content",
                        help="output directory (default: ./extracted_content)")
    parser.add_argument("--pages", "-p",
                        help="comma-separated 1-indexed page numbers (e.g. 1,2,3)")
    parser.add_argument("--no-text", action="store_true", help="skip text output")
    parser.add_argument("--no-images", action="store_true", help="skip image output")
    parser.add_argument("--no-tables", action="store_true", help="skip table output")
    parser.add_argument("--image-format", choices=["png", "jpeg", "webp"],
                        default=None,
                        help="artifact-name extension override (default: keep "
                             "each image's own format)")
    parser.add_argument("--min-image-size", type=int, default=50,
                        help="minimum image dimension (default: 50)")
    parser.add_argument("--analyze", action="store_true",
                        help="analyze structure without extracting content")
    parser.add_argument("--no-json", action="store_true",
                        help="don't write the JSON rows dataset")
    parser.add_argument("--verbose", "-v", action="store_true")
    parser.add_argument("--cores", type=int, default=None,
                        help="local[N] cores for an ad-hoc session")
    return parser.parse_args(argv)


def _pages_df(spark: SparkSession, inp: str) -> DataFrame:
    """INPUT -> pages DataFrame (url, warc_ts, html, text, lang)."""
    import pandas as pd

    from .schema import PAGES_INPUT_SCHEMA
    from .sources.pages import read_pages

    p = Path(inp)
    if p.is_dir() and (list(p.glob("*.parquet")) or (p / "metadata").is_dir()
                       or list(p.glob("part-*"))):
        return read_pages(spark, str(p))
    files = sorted(p.glob("*")) if p.is_dir() else [p]
    files = [f for f in files if f.is_file()]
    if not files:
        raise FileNotFoundError(inp)
    rows = [
        {"url": f.resolve().as_uri(), "warc_ts": None,
         "html": f.read_bytes(), "text": "", "lang": ""}
        for f in files
    ]
    return spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_INPUT_SCHEMA)


def main(argv: list[str] | None = None,
         spark: SparkSession | None = None) -> int:
    args = parse_arguments(argv)

    pages = None
    if args.pages:
        try:
            pages = [int(p.strip()) for p in args.pages.split(",")]
        except ValueError:
            print("Invalid page numbers. Use comma-separated integers "
                  "(e.g., 1,2,3)", file=sys.stderr)
            return 1

    if spark is None:
        from .session import get_spark
        spark = get_spark(cores=args.cores)

    from . import api

    try:
        df = _pages_df(spark, args.input)
    except FileNotFoundError as e:
        print(f"File not found: {e}", file=sys.stderr)
        return 1

    t0 = time.time()
    if args.analyze:
        rows = [r.asDict() for r in api.analyze(df).orderBy("url", "page_number")
                .collect()]
        print(json.dumps(rows, indent=2, ensure_ascii=False, default=str))
        return 0

    out = Path(args.output_dir)
    out.mkdir(parents=True, exist_ok=True)
    from .plans.pipeline import (
        docs_json_rows,
        extracted_docs,
        extracted_images,
        extracted_pages,
        extracted_tables,
        persisted_extraction,
        write_tables_csv,
    )

    # Every written artifact honors --pages (reference semantics: the result
    # contains ONLY the requested pages — core/extractor.py:119-120), because
    # the kernel pass they all read keeps only those pages.
    ext = persisted_extraction(df, pages=pages)
    docs = extracted_docs(ext, has_ext=True)
    if args.no_text:
        docs = docs.drop("text")
    docs.write.mode("overwrite").parquet(str(out / "docs"))
    if not args.no_json:
        docs_json_rows(docs).select("json").write.mode("overwrite").text(
            str(out / "json"))
    if not args.no_images:
        imgs = extracted_images(ext, has_ext=True, min_width=args.min_image_size,
                                min_height=args.min_image_size)
        if args.image_format:  # extension override, never a crash
            # one whole-string regexp: a name with no extension still gets a
            # dotted suffix instead of 'name42webp'.  Anchored ^...$ so the
            # optional-extension group can't zero-width-match a second time
            # at end of string (Java replaceAll would double the suffix).
            imgs = imgs.withColumn(
                "artifact_name",
                F.regexp_replace(
                    "artifact_name", r"^(.*?)(\.[a-z0-9]+)?$",
                    "$1." + args.image_format,
                ),
            )
        imgs.write.mode("overwrite").parquet(str(out / "images"))
    if not args.no_tables:
        write_tables_csv(extracted_tables(ext, has_ext=True), str(out / "tables"))

    summary = extracted_pages(ext, has_ext=True).agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.size("blocks")).alias("blocks"),
        F.sum(F.size("images")).alias("images"),
        F.sum(F.size("tables")).alias("tables"),
    ).collect()[0]
    ext.unpersist()
    n_docs = df.count()
    print("\n" + "=" * 50)
    print("EXTRACTION COMPLETE")
    print("=" * 50)
    print(f"Input: {args.input}")
    print(f"Documents processed: {n_docs}")
    print(f"Pages processed: {summary['n_pages']}")
    print(f"Text blocks: {summary['blocks']}")
    print(f"Images extracted: {summary['images']}")
    print(f"Tables extracted: {summary['tables']}")
    print(f"Time: {time.time() - t0:.2f} seconds")
    print(f"Output: {out}")
    print("=" * 50)
    return 0


if __name__ == "__main__":
    sys.exit(main())
