"""End-to-end extraction pipeline (SURVEY.md §3.4 / §4.3).

Dataflow::

    read pages(url, warc_ts, html, text, lang)
      -> [resume] skip buckets already in the checkpoint manifest
      -> route_oversized: ONE repartition that spreads small docs over
         url-hash buckets (urls are unique -> row-count uniform) and gives
         each oversized doc its own bucket, so they scatter ~one per
         partition and an Arrow batch never holds many multi-MB payloads
         (§4.3.2); host-level value skew is handled by salted aggregation
         in operators/relational
      -> ONE kernel pass, one arrow_udf (operators/extract._kernel_udf)
         returning the struct ``ext``: docs-only runs attach the docs-table
         columns alone (with_doc_columns); runs that also write the pages
         table, and every cli run, use persisted_extraction: the struct pass
         with the page tree (with_extraction, page subset applied in the
         kernel) persisted once and read by every sink.  Either way one
         select (extracted_docs) flattens ``ext`` into the docs table, and
         operators/extract._doc_row builds its columns
      -> per-bucket parquet write + checkpoint manifest row with lineage +
         doc/byte counters (Observation API)                      (§4.3.3)

Scale notes (100 TB / 1000 executors): buckets are independent jobs — the
failure domain and the resume unit.  At cluster scale you size n_buckets so
one bucket ≈ a few minutes of cluster work; kill-restart loses at most one
bucket.  All per-doc work is embarrassingly parallel; the only shuffle in
the whole plan is route_oversized's repartition (no groupBy/join on the hot
path).
"""

from __future__ import annotations

import json
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import with_doc_columns, with_extraction
from ..schema import DOC_SCHEMA

__all__ = [
    "extracted_docs",
    "extracted_pages",
    "extracted_images",
    "extracted_tables",
    "docs_json_rows",
    "write_tables_csv",
    "route_oversized",
    "persisted_extraction",
    "run_extraction",
    "read_manifest",
]

OVERSIZE_THRESHOLD = 256 * 1024  # bytes; docs above this are routed separately


def route_oversized(df: DataFrame, parts: int,
                    threshold: int = OVERSIZE_THRESHOLD) -> DataFrame:
    """Memory-bounding repartition (§4.3.2) in ONE scan and ONE shuffle.

    Small docs spread over url-hash buckets (16 buckets/partition => ±25%
    row balance); each oversized doc gets a per-url unique bucket, so
    oversized payloads scatter ~one per partition instead of clustering in
    any task's Arrow batches (with ARROW_BATCH_ROWS=256 the expected batch
    stays a few MB even at 1% multi-MB docs).  The earlier two-branch
    filter+union formulation read the source TWICE — 2x scan IO at 100 TB —
    and added a second shuffle; this one is strictly cheaper and keeps the
    same guarantee."""
    bucket = (
        F.when(F.length("html") > threshold, F.concat(F.lit("B:"), F.col("url")))
        .otherwise(F.pmod(F.xxhash64("url"), F.lit(parts * 16)).cast("string"))
    )
    return df.repartition(parts, bucket)


def _n_bytes():
    """The docs table's ``n_bytes``: the payload length, 0 for a null
    payload (which extracts as empty)."""
    return F.coalesce(F.length("html"), F.lit(0)).cast("long")


def persisted_extraction(df: DataFrame,
                         pages: list[int] | None = None) -> DataFrame:
    """The struct pass, persisted so that one kernel call per document feeds
    every sink read from it (the reference parses once per concern,
    core/extractor.py:116,149,201).  The payload column is replaced by its
    length, ``n_bytes``; ``pages`` is with_extraction's page subset.  The
    caller unpersists the result."""
    return (
        with_extraction(df, pages=pages)
        .withColumn("n_bytes", _n_bytes())
        .drop("html")
        .persist()
    )


def extracted_docs(df: DataFrame, has_ext: bool = False) -> DataFrame:
    """Document-level output table: one row per url.

    One select builds it in every mode: every input column but ``html``,
    ``text``, ``ext`` and ``n_bytes``, in input order, then the DOC_SCHEMA
    fields of ``ext``, then ``n_bytes``.  Standalone (has_ext=False) first
    attaches the docs-table struct alone (operators/extract.with_doc_columns),
    so no page tree crosses the Arrow boundary; shared-pass mode
    (has_ext=True) reads persisted_extraction's ``ext`` and ``n_bytes``.
    The columns come from operators/extract._doc_row either way."""
    n_bytes = F.col("n_bytes")
    if not has_ext:
        df, n_bytes = with_doc_columns(df), _n_bytes()
    return df.select(
        *[c for c in df.columns if c not in ("html", "text", "ext", "n_bytes")],
        *[F.col(f"ext.{f.name}").alias(f.name) for f in DOC_SCHEMA.fields],
        n_bytes.alias("n_bytes"),
    )


def extracted_pages(df: DataFrame, has_ext: bool = False) -> DataFrame:
    """Page-level long-format table (OP-33 doc->pages explode): the
    relational workhorse for downstream block/image/table queries."""
    ext = df if has_ext else with_extraction(df)
    return ext.select(
        "url",
        F.col("ext.kind").alias("kind"),
        F.posexplode_outer("ext.pages").alias("pos", "page"),
    ).select(
        "url",
        "kind",
        F.col("page.page_number").alias("page_number"),
        F.col("page.text").alias("text"),
        F.col("page.char_count").alias("char_count"),
        F.col("page.word_count").alias("word_count"),
        F.col("page.blocks").alias("blocks"),
        F.col("page.images").alias("images"),
        F.col("page.tables").alias("tables"),
        F.col("page.links").alias("links"),
    )


def extracted_images(
    df: DataFrame,
    has_ext: bool = False,
    min_width: int = 50,
    min_height: int = 50,
) -> DataFrame:
    """Image long table (OP-35/60; ref image_extractor.py:42-166): one row per
    embedded image with payload inline (no side files in a distributed
    engine) and the reference's deterministic artifact name (OP-17,
    file_utils.py:27-60) as a derived column.  The min-size filter (OP-25,
    image_extractor.py:124-128, defaults 50x50) runs RELATIONALLY and before
    any downstream payload work — the filter-before-expensive-projection
    ordering the reference hand-codes."""
    pages = extracted_pages(df, has_ext=has_ext)
    imgs = pages.select(
        "url", "page_number", F.explode("images").alias("img")
    ).select(
        "url",
        "page_number",
        F.col("img.image_index").alias("image_index"),
        F.col("img.width").alias("width"),
        F.col("img.height").alias("height"),
        F.col("img.format").alias("format"),
        F.col("img.size_bytes").alias("size_bytes"),
        F.col("img.payload").alias("payload"),
    )
    return imgs.filter(
        (F.col("width") >= min_width) & (F.col("height") >= min_height)
    ).withColumn(
        "artifact_name",
        F.format_string(
            "page_%04d_image_%03d.%s",
            F.col("page_number"), F.col("image_index"), F.col("format"),
        ),
    )


def extracted_tables(df: DataFrame, has_ext: bool = False) -> DataFrame:
    """Table long table (OP-36/61; ref table_extractor.py:42-135): one row
    per detected table with the reference's cell cleaning applied
    relationally — null->'' coalesce (OP-15, :123-124), whitespace collapse
    (OP-14, :127-129), all-empty-row drop (OP-28, :131-133), all-empty-table
    drop (:68-69) — plus the ragged-shape stats (OP-45)."""
    pages = extracted_pages(df, has_ext=has_ext)
    t = pages.select(
        "url", "page_number", F.posexplode("tables").alias("table_index", "data")
    )
    cleaned = F.transform(
        "data",
        lambda row: F.transform(
            row,
            lambda c: F.regexp_replace(F.trim(F.coalesce(c, F.lit(""))), r"\s+", " "),
        ),
    )
    t = t.select("url", "page_number", "table_index", cleaned.alias("data"))
    t = t.select(
        "url", "page_number", "table_index",
        F.filter(
            "data", lambda row: F.exists(row, lambda c: c != "")
        ).alias("data"),
    ).filter(F.size("data") > 0)
    return t.select(
        "url", "page_number", "table_index", "data",
        F.size("data").alias("n_rows"),
        F.array_max(F.transform("data", lambda r: F.size(r))).alias("n_cols"),
    )


def docs_json_rows(docs: DataFrame) -> DataFrame:
    """JSON document sink shape (OP-07; extraction_result.py:133-140) of a
    docs frame: one JSON string per document, UTF-8, non-ASCII preserved,
    carrying every column of ``docs`` but the already-JSON metadata."""
    payload = F.to_json(
        F.struct(*[c for c in docs.columns if c != "metadata_json"])
    )
    return docs.select("url", payload.alias("json"))


def write_tables_csv(tables: DataFrame, out_dir: str) -> None:
    """CSV table sink (OP-08; ref table_extractor.py:137-171): one CSV
    dataset of exploded cells keyed by (url, page, table, row) — the
    distributed replacement for one-file-per-table."""
    cells = tables.select(
        "url", "page_number", "table_index",
        F.posexplode("data").alias("row_index", "row"),
    ).select(
        "url", "page_number", "table_index", "row_index",
        F.concat_ws(",", F.transform(
            "row", lambda c: F.regexp_replace(c, '[",]', " ")
        )).alias("row_csv"),
    )
    cells.write.mode("overwrite").csv(out_dir, header=True)


# ---------------------------------------------------------------------------
# Checkpointed bucket runner (§4.3.3)
# ---------------------------------------------------------------------------
def read_manifest(out_dir: str) -> list[dict]:
    mf = Path(out_dir) / "_checkpoint" / "manifest.jsonl"
    if not mf.exists():
        return []
    return [json.loads(ln) for ln in mf.read_text().splitlines() if ln.strip()]


def _append_manifest(out_dir: str, entry: dict) -> None:
    ckpt = Path(out_dir) / "_checkpoint"
    ckpt.mkdir(parents=True, exist_ok=True)
    with (ckpt / "manifest.jsonl").open("a") as f:
        f.write(json.dumps(entry, sort_keys=True) + "\n")


def run_extraction(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    resume: bool = True,
    write_pages_table: bool = True,
    run_id: str | None = None,
    input_snapshot: str = "",
    fail_after_buckets: int | None = None,
) -> dict:
    """Bucketed, resumable extraction run.

    Each bucket (``pmod(xxhash64(url), n_buckets)``) is one job writing
    ``{out_dir}/docs/bucket=N`` (+ optional pages table) then appending a
    manifest row ``{run_id, input_snapshot, bucket, n_docs, n_bytes, wall_s,
    status}``.  On restart with ``resume=True``, completed buckets are
    skipped — the kill-resume guarantee of the north rule.  Writes are
    idempotent per bucket directory (full overwrite keyed by bucket).

    ``fail_after_buckets`` injects a crash for the resume test.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    parts = max(
        8, spark.sparkContext.defaultParallelism * 2 // max(1, n_buckets)
    )
    done = {e["bucket"] for e in read_manifest(out_dir) if e["status"] == "ok"} if resume else set()

    bucketed = input_df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )
    totals = {"run_id": run_id, "buckets": n_buckets, "docs": 0, "bytes": 0,
              "skipped_buckets": sorted(done), "wall_s": 0.0}

    for b in range(n_buckets):
        if b in done:
            continue
        t0 = time.time()
        part = bucketed.filter(F.col("bucket") == b).drop("bucket")
        routed = route_oversized(part, parts)
        obs = Observation(f"bucket_{b}")
        if write_pages_table:
            # one kernel pass feeds both sinks
            ext = persisted_extraction(routed)
            docs = extracted_docs(ext, has_ext=True)
        else:
            # docs-only run: the kernel returns the docs columns alone
            ext = None
            docs = extracted_docs(routed)
        docs = docs.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("n_bytes"),
        )
        docs.write.mode("overwrite").parquet(f"{out_dir}/docs/bucket={b}")
        if write_pages_table:
            extracted_pages(ext, has_ext=True).write.mode("overwrite").parquet(
                f"{out_dir}/pages/bucket={b}"
            )
            ext.unpersist()
        wall = time.time() - t0
        n_docs = int(obs.get.get("n_docs") or 0)
        n_bytes = int(obs.get.get("n_bytes") or 0)
        _append_manifest(out_dir, {
            "run_id": run_id, "input_snapshot": input_snapshot, "bucket": b,
            "n_docs": n_docs, "n_bytes": n_bytes,
            "wall_s": round(wall, 3), "status": "ok",
        })
        totals["docs"] += n_docs
        totals["bytes"] += n_bytes
        totals["wall_s"] += wall
        if fail_after_buckets is not None and (b + 1 - len(done)) >= fail_after_buckets:
            raise RuntimeError(f"injected failure after bucket {b}")
    return totals
