"""OCR-shaped extraction chain (SURVEY.md OP-62; reference ocr_extractor.py).

No OCR engine ships in this container (the reference shells out to
pytesseract, /root/reference/pdf_extractor/extractors/ocr_extractor.py:62-178).
Two complementary paths close OP-62:

- ``q_ocr_raster`` / ``q_ocr_proportional`` (round 4): REAL recognition
  from pixels — template matching over rendered+PNG-round-tripped rasters
  (kernels/ocr_raster.py; the recognizer never sees the input string).
- ``q_ocr_lines`` (below): the reference's full post-recognition chain,
  with a deterministic synthetic glyph-box model standing in for the
  engine so the oracle stays SQL-expressible; every OTHER stage runs for
  real, end-to-end from the binary payload:

    payload bytes -> shared kernel pass (DOM/PDF) -> content words  (real)
      -> word boxes (x, y layout, 6 words/line) + confidence        (synthetic,
         conf = pure function of md5(word) — engine-portable)
      -> confidence filter  (ref ocr_extractor.py:137-141, conf>=60)
      -> line grouping by y (ref :326-341 group into lines)
      -> in-line x sort     (ref :337 sort(key=x))
      -> line text reassembly

Word boxes are a JVM-side projection of the shared extraction frame
(``ocr_word_boxes_from_extraction``); no second kernel pass exists.  The
order boxes reach ``ocr_lines`` in is not reading order (a groupBy's
collect_list follows shuffle arrival, like real OCR output follows
recognition), so the (y, x) sort is load-bearing.

The driver oracle restates the whole chain in SQL over ``documents.text``
(the corpus the wrapped pages carry), making this a true value-gate on the
executor-side Python path, same discipline as q_extract_text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline_queries import _doc_gate
from .registry import query

__all__ = ["ocr_word_boxes_from_extraction", "ocr_lines", "q_ocr_lines"]

WORDS_PER_LINE = 6
X_ORIGIN, X_STEP = 72.0, 90.0
Y_ORIGIN, Y_STEP = 720.0, 16.0
MIN_CONF = 60


def ocr_word_boxes_from_extraction(ext: DataFrame, dpi: int = 72) -> DataFrame:
    """Extracted frame (``doc_id`` + ``with_extraction``'s ``ext`` struct,
    or the persisted pages table at scale) -> long word-box table
    ``(doc_id, w, x0, y0, conf)``: a pure JVM-side projection (flatten +
    posexplode + md5), so the OCR chain costs no kernel pass of its own.

    Content words are the space-split text of every content ``p`` block
    (is_content ∧ tag='p' ∧ non-empty), in page then block order.  Word
    ``idx`` sits at x = 72 + 90·(idx % 6), y = 720 - 16·(idx // 6); its
    synthetic confidence is 50 + 3·(first hex digit of md5(word)), so
    hashlib.md5 == Spark md5 == DuckDB md5 (tests/test_ocr.py restates
    both formulas in Python).

    ``dpi`` is the OP-22 zoom math (reference ocr_extractor rasterizes at
    ``zoom = dpi / 72`` before recognition): box coordinates scale by the
    zoom factor, exactly like boxes reported on a higher-resolution raster.
    ``ocr_lines`` normalizes the zoom back out, so line OUTPUT is
    dpi-invariant — the property the reference relies on."""
    zoom = dpi / 72.0
    words = F.flatten(
        F.transform(
            F.col("ext.pages"),
            lambda p: F.flatten(
                F.transform(
                    F.filter(
                        p["blocks"],
                        lambda b: b["is_content"]
                        & (b["tag"] == "p")
                        & (b["text"] != ""),
                    ),
                    lambda b: F.split(b["text"], " "),
                )
            ),
        )
    )
    exploded = ext.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(words).alias("idx", "w"),
    )
    nibble = F.conv(
        F.substring(F.md5(F.col("w").cast("binary")), 1, 1), 16, 10
    ).cast("long")
    return exploded.select(
        "doc_id",
        "w",
        (F.lit(X_ORIGIN * zoom)
         + F.lit(X_STEP * zoom) * (F.col("idx") % WORDS_PER_LINE)).alias("x0"),
        (F.lit(Y_ORIGIN * zoom)
         - F.lit(Y_STEP * zoom) * F.floor(F.col("idx") / WORDS_PER_LINE)
         ).alias("y0"),
        (F.lit(50) + F.lit(3) * nibble).alias("conf"),
    )


def ocr_lines(boxes: DataFrame, min_conf: int = MIN_CONF,
              dpi: int = 72) -> DataFrame:
    """Word boxes -> recognized lines: conf filter, group by line y, sort by
    x inside the line, reassemble text.  Pure relational — one shuffle on
    (doc_id, y0), the corpus partition key plus a narrow secondary."""
    zoom = dpi / 72.0
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("x0", "w"))), lambda s: s["w"]
    )
    return (
        boxes.filter(F.col("conf") >= min_conf)
        .groupBy("doc_id", "y0")
        .agg(
            F.concat_ws(" ", ordered).alias("line_text"),
            F.count(F.lit(1)).alias("n_words"),
            F.min("conf").cast("long").alias("min_conf"),
        )
        .select(
            "doc_id",
            ((F.lit(Y_ORIGIN * zoom) - F.col("y0")) / (Y_STEP * zoom))
            .cast("long").alias("line_no"),
            "line_text",
            "n_words",
            "min_conf",
        )
    )


@query(
    "q_ocr_lines",
    f"""
    WITH docs AS (
      SELECT doc_id, regexp_replace(trim(text), '\\s+', ' ', 'g') AS body
      FROM documents
      WHERE CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END >= 8),
    words AS (
      SELECT doc_id, u.w AS w, u.i - 1 AS idx
      FROM (SELECT doc_id,
                   unnest(list_transform(regexp_split_to_array(body, ' '),
                                         (w, i) -> struct_pack(w := w, i := i)))
                     AS u
            FROM docs)),
    conf AS (
      SELECT doc_id, w,
             CAST(idx // {WORDS_PER_LINE} AS BIGINT) AS line_no,
             idx % {WORDS_PER_LINE} AS xslot,
             50 + 3 * (strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1)
               AS conf
      FROM words)
    SELECT doc_id, line_no,
           string_agg(w, ' ' ORDER BY xslot) AS line_text,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(min(conf) AS BIGINT) AS min_conf
    FROM conf
    WHERE conf >= {MIN_CONF}
    GROUP BY doc_id, line_no
    """,
)
def q_ocr_lines(spark: SparkSession, sf: str) -> DataFrame:
    """OP-62 end-to-end gate: wrap documents as real HTML pages, run the full
    binary -> DOM kernel -> glyph boxes -> conf>=60 -> line group -> x-sort
    chain, and match the SQL-stated expectation per (doc, line).  The DOM
    content gate (MIN_CONTENT_WORDS=8) is part of the contract: short docs
    produce no lines.

    ONE kernel pass (round-3 item 7): boxes are projected relationally from
    the shared extraction frame — the plan is kernel-parse once, then pure
    JVM flatten/explode/groupBy; at scale the same projection reads the
    persisted pages table with zero kernel work."""
    from ..operators.extract import with_extraction
    from .pipeline_queries import pages_from_documents

    pages = pages_from_documents(spark, sf)
    ext = with_extraction(pages).select("doc_id", "ext")
    return ocr_lines(ocr_word_boxes_from_extraction(ext))


_N_RASTER_DOCS = 80
_RASTER_TOTAL_LINES = 367   # generator spec: sum of planned line counts
_RASTER_TOTAL_CHARS = 11048  # generator spec: sum of planned line lengths
# (both re-derived from the spec rng on every pytest run by
# tests/test_pipeline_kinds_spec.py::test_ocr_raster_constants_match_generator_spec)

_N_PROP_DOCS = 80
_PROP_TOTAL_LINES = 358    # generator spec: sum of planned line counts
_PROP_TOTAL_CHARS = 10781  # generator spec: sum of planned line lengths
# (both re-derived from the spec rng on every pytest run by
# tests/test_ocr_proportional.py::test_gate_constants_match_spec)

#: Raster-recognition gates.  Per doc, 3-6 lines of 3-7 words drawn from the
#: spec rng ``{tag}:{doc_id}`` are rendered at scale 2 + doc_id % 2 with
#: salt-and-pepper ``noise`` by kernels/ocr_raster.<render>, round-tripped
#: through the from-scratch PNG codec, and read back by <recognize>, which
#: never sees the input string.  A doc matches when every line reads back
#: exactly.  Row: (rng tag, n_docs, noise, render, recognize, planned line
#: total, planned char total).  Plain data only: key_fingerprint hashes
#: this table by repr.
_RASTER_GATES = {
    # fixed-pitch glyph bank, normalized-correlation template matching
    "q_ocr_raster": ("raster-gate", _N_RASTER_DOCS, 0.02, "render_text",
                     "recognize_text", _RASTER_TOTAL_LINES,
                     _RASTER_TOTAL_CHARS),
    # variable 2-3-column glyph advances and 7-10-column word gaps, read by
    # the joint segmentation + recognition column DP: no pitch assumption
    # (VERDICT round-4 item 5)
    "q_ocr_proportional": ("prop-gate", _N_PROP_DOCS, 0.01,
                           "render_text_proportional",
                           "recognize_text_proportional", _PROP_TOTAL_LINES,
                           _PROP_TOTAL_CHARS),
}


def _png_read(img, recognize) -> str:
    """Encode a grayscale raster as PNG, decode it with the from-scratch
    codec (kernels/png.py) and recognize the decoded pixels; a decode that
    is not one-channel reads as ``""``."""
    import numpy as np

    from ..kernels.png import decode_png, encode_png

    png = encode_png(img.shape[1], img.shape[0], img.tobytes(), channels=1)
    w, h, ch, px = decode_png(png)
    if ch != 1:
        return ""
    got, _confs = recognize(np.frombuffer(px, dtype=np.uint8).reshape(h, w))
    return got


def _raster_oracle(name: str) -> str:
    """Structural (non-circular) oracle, same discipline as q_png_pipeline:
    every doc matches, and the line/char totals come from the spec rng,
    never from the recognizer."""
    _tag, n_docs, _noise, _render, _recognize, lines, chars = \
        _RASTER_GATES[name]
    return f"""
    SELECT CAST({n_docs} AS BIGINT) AS n_docs,
           CAST({n_docs} AS BIGINT) AS n_match,
           CAST({lines} AS BIGINT) AS total_lines,
           CAST({chars} AS BIGINT) AS total_chars
    """


def _raster_gate(spark: SparkSession, name: str) -> DataFrame:
    """Run one _RASTER_GATES row: n_match, total_lines, total_chars."""
    import random as _random

    from ..kernels import ocr_raster
    from ..sources.synth import _WORDS

    tag, n_docs, noise, render, recognize, _lines, _chars = \
        _RASTER_GATES[name]
    render_fn = getattr(ocr_raster, render)
    recognize_fn = getattr(ocr_raster, recognize)

    def check(doc_id):
        rng = _random.Random(f"{tag}:{doc_id}")
        n_lines = rng.randint(3, 6)
        ok, chars = 1, 0
        for ln in range(n_lines):
            line = " ".join(rng.choice(_WORDS)
                            for _ in range(rng.randint(3, 7)))
            chars += len(line)
            img = render_fn(line, scale=2 + doc_id % 2, noise=noise,
                            seed=f"{doc_id}:{ln}")
            if _png_read(img, recognize_fn) != line:
                ok = 0
        return ok, n_lines, chars

    return _doc_gate(spark, n_docs, check,
                     ("n_match", "total_lines", "total_chars"))


@query("q_ocr_raster", _raster_oracle("q_ocr_raster"))
def q_ocr_raster(spark: SparkSession, sf: str) -> DataFrame:
    """REAL raster recognition gate (round-4 item 7; the reference
    rasterizes the page to a pixmap and hands it to tesseract,
    ocr_extractor.py:105): fixed-pitch _RASTER_GATES row."""
    return _raster_gate(spark, "q_ocr_raster")


@query("q_ocr_proportional", _raster_oracle("q_ocr_proportional"))
def q_ocr_proportional(spark: SparkSession, sf: str) -> DataFrame:
    """Proportional-pitch recognition gate (fixed-pitch cell division was
    the strongest synthetic assumption left in OP-62): _RASTER_GATES row."""
    return _raster_gate(spark, "q_ocr_proportional")


_N_OCRTABLE_DOCS = 50
_OCRTABLE_ROWS = 222  # generator spec: sum of per-doc spec-rng row counts
# (re-derived from the spec rng on every pytest run by
# tests/test_ocr_tables.py::test_gate_constants_match_spec)


@query(
    "q_ocr_tables",
    # Spec-derived (non-circular) oracle, same discipline as q_pdf_tables:
    # totals come from the generator's spec rng, never from the recognizer
    # or the detector; n_match == n_docs is the gate.
    f"""
    SELECT CAST({_N_OCRTABLE_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_OCRTABLE_DOCS} AS BIGINT) AS n_match,
           CAST({_N_OCRTABLE_DOCS} AS BIGINT) AS total_tables,
           CAST({_OCRTABLE_ROWS} AS BIGINT) AS total_rows
    """,
)
def q_ocr_tables(spark: SparkSession, sf: str) -> DataFrame:
    """OCR-raster table extraction gate (reference extract_tables_ocr,
    ocr_extractor.py — rasterize the page, OCR it, merge word boxes into
    cells, cluster cells into a grid): the SAME grid specs q_pdf_tables
    verifies through the PDF and DOM parsers are rendered as fixed-pitch
    raster lines (sources/synth.table_spec_fixed_pitch), noised, PNG
    round-tripped, recognized from pixels (kernels/ocr_raster), split into
    positioned runs (line_runs — char index IS x on a fixed-pitch grid),
    and clustered by the SAME x-alignment detector the PDF kernel uses
    (kernels/pdf._detect_tables).  A doc matches only when the detected
    table equals the spec rows exactly, None-for-empty included — the
    third rendering of one logical grid, recovered through the noisiest
    channel."""
    import random as _random

    from ..kernels.ocr_raster import line_runs, recognize_text, render_text
    from ..kernels.pdf import _detect_tables
    from ..sources.synth import make_table_spec, table_spec_fixed_pitch

    def check(doc_id):
        spec = make_table_spec(_random.Random(f"ocr-table-spec:{doc_id}"))
        rec = [
            _png_read(render_text(line, scale=2, noise=0.02,
                                  seed=f"ocrtab:{doc_id}:{ln_i}"),
                      recognize_text)
            for ln_i, line in enumerate(table_spec_fixed_pitch(spec))
        ]
        tables = _detect_tables([line_runs(ln) for ln in rec])
        return (int(tables == [spec["rows"]]), len(tables),
                sum(len(t) for t in tables))

    return _doc_gate(spark, _N_OCRTABLE_DOCS, check,
                     ("n_match", "total_tables", "total_rows"))
