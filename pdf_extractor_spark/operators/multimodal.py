"""Multimodal column plumbing + the REAL image codec path (task brief
§extras; SURVEY OP-63).

Images/audio/video ride as opaque ``binary`` columns with typed metadata.
Two codec tiers:

* REAL (round 2): ``kernels/png.py`` — a from-scratch stdlib PNG
  encode/decode plus deterministic enhance (contrast x1.3 + unsharp x1.5)
  and box-filter thumbnail.  ``decode_image_real`` decodes PNG payloads and
  zlib'd raw-RGB payloads (the format PDF XObjects carry);
  ``enhance_image_real`` runs decode -> enhance -> thumbnail -> re-encode.
  The q_png_pipeline driver query value-gates the whole executor path
  against a SQL-stated pixel formula.
* STUB (kept): payloads that are arbitrary bytes (the documents.text
  stand-ins) use the deterministic metadata stub so the plumbing queries
  stay value-verified on any input.  JPEG decodes for real via
  kernels/jpeg.py — sequential baseline (4:4:4, 4:2:0/4:2:2 subsampled,
  restart markers) AND huffman progressive (spectral selection +
  successive approximation); only arithmetic-coded JPEG remains out of
  scope and error-routes (q_jpeg_420 and q_jpeg_progressive gate these
  paths).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.png import PngError, decode_png, encode_png, enhance, thumbnail
from .pipeline_queries import _doc_gate
from .registry import T, query

DECODE_SCHEMA = (
    "doc_id long, n_bytes long, width long, height long, fmt string"
)
FRAME_SCHEMA = "doc_id long, frame_idx long"


def decode_image_real(payload: bytes, width: int | None = None,
                      height: int | None = None,
                      fmt: str | None = None) -> dict:
    """Real image decode (kernels/png.py + kernels/jpeg.py + ccitt.py).

    PNG and JPEG payloads (sequential or progressive) are self-describing;
    zlib raw-RGB payloads (PDF /FlateDecode /DeviceRGB XObjects) need the
    declared width/height from the XObject dict; ``fmt='bilevel'`` (CCITT
    images — the kernel already ran the filter, the payload is packed
    1-bit rows) additionally needs the format tag since packed bits carry
    no magic.  Arithmetic-coded JPEG raises JpegError from the kernel —
    the error-side-channel route."""
    if fmt == "bilevel":
        if not (width and height):
            raise PngError("bilevel payload needs width/height")
        from ..kernels.ccitt import CcittError, unpack_bilevel

        try:
            px = unpack_bilevel(payload, width, height)
        except CcittError as e:
            raise PngError(f"bilevel payload: {e}") from e
        return {"width": width, "height": height, "channels": 1,
                "pixels": px, "fmt": "bilevel"}
    if payload.startswith(b"\x89PNG\r\n\x1a\n"):
        w, h, ch, px = decode_png(payload)
        return {"width": w, "height": h, "channels": ch, "pixels": px,
                "fmt": "png"}
    if payload.startswith(b"\xff\xd8"):
        from ..kernels.jpeg import decode_jpeg_baseline

        w, h, ch, px = decode_jpeg_baseline(payload)
        return {"width": w, "height": h, "channels": ch, "pixels": px,
                "fmt": "jpeg"}
    if width and height:
        try:
            px = zlib.decompress(payload)
        except zlib.error as e:
            raise PngError(f"raw payload inflate failed: {e}") from e
        ch = len(px) // (width * height) if width * height else 0
        if ch not in (1, 3, 4) or len(px) != width * height * ch:
            raise PngError(
                f"raw payload {len(px)}B does not match {width}x{height}"
            )
        return {"width": width, "height": height, "channels": ch,
                "pixels": px, "fmt": "raw"}
    raise PngError("undeclared raw payload needs width/height")


def _decode_stub(payload: bytes) -> tuple[int, int, int, str]:
    """Deterministic fake decode: metadata as a pure function of the bytes."""
    n = len(payload)
    width = n % 640 + 1
    height = (n * 7) % 480 + 1
    fmt = "png" if n % 2 == 0 else "jpeg"
    return n, width, height, fmt


def _payloads(spark: SparkSession, sf: str) -> DataFrame:
    """documents.text cast to binary plays the opaque media payload."""
    return T(spark, sf, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )


@query(
    "q_mm_decode",
    """
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(strlen(text) % 640 + 1 AS BIGINT) AS width,
           CAST((strlen(text) * 7) % 480 + 1 AS BIGINT) AS height,
           CASE WHEN strlen(text) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt
    FROM documents
    """,
)
def q_mm_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Binary decode plumbing: mapInPandas over Arrow batches of binary
    payloads → typed metadata rows.  The oracle restates the stub formula in
    SQL, so the driver verifies the whole executor-Python round trip."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_decode_stub(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": [m[0] for m in metas],
                    "width": [m[1] for m in metas],
                    "height": [m[2] for m in metas],
                    "fmt": [m[3] for m in metas],
                }
            )

    return _payloads(spark, sf).mapInPandas(decode, schema=DECODE_SCHEMA)


@query(
    "q_mm_frames",
    """
    SELECT doc_id, CAST(f AS BIGINT) AS frame_idx
    FROM (SELECT doc_id, unnest(range(0, strlen(text) % 7 + 1)) AS f
          FROM documents)
    WHERE f % 2 = 0
    """,
)
def q_mm_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-sampling plumbing: one payload → N frame rows (every 2nd frame),
    emitted from the same mapInPandas shape a video frame-sampler would use
    (variable fan-out per input row)."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = len(bytes(b)) % 7 + 1
                for f in range(0, n_frames, 2):
                    ids.append(int(doc_id))
                    idxs.append(f)
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs})

    return _payloads(spark, sf).mapInPandas(frames, schema=FRAME_SCHEMA)


def enhance_image_real(payload: bytes, max_side: int = 600,
                       width: int | None = None,
                       height: int | None = None,
                       fmt: str | None = None) -> bytes:
    """Real enhance/thumbnail (reference simple_extract.py:52-78: contrast
    x1.3, sharpness x1.5, bounded thumbnail): decode -> integer-exact
    enhance -> box-filter thumbnail -> PNG re-encode.  Every output byte is
    a deterministic function of the input — unlike Pillow's LANCZOS, which
    is library-version-dependent (why the reference path is out of
    byte-identity scope and this one is in)."""
    img = decode_image_real(payload, width=width, height=height, fmt=fmt)
    px = enhance(img["width"], img["height"], img["channels"], img["pixels"])
    tw, th, tpx = thumbnail(img["width"], img["height"], img["channels"],
                            px, max_side=max_side)
    return encode_png(tw, th, tpx, img["channels"])


@query(
    "q_png_pipeline",
    # The WHOLE real-codec path stated in SQL: pixel v(x,y) = (x+2y+doc_id)
    # % 256 over a (doc_id%40+9) x (doc_id*3%30+5) RGB canvas; encode ->
    # decode must round-trip exactly (px_sum gates every decoded byte);
    # thumbnail dims follow the aspect-bound formula; enhance of a flat
    # image is exactly the integer contrast map (blur == pixel -> unsharp
    # is identity).
    """
    WITH dims AS (
      SELECT doc_id, doc_id % 40 + 9 AS w, (doc_id * 3) % 30 + 5 AS h
      FROM documents),
    sums AS (
      SELECT doc_id, w, h,
             (SELECT sum(((x.i + 2 * y.i + doc_id) % 256) * 3)
              FROM range(0, 48) x(i), range(0, 34) y(i)
              WHERE x.i < w AND y.i < h) % 997 AS px_sum
      FROM dims)
    SELECT doc_id,
      CAST(w AS BIGINT) AS src_w, CAST(h AS BIGINT) AS src_h,
      CAST(CASE WHEN w <= 24 AND h <= 24 THEN w
                WHEN w >= h THEN 24
                ELSE greatest(1, (w * 24) // h) END AS BIGINT) AS thumb_w,
      CAST(CASE WHEN w <= 24 AND h <= 24 THEN h
                WHEN w >= h THEN greatest(1, (h * 24) // w)
                ELSE 24 END AS BIGINT) AS thumb_h,
      'ok' AS roundtrip,
      CAST(px_sum AS BIGINT) AS px_sum,
      CAST(least(255, greatest(0, (13 * (doc_id % 256) - 384) // 10))
           AS BIGINT) AS enh_flat
    FROM sums
    """,
)
def q_png_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """REAL codec gate (OP-63, kernels/png.py): per document, build a
    deterministic RGB image, PNG-encode, PNG-decode (round-trip + full pixel
    checksum), thumbnail to a 24px bound, and enhance a flat tile — all
    executor-side, all value-verified against the SQL-stated formulas."""
    from .registry import fan_out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % 40 + 9, (d * 3) % 30 + 5
                px = bytes(
                    ((x + 2 * y + d) % 256)
                    for y in range(h) for x in range(w) for _ in range(3)
                )
                data = encode_png(w, h, px, 3)
                w2, h2, ch2, px2 = decode_png(data)
                ok = (w2, h2, ch2, px2) == (w, h, 3, px)
                tw, th, _ = thumbnail(w2, h2, ch2, px2, max_side=24)
                flat = bytes([d % 256]) * 36
                enh_flat = enhance(4, 3, 3, flat)[0]
                rows.append((d, w, h, tw, th, "ok" if ok else "bad",
                             sum(px2) % 997, enh_flat))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "src_w", "src_h", "thumb_w", "thumb_h",
                "roundtrip", "px_sum", "enh_flat",
            ])

    d = fan_out(T(spark, sf, "documents").select("doc_id"), "doc_id")
    return d.mapInPandas(
        run,
        schema="doc_id long, src_w long, src_h long, thumb_w long, "
               "thumb_h long, roundtrip string, px_sum long, enh_flat long",
    )


@query(
    "q_mm_thumbnail",
    """
    SELECT doc_id,
           CAST(least(strlen(text) % 640 + 1, 600) AS BIGINT) AS thumb_w,
           CAST(least((strlen(text) * 7) % 480 + 1, 600) AS BIGINT) AS thumb_h,
           CAST(strlen(text) % 997 AS BIGINT) AS payload_hash
    FROM documents
    """,
)
def q_mm_thumbnail(spark: SparkSession, sf: str) -> DataFrame:
    """Enhance/thumbnail plumbing (SURVEY OP-63; ref simple_extract.py:52-78):
    binary in -> binary out through mapInPandas, with the 600x600 bounding-box
    rule on the stub metadata; the oracle restates the deterministic stub."""

    def thumb(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, hh = [], [], []
            for b in pdf["payload"]:
                n, w, h, _f = _decode_stub(bytes(b))
                ws.append(min(w, 600))
                hs.append(min(h, 600))
                hh.append(n % 997)  # stands in for the re-encoded payload id
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"),
                 "thumb_w": ws, "thumb_h": hs, "payload_hash": hh}
            )

    return _payloads(spark, sf).mapInPandas(
        thumb, schema="doc_id long, thumb_w long, thumb_h long, payload_hash long"
    )


@query(
    "q_jpeg_420",
    # SQL-derived (non-circular) oracle: per-doc image sizes are a pure
    # function of doc_id stated in SQL; every 4:2:0 encode->decode must
    # reconstruct its smooth ramp within the quantization tolerance, so
    # n_ok == n_docs by construction of a correct codec pair.
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_ok,
           CAST(sum(16 + i % 40) AS BIGINT) AS sum_w,
           CAST(sum(12 + (i * 7) % 36) AS BIGINT) AS sum_h
    FROM range(0, 100) t(i)
    """,
)
def q_jpeg_420(spark: SparkSession, sf: str) -> DataFrame:
    """4:2:0 chroma-subsampling gate (round-3 item 3; the reference decodes
    subsampled JPEG via Pillow, image_extractor.py:131-140): encode 100
    deterministic smooth-ramp images (sizes a pure doc_id function, odd
    sizes included) as baseline 4:2:0 JPEG executor-side, decode with the
    generic-MCU kernel path, and require max per-pixel error <= 8 (the flat
    quantization step) plus exact dimensions."""
    import numpy as np

    from ..kernels.jpeg import decode_jpeg_baseline
    from ..sources.synth_jpeg import encode_jpeg_baseline

    def check(doc_id):
        w = 16 + doc_id % 40
        h = 12 + (doc_id * 7) % 36
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        # gentle ramps (slope <= 2/px): 2x2 chroma pooling error stays
        # within the flat-quant tolerance; steep ramps would alias the
        # subsampled chroma by design, not by bug
        img = np.stack([
            2 * x + y, x + 2 * y, 30 + x + y,
        ], axis=-1).astype(np.uint8)
        data = encode_jpeg_baseline(w, h, img.tobytes(), 3, subsampling="420")
        w2, h2, ch, px = decode_jpeg_baseline(data)
        dec = np.frombuffer(px, dtype=np.uint8).reshape(h2, w2, 3)
        good = (
            (w2, h2, ch) == (w, h, 3)
            and int(np.abs(dec.astype(int) - img.astype(int)).max()) <= 8
        )
        return int(good), w, h

    return _doc_gate(spark, 100, check, ("n_ok", "sum_w", "sum_h"))


@query(
    "q_jpeg_progressive",
    # SQL-derived (non-circular) oracle, same discipline as q_jpeg_420: the
    # per-doc image sizes are a doc_id function stated in SQL; a correct
    # progressive codec pair decodes every scan script to EXACTLY the
    # sequential encoding's pixels, so n_ok == n_docs by construction.
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_ok,
           CAST(sum(16 + i % 33) AS BIGINT) AS sum_w,
           CAST(sum(14 + (i * 5) % 29) AS BIGINT) AS sum_h
    FROM range(0, 80) t(i)
    """,
)
def q_jpeg_progressive(spark: SparkSession, sf: str) -> DataFrame:
    """Progressive-JPEG gate (round 3; the reference decodes progressive via
    Pillow, image_extractor.py:131-140): encode 80 deterministic images as
    SOF2 progressive executor-side — spectral-selection and full
    successive-approximation scripts alternating per doc, 4:4:4/4:2:0
    alternating — decode with the multi-scan kernel, and require the pixels
    BYTE-EQUAL to the sequential (SOF0) encoding's decode: same
    coefficients, so equality is exact, not tolerance-based."""
    import numpy as np

    from ..kernels.jpeg import decode_jpeg_baseline
    from ..sources.synth_jpeg import (
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    def check(doc_id):
        w = 16 + doc_id % 33
        h = 14 + (doc_id * 5) % 29
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        img = np.stack([
            (3 * x + 7 * y + doc_id) % 256,
            (5 * x + 2 * y + 31 * doc_id) % 256,
            (x + y + 77 * doc_id) % 256,
        ], axis=-1).astype(np.uint8)
        sub = "420" if doc_id % 2 else "444"
        _, _, _, seq = decode_jpeg_baseline(encode_jpeg_baseline(
            w, h, img.tobytes(), 3, subsampling=sub))
        prog = encode_jpeg_progressive(
            w, h, img.tobytes(), 3, subsampling=sub,
            successive=doc_id % 4 < 2)
        w2, h2, ch, px = decode_jpeg_baseline(prog)
        return int((w2, h2, ch) == (w, h, 3) and px == seq), w, h

    return _doc_gate(spark, 80, check, ("n_ok", "sum_w", "sum_h"))
