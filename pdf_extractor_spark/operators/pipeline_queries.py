"""End-to-end pipeline queries for the driver contract.

These exercise the REAL extraction path — synthesize input-hint-shaped pages
``(url, warc_ts, html, text, lang)``, run the vectorized kernel UDF
(operators/extract.py), reassemble text — inside a driver query.  The HTML
wrapper template is controlled, so the DOM kernel's output (boilerplate
classification per kernels/dom.py thresholds: MIN_CONTENT_WORDS=8,
noise tags, heading demotion) is *predictable in SQL*: the oracle states
exactly what the Arrow-UDF pipeline must produce per document.  This turns
the driver's value-hash comparison into a true kernel-correctness gate, not
just a rows-only smoke check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import with_extraction
from .registry import T, fan_out, query

# One-line template: no inter-tag whitespace => no stray whitespace-only
# DOM blocks; nav/footer are link-only noise; the article carries the
# document text verbatim.
_PREFIX = (
    '<html><head><meta charset="utf-8"><title>Doc {i}</title></head><body>'
    '<header><nav><a href="/home">home</a> <a href="/about">about</a></nav>'
    "</header><article><h1>Doc {i}</h1><p>"
)
_SUFFIX = (
    '</p></article><footer><a href="/terms">terms of use</a></footer>'
    "</body></html>"
)


def pages_from_documents(spark: SparkSession, sf: str) -> DataFrame:
    """documents table -> input-hint pages table (url, warc_ts, html, text,
    lang).  Deterministic: html is a pure SQL function of (doc_id, text)."""
    d = fan_out(T(spark, sf, "documents"), "doc_id")
    ident = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><head><meta charset="utf-8"><title>Doc '), ident,
        F.lit("</title></head><body>"
              '<header><nav><a href="/home">home</a> <a href="/about">about</a>'
              "</nav></header><article><h1>Doc "), ident,
        F.lit("</h1><p>"), F.col("text"), F.lit(_SUFFIX),
    )
    return d.select(
        "doc_id",
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/"), ident).alias("url"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        html.cast("binary").alias("html"),
        F.lit("").alias("text"),
        "lang",
    )


# Shared oracle fragment: the DOM kernel's normalized article body and its
# word count, stated relationally.
_BODY_CTE = """
  WITH prep AS (
    SELECT doc_id,
           regexp_replace(trim(text), '\\s+', ' ', 'g') AS body,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS wc
    FROM documents)
"""


@query(
    "q_extract_text",
    _BODY_CTE
    + """
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           CASE WHEN wc >= 8
                THEN 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) || body
                ELSE '' END AS text
    FROM prep
    """,
)
def q_extract_text(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship kernel gate (OP-64/65 + OP-43b): full Arrow-UDF DOM
    extraction must reproduce, byte-identically, the SQL-stated expectation —
    heading + article body when the body clears MIN_CONTENT_WORDS, else
    empty (heading demoted, kernels/dom.py _classify).  Runs the docs
    table of plans/pipeline.extracted_docs, whose kernel returns the
    docs-table columns alone (no page tree over Arrow); ``doc_id`` passes
    through."""
    from ..plans.pipeline import extracted_docs

    pages = pages_from_documents(spark, sf)
    return extracted_docs(pages).select("doc_id", "title", "text")


@query(
    "q_extract_links",
    """
    SELECT doc_id, CAST(3 AS BIGINT) AS n_links,
           '/home,/about,/terms' AS links_csv
    FROM documents
    """,
)
def q_extract_links(spark: SparkSession, sf: str) -> DataFrame:
    """Link harvesting through the kernel (OP-23/31; ref
    extract_cam_followers.py:96-99): every wrapped page carries exactly the
    template's three hrefs, in document order."""
    pages = pages_from_documents(spark, sf)
    ext = with_extraction(pages)
    links = F.col("ext.pages")[0]["links"]
    return ext.select(
        "doc_id",
        F.size(links).cast("long").alias("n_links"),
        F.concat_ws(",", links).alias("links_csv"),
    )


@query(
    "q_extract_blocks",
    _BODY_CTE
    + """
    SELECT doc_id,
           CAST(CASE WHEN wc = 0 THEN 4 ELSE 5 END AS BIGINT) AS n_blocks,
           CAST(CASE WHEN wc >= 8 THEN 2 ELSE 0 END AS BIGINT)
             AS n_content_blocks
    FROM prep
    """,
)
def q_extract_blocks(spark: SparkSession, sf: str) -> DataFrame:
    """Block classification counts (OP-34/64): title + nav + h1 + p + footer
    blocks; exactly {h1, p} classified content when the body has >=8 words."""
    pages = pages_from_documents(spark, sf)
    ext = with_extraction(pages)
    blocks = F.col("ext.pages")[0]["blocks"]
    return ext.select(
        "doc_id",
        F.size(blocks).cast("long").alias("n_blocks"),
        F.size(F.filter(blocks, lambda b: b["is_content"]))
        .cast("long")
        .alias("n_content_blocks"),
    )


@query(
    "q_pipeline_kinds",
    # PDF/raw payload generation isn't SQL-expressible, but the corpus is a
    # pure function of (seed=42, doc_id) — so the expected per-kind summary
    # for the first 300 docs is a CONSTANT derived from the GENERATOR's own
    # spec (gen_doc(with_spec=True): kind + planned page count per doc),
    # independent of the extraction kernels under test.
    # tests/test_pipeline_kinds_spec.py re-derives these values from the
    # spec on every run, so a drifted constant fails before the driver sees
    # it and a kernel bug cannot bake itself into the expectation.
    """
    SELECT * FROM (VALUES
      ('html', 'ok', CAST(210 AS BIGINT), CAST(210 AS BIGINT)),
      ('pdf',  'ok', CAST(47  AS BIGINT), CAST(109 AS BIGINT)),
      ('raw',  'ok', CAST(43  AS BIGINT), CAST(43  AS BIGINT)))
      t(kind, status, n_docs, total_pages)
    """,
)
def q_pipeline_kinds(spark: SparkSession, sf: str) -> DataFrame:
    """Mixed-dialect corpus gate (OP-01/59/64/65): generate the deterministic
    synthetic corpus (html+pdf+raw, seed=42, 300 docs) executor-side, run the
    full kernel dispatch, summarize per kind — and match the generator-spec
    expectation.  Half the PDFs are the 1.5 dialect (xref/object streams,
    mixed filters), so this also gates the modern parser paths.  Per-byte
    goldens for this path live in tests/test_goldens.py."""
    from ..sources.pages import corpus_df

    pages = corpus_df(spark, 300, parts=8)
    ext = with_extraction(pages)
    return (
        ext.select(F.col("ext.kind").alias("kind"),
                   F.col("ext.status").alias("status"),
                   F.col("ext.n_pages").alias("n_pages"))
        .groupBy("kind", "status")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_pages").cast("long").alias("total_pages"))
    )


def _doc_gate(spark: SparkSession, n_docs: int,
              check: Callable[[int], tuple[int, ...]],
              cols: tuple[str, ...]) -> DataFrame:
    """Per-doc gate runner: ``check(doc_id) -> tuple[int, ...]`` runs
    executor-side over ``range(n_docs)`` in 8 partitions (one Arrow Python
    stage), and the single driver row is ``n_docs`` plus the long sum of
    each value, named by ``cols``.  Map-only; the final agg is the one
    exchange."""
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([check(int(i)) for i in pdf["id"]],
                               columns=list(cols))

    return (
        spark.range(0, n_docs, numPartitions=8)
        .mapInPandas(run, schema=", ".join(f"{c} int" for c in cols))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             *(F.sum(c).cast("long").alias(c) for c in cols))
    )


#: Twin-route gates.  Each doc is serialized twice from the SAME rng seed
#: (``{tag}:{doc_id}``, so identical text) through a base and a variant
#: ``make_pdf`` route; both must parse to byte-identical page texts,
#: metadata and page count.  The oracle is structural and never consults
#: the parser.  Row: (rng tag, n_docs, planned page total, routes); a route
#: is (base kwargs, variant kwargs), cycled by doc_id; ``dialect`` defaults
#: to modern on odd doc_id and classic on even.  Page totals are the
#: generator's page plan (scripts/derive_kind_expectations.twin_total_pages,
#: pinned per row by tests/test_pipeline_kinds_spec.py).  Plain data only:
#: key_fingerprint hashes this table by repr.
_TWIN_GATES = {
    # PDF 1.4 classic xref vs 1.5 xref/object streams + mixed filters
    "q_pdf_dialects": ("dialect-gate", 100, 268, [
        ({"dialect": "classic"}, {"dialect": "modern"})]),
    # Type1 literal strings vs Type0/Identity-H + ToUnicode bfchar/bfrange
    "q_pdf_cmap": ("cmap-gate", 100, 253, [
        ({"font": "simple"}, {"font": "cid"})]),
    # Type0 without ToUnicode: unicode from the embedded TrueType cmap
    "q_pdf_fontcmap": ("fontcmap-gate", 100, 252, [
        ({"font": "simple"}, {"font": "cid-fontfile"})]),
    # Type0 whose only mapping is the predefined /UniGB-UCS2-H CMap
    "q_pdf_ucs2": ("ucs2-gate", 80, 214, [
        ({"font": "simple"}, {"font": "cid-ucs2"})]),
    # /Encoding is an embedded CMap stream; codes differ from CIDs
    "q_pdf_embedded_cmap": ("embcmap-gate", 80, 198, [
        ({"font": "simple"}, {"font": "cid-cmap"})]),
    # predefined national-encoding / UTF-16 CMaps vs the certified UCS2
    # route, one per CMap family (codec routing: test_pdf_codec_cmap.py)
    "q_pdf_cjk": ("cjk-gate", 80, 192, [
        ({"font": "cid-ucs2", "charset": cs}, {"font": font, "charset": cs})
        for font, cs in (("cid-rksj", "ja"), ("cid-gbk", "zh-hans"),
                         ("cid-b5", "zh-hant"), ("cid-uhc", "ko"),
                         ("cid-utf16", "ja"))]),
    # embedded CMap with a mixed 1-byte/2-byte codespace vs UCS2
    "q_pdf_mixed_cmap": ("mixedcmap-gate", 80, 195, [
        ({"font": "cid-ucs2", "charset": cs},
         {"font": "cid-mixed", "charset": cs})
        for cs in ("latin", "ja", "zh-hans", "ko")]),
    # embedded CMap composing /UniGB-UCS2-H via usecmap vs UCS2
    "q_pdf_usecmap": ("usecmap-gate", 80, 199, [
        ({"font": "cid-ucs2", "charset": cs},
         {"font": "cid-usecmap", "charset": cs})
        for cs in ("latin", "ja", "zh-hans", "ko")]),
    # simple-font encodings (WinAnsi, MacRoman, /Differences, 1-byte
    # ToUnicode, Standard) vs UCS2 (tables: test_pdf_simple_enc.py)
    "q_pdf_simple_enc": ("senc-gate", 80, 189, [
        ({"font": "cid-ucs2", "charset": cs}, {"font": font, "charset": cs})
        for font, cs in (("simple-winansi", "win"),
                         ("simple-macroman", "win"), ("simple-diff", "latin"),
                         ("simple-diff", "ja"), ("simple-tu", "win"),
                         ("simple-standard", "std"))]),
    # flat vs odd lines inside /Form XObjects (Do, /Matrix, own resources)
    "q_pdf_form": ("form-gate", 80, 216, [
        ({"font": font, "charset": cs},
         {"font": font, "charset": cs, "wrap_form": True})
        for font, cs in (("simple", "latin"), ("cid-ucs2", "ja"),
                         ("simple-winansi", "win"), ("cid-mixed", "ja"),
                         ("cid", "latin"))]),
}


def _twin_oracle(name: str, extra: tuple[str, ...] = ()) -> str:
    """Every doc matches (and passes each ``extra`` proof); the page total
    is the row's generator plan."""
    _tag, n_docs, total_pages, _routes = _TWIN_GATES[name]
    cols = ", ".join(f"CAST({n_docs} AS BIGINT) AS {c}"
                     for c in ("n_docs", "n_text_match", *extra))
    return f"SELECT {cols}, CAST({total_pages} AS BIGINT) AS total_pages"


def _twin_gate(spark: SparkSession, name: str,
               extra: tuple[str, ...] = ()) -> DataFrame:
    """Run one _TWIN_GATES row: n_text_match, then the ``extra`` proofs on
    the variant — n_has_cjk (its text holds CJK, so the codec path ran) and
    n_img_match (every serialized /Subtype /Image surfaced through the
    recursive image walk) — then total_pages."""
    import random as _random

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    tag, n_docs, _total, routes = _TWIN_GATES[name]

    def has_cjk(r, _raw):
        return any(ord(c) > 0x2E00 for p in r["pages"] for c in p["text"])

    def img_match(r, raw):
        return (sum(len(p["images"]) for p in r["pages"])
                == raw.count(b"/Subtype /Image"))

    proofs = [{"n_has_cjk": has_cjk, "n_img_match": img_match}[c]
              for c in extra]

    def check(doc_id):
        dialect = "modern" if doc_id % 2 else "classic"
        raw = [make_pdf(_random.Random(f"{tag}:{doc_id}"), doc_id,
                        **{"dialect": dialect, **kw})[0]
               for kw in routes[doc_id % len(routes)]]
        a, b = (parse_pdf(x) for x in raw)
        same = ([p["text"] for p in a["pages"]]
                == [p["text"] for p in b["pages"]]
                and a["metadata"] == b["metadata"]
                and a["n_pages"] == b["n_pages"])
        return (int(same), *(int(f(b, raw[1])) for f in proofs),
                b["n_pages"])

    return _doc_gate(spark, n_docs, check,
                     ("n_text_match", *extra, "total_pages"))


@query("q_pdf_dialects", _twin_oracle("q_pdf_dialects"))
def q_pdf_dialects(spark: SparkSession, sf: str) -> DataFrame:
    """Classic vs modern xref-dialect twin gate (_TWIN_GATES)."""
    return _twin_gate(spark, "q_pdf_dialects")


@query("q_pdf_cmap", _twin_oracle("q_pdf_cmap"))
def q_pdf_cmap(spark: SparkSession, sf: str) -> DataFrame:
    """Composite Type0 + ToUnicode font twin gate (_TWIN_GATES)."""
    return _twin_gate(spark, "q_pdf_cmap")


@query("q_pdf_fontcmap", _twin_oracle("q_pdf_fontcmap"))
def q_pdf_fontcmap(spark: SparkSession, sf: str) -> DataFrame:
    """Embedded TrueType cmap twin gate (_TWIN_GATES)."""
    return _twin_gate(spark, "q_pdf_fontcmap")


_N_CRAWLMETA_DOCS = 80


@query(
    "q_crawl_meta",
    # Spec-derived (non-circular) oracle: the generator embeds canonical /
    # robots head elements computed from doc_id — with deliberately messy
    # author formatting on even ids (upper-case, ragged comma spacing) —
    # and the parser must recover the NORMALIZED spec values per document.
    f"""
    SELECT range AS doc_id,
           CASE WHEN range % 3 = 0
                THEN 'https://canon.example.org/d/' || CAST(range // 3 AS VARCHAR)
                ELSE '' END AS canonical,
           CASE range % 4 WHEN 1 THEN 'noindex'
                          WHEN 2 THEN 'noindex, nofollow'
                          WHEN 3 THEN 'all' ELSE '' END AS robots,
           CAST(CASE WHEN range % 4 IN (1, 2) THEN 0 ELSE 1 END AS BIGINT)
             AS indexable
    FROM range({_N_CRAWLMETA_DOCS})
    """,
)
def q_crawl_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-policy metadata harvest (training-data pipeline extra: a
    compliant crawl pipeline must honor <link rel=canonical> for dedup and
    <meta name=robots> noindex for exclusion — the per-document analogue of
    robots.txt): serialize 80 documents whose head declares spec-derived
    canonical/robots values — even ids get MESSY author formatting
    (upper-case directives, ragged comma spacing) — parse with the DOM
    kernel (kernels/dom.py first-wins harvest + directive normalization),
    and emit the recovered values per doc.  Map-only, zero exchanges."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd

    from ..kernels.dom import parse_html
    from ..sources.synth import make_html

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            canon, robots, flag = [], [], []
            for i in pdf["id"]:
                doc_id = int(i)
                spec_c = (f"https://canon.example.org/d/{doc_id // 3}"
                          if doc_id % 3 == 0 else None)
                spec_r = [None, "noindex", "noindex, nofollow",
                          "all"][doc_id % 4]
                emit_r = spec_r
                if spec_r is not None and doc_id % 2 == 0:
                    emit_r = spec_r.upper().replace(", ", " ,  ")
                html = make_html(
                    _random.Random(f"crawlmeta-gate:{doc_id}"), doc_id,
                    "en", canonical=spec_c, robots=emit_r)
                r = parse_html(html)
                canon.append(r["canonical"] or "")
                robots.append(r["robots"] or "")
                flag.append(0 if "noindex" in (r["robots"] or "") else 1)
            yield pd.DataFrame({
                "doc_id": [int(i) for i in pdf["id"]],
                "canonical": canon, "robots": robots, "indexable": flag,
            })

    return (
        spark.range(0, _N_CRAWLMETA_DOCS, numPartitions=8)
        .mapInPandas(
            run,
            schema="doc_id long, canonical string, robots string, "
                   "indexable long")
    )


@query("q_pdf_ucs2", _twin_oracle("q_pdf_ucs2"))
def q_pdf_ucs2(spark: SparkSession, sf: str) -> DataFrame:
    """Predefined UCS2 CMap twin gate (_TWIN_GATES)."""
    return _twin_gate(spark, "q_pdf_ucs2")


@query("q_pdf_embedded_cmap", _twin_oracle("q_pdf_embedded_cmap"))
def q_pdf_embedded_cmap(spark: SparkSession, sf: str) -> DataFrame:
    """Embedded /Encoding CMap stream twin gate (_TWIN_GATES)."""
    return _twin_gate(spark, "q_pdf_embedded_cmap")


@query("q_pdf_cjk", _twin_oracle("q_pdf_cjk", ("n_has_cjk",)))
def q_pdf_cjk(spark: SparkSession, sf: str) -> DataFrame:
    """Predefined national-encoding CMap twin gate (_TWIN_GATES)."""
    return _twin_gate(spark, "q_pdf_cjk", ("n_has_cjk",))


@query("q_pdf_mixed_cmap", _twin_oracle("q_pdf_mixed_cmap"))
def q_pdf_mixed_cmap(spark: SparkSession, sf: str) -> DataFrame:
    """Mixed-width embedded CMap twin gate (_TWIN_GATES)."""
    return _twin_gate(spark, "q_pdf_mixed_cmap")


@query("q_pdf_usecmap", _twin_oracle("q_pdf_usecmap"))
def q_pdf_usecmap(spark: SparkSession, sf: str) -> DataFrame:
    """/UseCMap composition twin gate (_TWIN_GATES)."""
    return _twin_gate(spark, "q_pdf_usecmap")


@query("q_pdf_simple_enc", _twin_oracle("q_pdf_simple_enc"))
def q_pdf_simple_enc(spark: SparkSession, sf: str) -> DataFrame:
    """Simple-font encoding twin gate (_TWIN_GATES)."""
    return _twin_gate(spark, "q_pdf_simple_enc")


@query("q_pdf_form", _twin_oracle("q_pdf_form", ("n_img_match",)))
def q_pdf_form(spark: SparkSession, sf: str) -> DataFrame:
    """Form-XObject twin gate (_TWIN_GATES)."""
    return _twin_gate(spark, "q_pdf_form", ("n_img_match",))


_N_GZIP_DOCS = 60


@query(
    "q_gzip_transparent",
    # Structural (non-circular) oracle: extracting a payload and
    # extracting its gzip-wrapped bytes (mtime=0) must produce the
    # IDENTICAL full result tree — same kind, status, pages, text,
    # blocks, images — across all three payload kinds and both PDF
    # dialects.  n_kind_ok additionally proves the reported kind is the
    # INNER kind (a 'raw' leak would mean binary soup shipped as text).
    f"""
    SELECT CAST({_N_GZIP_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_GZIP_DOCS} AS BIGINT) AS n_match,
           CAST({_N_GZIP_DOCS} AS BIGINT) AS n_kind_ok
    """,
)
def q_gzip_transparent(spark: SparkSession, sf: str) -> DataFrame:
    """Transparent-gunzip gate: extract 60 payloads (pdf/html/raw thirds,
    both PDF dialects) plain AND gzip-wrapped, and require full
    result-tree equality plus inner-kind correctness per document
    (kernels/dispatch.py _gunzip_bounded)."""
    import gzip as _gzip
    import random as _random

    from ..kernels.dispatch import extract_document
    from ..sources.synth import make_html, make_pdf, make_raw

    def check(doc_id):
        kind = ("pdf", "html", "raw")[doc_id % 3]
        rng = _random.Random(f"gzip-gate:{doc_id}")
        if kind == "pdf":
            payload = make_pdf(
                rng, doc_id, dialect="modern" if doc_id % 2 else "classic")[0]
        elif kind == "html":
            payload = make_html(rng, doc_id, "en")
        else:
            payload = make_raw(rng, doc_id)
        rp = extract_document(payload)
        rg = extract_document(_gzip.compress(payload, 6, mtime=0))
        return int(rp == rg), int(rg["kind"] == kind and rg["status"] == "ok")

    return _doc_gate(spark, _N_GZIP_DOCS, check, ("n_match", "n_kind_ok"))


_N_MERGE_DOCS = 50
_MERGE_TOTAL = 75  # generator spec: expected merged-table total
                   # (scripts/derive_kind_expectations.table_merge_totals)


@query(
    "q_table_merge",
    # Structural (non-circular) oracle: the merged output must equal the
    # UNSPLIT generator specs — n_match counts docs whose relationally-
    # merged tables exactly equal expected_merged_tables(spec), and the
    # merged-table total comes from the same pure-spec rule.
    f"""
    SELECT CAST({_N_MERGE_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_MERGE_DOCS} AS BIGINT) AS n_match,
           CAST({_MERGE_TOTAL} AS BIGINT) AS total_merged
    """,
)
def q_table_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-page table merge (VERDICT round-4 item 6 — the one
    aspirational reference feature with a natural relational shape,
    generate_word_doc.py:88-96): the generator splits a known grid across
    a page break; the kernel detects each half as a per-page table with
    its column x-centers; and the MERGE itself is RELATIONAL — a window
    lag over the exploded tables stream marks a table as continuing the
    previous one when it opens the next page with a matching column
    signature (same column count, every x-center within the kernel's
    3.0 tolerance), a running sum turns the marks into segment ids, and a
    groupBy stitches each segment's rows in page order.  Matching docs
    have merged output exactly equal to the unsplit spec (plus, on
    3-page docs, an unrelated table that must NOT merge)."""
    import random as _random
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import Window

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import (
        expected_merged_tables,
        make_pdf,
        make_split_table_spec,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "kind": [], "page": [], "tbl": [],
                   "centers": [], "rows": []}

            def emit(doc_id, kind, page, tbl, centers, rows):
                out["doc_id"].append(doc_id)
                out["kind"].append(kind)
                out["page"].append(page)
                out["tbl"].append(tbl)
                out["centers"].append(list(centers))
                out["rows"].append([list(r) for r in rows])

            for i in pdf["id"]:
                doc_id = int(i)
                n_pages = 2 + doc_id % 2
                _full, top, bot = make_split_table_spec(
                    _random.Random(f"merge-spec:{doc_id}"))
                specs = [top, bot]
                if n_pages == 3:
                    # unrelated table that must NOT merge: another split
                    # spec's top half (fully-filled first row, own col_x)
                    specs.append(make_split_table_spec(
                        _random.Random(f"merge-extra:{doc_id}"))[1])
                pdf_bytes, _ = make_pdf(
                    _random.Random(f"merge-gate:{doc_id}"), doc_id,
                    n_pages=n_pages,
                    dialect="modern" if doc_id % 2 else "classic",
                    page_tables=specs)
                r = parse_pdf(pdf_bytes)
                for p_i, page in enumerate(r["pages"]):
                    for t_i, (tab, cols) in enumerate(
                            zip(page["tables"], page["table_cols"])):
                        emit(doc_id, "det", p_i, t_i, cols, tab)
                for exp in expected_merged_tables(specs):
                    emit(doc_id, "spec", -1, -1, [], exp)
            yield pd.DataFrame(out)

    stream = (
        spark.range(0, _N_MERGE_DOCS, numPartitions=8)
        .mapInPandas(
            run,
            schema="doc_id long, kind string, page int, tbl int, "
                   "centers array<double>, rows array<array<string>>")
    )
    det = stream.filter(F.col("kind") == "det")
    spec = stream.filter(F.col("kind") == "spec")

    w = Window.partitionBy("doc_id").orderBy("page", "tbl")
    prev_page = F.lag("page").over(w)
    prev_centers = F.lag("centers").over(w)
    continues = (
        (F.col("page") == prev_page + 1)
        & (F.col("tbl") == 0)
        & (F.size("centers") == F.size(prev_centers))
        & (
            F.aggregate(
                F.zip_with(F.col("centers"), prev_centers,
                           lambda a, b: F.abs(a - b)),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            )
            <= F.lit(3.0)
        )
    )
    seg = F.sum(F.when(continues, 0).otherwise(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    merged = (
        det.withColumn("seg", seg)
        .groupBy("doc_id", "seg")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("page", "tbl", "rows"))),
                    lambda s: s["rows"],
                )
            ).alias("mrows")
        )
        .select("doc_id",
                F.sha2(F.to_json(F.col("mrows")), 256).alias("key"))
        .withColumn("got", F.lit(1))
    )
    want = spec.select(
        "doc_id", F.sha2(F.to_json(F.col("rows")), 256).alias("key")
    ).withColumn("want", F.lit(1))
    j = merged.join(want, ["doc_id", "key"], "full_outer")
    per_doc = j.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("got").isNull() | F.col("want").isNull(), 1)
            .otherwise(0)
        ).alias("miss"),
        F.sum(F.coalesce("got", F.lit(0))).alias("n_merged"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("miss") == 0, 1).otherwise(0)).cast("long")
        .alias("n_match"),
        F.sum("n_merged").cast("long").alias("total_merged"),
    )


_N_CCITT_DOCS = 60
_CCITT_TOTAL_PAGES = 149  # generator spec: sum of planned page counts
                          # (scripts/derive_kind_expectations.py)


@query(
    "q_ccitt",
    # Structural (non-circular) oracle, same discipline as the other PDF
    # gates: the SAME document serialized with its images as Flate 8-bit
    # gray and as CCITTFaxDecode 1-bit (G4 or G3-1D per image) must parse
    # to byte-identical text AND pixel-identical images (the CCITT side
    # decodes through kernels/ccitt.py, the T.4/T.6 rebuild of what the
    # reference gets from MuPDF, image_extractor.py:114); the page total
    # comes from the generator's page plan.
    f"""
    SELECT CAST({_N_CCITT_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_CCITT_DOCS} AS BIGINT) AS n_match,
           CAST({_CCITT_TOTAL_PAGES} AS BIGINT) AS total_pages
    """,
)
def q_ccitt(spark: SparkSession, sf: str) -> DataFrame:
    """CCITTFaxDecode gate: serialize 60 documents with every image as
    Flate-gray AND as CCITT over both xref dialects, parse both with the
    kernel, and require text equality plus pixel-identical grayscale for
    every image pair, plus the generator-spec page total."""
    import random as _random
    import zlib as _zlib

    from ..kernels.ccitt import unpack_bilevel
    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    def check(doc_id):
        dialect = "modern" if doc_id % 2 else "classic"
        ra, rb = (parse_pdf(make_pdf(
            _random.Random(f"ccitt-gate:{doc_id}"), doc_id,
            dialect=dialect, image_coding=coding)[0])
            for coding in ("flate-gray", "ccitt"))
        same = (
            [p["text"] for p in ra["pages"]]
            == [p["text"] for p in rb["pages"]]
            and ra["n_pages"] == rb["n_pages"]
        )
        for pa, pb in zip(ra["pages"], rb["pages"]):
            if len(pa["images"]) != len(pb["images"]):
                same = False
                break
            for ia, ib in zip(pa["images"], pb["images"]):
                if _zlib.decompress(ia["payload"]) != unpack_bilevel(
                        ib["payload"], ib["width"], ib["height"]):
                    same = False
        return int(same), ra["n_pages"]

    return _doc_gate(spark, _N_CCITT_DOCS, check, ("n_match", "total_pages"))


_N_CRYPT_DOCS = 60
_CRYPT_TOTAL_PAGES = 158  # generator spec: sum of planned page counts
                          # (scripts/derive_kind_expectations.py)


@query(
    "q_pdf_encrypted",
    # Structural (non-circular) oracle: the SAME document serialized
    # plaintext and encrypted with the standard security handler (RC4-40 /
    # RC4-128 / AES-128 rotating per doc, over both xref dialects and both
    # font dialects) must decrypt+parse to byte-identical text and
    # metadata; the page total comes from the generator's page plan.
    f"""
    SELECT CAST({_N_CRYPT_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_CRYPT_DOCS} AS BIGINT) AS n_text_match,
           CAST({_CRYPT_TOTAL_PAGES} AS BIGINT) AS total_pages
    """,
)
def q_pdf_encrypted(spark: SparkSession, sf: str) -> DataFrame:
    """Encryption gate: serialize 60 documents plaintext AND
    standard-handler encrypted executor-side — variant doc_id%4 in {rc4-40,
    rc4-128, aes-128, aes-256(R5)}, xref dialect doc_id%2, font dialect
    doc_id%4 — decrypt+parse with the kernel, and require
    text/metadata/image-payload equality per document plus the
    generator-spec page total."""
    import random as _random

    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    # aes-256-r5 = the V5/AESV3 machinery (file-key unwrap from /UE, direct
    # file-key object decryption) with the cheap R5 password hash; the full
    # R6 iterated KDF is covered by tests/test_pdf_crypto.py (its ~1 s/hash
    # pure-Python cost belongs in pytest, not a 50-query driver run)
    variants = ["rc4-40", "rc4-128", "aes-128", "aes-256-r5"]

    def check(doc_id):
        dialect = "modern" if doc_id % 2 else "classic"
        font = "cid" if doc_id % 4 >= 2 else "simple"
        rp, re_ = (parse_pdf(make_pdf(
            _random.Random(f"crypt-gate:{doc_id}"), doc_id,
            dialect=dialect, font=font, encrypt=enc)[0])
            for enc in (None, variants[doc_id % 4]))
        same = (
            [p["text"] for p in rp["pages"]]
            == [p["text"] for p in re_["pages"]]
            and rp["metadata"] == re_["metadata"]
            and [[img["payload"] for img in p["images"]] for p in rp["pages"]]
            == [[img["payload"] for img in p["images"]] for p in re_["pages"]]
        )
        return int(same), rp["n_pages"]

    return _doc_gate(spark, _N_CRYPT_DOCS, check,
                     ("n_text_match", "total_pages"))


_N_TABLE_DOCS = 60
_TABLE_TOTAL = 120   # generator spec: one grid per page, pages = 1+doc_id%3
_TABLE_ROWS = 554    # generator spec: sum of per-grid row counts
# (both re-derived from the spec rng on every pytest run by
# tests/test_pdf_tables.py::test_gate_constants_match_spec)


@query(
    "q_pdf_tables",
    # Structural (non-circular) oracle, same discipline as q_pdf_dialects:
    # the SAME logical grid rendered as positioned PDF text runs and as an
    # HTML <table> must parse to identical cell data (including None for
    # empty cells), and both must equal the generator's spec rows; the
    # table/row totals come from the generator's spec rng, not the parser.
    f"""
    SELECT CAST({_N_TABLE_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_TABLE_DOCS} AS BIGINT) AS n_match,
           CAST({_TABLE_TOTAL} AS BIGINT) AS total_tables,
           CAST({_TABLE_ROWS} AS BIGINT) AS total_rows
    """,
)
def q_pdf_tables(spark: SparkSession, sf: str) -> DataFrame:
    """PDF-native table detection gate (OP-61; the reference uses
    pdfplumber's word-cluster strategy, table_extractor.py:42-135):
    serialize 60 documents executor-side, each page carrying one grid of
    positioned runs (emission-shuffled), detect tables with the kernel's
    x-cluster column alignment (kernels/pdf.py _detect_tables), and require
    three-way cell-data equality per doc — PDF-detected == DOM-parsed HTML
    twin == generator spec — plus page-text equality (grid rows join
    reading order) and the spec totals."""
    import random as _random

    from ..kernels import dom
    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf, make_table_spec, table_spec_html

    def check(doc_id):
        n_pages = 1 + doc_id % 3
        specs = [
            make_table_spec(_random.Random(f"table-spec:{doc_id}:{p}"))
            for p in range(n_pages)
        ]
        pdf_bytes, exp_lines = make_pdf(
            _random.Random(f"table-gate:{doc_id}"), doc_id,
            n_pages=n_pages,
            dialect="modern" if doc_id % 2 else "classic",
            page_tables=specs)
        r = parse_pdf(pdf_bytes)
        html = (
            "<html><head><title>t</title></head><body>"
            + "".join(table_spec_html(s) for s in specs)
            + "</body></html>"
        )
        h = dom.parse_html(html.encode("utf-8"))
        want = [s["rows"] for s in specs]
        got = [t for p in r["pages"] for t in p["tables"]]
        same = (
            got == want
            and h["tables"] == want
            and all(
                p["text"] == "\n".join(el)
                for p, el in zip(r["pages"], exp_lines)
            )
        )
        return int(same), len(got), sum(len(t) for t in got)

    return _doc_gate(spark, _N_TABLE_DOCS, check,
                     ("n_match", "total_tables", "total_rows"))


_N_LINK_DOCS = 80
_LINK_TOTAL = 337   # generator spec: sum of per-page randint(0,4) link draws
# (re-derived from the spec rng on every pytest run by
# tests/test_pdf_links.py::test_gate_constants_match_spec)


@query(
    "q_pdf_links",
    # Structural (non-circular) oracle, same discipline as q_pdf_tables:
    # the SAME spec URI list serialized as PDF /Annots link annotations
    # (both the /A action and legacy direct-/URI forms, across both xref
    # dialects, with an encrypted share) and as HTML <a href> anchors must
    # parse to the identical ordered list; the link total comes from the
    # generator's spec rng, not either parser.
    f"""
    SELECT CAST({_N_LINK_DOCS} AS BIGINT) AS n_docs,
           CAST({_N_LINK_DOCS} AS BIGINT) AS n_match,
           CAST({_LINK_TOTAL} AS BIGINT) AS total_links
    """,
)
def q_pdf_links(spark: SparkSession, sf: str) -> DataFrame:
    """PDF /Annots link-URI harvesting gate (OP-23/OP-31 PDF-side parity —
    the reference walks fitz page.get_links(),
    extract_cam_followers.py:96-99): serialize 80 documents executor-side
    with spec-rng URI lists as /Subtype /Link annotations (even links via
    /A << /S /URI >> actions, odd via the PDF 1.1 direct /URI key; dialect
    alternates classic/modern; every 4th doc RC4-128-encrypted so URI
    string decryption is exercised), parse with the kernel (kernels/pdf.py
    _page_links), and require per-page link equality with the spec AND
    with the DOM-parsed HTML twin carrying the same anchors."""
    import random as _random

    from ..kernels import dom
    from ..kernels.pdf import parse_pdf
    from ..sources.synth import make_pdf

    def check(doc_id):
        n_pages = 1 + doc_id % 3
        spec: list[list[str]] = []
        for p in range(n_pages):
            rng = _random.Random(f"link-spec:{doc_id}:{p}")
            n = rng.randint(0, 4)
            spec.append([
                f"https://s{rng.randint(0, 99)}.example"
                f"/p{rng.randint(0, 9999)}"
                for _ in range(n)
            ])
        pdf_bytes, _ = make_pdf(
            _random.Random(f"link-gate:{doc_id}"), doc_id,
            n_pages=n_pages,
            dialect="modern" if doc_id % 2 else "classic",
            encrypt="rc4-128" if doc_id % 4 == 0 else None,
            page_links=spec)
        r = parse_pdf(pdf_bytes)
        got = [pg["links"] for pg in r["pages"]]
        flat = [u for pl in spec for u in pl]
        html = (
            "<html><head><title>l</title></head><body><p>"
            + " ".join(f'<a href="{u}">x</a>' for u in flat)
            + "</p></body></html>"
        )
        h = dom.parse_html(html.encode("utf-8"))
        return int(got == spec and h["links"] == flat), \
            sum(len(pl) for pl in got)

    return _doc_gate(spark, _N_LINK_DOCS, check, ("n_match", "total_links"))
