"""Derive the driver gates' oracle constants from the corpus GENERATOR's
spec — independent of the extraction kernels under test.

The generator (sources/synth) states, per document, which dialect it
emitted and how many pages it planned; a correct parser must report exactly
that.  The twin-route gates are one table, ``_TWIN_GATES`` in
operators/pipeline_queries.py, whose rows carry their planned page totals;
``twin_total_pages(name)`` recomputes a row's total from ``make_pdf``'s page
plan, and tests/test_pipeline_kinds_spec.py checks every row against it on
each pytest run.  The other gates (q_pipeline_kinds, q_ccitt,
q_pdf_encrypted, q_table_merge, q_ocr_raster, q_pdf_links) keep one
function each here.  After a generator change, run this and update the
printed constants in the gate modules:

    python scripts/derive_kind_expectations.py
"""

from __future__ import annotations

import random
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_extractor_spark.sources.synth import gen_doc, plan_pages  # noqa: E402


def kind_expectations(n_docs: int = 300, seed: int = 42) -> dict[str, tuple[int, int]]:
    """{kind: (n_docs, total_pages)} from generator spec (status is 'ok' by
    construction — the generator emits only well-formed payloads)."""
    docs = Counter()
    pages = Counter()
    for doc_id in range(n_docs):
        spec = gen_doc(doc_id, seed=seed, with_spec=True)["_spec"]
        docs[spec["kind"]] += 1
        pages[spec["kind"]] += spec["n_pages"]
    return {k: (docs[k], pages[k]) for k in sorted(docs)}


def twin_total_pages(name: str) -> int:
    """Planned page total of one _TWIN_GATES row: make_pdf's page plan
    (plan_pages, its first rng draws) for each doc's variant route; both
    routes draw the same plan."""
    from pdf_extractor_spark.operators.pipeline_queries import _TWIN_GATES

    tag, n_docs, _total, routes = _TWIN_GATES[name]
    return sum(
        len(plan_pages(random.Random(f"{tag}:{doc_id}"),
                       charset=routes[doc_id % len(routes)][1].get("charset", "latin")))
        for doc_id in range(n_docs))


def ccitt_total_pages(n_docs: int = 60) -> int:
    """Planned page total of the q_ccitt fixture set (the page plan does
    not depend on the image coding)."""
    return sum(len(plan_pages(random.Random(f"ccitt-gate:{doc_id}")))
               for doc_id in range(n_docs))


def table_merge_totals(n_docs: int = 50) -> int:
    """Expected MERGED-table total of the q_table_merge fixture set — pure
    generator-spec logic (expected_merged_tables), no kernel."""
    from pdf_extractor_spark.sources.synth import (
        expected_merged_tables,
        make_split_table_spec,
    )

    total = 0
    for doc_id in range(n_docs):
        _full, top, bot = make_split_table_spec(
            random.Random(f"merge-spec:{doc_id}"))
        specs = [top, bot]
        if 2 + doc_id % 2 == 3:
            specs.append(make_split_table_spec(
                random.Random(f"merge-extra:{doc_id}"))[1])
        total += len(expected_merged_tables(specs))
    return total


def raster_totals(n_docs: int = 80) -> tuple[int, int]:
    """(total_lines, total_chars) of the q_ocr_raster fixture set — pure
    spec-rng draws, independent of renderer and recognizer alike."""
    from pdf_extractor_spark.sources.synth import _WORDS

    total_lines = total_chars = 0
    for doc_id in range(n_docs):
        rng = random.Random(f"raster-gate:{doc_id}")
        n_lines = rng.randint(3, 6)
        for _ in range(n_lines):
            line = " ".join(rng.choice(_WORDS)
                            for _ in range(rng.randint(3, 7)))
            total_chars += len(line)
        total_lines += n_lines
    return total_lines, total_chars


def links_total(n_docs: int = 80) -> int:
    """Planned link total of the q_pdf_links fixture set — pure spec-rng
    draws, independent of both the PDF and the DOM parser."""
    total = 0
    for doc_id in range(n_docs):
        for p in range(1 + doc_id % 3):
            rng = random.Random(f"link-spec:{doc_id}:{p}")
            n = rng.randint(0, 4)
            for _ in range(n):
                rng.randint(0, 99)
                rng.randint(0, 9999)
            total += n
    return total


def crypt_total_pages(n_docs: int = 60) -> int:
    """Planned page total of the q_pdf_encrypted fixture set (page plan is
    encryption-invariant — the encryptor draws nothing from the main rng)."""
    return sum(len(plan_pages(random.Random(f"crypt-gate:{doc_id}")))
               for doc_id in range(n_docs))


if __name__ == "__main__":
    print("q_pipeline_kinds (kind, 'ok', n_docs, total_pages):")
    for kind, (n, p) in kind_expectations().items():
        print(f"  ('{kind}', 'ok', CAST({n} AS BIGINT), CAST({p} AS BIGINT))")
    from pdf_extractor_spark.operators.pipeline_queries import _TWIN_GATES

    for name in _TWIN_GATES:
        print(f"{name} total_pages: {twin_total_pages(name)}")
    print(f"q_ccitt total_pages: {ccitt_total_pages()}")
    print(f"q_table_merge total_merged: {table_merge_totals()}")
    print(f"q_pdf_encrypted total_pages: {crypt_total_pages()}")
    print(f"q_pdf_links total_links: {links_total()}")
