"""The q_pipeline_kinds and twin-gate oracle constants must equal the
corpus GENERATOR's spec (kernel-independent ground truth) — this breaks the
golden-pin circularity: a kernel bug cannot bake itself into the expected
values because the expectation never consults the kernels."""

import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from scripts.derive_kind_expectations import (
    kind_expectations,
    twin_total_pages,
)

from pdf_extractor_spark.operators.pipeline_queries import _TWIN_GATES


def _oracle(name: str) -> str:
    from pdf_extractor_spark.operators import pipeline_queries  # noqa: F401
    from pdf_extractor_spark.operators.registry import ORACLES

    return ORACLES[name]


def test_pipeline_kinds_constants_match_generator_spec():
    spec = kind_expectations(n_docs=300, seed=42)
    oracle = _oracle("q_pipeline_kinds")
    rows = re.findall(
        r"\('(\w+)',\s*'ok',\s*CAST\((\d+)\s+AS BIGINT\),\s*CAST\((\d+)\s+AS BIGINT\)\)",
        oracle,
    )
    assert rows, f"no VALUES rows found in oracle:\n{oracle}"
    got = {k: (int(n), int(p)) for k, n, p in rows}
    assert got == spec


@pytest.mark.parametrize("name", sorted(_TWIN_GATES))
def test_twin_total_pages_match_generator_spec(name):
    """Every _TWIN_GATES row's page total (and so its oracle) equals the
    generator's page plan for that row."""
    assert _TWIN_GATES[name][2] == twin_total_pages(name)
    assert f"CAST({_TWIN_GATES[name][2]} AS BIGINT) AS total_pages" in \
        _oracle(name)


def test_ccitt_constant_matches_generator_spec():
    from scripts.derive_kind_expectations import ccitt_total_pages

    from pdf_extractor_spark.operators.pipeline_queries import (
        _CCITT_TOTAL_PAGES,
        _N_CCITT_DOCS,
    )

    assert _CCITT_TOTAL_PAGES == ccitt_total_pages(_N_CCITT_DOCS)


def test_ocr_raster_constants_match_generator_spec():
    from scripts.derive_kind_expectations import raster_totals

    from pdf_extractor_spark.operators.ocr import (
        _N_RASTER_DOCS,
        _RASTER_TOTAL_CHARS,
        _RASTER_TOTAL_LINES,
    )

    assert (_RASTER_TOTAL_LINES, _RASTER_TOTAL_CHARS) == \
        raster_totals(_N_RASTER_DOCS)


def test_pdf_encrypted_constant_matches_generator_spec():
    from scripts.derive_kind_expectations import crypt_total_pages

    from pdf_extractor_spark.operators.pipeline_queries import (
        _CRYPT_TOTAL_PAGES,
        _N_CRYPT_DOCS,
    )

    assert _CRYPT_TOTAL_PAGES == crypt_total_pages(_N_CRYPT_DOCS)
