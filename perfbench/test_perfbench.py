"""Tests of the benchmark itself (no Spark):

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import gzip
import json
import shutil
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import checks  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stage  # noqa: E402
from pdf_extractor_spark.kernels.dispatch import sniff_kind  # noqa: E402
from pdf_extractor_spark.sources.synth import HEAVY_HOST  # noqa: E402


@pytest.fixture
def small_inputs(tmp_path, monkeypatch):
    monkeypatch.setattr(stage, "CACHE", tmp_path / "cache")
    monkeypatch.setattr(stage, "ROOT", tmp_path)
    monkeypatch.setattr(stage, "INPUTS", {"mix": 320, "raw": 200})
    monkeypatch.setattr(stage, "_synth_files", lambda: sorted(
        (ROOT / "pdf_extractor_spark" / "sources").glob("synth*.py")))
    monkeypatch.setattr(stage, "fixtures_key", lambda: "fixtures-test")
    monkeypatch.setattr(stage, "_fixture_rows", lambda: [])
    return tmp_path


def _staged_rows(root: Path, rec: dict) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(str(root / rec["path"])).to_pylist()


@pytest.mark.parametrize("workload", ["crawl-docs", "raw-small"])
def test_staging_is_deterministic_per_seed(small_inputs, workload):
    a = _staged_rows(small_inputs, stage.stage(workload, 7, 1)["input"])
    shutil.rmtree(small_inputs / "cache")
    b = _staged_rows(small_inputs, stage.stage(workload, 7, 2)["input"])
    c = _staged_rows(small_inputs, stage.stage(workload, 8, 1)["input"])
    assert a == b
    assert len(a) == len(c)
    assert [r["html"] for r in a] != [r["html"] for r in c]


def test_staging_cache_hit_and_key(small_inputs):
    first = stage.stage("crawl-docs", 3, 1)["input"]
    again = stage.stage("pages-run", 3, 1)["input"]
    assert first["staged_now"] and not again["staged_now"]
    assert first["key"] == again["key"] == stage.stage_key("crawl-docs", 3)
    assert stage.stage_key("crawl-docs", 3) != stage.stage_key("crawl-docs", 4)
    assert stage.stage_key("crawl-docs", 3) != stage.stage_key("raw-small", 3)


def _kinds(rows: list[dict]) -> Counter:
    kinds = Counter()
    for r in rows:
        payload = r["html"]
        if payload[:3] == b"\x1f\x8b\x08":
            kinds["gzip"] += 1
            payload = gzip.decompress(payload)
        kinds[sniff_kind(payload)] += 1
    return kinds


def test_production_mix_kinds(small_inputs):
    rows = _staged_rows(small_inputs, stage.stage("crawl-docs", 11, 2)["input"])
    n = len(rows)
    kinds = _kinds(rows)
    assert kinds["gzip"] == n // 32  # every doc id = 14 mod 32 is wrapped
    assert abs(kinds["html"] / n - 0.70) < 0.08
    assert abs(kinds["pdf"] / n - 0.20) < 0.06
    assert abs(kinds["raw"] / n - 0.10) < 0.05
    heavy = sum(HEAVY_HOST in r["url"] for r in rows)
    assert abs(heavy / n - 0.30) < 0.08


def test_production_mix_oversized_share_is_exact(small_inputs):
    for seed in (1, 2):
        rows = _staged_rows(small_inputs, stage.stage("crawl-docs", seed, 2)["input"])
        html = [r for r in rows if "/html/" in r["url"]]
        big = [r for r in rows if len(r["html"]) >= 1 << 20]
        assert len(big) == round(len(html) * stage.OVERSIZE_FRAC) > 0
        assert all("/html/" in r["url"] for r in big)


def test_raw_small_is_only_short_raw(small_inputs):
    rows = _staged_rows(small_inputs, stage.stage("raw-small", 5, 1)["input"])
    assert _kinds(rows) == Counter(raw=len(rows))
    assert max(len(r["html"]) for r in rows) < 4096


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
    # pages-run is runnable but not gated (perfbench/README.md)
    assert {w["name"] for w in spec["workloads"]} == set(stage.WORKLOADS) - {"pages-run"}


def test_goldens_check_and_digest():
    from tests.gen_fixtures import fixture_rows

    docs = {}
    for r in fixture_rows():
        key = r["url"].rstrip("/").rsplit("/", 1)[-1]
        status = json.loads((checks.GOLDEN_DIR / f"{key}.json").read_text())["status"]
        text = (checks.GOLDEN_DIR / f"{key}.txt").read_bytes().decode("utf-8")
        docs[r["url"]] = (status, text)
    assert checks.check_goldens(docs) == []
    url = sorted(docs)[0]
    before = checks.digest(docs)
    docs[url] = (docs[url][0], docs[url][1] + " ")
    assert checks.check_goldens(docs) == [f"{url.rsplit('/', 1)[-1]}: text differs from golden"]
    assert checks.digest(docs) != before


def test_digest_ledger(tmp_path):
    ledger = checks.DigestLedger(tmp_path / "d.json")
    assert ledger.check("w/k", "aa") == []
    assert ledger.check("w/k", "aa") == []
    assert ledger.check("w/k", "bb") != []


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl-docs",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
