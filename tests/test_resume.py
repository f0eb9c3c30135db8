"""Checkpoint/resume semantics (SURVEY.md §4.3.3, north-rule resumability).

Kill-after-k-buckets simulation: run with an injected failure, restart, and
assert (a) completed buckets are not recomputed, (b) the final table equals
an uninterrupted run byte-for-byte.
"""

import os

import pandas as pd
import pytest

from pdf_extractor_spark.plans.pipeline import read_manifest, run_extraction
from pdf_extractor_spark.schema import PAGES_INPUT_SCHEMA
from tests.gen_fixtures import fixture_rows


@pytest.fixture(scope="module")
def fixture_df(spark):
    return spark.createDataFrame(pd.DataFrame(fixture_rows()), schema=PAGES_INPUT_SCHEMA)


def _docs(spark, out):
    df = spark.read.parquet(f"{out}/docs")
    return {(r["url"], r["text"]) for r in df.select("url", "text").collect()}


def test_kill_resume_no_recompute(spark, fixture_df, tmp_path):
    out_a = str(tmp_path / "uninterrupted")
    out_b = str(tmp_path / "killed")

    run_extraction(spark, fixture_df, out_a, n_buckets=4, resume=False,
                   write_pages_table=False, run_id="full")

    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(spark, fixture_df, out_b, n_buckets=4,
                       write_pages_table=False, run_id="r1",
                       fail_after_buckets=2)
    manifest = read_manifest(out_b)
    assert len(manifest) == 2  # two buckets committed before the kill

    # snapshot completed-bucket mtimes to prove no recompute on restart
    done_dirs = [f"{out_b}/docs/bucket={e['bucket']}" for e in manifest]
    mtimes_before = {d: os.stat(d).st_mtime_ns for d in done_dirs}

    totals = run_extraction(spark, fixture_df, out_b, n_buckets=4,
                            write_pages_table=False, run_id="r2")
    assert sorted(totals["skipped_buckets"]) == sorted(e["bucket"] for e in manifest)
    for d in done_dirs:
        assert os.stat(d).st_mtime_ns == mtimes_before[d], f"recomputed {d}"

    # resumed result == uninterrupted result, byte-for-byte
    assert _docs(spark, out_b) == _docs(spark, out_a)

    # manifest carries lineage counters
    final = read_manifest(out_b)
    assert len(final) == 4
    assert all(e["n_docs"] > 0 and e["n_bytes"] > 0 for e in final)
    assert sum(e["n_docs"] for e in final) == fixture_df.count()


def test_manifest_schema(spark, fixture_df, tmp_path):
    out = str(tmp_path / "m")
    run_extraction(spark, fixture_df.limit(20), out, n_buckets=2,
                   write_pages_table=False, run_id="rx", input_snapshot="snap-1")
    for e in read_manifest(out):
        assert set(e) == {"run_id", "input_snapshot", "bucket", "n_docs",
                          "n_bytes", "wall_s", "status"}
        assert e["input_snapshot"] == "snap-1"


def test_pages_mode_docs_equal_docs_only(spark, fixture_df, tmp_path):
    """``write_pages_table`` (the default) must not change the docs table:
    same columns in the same order and the same rows as a docs-only run.
    The pages table holds exactly the rows of ``extracted_pages``."""
    from collections import Counter

    from pdf_extractor_spark.plans.pipeline import extracted_pages

    with_pages, docs_only = str(tmp_path / "pages"), str(tmp_path / "docs_only")
    run_extraction(spark, fixture_df, with_pages, n_buckets=2, resume=False)
    run_extraction(spark, fixture_df, docs_only, n_buckets=2, resume=False,
                   write_pages_table=False)
    a = spark.read.parquet(f"{with_pages}/docs")
    b = spark.read.parquet(f"{docs_only}/docs")
    assert a.columns == b.columns
    assert Counter(map(tuple, a.collect())) == Counter(map(tuple, b.collect()))

    got = spark.read.parquet(f"{with_pages}/pages").drop("bucket")
    want = extracted_pages(fixture_df)
    assert got.columns == want.columns
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
