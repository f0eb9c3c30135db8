"""Packaging gate: the pipeline must run under spark-submit --py-files with
the kernels imported ONLY from the packaged zip (north-rule packaging)."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.slow
def test_spark_submit_py_files(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        # the pyspark wheel ships the real launcher scripts; use them when
        # no system install is on PATH (bin/find-spark-home resolves
        # SPARK_HOME to the wheel itself)
        import pyspark

        candidate = (Path(pyspark.__file__).parent / "bin" / "spark-submit")
        if candidate.is_file() and os.access(candidate, os.X_OK):
            spark_submit = str(candidate)
        else:
            pytest.skip("spark-submit not on PATH nor in the pyspark wheel")

    from pdf_extractor_spark.session import package_zip

    zip_path = package_zip()

    out = tmp_path / "docs_out"
    env = dict(os.environ)
    # keep driver python deterministic; do NOT add the repo to PYTHONPATH —
    # the job must resolve the package from --py-files alone on executors.
    p = subprocess.run(
        [
            spark_submit, "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.session.timeZone=UTC",
            "--py-files", zip_path,
            str(REPO / "scripts" / "extract_job.py"),
            "--synthetic", "120", "--output", str(out), "--buckets", "3",
        ],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(tmp_path),  # not the repo: proves imports come from the zip
    )
    assert p.returncode == 0, p.stderr[-3000:]
    line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")][-1]
    totals = json.loads(line)
    assert totals["docs"] == 120
    manifest = (out / "_checkpoint" / "manifest.jsonl").read_text().splitlines()
    assert len(manifest) == 3  # one row per bucket
    assert sum(json.loads(m)["n_docs"] for m in manifest) == 120


def test_package_zip_path_is_per_source_version(tmp_path):
    """Two checkouts that differ by one source byte get different zip paths,
    so a process of one never rewrites the zip another has shipped to Spark
    (which aborts when a user file changes under the same name)."""
    from pdf_extractor_spark.session import package_zip

    ours = Path(package_zip())
    before = ours.read_bytes()

    copy = tmp_path / "checkout"
    shutil.copytree(REPO / "pdf_extractor_spark", copy / "pdf_extractor_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    schema = copy / "pdf_extractor_spark" / "schema.py"
    schema.write_bytes(schema.read_bytes() + b"#")
    res = subprocess.run(
        [sys.executable, "-c",
         "import pdf_extractor_spark.session as s; "
         "assert s.__file__.startswith(%r), s.__file__; "
         "print(s.package_zip())" % str(copy)],
        cwd=copy, env={**os.environ, "PYTHONPATH": str(copy)},
        capture_output=True, text=True, check=True, timeout=120)
    theirs = Path(res.stdout.strip().splitlines()[-1])
    assert theirs != ours and theirs.is_file()
    assert ours.read_bytes() == before
