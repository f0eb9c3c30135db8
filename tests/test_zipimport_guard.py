"""The package's zipimport guard: ``importlib.invalidate_caches()`` re-reads a
zip archive only when it changed (pdf_extractor_spark/_zipimport_guard.py).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task; before Python 3.13 that re-parsed every cached zip archive's directory.
"""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

import pdf_extractor_spark  # noqa: F401  (installs the guard)

REPO = Path(__file__).resolve().parent.parent

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter invalidates lazily from 3.13 on")


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    tmp = path.with_name(path.name + ".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "guarded.zip"
    _write_zip(archive, {"zguard_old": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zguard_old").X == 1
        importlib.invalidate_caches()  # the importer's first call reads and stamps
        reads.clear()
        importlib.invalidate_caches()
        assert str(archive) not in reads

        _write_zip(archive, {"zguard_old": "X = 1\n", "zguard_new": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.import_module("zguard_new").Y == 2
    finally:
        for name in ("zguard_old", "zguard_new"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


_WORKER_PROBE = """
import json, os, sys
from pdf_extractor_spark.session import get_spark

def touch(rows):
    list(rows)  # a worker is reused only after it has read all of its input
    import pdf_extractor_spark.kernels.dispatch  # noqa: F401
    return [os.getpid()]

def count_reads(rows):
    list(rows)
    import importlib, zipimport
    reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    n_zip = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
    return [(os.getpid(), len(reads), n_zip)]

spark = get_spark(cores=1, app="zipimport-guard")
sc = spark.sparkContext
pids = [sc.parallelize([0], 1).mapPartitions(touch).collect()[0] for _ in range(3)]
pid, reads, n_zip = sc.parallelize([0], 1).mapPartitions(count_reads).collect()[0]
spark.stop()
print(json.dumps({"pids": sorted(set(pids + [pid])), "reads": reads, "zipimporters": n_zip}))
"""


@pytest.mark.slow
def test_reused_worker_task_rereads_no_archive(tmp_path):
    """On ``local[1]`` one reused worker runs every task: after three tasks
    that import the package, a task start re-reads no zip directory."""
    path = [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", PYTHONPATH=os.pathsep.join(path))
    p = subprocess.run([sys.executable, "-c", _WORKER_PROBE], capture_output=True,
                       text=True, timeout=300, env=env, cwd=str(tmp_path))
    assert p.returncode == 0, p.stderr[-3000:]
    got = json.loads(p.stdout.strip().splitlines()[-1])
    assert len(got["pids"]) == 1, got  # one worker ran all four tasks
    assert got["zipimporters"] > 0  # pyspark.zip and the jar are zip-imported
    assert got["reads"] == 0, got
