"""SparkSession factory with the engine's standard configuration.

All entry points (tests, bench, driver contract) build sessions here so the
oracle-comparison and scaling runs share identical semantics:

- UTC session timezone (DuckDB oracle timestamps are UTC-naive)
- AQE on (runtime re-planning / skew-join splitting at scale)
- Arrow batch size bounded so a batch of binary payloads cannot blow
  executor memory (SURVEY.md §4.3.2)
- shuffle partitions sized to cores (local mode), not the 200 default
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

__all__ = ["get_spark", "package_zip", "ARROW_BATCH_ROWS"]

# Rows per Arrow batch crossing the JVM->Python boundary.  With ~4 KiB median
# payloads this is ~1 MiB/batch; oversized docs are additionally scattered
# about one per partition by plans/pipeline.route_oversized.
ARROW_BATCH_ROWS = 256


def _default_driver_memory() -> str:
    """Half of physical RAM, at most 32g: a larger heap lets the driver JVM
    grow past the machine's memory and get OOM-killed mid-run."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2, 32 << 30) >> 20}m"


def get_spark(
    cores: int | None = None,
    app: str = "pdf-extractor-spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or (2 * cores if cores else 32)
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM")
                or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Ship the package to executor Python workers — the same mechanism as
    # `spark-submit --py-files pdf_extractor_spark.zip` on a real cluster
    # (north-rule packaging requirement); makes kernels importable on
    # workers regardless of the driver's cwd.
    spark.sparkContext.addPyFile(package_zip())
    return spark


def package_zip() -> str:
    """Build (once per process) a zip of this package for --py-files.

    The path is named by a hash of the package sources, and the bytes are
    a pure function of them (sorted entries, fixed timestamps), so processes
    of one checkout share one file and processes of two checkouts never
    write one path with different bytes (Spark refuses a user file whose
    contents change under the same name).  The zip is written to a temp
    file and renamed into place, so a reader never sees a partial file."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        pkg_dir = Path(__file__).resolve().parent
        files = [(f"{pkg_dir.name}/{py.relative_to(pkg_dir)}", py.read_bytes())
                 for py in sorted(pkg_dir.rglob("*.py"))]
        h = hashlib.sha256()
        for name, data in files:
            h.update(name.encode() + b"\x00" + data + b"\x01")
        tmp_dir = tempfile.gettempdir()
        zip_path = Path(tmp_dir) / f"{pkg_dir.name}-{h.hexdigest()[:16]}.zip"
        if not zip_path.exists():
            fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tmp_dir)
            try:
                with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
                    for name, data in files:
                        info = zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0))
                        info.external_attr = 0o644 << 16
                        zf.writestr(info, data)
                os.chmod(tmp, 0o644)  # mkstemp makes it owner-only
                os.replace(tmp, zip_path)
            except BaseException:
                os.unlink(tmp)
                raise
        _PKG_ZIP = str(zip_path)
    return _PKG_ZIP


_PKG_ZIP: str | None = None
