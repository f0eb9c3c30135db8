"""Per-layer metrics of a traced run (``--trace 1``).

Layers are measured from outside the program, by timing calls into each
module's public functions on the workload's staged input:

- Spark docs path, as cumulative prefixes, each forced through a sink:
  ``read_pages`` (noop) -> + ``route_oversized`` (noop) -> + an identity
  ``mapInPandas`` (noop: the Arrow round trip without a kernel) ->
  + ``extracted_docs`` (noop: the kernels in Spark) -> the same to parquet.
  Each layer's time is its prefix minus the prefix before it; each prefix is
  the median of ``REPEATS`` runs (the mean, for two), taken round-robin.
- Spark pages path: the stages ``run_extraction`` runs for one bucket
  (``with_extraction`` persisted, the docs sink, the pages sink) after the
  route prefix, plus one real ``run_extraction`` for its manifest.
- Kernels in this process, single-threaded, on the staged bytes, with
  ``dom.parse_html``, ``pdf.ccitt_decode`` and ``crypto.rc4`` /
  ``crypto.aes_cbc_decrypt`` wrapped by timers for the run of this block
  only.

``trace.overhead_frac`` compares the traced stages along the workload's own
path with the untraced mean pass time of the same run.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

#: Runs of each Spark prefix; the median is reported.
REPEATS = 2
#: Kernel time measured in the in-process block, seconds.
KERNEL_SECONDS = 4.0


#: Per-layer metrics of BENCHMARK.json: name -> unit.
UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.prime_s": "s",
    "sources.scan_s": "s",
    "sources.scan_mib": "MiB",
    "pipeline.route_s": "s",
    "pipeline.route_rows_skew": "ratio",
    "pipeline.route_bytes_skew": "ratio",
    "extract.arrow_s": "s",
    "extract.batches": "count",
    "extract.rows_per_batch": "count",
    "extract.kernel_s": "s",
    "cpu.python_s": "s",
    "cpu.jvm_s": "s",
    "cpu.busy_frac": "frac",
    "kernels.html_ms": "ms",
    "kernels.pdf_ms": "ms",
    "kernels.raw_ms": "ms",
    "kernels.assemble_ms": "ms",
    "kernels.dom_share": "frac",
    "kernels.pdf.ccitt_share": "frac",
    "kernels.pdf.crypto_share": "frac",
    "sink.parquet_s": "s",
    "sink.out_mib": "MiB",
    "run.struct_extract_s": "s",
    "run.docs_sink_s": "s",
    "run.pages_sink_s": "s",
    "run.bucket_skew": "ratio",
    "trace.overhead_frac": "frac",
}


def _mib(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / (1 << 20)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity_arrow(df, acc):
    """The Arrow round trip of the docs path with no kernel: every batch
    crosses JVM -> Python -> JVM unchanged, and is counted."""
    def identity(batches):
        for pdf in batches:
            acc.add(1)
            yield pdf

    return df.mapInPandas(identity, schema=df.schema)


def _skew(routed, n_parts: int) -> tuple[float, float]:
    """max/mean of rows and of payload bytes over the routed partitions."""
    from pyspark.sql import functions as F

    rows = routed.groupBy(F.spark_partition_id().alias("p")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length("html")).alias("b")).collect()
    n = [r["n"] for r in rows]
    b = [r["b"] or 0 for r in rows]
    return (max(n) * n_parts / sum(n), max(b) * n_parts / max(1, sum(b)))


def docs_prefixes(bench, procs) -> dict:
    from pdf_extractor_spark.plans.pipeline import extracted_docs, route_oversized

    spark, src, parts = bench.spark, bench.src, bench.workload.parts
    acc = spark.sparkContext.accumulator(0)
    out = bench.fresh_out("trace-docs")
    cpu = []

    def kernel():
        (j0, p0), t0 = procs.cpu(), time.perf_counter()
        _noop(extracted_docs(route_oversized(src, parts)))
        (j1, p1), t1 = procs.cpu(), time.perf_counter()
        cpu.append((j1 - j0, p1 - p0, t1 - t0))

    stages = {
        "scan": lambda: _noop(src),
        "route": lambda: _noop(route_oversized(src, parts)),
        "arrow": lambda: _noop(_identity_arrow(route_oversized(src, parts), acc)),
        "kernel": kernel,
        "parquet": lambda: extracted_docs(route_oversized(src, parts)).write.mode(
            "overwrite").parquet(str(out)),
    }
    times: dict[str, list[float]] = {k: [] for k in stages}
    for _ in range(REPEATS):
        for name, fn in stages.items():
            t0 = time.perf_counter()
            fn()
            times[name].append(time.perf_counter() - t0)
    med = {k: statistics.median(v) for k, v in times.items()}
    rows_skew, bytes_skew = _skew(route_oversized(src, parts), parts)
    jvm, py, wall = (statistics.median(x) for x in zip(*cpu))
    return {
        "prefix": med, "batches": acc.value / REPEATS, "out_mib": _mib(out),
        "rows_skew": rows_skew, "bytes_skew": bytes_skew,
        "jvm_s": jvm, "python_s": py, "busy": (jvm + py) / (wall * bench.nproc),
    }


def pages_stages(bench) -> dict:
    """One bucket of run_extraction's pages path as cumulative stages, then a
    real run_extraction for its per-bucket manifest."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.extract import with_extraction
    from pdf_extractor_spark.plans.pipeline import (
        extracted_docs, extracted_pages, read_manifest, route_oversized, run_extraction)

    spark, src, parts = bench.spark, bench.src, bench.workload.parts
    out = bench.fresh_out("trace-pages")
    times: dict[str, list[float]] = {"struct": [], "docs": [], "pages": []}
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        ext = (with_extraction(route_oversized(src, parts))
               .withColumn("n_bytes", F.length("html").cast("long"))
               .drop("html").persist())
        ext.count()
        t1 = time.perf_counter()
        extracted_docs(ext, has_ext=True).write.mode("overwrite").parquet(str(out / "docs"))
        t2 = time.perf_counter()
        extracted_pages(ext, has_ext=True).write.mode("overwrite").parquet(str(out / "pages"))
        t3 = time.perf_counter()
        ext.unpersist(blocking=True)
        for k, dt in (("struct", t1 - t0), ("docs", t2 - t1), ("pages", t3 - t2)):
            times[k].append(dt)
    run_dir = bench.fresh_out("trace-run")
    run_extraction(spark, src, str(run_dir), write_pages_table=True, resume=False)
    walls = sorted(e["wall_s"] for e in read_manifest(str(run_dir)))
    return {
        **{k: statistics.median(v) for k, v in times.items()},
        "bucket_skew": walls[-1] / statistics.median(walls),
    }


class _Timers:
    """Wraps module functions with accumulating timers while active."""

    def __init__(self, targets: dict[str, tuple[object, str]]) -> None:
        self.targets = targets
        self.total = {k: 0.0 for k in targets}
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, key: str, fn):
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.total[key] += time.perf_counter() - t0
        return timed

    def __enter__(self) -> "_Timers":
        for key, (mod, attr) in self.targets.items():
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(key, fn))
        return self

    def __exit__(self, *exc) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)


def kernel_block(staged: Path) -> dict:
    """Single-thread kernels over the staged bytes in stored order, until
    ``KERNEL_SECONDS`` of kernel time are measured."""
    import pyarrow.parquet as pq

    from pdf_extractor_spark.kernels import crypto, dispatch, dom, pdf

    payloads = pq.read_table(str(staged), columns=["html"]).column("html").to_pylist()
    per_kind = {"html": [0, 0.0], "pdf": [0, 0.0], "raw": [0, 0.0]}
    assemble = 0.0
    n = 0
    timers = _Timers({"dom": (dom, "parse_html"), "ccitt": (pdf, "ccitt_decode"),
                      "rc4": (crypto, "rc4"), "aes": (crypto, "aes_cbc_decrypt")})
    with timers:
        for payload in payloads:
            t0 = time.perf_counter()
            r = dispatch.extract_document(payload or b"")
            t1 = time.perf_counter()
            dispatch.assemble_doc_text(r)
            t2 = time.perf_counter()
            slot = per_kind[r["kind"]]
            slot[0] += 1
            slot[1] += t1 - t0
            assemble += t2 - t1
            n += 1
            if sum(s[1] for s in per_kind.values()) >= KERNEL_SECONDS:
                break
    total = sum(s[1] for s in per_kind.values())
    pdf_s = per_kind["pdf"][1]
    return {
        **{k: (s[1] / s[0] * 1000.0 if s[0] else 0.0) for k, s in per_kind.items()},
        "assemble_ms": assemble / n * 1000.0,
        "dom_share": timers.total["dom"] / total,
        "ccitt_share": timers.total["ccitt"] / pdf_s if pdf_s else 0.0,
        "crypto_share": (timers.total["rc4"] + timers.total["aes"]) / pdf_s if pdf_s else 0.0,
    }


def trace(bench, setup: dict, timed: dict) -> dict[str, float]:
    """Every per-layer metric of BENCHMARK.json: name -> value (see UNITS)."""
    from procstat import SparkProcs

    staged = Path(__file__).resolve().parent.parent / bench.stage["input"]["path"]
    n_docs = bench.stage["input"]["n_docs"]
    d = docs_prefixes(bench, SparkProcs(bench.jvm_pid()))
    pg = pages_stages(bench)
    k = kernel_block(staged)
    p = d["prefix"]
    untraced = timed["wall_s"] / len(timed["pass_s"])
    if bench.workload.name == "pages-run":
        traced = pg["struct"] + pg["docs"] + pg["pages"]
    else:
        traced = p["parquet"]
    return {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "session.prime_s": setup["prime_s"],
        "sources.scan_s": p["scan"],
        "sources.scan_mib": _mib(staged),
        "pipeline.route_s": p["route"] - p["scan"],
        "pipeline.route_rows_skew": d["rows_skew"],
        "pipeline.route_bytes_skew": d["bytes_skew"],
        "extract.arrow_s": p["arrow"] - p["route"],
        "extract.batches": d["batches"],
        "extract.rows_per_batch": n_docs / d["batches"],
        "extract.kernel_s": p["kernel"] - p["arrow"],
        "cpu.python_s": d["python_s"],
        "cpu.jvm_s": d["jvm_s"],
        "cpu.busy_frac": d["busy"],
        "kernels.html_ms": k["html"],
        "kernels.pdf_ms": k["pdf"],
        "kernels.raw_ms": k["raw"],
        "kernels.assemble_ms": k["assemble_ms"],
        "kernels.dom_share": k["dom_share"],
        "kernels.pdf.ccitt_share": k["ccitt_share"],
        "kernels.pdf.crypto_share": k["crypto_share"],
        "sink.parquet_s": p["parquet"] - p["kernel"],
        "sink.out_mib": d["out_mib"],
        "run.struct_extract_s": pg["struct"] - p["route"],
        "run.docs_sink_s": pg["docs"],
        "run.pages_sink_s": pg["pages"],
        "run.bucket_skew": pg["bucket_skew"],
        "trace.overhead_frac": traced / untraced - 1.0,
    }
