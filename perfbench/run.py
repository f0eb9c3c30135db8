"""Warm, golden-checked extraction benchmark.

    python3 perfbench/run.py --workload crawl-docs --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout.  The workload's input is staged from
``--seed`` in a separate process first (cached; see stage.py), then this
process starts Spark on ``local[<nproc>]``, sets up, and times whole warm
passes of the workload's path until ``--seconds`` have been measured.  Every
run checks its output against the goldens, a pass-to-pass and run-to-run
digest, and a driver-side recomputation (checks.py).

Standard output: one provenance line, then, as the last line, the result
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
they are its per-layer metrics, measured by layers.py after the timed passes.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench_cache"

#: Set-ups per run; set-up time is their median (see README.md).
SETUPS = 3
#: Staged docs re-extracted on the driver to cross-check Spark's output.
RECOMPUTE_SAMPLE = 24

#: End-to-end metrics of BENCHMARK.json: name -> unit.
END_TO_END = {
    "docs_per_s": "1/s",
    "setup_s": "s",
    "worker_rss_peak_mib": "MiB",
    "cpu_s_per_kdoc": "s",
    "ok_frac": "frac",
}


def _loadavg() -> list[float]:
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def _git_commit() -> str:
    """HEAD of the checkout's git repository, or 'unknown' outside one."""
    git = ROOT / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if (git / ref).exists():
            return (git / ref).read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return "unknown"


def _source_hash() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "pdf_extractor_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _isolate_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and size the driver heap for a shared 4-CPU box."""
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(CACHE / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = "4g"


def spark_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(CACHE / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={CACHE / 'tmp'} -XX:-UsePerfData",
        # a staged table is a few MiB: split the scan so every core reads
        "spark.sql.files.maxPartitionBytes": str(1 << 20),
        "spark.sql.files.openCostInBytes": "0",
    }


class Workload:
    """One workload's full path from a pages DataFrame to its sinks."""

    def __init__(self, name: str, nproc: int) -> None:
        self.name = name
        # four routed partitions per core: a slow core or a partition that
        # drew two oversized docs then cannot set the whole pass time
        self.parts = 4 * nproc

    def run_pass(self, spark, src, out: Path) -> None:
        if self.name == "pages-run":
            from pdf_extractor_spark.plans.pipeline import run_extraction

            run_extraction(spark, src, str(out), write_pages_table=True, resume=False)
        else:
            from pdf_extractor_spark.plans.pipeline import extracted_docs, route_oversized

            extracted_docs(route_oversized(src, self.parts)).write.mode(
                "overwrite").parquet(str(out))

    def docs_dir(self, out: Path) -> Path:
        return out / "docs" if self.name == "pages-run" else out


class Bench:
    """Set-up, timed passes and checks of one run."""

    def __init__(self, args, nproc: int, stage: dict) -> None:
        self.args = args
        self.nproc = nproc
        self.stage = stage
        self.workload = Workload(args.workload, nproc)
        self.errors: list[str] = []
        self.spark = None
        self.out_root = CACHE / "out" / f"{os.getpid()}"

    # -- session ---------------------------------------------------------
    def start_session(self):
        from pdf_extractor_spark.session import get_spark

        self.spark = get_spark(cores=self.nproc, app="perfbench", extra=spark_conf())
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        """Stop Spark, then the gateway JVM and its Python workers, and wait
        until every one of them has exited."""
        from pyspark import SparkContext

        from procstat import SparkProcs, wait_gone

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        workers = SparkProcs(self.jvm_pid()).python_workers()
        self.spark.stop()
        self.spark = None
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        wait_gone(workers, timeout_s=60)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def read(self, rec: dict):
        from pdf_extractor_spark.sources.pages import read_pages

        return read_pages(self.spark, str(ROOT / rec["path"]), fmt="parquet")

    def fresh_out(self, tag: str) -> Path:
        out = self.out_root / tag
        shutil.rmtree(out, ignore_errors=True)
        return out

    # -- set-up ----------------------------------------------------------
    def setup(self, t_start: float) -> dict:
        """``SETUPS`` set-ups, then one priming pass.

        The first set-up runs from the end of staging (nothing of Spark is
        imported yet) through a cold JVM; each
        later one restarts the SparkContext in the same JVM, so its warm-up
        pass spawns and imports fresh Python workers again.  Each warm-up
        pass is the workload's path over the fixture rows (every doc kind)
        and is checked against the goldens.  The priming pass runs the
        workload's path once over the staged input, so the JIT and the page
        cache are warm at the measured scale before the clock starts."""
        from checks import check_goldens, read_docs

        self.start_session()
        start_s = time.perf_counter() - t_start
        warm = []
        for i in range(SETUPS):
            if i:
                self.spark.stop()
                self.start_session()
            t0 = time.perf_counter()
            self.src = self.read(self.stage["input"])
            fixtures = self.read(self.stage["fixtures"])
            out = self.fresh_out("warmup")
            self.workload.run_pass(self.spark, fixtures, out)
            warm.append(time.perf_counter() - t0)
            errs = check_goldens(read_docs(self.workload.docs_dir(out)))
            self.errors += [f"warm-up {i}: {e}" for e in errs]
        t0 = time.perf_counter()
        self.workload.run_pass(self.spark, self.src, self.fresh_out("prime"))
        return {"start_s": start_s, "warmup_s": statistics.median(warm),
                "prime_s": time.perf_counter() - t0, "warmups_s": warm}

    # -- timed passes ----------------------------------------------------
    def timed(self) -> dict:
        """Whole warm passes until ``--seconds`` of pass time are measured
        (at least two).  The clock, CPU and RSS cover only the passes; the
        output checks between passes are not timed."""
        from checks import DigestLedger, check_recompute, digest, read_docs
        from procstat import RssPeak, SparkProcs

        procs = SparkProcs(self.jvm_pid())
        n_docs = self.stage["input"]["n_docs"]
        pass_s, jvm_s, py_s, digests = [], 0.0, 0.0, []
        n_ok = 0
        with RssPeak(procs) as rss:
            while sum(pass_s) < self.args.seconds or len(pass_s) < 2:
                out = self.fresh_out("pass")
                jvm0, py0 = procs.cpu()
                t0 = time.perf_counter()
                self.workload.run_pass(self.spark, self.src, out)
                pass_s.append(time.perf_counter() - t0)
                jvm1, py1 = procs.cpu()
                jvm_s += jvm1 - jvm0
                py_s += py1 - py0
                docs = read_docs(self.workload.docs_dir(out))
                if len(docs) != n_docs:
                    self.errors.append(f"pass {len(pass_s)}: {len(docs)} rows for {n_docs} docs")
                n_ok += sum(1 for s, _t in docs.values() if s == "ok")
                digests.append(digest(docs))
                if len(pass_s) == 1:
                    self.errors += check_recompute(
                        docs, ROOT / self.stage["input"]["path"],
                        self.args.seed, RECOMPUTE_SAMPLE)
        if len(set(digests)) != 1:
            self.errors.append(f"digests differ across passes: {sorted(set(digests))}")
        ledger = DigestLedger(CACHE / "digests.json")
        self.errors += ledger.check(
            f"{self.args.workload}/{self.stage['input']['key']}", digests[0])
        shutil.rmtree(self.out_root / "pass", ignore_errors=True)
        attempted = n_docs * len(pass_s)
        return {
            "attempted": attempted, "n_ok": n_ok, "pass_s": pass_s,
            "wall_s": sum(pass_s), "jvm_cpu_s": jvm_s, "python_cpu_s": py_s,
            "rss_peak_mib": rss.peak_mib, "digest": digests[0],
        }


def parse_args(argv: list[str]):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    from stage import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if not (ROOT / "pdf_extractor_spark").is_dir() or not (ROOT / "tests" / "golden").is_dir():
        print("run from the root of a pdf_extractor_spark checkout", file=sys.stderr)
        return 2
    _isolate_env()
    nproc = len(os.sched_getaffinity(0))
    load_before = _loadavg()
    staged = subprocess.run(
        [sys.executable, str(HERE / "stage.py"), args.workload, str(args.seed), str(nproc)],
        cwd=ROOT, stdout=subprocess.PIPE, check=True, text=True)
    stage = json.loads(staged.stdout.strip().splitlines()[-1])

    # set-up is timed from here: staging is over and nothing is imported
    t_setup = time.perf_counter()
    bench = Bench(args, nproc, stage)
    try:
        setup = bench.setup(t_setup)
        timed = bench.timed()
        if args.trace:
            from layers import UNITS, trace

            units, values = UNITS, trace(bench, setup, timed)
    finally:
        bench.stop_session()
        shutil.rmtree(bench.out_root, ignore_errors=True)

    correct = not bench.errors
    attempted = timed["attempted"]
    failed = attempted - timed["n_ok"] if correct else attempted
    if not args.trace:
        units, values = END_TO_END, {
            "docs_per_s": attempted / timed["wall_s"],
            "setup_s": setup["start_s"] + setup["warmup_s"] + setup["prime_s"],
            "worker_rss_peak_mib": timed["rss_peak_mib"],
            "cpu_s_per_kdoc":
                (timed["jvm_cpu_s"] + timed["python_cpu_s"]) * 1000.0 / attempted,
            "ok_frac": (attempted - failed) / attempted,
        }
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc,
        "loadavg_before": load_before, "loadavg_after": _loadavg(),
        "git_commit": _git_commit(), "source_hash": _source_hash(),
        "stage_key": stage["input"]["key"], "staged_now": stage["input"]["staged_now"],
        "staging_s": stage["input"]["staging_s"],
        "warmup_ran": True, "setup": setup,
        "passes": len(timed["pass_s"]), "pass_s": timed["pass_s"],
        "digest": timed["digest"], "errors": bench.errors[:20],
    }
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
