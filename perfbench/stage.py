"""Seeded input staging for the benchmark workloads.

Each workload's pages table is generated from ``--seed`` by the repository's
own synthetic-corpus generators and written once as parquet under a cache
key of (input, seed, size, hash of ``sources/synth*.py``); ``crawl-docs`` and
``pages-run`` read the same production-mix input.  The golden fixture rows
(``tests/gen_fixtures.fixture_rows()``) are staged the same way.  Generation
runs in a pool of spawned processes, and staging is always run in its own
process (``python3 perfbench/stage.py ...``) before the benchmark's
measured process imports Spark, so neither staging time nor the Python
workers it starts can leak into a timed or set-up number.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import multiprocessing
import os
import random
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

#: Scratch space of the benchmark, inside the checkout (git-ignored).
CACHE = ROOT / ".perfbench_cache"

#: Input -> docs staged.  Sizes are chosen so one warm pass takes a few
#: seconds on a 4-CPU box; see perfbench/README.md.
INPUTS = {"mix": 2400, "raw": 40000}

#: Workload -> the input it reads.
WORKLOADS = {"crawl-docs": "mix", "raw-small": "raw", "pages-run": "mix"}

#: Share of the production mix's html docs that are 1-MiB oversized pages.
OVERSIZE_FRAC = 0.01

_BASE_TS = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
_N_FILES = 8


def _hash(paths: list[Path]) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _synth_files() -> list[Path]:
    """Every generator module the staged bytes depend on."""
    return sorted((ROOT / "pdf_extractor_spark" / "sources").glob("synth*.py"))


def stage_key(workload: str, seed: int) -> str:
    gen = WORKLOADS[workload]
    return f"{gen}-s{seed}-n{INPUTS[gen]}-{_hash(_synth_files())}"


def fixtures_key() -> str:
    return "fixtures-" + _hash(_synth_files() + [ROOT / "tests" / "gen_fixtures.py"])


def _raw_row(seed: int, doc_id: int) -> dict:
    from pdf_extractor_spark.sources.synth import make_raw

    rng = random.Random((seed << 32) ^ doc_id)
    host = f"host{rng.randint(0, 199):03d}.example.org"
    return {
        "url": f"https://{host}/und/raw/{doc_id:08d}",
        "warc_ts": _BASE_TS + dt.timedelta(seconds=doc_id * 37),
        "html": make_raw(rng, doc_id),
        "text": "",
        "lang": "und",
    }


def _gen_chunk(args: tuple[str, int, list[int]]) -> list[dict]:
    gen, seed, ids = args
    if gen == "raw":
        return [_raw_row(seed, i) for i in ids]
    from pdf_extractor_spark.sources.synth import gen_doc

    oversize = 1.0 if gen == "oversized" else 0.0
    return [gen_doc(i, seed=seed, oversize_frac=oversize) for i in ids]


def _kind(row: dict) -> str:
    return row["url"].split("/")[4]  # https://host/lang/kind/id


def generate(workload: str, seed: int, procs: int = 1) -> list[dict]:
    """The workload's rows for ``seed``, in doc-id order.

    The production mix is stratified on the one rare, costly doc class:
    exactly ``OVERSIZE_FRAC`` of its html docs (chosen by the seed) are the
    1-MiB oversized dialect, instead of a binomial count.  At 2,400 docs that
    count would otherwise swing by about a quarter between seeds and carry a
    third of the kernel time with it."""
    gen = WORKLOADS[workload]
    n_docs = INPUTS[gen]
    step = max(1, n_docs // (8 * procs))
    chunks = [(gen, seed, list(range(lo, min(n_docs, lo + step))))
              for lo in range(0, n_docs, step)]
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        rows = [r for part in pool.map(_gen_chunk, chunks) for r in part]
        if gen == "mix":
            html = [i for i, r in enumerate(rows) if _kind(r) == "html"]
            big = sorted(random.Random(seed).sample(html, round(len(html) * OVERSIZE_FRAC)))
            parts = [("oversized", seed, big[j::procs]) for j in range(procs)]
            for r in (r for part in pool.map(_gen_chunk, parts) for r in part):
                rows[int(r["url"].rsplit("/", 1)[1])] = r
    return rows


def _write(rows: list[dict], out: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    out.mkdir(parents=True)
    per = -(-len(rows) // _N_FILES)
    for i in range(_N_FILES):
        part = rows[i * per:(i + 1) * per]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, out / f"part-{i:05d}.parquet", compression="zstd")


def _fixture_rows() -> list[dict]:
    from tests.gen_fixtures import fixture_rows

    return fixture_rows()


def _stage(key: str, make_rows) -> dict:
    """Write ``make_rows()`` under ``key`` unless the cache already holds it.
    Returns the stage record: key, path, n_docs, staging_s, staged_now."""
    final = CACHE / "stage" / key
    meta_path = final / "_STAGED.json"
    if meta_path.exists():
        meta = json.loads(meta_path.read_text())
        meta["staged_now"] = False
        return meta
    t0 = time.perf_counter()
    rows = make_rows()
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    _write(rows, tmp)
    meta = {
        "key": final.name,
        "path": str(final.relative_to(ROOT)),
        "n_docs": len(rows),
        "staging_s": time.perf_counter() - t0,
    }
    (tmp / "_STAGED.json").write_text(json.dumps(meta, sort_keys=True))
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)
    meta["staged_now"] = True
    return meta


def stage(workload: str, seed: int, procs: int) -> dict:
    """Stage the workload's input and the fixture rows; their records."""
    return {
        "input": _stage(stage_key(workload, seed),
                        lambda: generate(workload, seed, procs)),
        "fixtures": _stage(fixtures_key(), _fixture_rows),
    }


def main(argv: list[str]) -> int:
    """``stage.py <workload> <seed> <procs>``: print the stage records."""
    workload, seed, procs = argv[0], int(argv[1]), int(argv[2])
    print(json.dumps(stage(workload, seed, procs), sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
