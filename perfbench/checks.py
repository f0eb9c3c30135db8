"""Correctness checks run on every benchmark run.

- Goldens: the fixture rows of ``tests/gen_fixtures.fixture_rows()`` go
  through the workload's own Spark path during warm-up, and each doc's text
  must equal ``tests/golden/<key>.txt`` byte for byte (status must match the
  golden summary too).
- Digest: an md5 over the url-sorted ``(url, md5(text))`` stream of a pass's
  output.  It must be identical across the warm passes of one run and across
  runs of the same staged input.
- Recompute: on a seeded sample of docs, the Spark output must equal a
  driver-side ``extract_document`` + ``assemble_doc_text`` of the staged bytes.

No check filters error rows: a doc with ``status='error'`` is compared like
any other.
"""

from __future__ import annotations

import hashlib
import json
import random
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
GOLDEN_DIR = ROOT / "tests" / "golden"


def read_docs(path: Path) -> dict[str, tuple[str, str | None]]:
    """url -> (status, text) of a docs table written by Spark."""
    import pyarrow.dataset as ds

    table = ds.dataset(str(path), format="parquet", partitioning="hive").to_table(
        columns=["url", "status", "text"])
    cols = table.to_pydict()
    return {u: (s, t) for u, s, t in zip(cols["url"], cols["status"], cols["text"])}


def digest(docs: dict[str, tuple[str, str | None]]) -> str:
    h = hashlib.md5()
    for url in sorted(docs):
        text = docs[url][1]
        h.update(url.encode())
        h.update(b"\t")
        h.update(b"null" if text is None else hashlib.md5(text.encode()).hexdigest().encode())
        h.update(b"\n")
    return h.hexdigest()


def check_goldens(docs: dict[str, tuple[str, str | None]]) -> list[str]:
    """Mismatches of the fixture docs against tests/golden (empty = pass)."""
    from tests.gen_fixtures import doc_key

    errors = []
    keys = {doc_key(u): u for u in docs}
    goldens = sorted(p.stem for p in GOLDEN_DIR.glob("*.txt"))
    if sorted(keys) != goldens:
        errors.append(f"fixture keys differ: {len(keys)} out, {len(goldens)} goldens")
    for key in goldens:
        if key not in keys:
            continue
        status, text = docs[keys[key]]
        want = json.loads((GOLDEN_DIR / f"{key}.json").read_text())["status"]
        if status != want:
            errors.append(f"{key}: status {status!r} != golden {want!r}")
        if text is None or text.encode("utf-8") != (GOLDEN_DIR / f"{key}.txt").read_bytes():
            errors.append(f"{key}: text differs from golden")
    return errors


def check_recompute(docs: dict[str, tuple[str, str | None]], staged: Path,
                    seed: int, n_sample: int) -> list[str]:
    """Mismatches between Spark output and a driver-side recomputation on a
    seeded sample of staged docs (empty = pass)."""
    import pyarrow.parquet as pq

    from pdf_extractor_spark.kernels.dispatch import assemble_doc_text, extract_document

    table = pq.read_table(str(staged), columns=["url", "html"]).to_pydict()
    rng = random.Random(seed)
    idx = rng.sample(range(len(table["url"])), min(n_sample, len(table["url"])))
    errors = []
    for i in idx:
        url = table["url"][i]
        r = extract_document(table["html"][i] or b"")
        want = (r["status"], assemble_doc_text(r))
        if docs.get(url) != want:
            errors.append(f"{url}: Spark output differs from driver recompute")
    return errors


class DigestLedger:
    """Digests of earlier runs, keyed by workload and staged-input key."""

    def __init__(self, path: Path) -> None:
        self.path = path

    def check(self, key: str, value: str) -> list[str]:
        """Record ``value`` for ``key`` on first sight; else compare."""
        seen = json.loads(self.path.read_text()) if self.path.exists() else {}
        if key in seen:
            return [] if seen[key] == value else [
                f"digest {value} differs from earlier run's {seen[key]}"]
        seen[key] = value
        self.path.parent.mkdir(parents=True, exist_ok=True)
        tmp = self.path.with_suffix(".tmp")
        tmp.write_text(json.dumps(seen, sort_keys=True, indent=0))
        tmp.replace(self.path)
        return []
