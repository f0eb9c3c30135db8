"""Driver-contract harness: every registered query vs its DuckDB oracle.

Mimics the driver's CORRECTNESS gate (SURVEY.md §5.2 layer 3): run the Spark
DataFrame query and the oracle SQL on the same parquet tables, then compare
column names, row counts, and an order-insensitive value set.  Cells are
stringified the way a value-hash would see them, so any engine divergence
(decimal vs float rendering, HUGEINT→float64 coercion, regexp semantics)
fails loudly here before the driver sees it.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def _norm_cell(v):
    """Canonical string form of one cell — the comparison's hash input.

    Decimals and datetimes are *rejected*: their pandas rendering differs
    between engines (registry.py portability rules)."""
    if v is None:
        return "∅"
    if isinstance(v, decimal.Decimal):
        raise AssertionError(f"Decimal leaked into output: {v!r}")
    if isinstance(v, (datetime.datetime, datetime.date)):
        raise AssertionError(f"raw timestamp leaked into output: {v!r}")
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        raise AssertionError(f"boolean leaked into output: {v!r}")
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _spark_rows(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    cols = df.columns
    rows = [tuple(_norm_cell(r[c]) for c in sorted(cols)) for r in df.collect()]
    return sorted(cols), sorted(rows)


def _duck_rows(name):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    cur = con.execute(ORACLES[name])
    cols = [d[0] for d in cur.description]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    raw = cur.fetchall()
    rows = [tuple(_norm_cell(r[i]) for i in idx) for r in raw]
    con.close()
    return sorted(cols), sorted(rows)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    s_cols, s_rows = _spark_rows(spark, name)
    d_cols, d_rows = _duck_rows(name)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    if s_rows != d_rows:
        diff_a = [r for r in s_rows if r not in set(d_rows)][:5]
        diff_b = [r for r in d_rows if r not in set(s_rows)][:5]
        raise AssertionError(
            f"{name}: value mismatch\n spark-only: {diff_a}\n oracle-only: {diff_b}"
        )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_query_runs(spark, name):
    """Non-SQL-expressible queries: driver records a rows-only check."""
    df = QUERIES[name](spark, SF_DIR)
    assert len(df.columns) > 0
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_cap_constants_embedded_in_oracles():
    """Demo-window caps live in ONE named constant per query family and the
    oracle SQL must embed exactly that value (round-2 VERDICT: caps as twin
    literals could silently desynchronize query and oracle)."""
    from pdf_extractor_spark.operators.dedup import (
        LSH_CAP,
        NGRAM_CAP,
        VERIFY_BUCKET_CAP,
    )
    from pdf_extractor_spark.operators.similarity import COSINE_CAP

    assert f"doc_id < {NGRAM_CAP} " in ORACLES["q_dedup_ngram"]
    for key in ("q_minhash_lsh", "q_dedup_verify", "q_pagerank_iter",
                "q_dup_clusters", "q_dedup_verify_capped"):
        assert f"doc_id < {LSH_CAP} " in ORACLES[key]
    assert f"rn <= {VERIFY_BUCKET_CAP}" in ORACLES["q_dedup_verify_capped"]
    assert ORACLES["q_dedup_cosine"].count(f"< {COSINE_CAP} ") + \
        ORACLES["q_dedup_cosine"].count(f"< {COSINE_CAP}\n") >= 1


def test_priority_rotation_guard():
    """Driver-cap rotation (VERDICT.md round-2 finding): every key that is
    NEW or whose behavior-relevant code changed since its last green
    CORRECTNESS row must register before every still-certified key, and ALL
    stale keys must fit inside the driver's 50-row verification cap so no
    stale green row survives a round unverified.  The cap is a HARD
    invariant (round-4 ADVICE: it was relaxed to 55 once and that was
    wrong); the per-key ``key_sha`` fingerprint (query-function source
    closure + oracle SQL, see registry.key_fingerprint) keeps it
    satisfiable by not staling certified keys on unrelated module edits."""
    import json
    from pathlib import Path

    repo = Path(entry_mod.__file__).resolve().parent
    manifest_path = repo / "VERIFIED.json"
    assert manifest_path.exists(), "VERIFIED.json missing — run scripts/update_verified.py"
    manifest = json.loads(manifest_path.read_text())

    queries = entry_mod.queries()  # already priority-ordered
    order = list(queries)

    staleness = [entry_mod.key_is_stale(k, manifest) for k in order]
    n_stale = sum(staleness)
    # stale block is a strict prefix
    assert staleness == [True] * n_stale + [False] * (len(order) - n_stale), (
        "stale keys must all register before certified keys: "
        + str([k for k, s in zip(order, staleness) if s])
    )
    # The driver verifies 50 keys/round, in this order.  HARD cap: every
    # stale key must get a driver row this round — split larger changes
    # across rounds or verify incrementally.
    assert n_stale <= 50, (
        f"{n_stale} stale keys exceed the driver's 50-row cap; stale = "
        + str([k for k, s in zip(order, staleness) if s])
    )
    # certified keys rotate oldest-round-first so old certifications refresh
    fresh_rounds = [manifest[k]["round"] for k in order[n_stale:]]
    assert fresh_rounds == sorted(fresh_rounds)


def test_key_fingerprint_scoped_to_key(tmp_path):
    """key_fingerprint must change when the key's own body, a helper it
    calls, a shared constant, or its oracle changes — and must NOT change
    when an unrelated function in the same module is edited (the round-4
    ADVICE hazard: module-wide staleness forced certified keys out of the
    driver window on unrelated edits)."""
    import importlib.util
    import sys

    from pdf_extractor_spark.operators import registry

    base = '''
CAP = {cap}
def _helper(x):
    return x + {helper_add}
def q_probe_a(spark, sf):
    return _helper(CAP)
def q_probe_b(spark, sf):
    return {b_body}
'''

    def load(tag, cap=7, helper_add=1, b_body=0, oracle="SELECT 1 AS one"):
        src = base.format(cap=cap, helper_add=helper_add, b_body=b_body)
        p = tmp_path / f"fpmod_{tag}.py"
        p.write_text(src)
        spec = importlib.util.spec_from_file_location(f"fpmod_{tag}", p)
        mod = importlib.util.module_from_spec(spec)
        sys.modules[spec.name] = mod
        spec.loader.exec_module(mod)
        key = f"q_fp_probe_{tag}"
        registry.QUERIES[key] = mod.q_probe_a
        if oracle is not None:
            registry.ORACLES[key] = oracle
        try:
            return registry.key_fingerprint(key)
        finally:
            registry.QUERIES.pop(key, None)
            registry.ORACLES.pop(key, None)
            sys.modules.pop(spec.name, None)

    ref = load("ref")
    # unrelated edit (another function's body) must NOT stale the key
    assert load("unrel", b_body=42) == ref
    # but everything behavior-relevant must:
    assert load("const", cap=8) != ref          # shared constant
    assert load("helper", helper_add=2) != ref  # transitive helper
    assert load("oracle", oracle="SELECT 2 AS two") != ref  # oracle SQL
    assert load("noracle", oracle=None) != ref  # oracle removed

    # A helper imported from another operators module is followed too, and
    # its globals resolve in its own module.
    helper_src = '''
K = {k}
def helper(x):
    return x + K + {helper_add}
def unrelated():
    return {unrel}
'''
    main_src = '''
from pdf_extractor_spark.operators._fp_helper import helper
def q_probe(spark, sf):
    return helper(1)
'''

    def load2(tag, k=1, helper_add=0, unrel=0):
        # fixed module names: the helper's module is part of what is hashed
        mods = {"pdf_extractor_spark.operators._fp_helper":
                helper_src.format(k=k, helper_add=helper_add, unrel=unrel),
                "fpmain": main_src}
        key = f"q_fp_probe2_{tag}"
        try:
            for name, src in mods.items():
                p = tmp_path / f"{tag}_{name.rsplit('.', 1)[-1]}.py"
                p.write_text(src)
                spec = importlib.util.spec_from_file_location(name, p)
                mod = importlib.util.module_from_spec(spec)
                sys.modules[name] = mod
                spec.loader.exec_module(mod)
            registry.QUERIES[key] = mod.q_probe
            return registry.key_fingerprint(key)
        finally:
            registry.QUERIES.pop(key, None)
            for name in mods:
                sys.modules.pop(name, None)

    ref2 = load2("ref")
    assert load2("unrel", unrel=42) == ref2       # unrelated helper-module edit
    assert load2("helper", helper_add=2) != ref2  # the helper's body
    assert load2("const", k=2) != ref2            # a constant in its module


def test_key_fingerprints_stable_across_processes():
    """Every registered key's fingerprint is the same in two fresh
    interpreters with different hash seeds.  A lambda or function object
    held in a referenced table would repr with its memory address, and a
    plain set of strings orders by hash seed; either would stale keys at
    random between runs."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    probe = (
        "import json, __spark_entry__\n"
        "from pdf_extractor_spark.operators import registry as r\n"
        "print(json.dumps({k: r.key_fingerprint(k) for k in r.QUERIES}))\n"
    )
    runs = []
    for seed in ("1", "2"):
        res = subprocess.run(
            [sys.executable, "-c", probe],
            cwd=Path(__file__).resolve().parent.parent,
            env={**os.environ, "PYTHONHASHSEED": seed},
            capture_output=True, text=True, check=True, timeout=300)
        runs.append(json.loads(res.stdout.strip().splitlines()[-1]))
    assert sorted(runs[0]) == sorted(QUERIES)
    assert runs[0] == runs[1]
