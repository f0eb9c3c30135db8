"""Driver-contract query registry.

Every SQL-expressible operator from SURVEY.md §2 registers here as a
``(spark, sf_dir) -> DataFrame`` callable plus (when expressible) a DuckDB
oracle SQL string over the same parquet tables.  ``__spark_entry__.py``
exposes these dicts verbatim to the driver.

Portability rules baked into every pair (learned by probing DuckDB 1.0 vs
Spark 4.1 — see tests/test_driver_contract.py which enforces them):

* no DECIMAL / raw TIMESTAMP / BOOLEAN in final outputs — money math runs in
  exact DECIMAL(18,2) then casts to DOUBLE at the end; timestamps are
  formatted to strings; counts/sums of ints are cast to BIGINT (DuckDB's
  sum(INTEGER) is HUGEINT which pandas would coerce to float64);
* per-row derived doubles are bit-identical across engines (same IEEE ops on
  the same parquet values) and may be output raw; *aggregated* doubles are
  order-sensitive in the last ulp and must be decimal-exact or rounded;
* DuckDB ``regexp_replace`` needs the ``'g'`` flag to match Spark's
  replace-all; DuckDB list lambdas use 1-based indices vs posexplode's
  0-based ``pos``.
"""

from __future__ import annotations

import hashlib
import inspect
import sys
import types
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def query(name: str, oracle: str | None = None):
    """Register a driver-contract query (and its DuckDB oracle, if any)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _code_global_names(fn) -> set[str]:
    """Every global name referenced by fn's code object, including names
    used inside nested functions/lambdas/comprehensions."""
    names: set[str] = set()
    stack = [fn.__code__]
    while stack:
        code = stack.pop()
        names.update(code.co_names)
        names.update(code.co_freevars)
        for const in code.co_consts:
            if isinstance(const, types.CodeType):
                stack.append(const)
    return names


_PLAIN = (str, bytes, int, float, complex, bool, type(None),
          tuple, list, dict, set, frozenset)


def _stable_repr(obj) -> str:
    """repr() with deterministic ordering for sets (str hash randomization
    makes plain set repr vary across processes, which would flap the
    fingerprint) and recursion through containers."""
    if isinstance(obj, (set, frozenset)):
        return "{" + ", ".join(sorted(_stable_repr(x) for x in obj)) + "}"
    if isinstance(obj, tuple):
        return "(" + ", ".join(_stable_repr(x) for x in obj) + ",)"
    if isinstance(obj, list):
        return "[" + ", ".join(_stable_repr(x) for x in obj) + "]"
    if isinstance(obj, dict):
        return "{" + ", ".join(
            f"{_stable_repr(k)}: {_stable_repr(v)}" for k, v in obj.items()
        ) + "}"
    return repr(obj)


#: Functions and classes defined under this prefix are hashed by source and
#: followed; ``registry`` itself (``T``, ``fan_out``) stays name-only.
_FOLLOWED = "pdf_extractor_spark.operators."


def _followed(obj, home: str) -> bool:
    mod = getattr(obj, "__module__", None) or ""
    return mod == home or (mod.startswith(_FOLLOWED) and mod != __name__)


def key_fingerprint(key: str) -> str:
    """Per-key staleness fingerprint for the driver-cap rotation
    (ADVICE round-4, high): sha256 over the query function's source, the
    sources of every function/class it transitively references that is
    defined in its own module or in another ``operators`` module (each
    followed function's globals resolve in that function's own module), the
    repr of every plain constant so reached, and the oracle SQL.  An edit
    to an UNRELATED function never stales a certified key, while any edit
    that can change THIS key's behavior (its own body, a helper it calls
    in any operators module, such as ``pipeline_queries._doc_gate``, a
    shared constant, or its oracle) does.  ``registry`` (``T``,
    ``fan_out``), the kernels and pyspark still hash as bare names:
    following them would stale almost every key at once (118 of 125 when
    this rule was set), over the driver's 50-row cap."""
    fn = QUERIES[key]
    home = fn.__module__
    parts: dict[str, str] = {"__self__": inspect.getsource(fn),
                             "__oracle__": ORACLES.get(key, "")}
    seen: set[tuple[str, str]] = set()
    frontier = [fn]
    while frontier:
        cur = frontier.pop()
        mod = cur.__module__
        env = sys.modules[mod].__dict__
        for name in sorted(_code_global_names(cur)):
            if (mod, name) in seen or name not in env:
                continue
            seen.add((mod, name))
            # the query's own module keeps bare part names, so a key whose
            # closure stays in its module hashes as it always has
            part = name if mod == home else f"{mod}:{name}"
            obj = env[name]
            if (inspect.isfunction(obj) or inspect.isclass(obj)) and \
                    _followed(obj, home):
                try:
                    parts[part] = inspect.getsource(obj)
                except (OSError, TypeError):
                    parts[part] = f"<unsourceable:{name}>"
                if inspect.isfunction(obj):
                    frontier.append(obj)
            elif isinstance(obj, _PLAIN):
                parts[part] = _stable_repr(obj)
            else:  # imported module / foreign callable: name-only marker
                parts[part] = f"<extern:{name}>"
    h = hashlib.sha256()
    for name in sorted(parts):
        h.update(name.encode())
        h.update(b"\x00")
        h.update(parts[name].encode())
        h.update(b"\x01")
    return h.hexdigest()


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table (plain parquet scan — pushdown-friendly)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition a SMALL scan before CPU-heavy per-row work (explode /
    hash / kernel UDF).  A few-MB parquet file maps to 1-2 input partitions
    (spark.sql.files.maxPartitionBytes), which serializes the expensive
    stage onto 1-2 cores; at 100 TB the scan itself is wide and this is a
    no-op cost-wise (one narrow shuffle of the slim input columns)."""
    sc = df.sparkSession.sparkContext
    n = max(8, sc.defaultParallelism * 2)
    cols = [df[k] for k in keys] if keys else []
    return df.repartition(n, *cols) if cols else df.repartition(n)
