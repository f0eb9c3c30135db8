"""Similarity search over the embedding column (task brief §extras).

Three index shapes over ``embeddings(vec_id, embedding: array<float>, label)``,
all ARRAY-NATIVE: dot products and norms are per-row ``zip_with`` +
``aggregate`` higher-order folds over the intact ``array<float>`` column —
the embedding table is never exploded to (vec_id, dim, v) rows.  (Round 1
used a posexplode that multiplied the big side 64x before any join — the
scale-killer VERDICT.md item 4; this rewrite removes every
``Generate(posexplode(embedding))`` from the big side of every plan.)

* brute-force cosine top-k — the correctness baseline: the 20 query vectors
  broadcast as whole arrays; cost O(Q x N x d) with NO row inflation of the
  big side beyond xQ, and the only shuffle is the final per-query top-k;
* random-hyperplane LSH ANN — the scale path: 8 md5-derived hyperplanes
  (coefficients are a pure function of (plane, dim), computed once in Python
  and inlined as literal arrays — zero joins to build buckets), sign-bit
  bucket per row, candidates share a bucket, exact cosine re-ranks
  candidates only;
* IVF-style cell probing — training-free coarse quantizer, assignment is one
  broadcast-nested-loop pass over N, search probes only the query's cell.

Portability: per-row folds run left-to-right while the DuckDB oracle sums in
group order, so every aggregated double is rounded (round 6) before compare
or sign tests — including the LSH bucket bit (``round(dot, 6) > 0``), which
would otherwise flip on a one-ulp summation difference near zero.

Scale notes (100 TB): brute force is fine for a broadcast-sized query set,
unusable all-pairs; the LSH bucket join bounds candidate fan-out to bucket
size and the IVF cell is the partition key — the classic inverted-file
trade.  Small sides (queries, centroids, norms of candidates) broadcast; the
big embedding table shuffles only on its own natural key for the re-rank
joins.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import T, fan_out, query

_PLANES = 8
_DIM = 64
# Test-scale vec_id window for the all-pairs cosine baseline, shared
# verbatim between the Spark query and its oracle SQL (single source of
# truth; see dedup.NGRAM_CAP for the rationale).
COSINE_CAP = 150

_DIMS_SQL = """
  dims AS (
    SELECT vec_id, u.i AS dim, CAST(u.v AS DOUBLE) AS v
    FROM (SELECT vec_id,
                 unnest(list_transform(embedding,
                                       (v, i) -> struct_pack(v := v, i := i))) AS u
          FROM embeddings)),
  norms AS (
    SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM dims GROUP BY vec_id)
"""


def dot(a: Column, b: Column) -> Column:
    """Per-row dot product of two float arrays: zip_with + left-fold — stays
    in the JVM, no explode, no shuffle."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """Per-row L2 norm of a float array."""
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def _emb(spark: SparkSession, sf: str) -> DataFrame:
    """Embeddings with a precomputed per-row norm (one pass, no shuffle)."""
    return (
        fan_out(T(spark, sf, "embeddings"), "vec_id")
        .select("vec_id", "embedding")
        .withColumn("nrm", norm(F.col("embedding")))
    )


@query(
    "q_ann_topk",
    "WITH "
    + _DIMS_SQL
    + """
    SELECT q_id, CAST(rn AS BIGINT) AS rn, cand_id FROM (
      SELECT q_id, cand_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY c DESC, cand_id) AS rn
      FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS cand_id,
               round(sum(a.v * b.v) / (na.nrm * nb.nrm), 6) AS c
        FROM dims a
        JOIN dims b ON a.dim = b.dim AND a.vec_id < 20 AND b.vec_id <> a.vec_id
        JOIN norms na ON na.vec_id = a.vec_id
        JOIN norms nb ON nb.vec_id = b.vec_id
        GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm))
    WHERE rn <= 5
    """,
)
def q_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 for 20 query vectors: the ANN correctness
    baseline.  Queries broadcast as whole arrays; each (candidate, query)
    pair is ONE per-row 64-wide fold — the big side is never exploded.
    Rank key is round(cosine, 6) with vec_id tie-break, absorbing the
    engines' summation-order ulp differences."""
    e = _emb(spark, sf)
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("qn"),
    )
    cos = F.round(
        dot(F.col("embedding"), F.col("q_emb")) / (F.col("nrm") * F.col("qn")), 6
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("c"), F.asc("cand_id"))
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("cand_id"), cos.alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", F.col("rn").cast("long").alias("rn"), "cand_id")
    )


def _plane_coefs(n_planes: int = _PLANES) -> list[list[float]]:
    """Deterministic hyperplane coefficients: coef(h, dim) = first md5 nibble
    of "h:dim" minus 7.5 — the exact function the DuckDB oracle states, so
    Python can inline them as literals (hashlib.md5 == SQL md5)."""
    return [
        [
            int(hashlib.md5(f"{h}:{dim}".encode()).hexdigest()[0], 16) - 7.5
            for dim in range(1, _DIM + 1)
        ]
        for h in range(n_planes)
    ]


@query(
    "q_ann_lsh",
    "WITH "
    + _DIMS_SQL
    + f""",
  planes AS (
    SELECT h, dim,
           strpos('0123456789abcdef',
                  substr(md5(CAST(h AS VARCHAR) || ':' || CAST(dim AS VARCHAR)),
                         1, 1)) - 1 - 7.5 AS coef
    FROM range(0, {_PLANES}) p(h), range(1, 65) d(dim)),
  buckets AS (
    SELECT vec_id, string_agg(bit, '' ORDER BY h) AS bucket FROM (
      SELECT d.vec_id, p.h,
             CASE WHEN round(sum(p.coef * d.v), 6) > 0 THEN '1' ELSE '0' END AS bit
      FROM dims d JOIN planes p ON d.dim = p.dim
      GROUP BY d.vec_id, p.h)
    GROUP BY vec_id),
  cands AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM buckets a JOIN buckets b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b FROM (
      SELECT c.vec_a, c.vec_b,
             round(sum(da.v * db.v) / (na.nrm * nb.nrm), 6) AS cos
      FROM cands c
      JOIN dims da ON da.vec_id = c.vec_a
      JOIN dims db ON db.vec_id = c.vec_b AND db.dim = da.dim
      JOIN norms na ON na.vec_id = c.vec_a
      JOIN norms nb ON nb.vec_id = c.vec_b
      GROUP BY c.vec_a, c.vec_b, na.nrm, nb.nrm)
    WHERE cos >= 0.25
    """,
)
def q_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed ANN: 8 md5-derived hyperplanes inlined as literal arrays,
    sign-bit bucket computed PER ROW (no join, no shuffle to build the
    index), candidates share the full 8-bit bucket, exact per-row cosine
    >= 0.25 confirms.  The bucket bit rounds the dot product (round 6)
    before the sign test so a hyperplane product within an ulp of zero
    cannot flip the bit on one engine only.  This is the scale path: cost
    ∝ bucket sizes, not N².

    Full-bucket equality is the HIGH-PRECISION end of the LSH dial —
    q_ann_recall MEASURES what it misses (recall ~(1-θ/π)^8, a few
    percent at low similarity thresholds) and shows the banded
    alternative (4 bands × 4 bits, match any band) recovering ~28-50×
    the recall for the same per-row cost; band width is the tuning knob,
    exactly as in the MinHash dedup family."""
    e = _emb(spark, sf)
    bits = [
        F.when(
            F.round(
                dot(F.col("embedding"), F.array(*[F.lit(c) for c in coefs])), 6
            ) > 0,
            "1",
        ).otherwise("0")
        for coefs in _plane_coefs()
    ]
    buckets = e.select(
        "vec_id", "embedding", "nrm", F.concat(*bits).alias("bucket")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cos = F.round(
        dot(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= 0.25)
        .select("vec_a", "vec_b")
    )


@query(
    "q_dedup_cosine",
    "WITH "
    + _DIMS_SQL
    + f"""
    SELECT vec_a, vec_b FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(sum(a.v * b.v) / (na.nrm * nb.nrm), 6) AS cos
      FROM dims a
      JOIN dims b ON a.dim = b.dim AND a.vec_id < b.vec_id
                 AND a.vec_id < {COSINE_CAP} AND b.vec_id < {COSINE_CAP}
      JOIN norms na ON na.vec_id = a.vec_id
      JOIN norms nb ON nb.vec_id = b.vec_id
      GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm)
    WHERE cos >= 0.35
    """,
)
def q_dedup_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (>= 0.35) within a vec_id window —
    the semantic-dedup primitive, one per-row fold per pair.  At scale this
    exact pass runs only inside LSH buckets (q_ann_lsh), never all-pairs."""
    e = _emb(spark, sf).filter(F.col("vec_id") < COSINE_CAP)
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(
        dot(F.col("emb_a"), F.col("emb_b")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.35)
        .select("vec_a", "vec_b")
    )


_KM_DIMS = 8  # output dims (means of the first 8 components; 64 at scale)


@query(
    "q_kmeans_step",
    "WITH "
    + _DIMS_SQL
    + """,
  cents AS (
    SELECT vec_id AS cid, dim, v AS cv FROM dims WHERE vec_id < 8),
  assign AS (
    SELECT vec_id, cid FROM (
      SELECT d.vec_id, c.cid,
             row_number() OVER (PARTITION BY d.vec_id
                                ORDER BY round(sum((d.v - c.cv) *
                                                   (d.v - c.cv)), 6), c.cid)
               AS rn
      FROM dims d JOIN cents c ON d.dim = c.dim
      GROUP BY d.vec_id, c.cid)
    WHERE rn = 1)
    SELECT a.cid, CAST(count(*) / 8 AS BIGINT) AS n_members,
           round(avg(CASE WHEN d.dim = 1 THEN d.v END), 6) AS c1,
           round(avg(CASE WHEN d.dim = 2 THEN d.v END), 6) AS c2,
           round(avg(CASE WHEN d.dim = 3 THEN d.v END), 6) AS c3,
           round(avg(CASE WHEN d.dim = 4 THEN d.v END), 6) AS c4,
           round(avg(CASE WHEN d.dim = 5 THEN d.v END), 6) AS c5,
           round(avg(CASE WHEN d.dim = 6 THEN d.v END), 6) AS c6,
           round(avg(CASE WHEN d.dim = 7 THEN d.v END), 6) AS c7,
           round(avg(CASE WHEN d.dim = 8 THEN d.v END), 6) AS c8
    FROM assign a JOIN dims d ON a.vec_id = d.vec_id AND d.dim <= 8
    GROUP BY a.cid
    """,
)
def q_kmeans_step(spark: SparkSession, sf: str) -> DataFrame:
    """One Lloyd iteration of k-means (k=8, deterministic init = first 8
    vectors): per-row argmin assignment against broadcast centroids, then
    new centroid means as 8 conditional-aggregate columns — ONE shuffle
    (the groupBy), no explode.  The iterative-refinement primitive behind
    a real IVF coarse quantizer (q_ann_ivf swaps these centroids in without
    changing plan shape); loop it k times for full k-means — each step is
    this exact plan."""
    e = _emb(spark, sf)
    # ALL centroids in ONE broadcast row; assignment is then a per-row fold
    # (argmin with cid tie-break — order-independent, so collect_list's
    # nondeterministic order is harmless).  Zero shuffles for assignment;
    # the crossJoin of a 1-row broadcast is a BroadcastNestedLoop no-op.
    cent_row = (
        T(spark, sf, "embeddings")  # raw scan: 8 rows need no fan-out
        .filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb"))
        .agg(F.collect_list(F.struct("cid", "cemb")).alias("cents"))
    )

    def argmin(acc, c):
        d2 = F.round(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"), c["cemb"],
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        )
        better = (d2 < acc["d2"]) | ((d2 == acc["d2"]) & (c["cid"] < acc["cid"]))
        return F.when(
            better, F.struct(d2.alias("d2"), c["cid"].alias("cid"))
        ).otherwise(acc)

    init = F.struct(
        F.lit(float("inf")).alias("d2"),
        F.lit(2 ** 62).cast("long").alias("cid"),
    )
    assigned = e.crossJoin(F.broadcast(cent_row)).select(
        "vec_id", "embedding",
        F.aggregate(F.col("cents"), init, argmin)["cid"].alias("cid"),
    )
    return assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        *[
            F.round(
                F.avg(F.element_at("embedding", i).cast("double")), 6
            ).alias(f"c{i}")
            for i in range(1, _KM_DIMS + 1)
        ],
    )


def _argmin_cid(cent_row_col: str = "cents"):
    """Per-row argmin fold against a broadcast 1-row centroid array:
    round(d², 6) with cid tie-break — order-independent, engine-portable."""
    def argmin(acc, c):
        d2 = F.round(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"), c["cemb"],
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        )
        better = (d2 < acc["d2"]) | ((d2 == acc["d2"]) & (c["cid"] < acc["cid"]))
        return F.when(
            better, F.struct(d2.alias("d2"), c["cid"].alias("cid"))
        ).otherwise(acc)

    init = F.struct(
        F.lit(float("inf")).alias("d2"),
        F.lit(2 ** 62).cast("long").alias("cid"),
    )
    return F.aggregate(F.col(cent_row_col), init, argmin)["cid"]


def _lloyd_step(e: DataFrame, cent_row: DataFrame) -> DataFrame:
    """One Lloyd iteration, centroids in -> centroids out, BOTH as 1-row
    broadcastable frames {cents: array<struct<cid, cemb>>}.  New centroid
    components are round(avg, 6) so the DuckDB oracle's group-order
    summation lands on identical values (registry portability rules)."""
    assigned = e.crossJoin(F.broadcast(cent_row)).select(
        "vec_id", "embedding", _argmin_cid().alias("cid")
    )
    new_cents = assigned.groupBy("cid").agg(
        F.array(*[
            F.round(F.avg(F.element_at("embedding", i).cast("double")), 6)
            for i in range(1, _DIM + 1)
        ]).alias("cemb")
    )
    return new_cents.agg(F.collect_list(F.struct("cid", "cemb")).alias("cents"))


_IVF_ITERS = 2

_TRAINED_CENTS_SQL = f"""
  c0 AS (
    SELECT vec_id AS cid, dim, v AS cv FROM dims WHERE vec_id < 8),
  a1 AS (
    SELECT vec_id, cid FROM (
      SELECT d.vec_id, c.cid,
             row_number() OVER (PARTITION BY d.vec_id
                                ORDER BY round(sum((d.v - c.cv) *
                                                   (d.v - c.cv)), 6), c.cid)
               AS rn
      FROM dims d JOIN c0 c ON d.dim = c.dim
      GROUP BY d.vec_id, c.cid)
    WHERE rn = 1),
  c1 AS (
    SELECT a.cid, d.dim, round(avg(d.v), 6) AS cv
    FROM a1 a JOIN dims d ON a.vec_id = d.vec_id
    GROUP BY a.cid, d.dim),
  a2 AS (
    SELECT vec_id, cid FROM (
      SELECT d.vec_id, c.cid,
             row_number() OVER (PARTITION BY d.vec_id
                                ORDER BY round(sum((d.v - c.cv) *
                                                   (d.v - c.cv)), 6), c.cid)
               AS rn
      FROM dims d JOIN c1 c ON d.dim = c.dim
      GROUP BY d.vec_id, c.cid)
    WHERE rn = 1),
  c2 AS (
    SELECT a.cid, d.dim, round(avg(d.v), 6) AS cv
    FROM a2 a JOIN dims d ON a.vec_id = d.vec_id
    GROUP BY a.cid, d.dim)
"""


@query(
    "q_ann_ivf_trained",
    "WITH "
    + _DIMS_SQL
    + ","
    + _TRAINED_CENTS_SQL
    + """,
  assign AS (
    SELECT vec_id, cid FROM (
      SELECT d.vec_id, c.cid,
             row_number() OVER (PARTITION BY d.vec_id
                                ORDER BY round(sum((d.v - c.cv) *
                                                   (d.v - c.cv)), 6), c.cid)
               AS rn
      FROM dims d JOIN c2 c ON d.dim = c.dim
      GROUP BY d.vec_id, c.cid)
    WHERE rn = 1),
  cand AS (
    SELECT q.vec_id AS q_id, c.vec_id AS cand_id
    FROM assign q JOIN assign c
      ON q.cid = c.cid AND q.vec_id < 20 AND c.vec_id <> q.vec_id)
    SELECT q_id, CAST(rn AS BIGINT) AS rn, cand_id FROM (
      SELECT x.q_id, x.cand_id,
             row_number() OVER (PARTITION BY x.q_id
                                ORDER BY x.c DESC, x.cand_id) AS rn
      FROM (
        SELECT cd.q_id, cd.cand_id,
               round(sum(a.v * b.v) / (na.nrm * nb.nrm), 6) AS c
        FROM cand cd
        JOIN dims a ON a.vec_id = cd.q_id
        JOIN dims b ON b.vec_id = cd.cand_id AND b.dim = a.dim
        JOIN norms na ON na.vec_id = cd.q_id
        JOIN norms nb ON nb.vec_id = cd.cand_id
        GROUP BY cd.q_id, cd.cand_id, na.nrm, nb.nrm) x)
    WHERE rn <= 3
    """,
)
def q_ann_ivf_trained(spark: SparkSession, sf: str) -> DataFrame:
    """TRAINED-IVF composition (round-3 item 6): run _IVF_ITERS=2 full Lloyd
    iterations from the deterministic init (first 8 vectors) — each
    iteration is exactly the q_kmeans_step plan: broadcast 1-row centroid
    array, per-row argmin fold, ONE groupBy shuffle — then build the IVF
    index on the TRAINED centroids and probe the query's cell with exact
    cosine re-rank to top-3.  Proves the coarse quantizer is trainable
    end-to-end: swapping centroids changes recall, never plan shape; the
    loop is driver-side composition of identical DataFrame steps, no
    collect of anything but nothing (centroids stay a broadcast frame).
    Centroid means round(·, 6) each iteration on both engines so the
    assignment argmins agree despite summation-order ulp differences."""
    e = _emb(spark, sf)
    cent_row = (
        T(spark, sf, "embeddings")
        .filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("cid"),
            F.transform(F.col("embedding"),
                        lambda x: x.cast("double")).alias("cemb"),
        )
        .agg(F.collect_list(F.struct("cid", "cemb")).alias("cents"))
    )
    for _ in range(_IVF_ITERS):
        cent_row = _lloyd_step(e, cent_row)

    assign = e.crossJoin(F.broadcast(cent_row)).select(
        "vec_id", _argmin_cid().alias("cid")
    )
    q = assign.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), "cid"
    )
    cand = (
        q.join(assign, "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("cand_id"))
    )
    qa = e.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("qn"),
    )
    ca = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("cn"),
    )
    cos = F.round(
        dot(F.col("q_emb"), F.col("c_emb")) / (F.col("qn") * F.col("cn")), 6
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc("c"), F.asc("cand_id"))
    return (
        cand.join(F.broadcast(qa), "q_id")
        .join(ca, "cand_id")
        .select("q_id", "cand_id", cos.alias("c"))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= 3)
        .select("q_id", F.col("rn").cast("long").alias("rn"), "cand_id")
    )


@query(
    "q_ann_ivf",
    "WITH "
    + _DIMS_SQL
    + """,
  cents AS (
    SELECT vec_id AS cid, dim, v AS cv FROM dims WHERE vec_id < 8),
  assign AS (
    SELECT vec_id, cid FROM (
      SELECT d.vec_id, c.cid,
             row_number() OVER (PARTITION BY d.vec_id
                                ORDER BY round(sum((d.v - c.cv) *
                                                   (d.v - c.cv)), 6), c.cid)
               AS rn
      FROM dims d JOIN cents c ON d.dim = c.dim
      GROUP BY d.vec_id, c.cid)
    WHERE rn = 1),
  cand AS (
    SELECT q.vec_id AS q_id, c.vec_id AS cand_id
    FROM assign q JOIN assign c
      ON q.cid = c.cid AND q.vec_id < 20 AND c.vec_id <> q.vec_id)
    SELECT q_id, CAST(rn AS BIGINT) AS rn, cand_id FROM (
      SELECT x.q_id, x.cand_id,
             row_number() OVER (PARTITION BY x.q_id
                                ORDER BY x.c DESC, x.cand_id) AS rn
      FROM (
        SELECT cd.q_id, cd.cand_id,
               round(sum(a.v * b.v) / (na.nrm * nb.nrm), 6) AS c
        FROM cand cd
        JOIN dims a ON a.vec_id = cd.q_id
        JOIN dims b ON b.vec_id = cd.cand_id AND b.dim = a.dim
        JOIN norms na ON na.vec_id = cd.q_id
        JOIN norms nb ON nb.vec_id = cd.cand_id
        GROUP BY cd.q_id, cd.cand_id, na.nrm, nb.nrm) x)
    WHERE rn <= 3
    """,
)
def q_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN: a training-free coarse quantizer (centroids = the
    first 8 vectors — deterministic, no k-means iterations to reproduce),
    every vector assigned to its nearest centroid cell by a per-row squared
    distance fold against the broadcast centroid arrays, search probes ONLY
    the query's cell, exact per-row cosine re-ranks to top-3.

    The scale story vs brute force: assignment is one broadcast-nested-loop
    pass over N (no explode), search cost ∝ cell size (~N/K), and cells are
    the partition key — the same inverted-file trade real IVF indexes make;
    swapping in k-means centroids changes recall, not the plan shape."""
    e = _emb(spark, sf)
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("embedding"), F.col("cemb"),
                lambda x, c: (x.cast("double") - c.cast("double"))
                * (x.cast("double") - c.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    assign = (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    q = assign.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), "cid"
    )
    cand = (
        q.join(assign, "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("cand_id"))
    )
    qa = e.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("qn"),
    )
    ca = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("cn"),
    )
    cos = F.round(
        dot(F.col("q_emb"), F.col("c_emb")) / (F.col("qn") * F.col("cn")), 6
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc("c"), F.asc("cand_id"))
    return (
        cand.join(F.broadcast(qa), "q_id")
        .join(ca, "cand_id")
        .select("q_id", "cand_id", cos.alias("c"))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= 3)
        .select("q_id", F.col("rn").cast("long").alias("rn"), "cand_id")
    )


@query(
    "q_ann_recall",
    "WITH "
    + _DIMS_SQL
    + f""",
  truth AS (
    SELECT vec_a, vec_b FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(sum(a.v * b.v) / (na.nrm * nb.nrm), 6) AS cos
      FROM dims a
      JOIN dims b ON a.dim = b.dim AND a.vec_id < b.vec_id
                 AND a.vec_id < {COSINE_CAP} AND b.vec_id < {COSINE_CAP}
      JOIN norms na ON na.vec_id = a.vec_id
      JOIN norms nb ON nb.vec_id = b.vec_id
      GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm)
    WHERE cos >= 0.25),
  planes AS (
    SELECT h, dim,
           strpos('0123456789abcdef',
                  substr(md5(CAST(h AS VARCHAR) || ':' || CAST(dim AS VARCHAR)),
                         1, 1)) - 1 - 7.5 AS coef
    FROM range(0, {2 * _PLANES}) p(h), range(1, 65) d(dim)),
  buckets AS (
    SELECT vec_id, string_agg(bit, '' ORDER BY h) AS bucket FROM (
      SELECT d.vec_id, p.h,
             CASE WHEN round(sum(p.coef * d.v), 6) > 0 THEN '1' ELSE '0' END AS bit
      FROM dims d JOIN planes p ON d.dim = p.dim
      WHERE d.vec_id < {COSINE_CAP}
      GROUP BY d.vec_id, p.h)
    GROUP BY vec_id),
  found_single AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM buckets a JOIN buckets b
      ON substr(a.bucket, 1, {_PLANES}) = substr(b.bucket, 1, {_PLANES})
     AND a.vec_id < b.vec_id),
  bands AS (
    SELECT vec_id, band, substr(bucket, band * 4 + 1, 4) AS key
    FROM buckets, range(0, 4) r(band)),
  found_banded AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
  SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
         CAST((SELECT count(*) FROM truth t
               JOIN found_single f USING (vec_a, vec_b)) AS BIGINT)
           AS n_single,
         round(CAST((SELECT count(*) FROM truth t
                     JOIN found_single f USING (vec_a, vec_b)) AS DOUBLE)
               / greatest((SELECT count(*) FROM truth), 1), 6)
           AS recall_single,
         CAST((SELECT count(*) FROM truth t
               JOIN found_banded f USING (vec_a, vec_b)) AS BIGINT)
           AS n_banded,
         round(CAST((SELECT count(*) FROM truth t
                     JOIN found_banded f USING (vec_a, vec_b)) AS DOUBLE)
               / greatest((SELECT count(*) FROM truth), 1), 6)
           AS recall_banded
    """,
)
def q_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Index-quality EVALUATION: recall of two LSH index shapes against
    brute-force cosine ground truth (pairs >= 0.25, COSINE_CAP window) —
    the measurement that turns 'we have an ANN index' into 'we know what
    it misses', and the driver-verified form of the LSH banding trade:

    * single-table (all 8 sign bits must agree — q_ann_lsh's shape):
      high-precision candidate generation, recall ~(1 - theta/pi)^8 — a
      few percent at this LOW similarity threshold, by design;
    * banded (16 planes as 4 bands x 4 bits, match ANY band — the
      minhash-LSH discipline): recall 1-(1-p^4)^4, an order of magnitude
      higher for the same per-row index cost.

    Plan: ground truth is the capped all-pairs fold (the evaluation
    window only — never the full corpus); both index shapes are per-row
    literal-plane projections; band candidates explode to just 4 rows per
    vector before the bucket join.  Counts are integers, so the recall
    ratios divide identically on both engines."""
    e = _emb(spark, sf).filter(F.col("vec_id") < COSINE_CAP)
    a = e.select(F.col("vec_id").alias("vec_a"),
                 F.col("embedding").alias("emb_a"), F.col("nrm").alias("na"))
    b = e.select(F.col("vec_id").alias("vec_b"),
                 F.col("embedding").alias("emb_b"), F.col("nrm").alias("nb"))
    cos = F.round(
        dot(F.col("emb_a"), F.col("emb_b")) / (F.col("na") * F.col("nb")), 6
    )
    truth = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= 0.25)
        .select("vec_a", "vec_b")
    )
    bits = [
        F.when(
            F.round(
                dot(F.col("embedding"), F.array(*[F.lit(c) for c in coefs])), 6
            ) > 0,
            "1",
        ).otherwise("0")
        for coefs in _plane_coefs(2 * _PLANES)
    ]
    buckets = e.select("vec_id", F.concat(*bits).alias("bucket"))

    fa = buckets.select(F.col("vec_id").alias("vec_a"),
                        F.substring("bucket", 1, _PLANES).alias("ka"))
    fb = buckets.select(F.col("vec_id").alias("vec_b"),
                        F.substring("bucket", 1, _PLANES).alias("kb"))
    found_single = fa.join(
        fb, (F.col("ka") == F.col("kb")) & (F.col("vec_a") < F.col("vec_b"))
    ).select("vec_a", "vec_b")

    band_structs = [
        F.struct(F.lit(i).alias("band"),
                 F.substring("bucket", i * 4 + 1, 4).alias("key"))
        for i in range(4)
    ]
    bands = buckets.select(
        "vec_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("vec_id", F.col("bb.band").alias("band"),
             F.col("bb.key").alias("key"))
    ba = bands.select(F.col("vec_id").alias("vec_a"), "band", "key")
    bb2 = bands.select(F.col("vec_id").alias("vec_b"),
                       F.col("band").alias("band2"),
                       F.col("key").alias("key2"))
    found_banded = (
        ba.join(bb2, (F.col("band") == F.col("band2"))
                & (F.col("key") == F.col("key2"))
                & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b")
        .distinct()
    )

    t_agg = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    s_agg = truth.join(found_single, ["vec_a", "vec_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_single"))
    b_agg = truth.join(found_banded, ["vec_a", "vec_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_banded"))
    return (
        t_agg.crossJoin(s_agg).crossJoin(b_agg).select(
            "n_truth",
            "n_single",
            F.round(F.col("n_single").cast("double")
                    / F.greatest(F.col("n_truth"), F.lit(1).cast("long")),
                    6).alias("recall_single"),
            "n_banded",
            F.round(F.col("n_banded").cast("double")
                    / F.greatest(F.col("n_truth"), F.lit(1).cast("long")),
                    6).alias("recall_banded"),
        )
    )


# --- q_hash_embed -----------------------------------------------------------
_EMBED_DIMS = 64  # hashing-trick feature width (a real run uses 2^18+; the
                  # plan shape is dimension-independent)

# Shared bucket function: last two hex chars of md5(word) -> 0..255 -> % dims.
# Built from primitives both engines evaluate identically (md5 of the UTF-8
# bytes, hex-char index via position-in-alphabet); Spark needs the explicit
# binary cast, DuckDB hashes strings directly — same bytes either way.
_HEX = "0123456789abcdef"


def _bucket_duck(w: str = "w") -> str:
    h = f"md5({w})"
    return (
        f"((strpos('{_HEX}', substring({h}, 31, 1)) - 1) * 16"
        f" + strpos('{_HEX}', substring({h}, 32, 1)) - 1) % {_EMBED_DIMS}"
    )


@query(
    "q_hash_embed",
    f"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
      FROM documents WHERE trim(text) <> ''),
    b AS (
      SELECT doc_id, {_bucket_duck()} AS dim
      FROM (SELECT doc_id, unnest(ws) AS w FROM docs) WHERE w <> ''),
    c AS (SELECT doc_id, dim, count(*) AS cnt FROM b GROUP BY doc_id, dim)
    SELECT d.doc_id, CAST(r.range AS BIGINT) AS dim,
           CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
    FROM (SELECT doc_id FROM docs) d
    CROSS JOIN range({_EMBED_DIMS}) r
    LEFT JOIN c ON c.doc_id = d.doc_id AND c.dim = r.range
    """,
)
def q_hash_embed(spark: SparkSession, sf: str) -> DataFrame:
    """Hashing-trick document featurizer (Weinberger et al. 2009 — the
    fastText-style bag-of-words embedding): each word hashes to one of
    {_EMBED_DIMS} dimensions, the document vector is the per-dimension count.
    This is the step that MANUFACTURES the embedding column the ANN /
    cosine-dedup family (q_ann_*, q_dedup_cosine) consumes — documents in,
    fixed-width vectors out.

    Scale shape: each word is hashed ONCE in a per-row transform (a
    dims-by-words probe fold would recompute the hash per dimension —
    measured 45 s vs ~2 s at sf0.1); the bucket ints explode and hit a
    groupBy(doc_id, dim) whose map-side partial aggregation collapses the
    shuffle to <= {_EMBED_DIMS} rows per doc per partition — the shuffle is
    bounded by docs x dims, never by tokens.  The dense (zero-filled)
    vector rows come from a sequence explode + one co-partitioned join."""
    d = T(spark, sf, "documents").filter(F.trim(F.col("text")) != "")
    # one md5 per WORD: hash to the last-2-hex-chars string, then map the
    # string to its bucket int — two cheap array passes, no rehash per dim
    hs = F.expr(
        r"transform(filter(split(lower(trim(text)), '\\s+'), w -> w != ''),"
        r" w -> substring(md5(cast(w as binary)), 31, 2))"
    )
    buckets = F.expr(
        f"transform(hs, h -> ((locate(substring(h, 1, 1), '{_HEX}') - 1) * 16"
        f" + locate(substring(h, 2, 1), '{_HEX}') - 1) % {_EMBED_DIMS})"
    )
    counts = (
        d.select("doc_id", hs.alias("hs"))
        .select("doc_id", F.explode(buckets).alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    dense = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_EMBED_DIMS - 1))).alias("dim"),
    )
    return (
        dense.join(counts, ["doc_id", "dim"], "left")
        .select(
            "doc_id",
            F.col("dim").cast("long").alias("dim"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
        )
    )
