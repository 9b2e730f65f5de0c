"""Similarity search over an embedding column (array<float>).

Two tiers:
- ``cosine_topk``: brute-force scan — the correctness baseline. One narrow
  pass (dot product via ``F.zip_with`` + ``F.aggregate``, pure JVM) and a
  global top-k (TakeOrdered — per-partition heaps, only k rows per partition
  reach the driver; no full sort, no shuffle of the corpus).
- ``lsh_topk``: random-hyperplane LSH — the scale path. Corpus bucket
  signatures come from a relational pass (posexplode → codegen'd per-plane
  sum-aggregates → id-keyed join back; see ``_bucket_projs``) — one extra
  id-shuffle, but zero interpreted higher-order functions on the corpus.
  The query's own bucket is computed in Python (:func:`query_bucket`,
  bit-identical to the corpus pass) and inlined as a literal, so building
  the probe runs no Spark job and the probe filter is a pure codegen
  bit_count. The probe filters the corpus rows after the bucket pass; it
  keeps ~C(planes, <=hamming)/2^planes of them. Hyperplane coefficients
  are deterministic integer hashes (no RNG shipping, reproducible at any
  parallelism).
"""

from __future__ import annotations

import struct

from pyspark.sql import Column, DataFrame, functions as F

from beats_spark.ml.dedup import POLY_P, pack_sign_bits_sql
from beats_spark.processors.xxh64 import xxh64

# ---------------------------------------------------------------------------
# vector math, pure JVM
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """NULL when either vector has a zero norm (or a NULL element)."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


# ---------------------------------------------------------------------------
# hyperplane buckets
# ---------------------------------------------------------------------------


def _coef(p: int, d: int, coef_hash: str = "xx") -> float:
    """Deterministic "random" hyperplane coefficient in [-1, 1) of plane
    ``p``, dimension ``d``. 'xx' (default) is Spark's signed ``xxhash64``
    of the INT ``p*16384 + d`` (the corpus pass derives it inline in SQL).
    'poly' hashes the DECIMAL STRING of ``p*16384 + d + 1`` polynomially:
    digit decomposition is nonlinear, so consecutive (p, d) don't give
    arithmetic-progression coefficients (correlated planes wreck LSH
    recall), and the integer arithmetic is DuckDB-replicable, giving
    bucketed queries a value-level oracle."""
    if coef_hash == "xx":
        mixed = xxh64(struct.pack("<i", p * 16384 + d), 42)
        mixed -= (mixed >> 63) << 64  # read as signed
    else:
        mixed = 7
        for ch in str(p * 16384 + d + 1):
            mixed = (mixed * 31 + ord(ch)) % POLY_P
    return (float(mixed % 2000) - 1000.0) / 1000.0


def _coef_sql(p: int, coef_hash: str) -> str:
    """SQL text of :func:`_coef` for plane ``p`` at dimension ``__pos``.
    'poly' folds the decimal digits of ``n = p*16384 + __pos + 1`` most
    significant first, as arithmetic (``__pos`` is an INT, so ``n`` has at
    most 10 digits): a place above ``n``'s leading digit multiplies by 1
    and adds 0, which leaves the fold unchanged."""
    if coef_hash == "xx":
        mixed = f"xxhash64({p * 16384} + __pos)"
    else:
        n = f"(CAST(__pos AS BIGINT) + {p * 16384 + 1})"
        mixed = "7"
        for j in range(9, -1, -1):
            on = f"{n} >= {10 ** j}"
            mixed = (f"pmod({mixed} * IF({on}, 31, 1) + IF({on}, 48 + "
                     f"pmod(div({n}, {10 ** j}), 10), 0), {POLY_P})")
    return f"((CAST(pmod({mixed}, 2000) AS DOUBLE) - 1000.0) / 1000.0)"


def query_bucket(vec, num_planes: int = 8, coef_hash: str = "xx") -> int:
    """Bucket id of one vector: bit p is set when its projection on plane
    p is positive. Each projection is summed in dimension order from 0.0,
    so the value is bit-identical to the corpus pass. An empty or NULL
    vector, or one with a NULL element, is bucket 0."""
    if vec is None or len(vec) == 0 or any(x is None for x in vec):
        return 0
    out = 0
    for p in range(num_planes):
        proj = 0.0
        for d, x in enumerate(vec):
            proj += float(x) * _coef(p, d, coef_hash)
        # Spark orders NaN above every value: NaN sets the bit there too
        if proj > 0 or proj != proj:
            out |= 1 << p
    return out


def _bucket_projs(base: DataFrame, num_planes: int,
                  coef_hash: str) -> DataFrame:
    """(__id, __bkt, __n) for every id of ``base`` (columns __id, __v):
    the hyperplane bucket and the L2 norm of the vector, from one
    ``posexplode_outer`` and one aggregate of codegen'd sums. A NULL or
    empty vector explodes to one NULL element; any NULL element gives
    bucket 0 and a NULL norm, where a plain sum() would skip it.

    Both derive the coefficient inline from the element position, in
    codegen SQL (:func:`_coef_sql`): no table to size, so building the
    pass runs no Spark job."""
    ex = base.select("__id", F.posexplode_outer("__v").alias("__pos", "__x"))
    prods = [f"sum(__x * {_coef_sql(p, coef_hash)})"
             for p in range(num_planes)]
    projs = ex.groupBy("__id").agg(
        F.expr("sum(CASE WHEN __x IS NULL THEN 1 ELSE 0 END)").alias("__nn"),
        F.expr("sqrt(sum(__x * __x))").alias("__n"),
        *[F.expr(prods[p]).alias(f"__p{p}") for p in range(num_planes)],
    )
    return projs.select(
        "__id",
        F.expr(f"CASE WHEN __nn > 0 THEN CAST(0 AS BIGINT) "
               f"ELSE {pack_sign_bits_sql('__p', num_planes)} END"
               ).alias("__bkt"),
        F.expr("CASE WHEN __nn > 0 THEN CAST(NULL AS DOUBLE) "
               "ELSE __n END").alias("__n"),
    )


def _base(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("__id"),
                     F.col(vec_col).cast("array<double>").alias("__v"))


def _bucketed(corpus: DataFrame, vec_col: str, id_col: str,
              num_planes: int, coef_hash: str) -> DataFrame:
    """The corpus plus its ``__bkt`` column (a NULL id gets bucket 0)."""
    b = _bucket_projs(_base(corpus, vec_col, id_col), num_planes, coef_hash)
    return (corpus.join(b.select(F.col("__id").alias(id_col), "__bkt"),
                        id_col, "left")
            .withColumn("__bkt", F.coalesce("__bkt", F.lit(0).cast("long"))))


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------


def _topk(rows: DataFrame, query_vec: list[float], k: int, vec_col: str,
          id_col: str, exclude_id: int | None) -> DataFrame:
    """(id, score): exact cosine of ``vec_col`` to the query, ordered by
    (score desc, id) — the id tiebreak keeps results deterministic. Rows
    without a cosine (a zero-norm or NULL-element vector on either side)
    are dropped.
    ``orderBy().limit(k)`` compiles to TakeOrdered: no global sort at any
    scale."""
    if exclude_id is not None:
        rows = rows.filter(F.col(id_col) != exclude_id)
    q = F.lit(query_vec).cast("array<double>")
    return (
        rows.select(F.col(id_col),
                    cosine(F.col(vec_col).cast("array<double>"), q)
                    .alias("score"))
        .filter(F.col("score").isNotNull())
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("score", 6).alias("score"))
    )


def cosine_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """Brute-force top-k by cosine similarity to a constant query vector.

    Returns (id, score) ordered by (score desc, id)."""
    return _topk(corpus, query_vec, k, vec_col, id_col, exclude_id)


def lsh_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    probe_hamming: int = 2,
    exclude_id: int | None = None,
    coef_hash: str = "xx",
) -> DataFrame:
    """ANN top-k: scan only corpus rows whose hyperplane bucket is within
    ``probe_hamming`` bits of the query's bucket (multi-probe LSH), then
    exact cosine + top-k inside the probed slice. The probe filter is a
    codegen'd ``bit_count`` over the bucket column, computed on the fly.
    """
    qb = query_bucket(query_vec, num_planes, coef_hash)
    probed = _bucketed(corpus, vec_col, id_col, num_planes, coef_hash).filter(
        F.bit_count(F.col("__bkt").cast("long").bitwiseXOR(F.lit(qb)))
        <= probe_hamming)
    return _topk(probed, query_vec, k, vec_col, id_col, exclude_id)
