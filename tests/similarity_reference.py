"""The previous hyperplane-bucket forms, kept as the test oracle.

These are the implementations that ``beats_spark.ml.similarity`` and
``beats_spark.ml.dedup.embedding_neardup_pairs`` replaced: the interpreted
Column form ``hyperplane_bucket`` (plane coefficients from ``_plane_coef``,
one ``zip_with``/``aggregate`` fold per plane), the bucket pass that
covered only ids with a non-empty vector (callers left-joined an id spine
and coalesced to bucket 0), ``lsh_topk`` evaluating the query's bucket in
a 1-row Spark job, and the embedding near-dup op with a separate norms
aggregate. The production operators must emit exactly the same rows
(``tests/test_ml.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from beats_spark.ml.dedup import POLY_P, pack_sign_bits_sql, poly_string_hash
from beats_spark.ml.similarity import cosine


def _plane_coef(p: int, d: Column, coef_hash: str = "xx") -> Column:
    if coef_hash == "xx":
        mixed = F.xxhash64(F.lit(p) * 16384 + d)
    else:
        mixed = poly_string_hash(
            (F.lit(p).cast("long") * 16384 + d + 1).cast("string")
        )
    return (F.pmod(mixed, F.lit(2000)).cast("double") - F.lit(1000.0)) / F.lit(1000.0)


def hyperplane_bucket(vec: Column, num_planes: int = 8,
                      coef_hash: str = "xx") -> Column:
    """Sign-bit signature of ``vec`` against ``num_planes`` deterministic
    hyperplanes, packed into a bigint bucket id (interpreted higher-order
    functions, O(planes × dims) per row)."""
    out = F.lit(0).cast("long")
    for p in range(num_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.transform(F.sequence(F.lit(0), F.size(vec) - 1),
                            lambda d: _plane_coef(p, d, coef_hash)),
                lambda x, c: x * c,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        out = out + F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(F.lit(0).cast("long"))
    return out


def _poly_coef_py(p: int, d: int) -> float:
    """Python replica of _plane_coef for coef_hash='poly'."""
    acc = 7
    for ch in str(p * 16384 + d + 1):
        acc = (acc * 31 + ord(ch)) % POLY_P
    return (float(acc % 2000) - 1000.0) / 1000.0


def _bucket_projs(base: DataFrame, num_planes: int,
                  coef_hash: str) -> DataFrame:
    """(__id, __bkt) for ids of ``base`` (columns __id, __v) whose vector
    has at least one element — the caller left-joins and coalesces to 0 for
    empty/NULL vectors. A vector containing a NULL ELEMENT also gets
    bucket 0."""
    ex = base.select("__id", F.posexplode("__v").alias("__pos", "__x"))
    if coef_hash == "xx":
        prods = [
            f"sum(__x * ((CAST(pmod(xxhash64({p * 16384} + __pos), 2000) "
            f"AS DOUBLE) - 1000.0) / 1000.0))"
            for p in range(num_planes)
        ]
    else:
        dims = base.agg(F.max(F.size("__v"))).first()[0] or 0
        spark = base.sparkSession
        coefs = spark.createDataFrame(
            [(d, *[_poly_coef_py(p, d) for p in range(num_planes)])
             for d in range(dims)],
            ["__pos", *[f"__k{p}" for p in range(num_planes)]],
        )
        ex = ex.join(F.broadcast(coefs), "__pos")
        prods = [f"sum(__x * __k{p})" for p in range(num_planes)]
    projs = ex.groupBy("__id").agg(
        F.expr("sum(CASE WHEN __x IS NULL THEN 1 ELSE 0 END)").alias("__nn"),
        *[F.expr(prods[p]).alias(f"__p{p}") for p in range(num_planes)],
    )
    return projs.select(
        "__id",
        F.expr(f"CASE WHEN __nn > 0 THEN CAST(0 AS BIGINT) "
               f"ELSE {pack_sign_bits_sql('__p', num_planes)} END"
               ).alias("__bkt"),
    )


def hyperplane_buckets(df: DataFrame, vec_col: str = "embedding",
                       id_col: str = "vec_id", num_planes: int = 8,
                       coef_hash: str = "xx") -> DataFrame:
    """(id, __bkt) for every corpus row, through an id-spine left join."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    return (
        base.select("__id")
        .join(_bucket_projs(base, num_planes, coef_hash), "__id", "left")
        .select("__id",
                F.coalesce("__bkt", F.lit(0).cast("long")).alias("__bkt"))
    )


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
    """ANN top-k: exact cosine inside the buckets within ``probe_hamming``
    bits of the query's bucket, which a 1-row job evaluates with the
    Column form."""
    q = F.lit(query_vec).cast("array<double>")
    vec = F.col(vec_col).cast("array<double>")
    ids = corpus.select(F.col(id_col).alias("__id"), vec.alias("__v"))
    base = (
        ids.join(_bucket_projs(ids, num_planes, coef_hash), "__id", "left")
        .select(F.col("__id").alias(id_col), "__v",
                F.coalesce("__bkt", F.lit(0).cast("long")).alias("__bkt"))
    )
    spark = corpus.sparkSession
    qb_val = spark.range(1).select(
        hyperplane_bucket(q, num_planes, coef_hash).alias("b")
    ).collect()[0]["b"]
    probed = base.filter(
        F.bit_count(F.col("__bkt").bitwiseXOR(F.lit(qb_val))) <= probe_hamming)
    if exclude_id is not None:
        probed = probed.filter(F.col(id_col) != exclude_id)
    return (
        probed.select(F.col(id_col), cosine(F.col("__v"), q).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("score", 6).alias("score"))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    num_planes: int = 8,
    coef_hash: str = "xx",
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold inside hyperplane
    buckets, norms from their own aggregate (reads ``base`` five times)."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    norms = (
        base.select("__id", F.explode("__v").alias("__x"))
        .groupBy("__id")
        .agg(F.expr("CASE WHEN sum(CASE WHEN __x IS NULL THEN 1 ELSE 0 END)"
                    " > 0 THEN CAST(NULL AS DOUBLE) "
                    "ELSE sqrt(sum(__x * __x)) END").alias("__n"))
    )
    ids = (
        base.select("__id")
        .join(_bucket_projs(base, num_planes, coef_hash), "__id", "left")
        .withColumn("__bkt", F.coalesce("__bkt", F.lit(0).cast("long")))
        .join(norms, "__id", "left")
    )
    a, b = ids.alias("a"), ids.alias("b")
    cand = a.join(
        b,
        (F.col("a.__bkt") == F.col("b.__bkt"))
        & (F.col("a.__id") < F.col("b.__id")),
    ).select(
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        F.col("a.__n").alias("__na"),
        F.col("b.__n").alias("__nb"),
    )
    va = base.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
    vb = base.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
    z = (
        cand.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b", "__na", "__nb",
                F.explode(F.arrays_zip("__va", "__vb")).alias("__z"))
    )
    dots = z.groupBy("id_a", "id_b", "__na", "__nb").agg(
        F.expr("CASE WHEN sum(CASE WHEN __z.__va IS NULL OR __z.__vb IS "
               "NULL THEN 1 ELSE 0 END) > 0 THEN CAST(NULL AS DOUBLE) "
               "ELSE sum(__z.__va * __z.__vb) END").alias("__dot"))
    return (
        dots.select(
            "id_a", "id_b",
            F.round(F.try_divide(F.col("__dot"),
                                 F.col("__na") * F.col("__nb")),
                    6).alias("cosine"))
        .filter((F.col("cosine") >= threshold) & ~F.isnan("cosine"))
    )
