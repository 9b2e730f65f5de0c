"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
cosine near-dup.

Shuffle budget at 100 TB:
- exact: one shuffle on the content hash (map-side partial agg first).
- minhash LSH: the corpus is read once. Each document's shingles are
  exploded and hashed by scalar expressions (whole-stage codegen), and one
  groupBy per document yields its hashed shingle set, its signature and
  its band keys. That per-document frame is persisted; the band self-join
  and the exact-Jaccard verification both read it — never a global cross
  join.
- simhash: the corpus is read once: tokens exploded (token-less documents
  keep one zero-vote row), one groupBy of per-bit vote sums, then a
  shuffle-hash self-join on the permutation-table keys.
- embedding near-dup: one aggregate over the exploded vectors yields each
  vector's hyperplane bucket and norm (see similarity.py); a bucket
  self-join, cosine verified inside buckets only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Portable polynomial-hash constants (the ``hash='poly'`` mode below): the
# same integer arithmetic is expressible in ANSI SQL / DuckDB, so queries
# built with it get a real value-level oracle. xxhash64 stays the production
# default (better mixing, one JVM intrinsic per value). mod P = 2^31-1 keeps
# every intermediate product inside int64.
POLY_P = 2_147_483_647


def pack_sign_bits_sql(prefix: str, n: int) -> str:
    """SQL text packing the signs of columns ``{prefix}0..{prefix}{n-1}``
    (> 0 → bit i) into one BIGINT — shared by the simhash signature and the
    hyperplane bucket pass so the packing convention lives in one place."""
    return " + ".join(
        f"(CASE WHEN {prefix}{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        f"ELSE CAST(0 AS BIGINT) END)" for i in range(n))


def poly_string_hash(t: Column, base: int = 31, seed: int = 7) -> Column:
    """Polynomial hash over character codes in [0, P) — DuckDB-expressible
    (list_reduce over string_split)."""
    return F.aggregate(
        F.split(t, ""),
        F.lit(seed).cast("long"),
        lambda acc, c: F.pmod(acc * base + F.ascii(c), F.lit(POLY_P)),
    )


# ---------------------------------------------------------------------------
# tokenization / shingling (shared, pure JVM)
# ---------------------------------------------------------------------------


def words(col: Column) -> Column:
    """Whitespace tokens, empties removed (no lambda, so it stays in
    whole-stage codegen)."""
    return F.array_remove(F.split(col, r"\s+"), "")


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string> (n-shingling is the
    standard MinHash preprocessing; see Broder '97 resemblance)."""
    toks = words(col)
    k = F.size(toks) - F.lit(n - 1)
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(-1))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.array_distinct(F.when(k > 0, sh).otherwise(F.array().cast("array<string>")))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact content group.

    groupBy on the 64-bit content hash, not the full text, so the shuffle
    ships 8-byte keys; the (vanishingly rare) hash-collision case is guarded
    by grouping on (hash, content) — Spark prunes the text column into the
    shuffle only once.
    """
    h = F.xxhash64(F.col(content_col))
    return (
        df.withColumn("__h", h)
        .groupBy("__h", content_col)
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("__h")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_lsh_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    hash: str = "xx",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    shingle → minhash → band → bucket-join: docs sharing any band bucket
    become candidates; candidates are verified with EXACT Jaccard over the
    hashed shingle sets, so the threshold is precise and LSH only controls
    recall (rows per band r = num_hashes/bands; P[candidate] = 1-(1-j^r)^b).
    Ids must be unique: rows sharing an id are one document.

    Shingle strings are never built. The token array is projected once,
    the ``shingle_n`` shifted slices of it are zipped and exploded (one row
    per shingle), and each shingle is hashed by a scalar expression over
    its tokens, inside whole-stage codegen:

    - ``hash='xx'`` (production): ``xxhash64(xxhash64(xxhash64(t0),
      xxhash64(t1)), xxhash64(t2))``. Set arithmetic on these hashes is
      collision-exact at 2^-64 per pair.
    - ``hash='poly'``: tokens char-hashed once polynomially (projected as
      an array), a shingle's hash the fold ``(acc * 1000003 + h) mod P``
      of its token hashes. Every value is byte-reproducible in DuckDB for
      the oracle of ``tools/check_entry.py``; the 31-bit hashes give the
      verification Jaccard a ~s²/2³² per-document shingle-collision
      probability (negligible below ~10⁴ shingles/doc; use 'xx' where
      that matters).

    One groupBy per document then yields the verification set
    (``collect_set`` of the shingle hashes), the ``num_hashes`` min-hashes
    and the band keys; map-side partial aggregation ships one row per doc
    per partition, not the exploded rows.

    Scale trade-off: that per-document frame is persisted
    (MEMORY_AND_DISK, so it spills rather than OOMs) and holds every
    document's hashed shingle set — 8 bytes per distinct shingle — beside
    its ``bands`` band keys. Both sides of the band self-join and both
    sides of the verification join read it, so the corpus is read and
    hashed once. The band explode and candidate self-join carry only
    (id, band, bucket); shingle sets enter only the verification joins.
    The verified pair set is small and is eagerly materialized
    (``localCheckpoint``) so the persisted frame can be dropped before
    returning: callers of the returned frame have no handle to unpersist
    it.
    """
    from pyspark import StorageLevel

    rows_per_band = num_hashes // bands
    toks = df.select(F.col(id_col).alias("__id"),
                     words(F.col(content_col)).alias("__t"))
    if hash == "xx":
        src, tok_sql = "__t", "xxhash64({})"

        def fold(acc: str, h: str) -> str:
            return f"xxhash64({acc}, {h})"
    else:
        toks = toks.select(
            "__id",
            F.transform("__t", lambda t: poly_string_hash(t)).alias("__th"))
        src, tok_sql = "__th", "{}"

        def fold(acc: str, h: str) -> str:
            return f"pmod({acc} * 1000003 + {h}, {POLY_P})"

    # shingle i = (src[i], ..., src[i+n-1]): the n shifted slices of length
    # size - n + 1, zipped; a doc with fewer than n tokens explodes to no row
    k = f"greatest(size({src}) - {shingle_n - 1}, 0)"
    zipped = "arrays_zip(" + ", ".join(
        f"slice({src}, {j + 1}, {k})" for j in range(shingle_n)) + ")"
    h = tok_sql.format("__z.`0`")
    for j in range(1, shingle_n):
        h = fold(h, tok_sql.format(f"__z.`{j}`"))
    ex = (toks.select("__id", F.expr(f"explode({zipped})").alias("__z"))
          .select("__id", F.expr(h).alias("__h")))

    # per-seed/band expressions are SQL TEXT parsed once by F.expr —
    # building 64 min-aggregates + the band keys as nested Column trees
    # costs noticeable driver-side py4j time per call
    def perm_sql(seed: int) -> str:
        if hash == "xx":
            return f"xxhash64(__h, {seed})"
        a = ((seed * 2 + 1) * 1103515245) % POLY_P
        b = (seed * 12345 + 7) % POLY_P
        return f"pmod({a} * __h + {b}, {POLY_P})"

    def band_sql(b: int) -> str:
        rows = [f"__m{s}" for s in
                range(b * rows_per_band, (b + 1) * rows_per_band)]
        if hash == "xx":
            return f"xxhash64(array({', '.join(rows)}))"
        key = "CAST(0 AS BIGINT)"
        for m in rows:
            key = fold(key, m)
        return key

    docs = (
        ex.groupBy("__id")
        .agg(F.collect_set("__h").alias("__vs"),
             *[F.expr(f"min({perm_sql(s)})").alias(f"__m{s}")
               for s in range(num_hashes)])
        .select("__id", "__vs", F.expr("array(" + ", ".join(
            band_sql(b) for b in range(bands)) + ")").alias("__bands"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        banded = docs.select(
            "__id", F.posexplode("__bands").alias("__band", "__bh"))
        a, b = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.__band") == F.col("b.__band"))
                & (F.col("a.__bh") == F.col("b.__bh"))
                & (F.col("a.__id") < F.col("b.__id")),
            )
            .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        sh_a = docs.select(F.col("__id").alias("id_a"), F.col("__vs").alias("sh_a"))
        sh_b = docs.select(F.col("__id").alias("id_b"), F.col("__vs").alias("sh_b"))
        jac = (F.size(F.array_intersect("sh_a", "sh_b"))
               / F.size(F.array_union("sh_a", "sh_b")))
        return (
            cand.join(sh_a, "id_a").join(sh_b, "id_b")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
            .localCheckpoint(eager=True)
        )
    finally:
        docs.unpersist()


# ---------------------------------------------------------------------------
# n-gram Jaccard (brute-force within blocking key — the correctness baseline)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over word n-grams for all pairs sharing ``block_col``
    (a poor man's blocking key; None = global — small inputs only)."""
    base = df.select(
        F.col(id_col).alias("__id"),
        *( [F.col(block_col).alias("__blk")] if block_col else [] ),
        word_shingles(F.col(content_col), shingle_n).alias("__sh"),
    ).filter(F.size("__sh") > 0)
    a, b = base.alias("a"), base.alias("b")
    on = F.col("a.__id") < F.col("b.__id")
    if block_col:
        on = on & (F.col("a.__blk") == F.col("b.__blk"))
    jac = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh"))) / F.size(
        F.array_union(F.col("a.__sh"), F.col("b.__sh"))
    )
    return (
        a.join(b, on)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    prefix_bits: int = 16,
    hash: str = "xx",
    candidates: str = "perm",
    n_blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash with EXACT recall at ``max_hamming``.

    ``candidates='perm'`` (default) is the Manku/Jain/Das Sarma WWW'07
    permutation-table construction: split the 64-bit signature into B
    blocks; any pair within hamming k agrees exactly on >= B-k blocks
    (pigeonhole), so keying candidate tables on every combination of
    c = B-k blocks finds EVERY such pair. Default B = k+3 gives the paper's
    classic k=3 config: C(6,3) = 20 tables keyed on ~32 bits — candidate
    joins over a ~2^32 key space, no recall loss. Implemented as one
    posexplode over the C(B,c) table keys + a (table, key) self-join;
    the exploded rows carry only (id, sim, key).

    ``candidates='prefix'`` keeps the cheaper-but-lossy variant: bucket on
    the top ``prefix_bits`` bits (docs within small hamming usually share
    the prefix, but a flipped prefix bit loses the pair).

    The signature is computed relationally in one read of the corpus:
    tokens exploded with ``explode_outer``, 64 codegen'd conditional-sum
    aggregates (Charikar: bit i is the sign of the tokens' ±1 votes), then
    the sign bits packed. ``hash='xx'`` votes bit i of xxhash64(token);
    ``'poly'`` votes with a per-bit universal hash of the token's poly hash
    (a_i·h+b_i mod P ≥ P/2; bit-slicing a polynomial hash would correlate
    the bits), DuckDB-reproducible. A token-less document keeps one
    NULL-token row that votes 0 on every bit, so it gets signature 0. Ids
    must be unique: rows sharing an id are one document.
    """
    bits = 64
    # The per-bit expressions below are built as SQL TEXT and parsed once
    # by F.expr: constructing 64 vote aggregates + 64 pack terms as nested
    # Column trees costs ~3 s of driver-side py4j round-trips per call
    # (measured at sf0.01 — more than the job itself). The token hash is
    # projected ONCE as __h (NULL on a token-less document's row) so each
    # vote reads a cheap attribute.
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(words(F.col(content_col))).alias("__t"),
    )
    tok_hash = F.xxhash64("__t") if hash == "xx" else poly_string_hash(F.col("__t"))
    tok = tok.select("__id", F.when(F.col("__t").isNotNull(), tok_hash).alias("__h"))
    if hash == "xx":
        def vote(i: int) -> str:
            return f"(shiftright(__h, {i}) & 1) = 1"
    else:
        def vote(i: int) -> str:
            a = ((i * 2 + 1) * 1103515245) % POLY_P
            b = (i * 12345 + 7) % POLY_P
            return f"pmod({a} * __h + {b}, {POLY_P}) * 2 >= {POLY_P}"

    counts = tok.groupBy("__id").agg(
        *[F.expr(f"sum(CASE WHEN __h IS NULL THEN 0 WHEN {vote(i)} "
                 f"THEN 1 ELSE -1 END)").alias(f"__c{i}") for i in range(bits)]
    )
    base = counts.select(
        "__id", F.expr(pack_sign_bits_sql("__c", bits)).alias("__sim"))
    if candidates == "prefix":
        bucket = F.shiftrightunsigned(F.col("__sim"), 64 - prefix_bits)
        base = base.withColumn("__bkt", bucket)
        a, b = base.alias("a"), base.alias("b")
        return (
            a.join(b, (F.col("a.__bkt") == F.col("b.__bkt")) & (F.col("a.__id") < F.col("b.__id")))
            .select(
                F.col("a.__id").alias("id_a"),
                F.col("b.__id").alias("id_b"),
                hamming64(F.col("a.__sim"), F.col("b.__sim")).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )
    if candidates != "perm":
        raise ValueError(f"simhash_pairs: unknown candidates mode {candidates!r}")

    import itertools

    k = max_hamming
    nb = n_blocks if n_blocks is not None else min(k + 3, 64)
    if not (k < nb <= 64):
        raise ValueError(
            f"simhash_pairs: need max_hamming < n_blocks <= 64 "
            f"(got k={k}, B={nb})")
    c = nb - k
    # block layout over the 64-bit signature (widths differ by <=1)
    w, r = divmod(bits, nb)
    blocks: list[tuple[int, int]] = []
    off = 0
    for i in range(nb):
        wi = w + (1 if i < r else 0)
        blocks.append((off, wi))
        off += wi

    def key_sql(combo: tuple[int, ...]) -> str:
        # join key = xxhash64 of the combo's block values. Arithmetic
        # bit-packing would overflow int64 (ANSI abort) whenever the
        # combined block width exceeds 63 bits (e.g. max_hamming=0 →
        # c = nb → all 64 bits in one key); a hash key preserves equality
        # exactly, and the rare hash collision only adds a false CANDIDATE
        # that the exact hamming filter below removes.
        pieces = []
        for bi in combo:
            o, wi = blocks[bi]
            mask = (1 << wi) - 1
            if mask > (1 << 63) - 1:  # wi == 64: all-ones as signed long
                mask -= 1 << 64
            pieces.append(f"(shiftrightunsigned(__sim, {o}) & {mask})")
        return f"xxhash64({', '.join(pieces)})"

    combos = list(itertools.combinations(range(nb), c))
    keys = F.expr("array(" + ", ".join(key_sql(cb) for cb in combos) + ")")
    cand = base.select(
        "__id", "__sim", F.posexplode(keys).alias("__tbl", "__key"))
    # shuffle-hash join: both sides are the same exchange over ``cand``
    # (reused), so the signature's final aggregate runs once. A broadcast
    # build side re-runs it in a separate job (measured 1.69 → 1.29 s on
    # 10 k documents, 4 cores), and C(B,c) rows per document would not
    # fit a broadcast at scale anyway.
    a, b = cand.alias("a"), cand.alias("b").hint("shuffle_hash")
    return (
        a.join(b, (F.col("a.__tbl") == F.col("b.__tbl"))
               & (F.col("a.__key") == F.col("b.__key"))
               & (F.col("a.__id") < F.col("b.__id")))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            hamming64(F.col("a.__sim"), F.col("b.__sim")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        # a pair can collide in several tables; pairs are tiny post-filter
        .distinct()
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    num_planes: int = 8,
    coef_hash: str = "xx",
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold, candidates from
    random-hyperplane buckets (two vectors at angle θ collide with prob
    (1-θ/π)^planes). Verification is exact cosine inside buckets.

    The verification is RELATIONAL: per-vector norms come from the same
    aggregate as the buckets (one posexplode, codegen sums; see
    ``similarity._bucket_projs``), the bucket self-join carries only
    (id, bucket, norm) — never the vectors — and each candidate pair's dot
    product is an arrays_zip explode + one codegen sum-aggregate. The
    pairwise ``cosine()`` Column form evaluates interpreted higher-order
    lambdas per element per PAIR — at 100 TB the candidate count, not the
    corpus, dominates, so verification is the op's hot path. Degenerate
    inputs never emit a pair: NULL vector elements (and arrays_zip's
    NULL padding of length-mismatched pairs) nullify the dot product, and
    zero-norm vectors produce a NaN cosine that is explicitly filtered —
    Spark orders NaN GREATER than every value, so a bare ``>= threshold``
    would otherwise let 0/0 pairs through."""
    from beats_spark.ml.similarity import _base, _bucket_projs

    base = _base(df, vec_col, id_col)
    # The left join onto the id scan plus the coalesce look redundant (the
    # bucket pass covers every id), but they pick the join strategy: the
    # coalesced __bkt is never NULL, so Catalyst cannot turn the outer
    # join into an inner one, and the id scan stays the streamed side of
    # the candidate self-join — which, with the dot products, then runs one
    # task per input split. As an inner join, AQE broadcasts the spine and
    # everything runs behind the bucket aggregate's coalesced one-partition
    # output (the benchmark's 4 k vectors, 4 cores: 1.84 s vs 3.55 s).
    ids = (
        base.select("__id")
        .join(_bucket_projs(base, num_planes, coef_hash), "__id", "left")
        .withColumn("__bkt", F.coalesce("__bkt", F.lit(0).cast("long")))
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
            # try_divide: a zero-norm vector yields NULL (dropped below)
            # instead of the ANSI DIVIDE_BY_ZERO abort
            F.round(F.try_divide(F.col("__dot"),
                                 F.col("__na") * F.col("__nb")),
                    6).alias("cosine"))
        .filter((F.col("cosine") >= threshold) & ~F.isnan("cosine"))
    )
