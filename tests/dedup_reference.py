"""The previous MinHash and SimHash pair operators and the SimHash Column
form, kept as the test oracle.

These are the interpreted-lambda forms that ``beats_spark.ml.dedup``
replaced: tokens filtered by a ``filter`` lambda, MinHash shingle hashes
built by a ``zip_with`` rolling combine over shifted token-hash slices and
verified against a second build of each document's shingle set, and the
SimHash signature left-joined back onto a ``df.select(id)`` spine so a
token-less document gets signature 0. The production operators must emit
exactly the same rows (``tests/test_ml.py``). ``simhash()`` is the
interpreted zip_with accumulator that computes one document's signature
as a Column — the brute-force reference for ``simhash_pairs``' recall.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from beats_spark.ml.dedup import (POLY_P, hamming64, pack_sign_bits_sql,
                                  poly_string_hash)


def words(col: Column) -> Column:
    """Whitespace tokens, empties removed."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


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
    shingle sets, so the threshold is precise and LSH only controls recall
    (rows per band r = num_hashes/bands; P[candidate] = 1-(1-j^r)^b).

    hash='xx' (production) never materializes shingle STRINGS: tokens are
    hashed once, a shingle's hash is xxhash64 over the sliced token-hash
    array, and Jaccard verification runs on the distinct hashed-shingle
    sets (set arithmetic is hash-collision-exact at 2^-64 per pair) —
    array_join string allocation was the dominant measured cost of the
    signature pass. hash='poly' mirrors the same shape with portable
    31-bit arithmetic, so its verification Jaccard carries a ~s²/2³²
    per-document shingle-collision probability (negligible below ~10⁴
    shingles/doc; use 'xx' where that matters) — tokens char-hashed ONCE polynomially, a shingle's hash a
    polynomial fold of its n token hashes (zip_with rolling combine, so the
    token-hash array is evaluated n times per ROW, never per shingle), and
    verification Jaccard over the distinct hashed-shingle sets — every
    value byte-reproducible in DuckDB for the driver's oracle at roughly
    the production mode's cost (the old poly path char-hashed every
    shingle STRING: ~n× the char hashing plus an array_join allocation
    per shingle).
    """
    rows_per_band = num_hashes // bands
    toks = words(F.col(content_col))
    if hash == "xx":
        th = F.transform(toks, lambda t: F.xxhash64(t))
    else:
        th = F.transform(toks, lambda t: poly_string_hash(t))
    k = F.size(toks) - F.lit(shingle_n - 1)
    # rolling combine: hs[i] = fold over th[i..i+n-1]. Built with zip_with
    # over shifted slices — each slice evaluates th once per ROW; the
    # previous transform-over-indices lambda re-evaluated the th subtree
    # per SHINGLE (interpreted HOFs have no common-subexpression
    # elimination), making token hashing O(tokens × shingles) instead of
    # O(tokens) — measured 2× on the whole operator at sf0.1.
    kk = F.greatest(k, F.lit(0))
    hs = F.slice(th, 1, kk)
    for j in range(1, shingle_n):
        nxt = F.slice(th, 1 + j, kk)
        if hash == "xx":
            hs = F.zip_with(hs, nxt, lambda a, h: F.xxhash64(a, h))
        else:
            hs = F.zip_with(
                hs, nxt,
                lambda a, h: F.pmod(a * 1000003 + h, F.lit(POLY_P)),
            )
    hs = F.array_distinct(hs)
    # __vs: the verification set = the hashed shingle set in both modes
    base = df.select(F.col(id_col).alias("__id"), hs.alias("__vs"))
    base = base.filter(F.size("__vs") > 0)
    ex = base.select("__id", F.explode("__vs").alias("__h"))

    # signature via explode + num_hashes codegen'd min-aggregates instead of
    # a nested transform/array_min higher-order expression: HOFs run
    # INTERPRETED (~600 ns/element-op measured), while min() aggs over the
    # exploded hashes stay inside whole-stage codegen — a ~5× faster
    # signature pass. Map-side partial aggregation means the shuffle carries
    # one (id, num_hashes mins) row per doc per partition, the same bytes
    # the signature column would, NOT the exploded rows.

    # per-seed/band expressions are SQL TEXT parsed once by F.expr —
    # building 64 min-aggregates + the band keys as nested Column trees
    # costs noticeable driver-side py4j time per call (same fix as the
    # simhash signature)
    def perm_sql(seed: int) -> str:
        if hash == "xx":
            return f"xxhash64(__h, {seed})"
        a = ((seed * 2 + 1) * 1103515245) % POLY_P
        b = (seed * 12345 + 7) % POLY_P
        return f"pmod({a} * __h + {b}, {POLY_P})"

    sig = (
        ex.groupBy("__id")
        .agg(*[F.expr(f"min({perm_sql(s)})").alias(f"__m{s}")
               for s in range(num_hashes)])
        .select(
            "__id",
            F.expr("array(" + ", ".join(
                f"__m{s}" for s in range(num_hashes)) + ")").alias("__sig"),
        )
    )

    def band_sql(b: int) -> str:
        sl = f"slice(__sig, {b * rows_per_band + 1}, {rows_per_band})"
        if hash == "xx":
            # xxhash64 hashes the sliced array<long> directly — no
            # per-band string materialization
            return f"xxhash64({sl})"
        return (f"aggregate({sl}, CAST(0 AS BIGINT), "
                f"(acc, m) -> pmod(acc * 1000003 + m, {POLY_P}))")

    # the band explode and candidate self-join carry ONLY (id, band, bucket)
    # — 24 bytes/row — never the shingle arrays; shipping the heaviest column
    # through a `bands`-way explode would amplify its shuffle bytes by the
    # band count at scale. Shingle sets cross the wire once per doc in the
    # verification joins below, not once per band. The band list is a
    # LITERAL array (bands is a plan-time int), not a transform-over-
    # sequence HOF — fixed expressions stay inside whole-stage codegen.
    banded = sig.select(
        "__id",
        F.posexplode(F.expr("array(" + ", ".join(
            band_sql(b) for b in range(bands)) + ")")).alias("__band", "__bh"),
    )
    # persist: the self-join evaluates each side's subtree independently
    # (broadcast build + streamed probe do NOT share work), which would run
    # the signature pass — the operator's dominant cost — once per side.
    # The banded frame is 3 longs/row (docs × bands), far smaller than the
    # corpus, and MEMORY_AND_DISK spills rather than OOMs at scale; this
    # measured ~2× on the end-to-end operator. The candidate id-pairs are
    # then EAGERLY materialized (localCheckpoint: small — ids only, blocks
    # GC-cleaned by the ContextCleaner) so the cache can be dropped before
    # returning — a DataFrame persist is never auto-released, and callers
    # of the returned frame have no handle to unpersist it.
    from pyspark import StorageLevel

    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bh") == F.col("b.__bh"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .localCheckpoint(eager=True)
    )
    banded.unpersist()
    sh_a = base.select(F.col("__id").alias("id_a"), F.col("__vs").alias("sh_a"))
    sh_b = base.select(F.col("__id").alias("id_b"), F.col("__vs").alias("sh_b"))
    pairs = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


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

    The signature is computed relationally — explode tokens, 64 codegen'd
    conditional-sum aggregates (one per bit), pack the sign bits — instead
    of the interpreted zip_with accumulator of ``simhash()`` (same values;
    the Column form remains for single-expression use). Token-less docs
    rejoin with signature 0, matching the accumulator's empty fold.
    """
    bits = 64
    # The per-bit expressions below are built as SQL TEXT and parsed once
    # by F.expr: constructing 64 vote aggregates + 64 pack terms as nested
    # Column trees costs ~3 s of driver-side py4j round-trips per call
    # (measured at sf0.01 — more than the job itself). The token hash is
    # projected ONCE as __h so each vote reads a cheap attribute.
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.explode(words(F.col(content_col))).alias("__t"),
    )
    if hash == "xx":
        tok = tok.select("__id", F.xxhash64("__t").alias("__h"))

        def vote(i: int) -> str:
            return (f"CASE WHEN (shiftright(__h, {i}) & 1) = 1 "
                    f"THEN 1 ELSE -1 END")
    else:
        tok = tok.select("__id", poly_string_hash(F.col("__t")).alias("__h"))

        def vote(i: int) -> str:
            a = ((i * 2 + 1) * 1103515245) % POLY_P
            b = (i * 12345 + 7) % POLY_P
            return (f"CASE WHEN pmod({a} * __h + {b}, {POLY_P}) * 2 "
                    f">= {POLY_P} THEN 1 ELSE -1 END")

    counts = tok.groupBy("__id").agg(
        *[F.expr(f"sum({vote(i)})").alias(f"__c{i}") for i in range(bits)]
    )
    sims = counts.select(
        "__id", F.expr(pack_sign_bits_sql("__c", bits)).alias("__sim"))
    base = (
        df.select(F.col(id_col).alias("__id"))
        .join(sims, "__id", "left")
        .select("__id", F.coalesce("__sim", F.lit(0).cast("long")).alias("__sim"))
    )
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
    a, b = cand.alias("a"), cand.alias("b")
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


def simhash(col: Column, bits: int = 64, hash: str = "xx") -> Column:
    """Charikar SimHash over whitespace tokens, as a bigint.

    bit_i = sign of sum over tokens of a ±1 vote per token. ONE pass over
    the tokens with an array<long> accumulator (zip_with adds the ±1 vector
    of each token's hash), then the sign vector is packed into a single
    long. All higher-order array functions — no UDF, no shuffle, token list
    traversed once.

    Votes: ``hash='xx'`` uses bit i of xxhash64(token). ``'poly'`` hashes
    the token polynomially ONCE, then votes per bit with an independent
    universal hash (a_i·h+b_i mod P ≥ P/2) — bit-slicing a polynomial hash
    is NOT avalanche-y (correlated sign bits across documents), per-bit
    universal hashing is the textbook random-projection construction and
    stays DuckDB-reproducible.
    """
    if hash == "xx":
        def vote(h: Column, i: Column) -> Column:
            return F.when(
                F.call_function("shiftright", h, i.cast("int")).bitwiseAND(F.lit(1)) == 1,
                F.lit(1).cast("long"),
            ).otherwise(F.lit(-1).cast("long"))
        tok_hash = lambda t: F.xxhash64(t)  # noqa: E731
    else:
        def vote(h: Column, i: Column) -> Column:
            s = i.cast("long")
            a = F.pmod((s * 2 + 1) * F.lit(1103515245), F.lit(POLY_P))
            b = F.pmod(s * 12345 + 7, F.lit(POLY_P))
            return F.when(
                F.pmod(a * h + b, F.lit(POLY_P)) * 2 >= F.lit(POLY_P),
                F.lit(1).cast("long"),
            ).otherwise(F.lit(-1).cast("long"))
        tok_hash = lambda t: poly_string_hash(t)  # noqa: E731
    toks = words(col)
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    zeros = F.transform(idx, lambda i: F.lit(0).cast("long") + i * 0)
    counts = F.aggregate(
        F.transform(toks, tok_hash),
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(idx, lambda i: vote(h, i)),
            lambda a, b: a + b,
        ),
    )
    packed = F.zip_with(
        counts,
        idx,
        lambda c, i: F.when(
            c > 0, F.call_function("shiftleft", F.lit(1).cast("long"), i.cast("int"))
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(packed, F.lit(0).cast("long"), lambda a, b: a + b)
