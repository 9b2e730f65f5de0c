"""Training-data ops: dedup / similarity / textstats / multimodal, each
checked against a brute-force pandas or numpy oracle on the sf0.001 tables
(plus synthetic near-dup rows, since the driver corpus has no duplicates)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import dedup_reference
import similarity_reference
from beats_spark.ml import dedup, multimodal, similarity, textstats

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # inject exact + near duplicates deterministically
    dup = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.col("text"), F.col("lang"), F.col("source"), F.col("n_chars"),
    )
    near = base.filter(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail token")).alias("text"),
        F.col("lang"), F.col("source"), F.col("n_chars"),
    )
    return base.unionByName(dup).unionByName(near).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs).toPandas()
    pdf = docs.toPandas()
    want = pdf.groupby("text")["doc_id"].agg(["min", "count"]).reset_index()
    got = out.sort_values("doc_id").reset_index(drop=True)
    assert len(got) == len(want)
    m = dict(zip(want["text"], want["min"]))
    c = dict(zip(want["text"], want["count"]))
    assert all(m[t] == i for t, i in zip(got["text"], got["doc_id"]))
    assert all(c[t] == n for t, n in zip(got["text"], got["dup_count"]))


def _shingles(text: str, n: int = 3) -> set:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _jaccard_pairs_oracle(pdf: pd.DataFrame, threshold: float) -> set:
    rows = list(zip(pdf["doc_id"], pdf["text"]))
    out = set()
    sh = {i: _shingles(t) for i, t in rows if len(_shingles(t)) > 0}
    ids = sorted(sh)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            jac = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            if jac >= threshold:
                out.add((a, b))
    return out


def test_minhash_lsh_recall_and_precision(docs):
    pdf = docs.toPandas()
    want = _jaccard_pairs_oracle(pdf, 0.8)
    got = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.8).toPandas()
    got_pairs = set(zip(got["id_a"], got["id_b"]))
    assert len(want) > 0
    # precision exact (verification is exact Jaccard); recall high (b=16,r=4)
    assert got_pairs <= want
    assert len(got_pairs) >= 0.9 * len(want)


def test_ngram_jaccard_exact(docs):
    pdf = docs.toPandas()
    want = _jaccard_pairs_oracle(pdf, 0.5)
    got = dedup.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    assert set(zip(got["id_a"], got["id_b"])) == want


def test_simhash_pairs(docs):
    got = dedup.simhash_pairs(docs, max_hamming=3).toPandas()
    pairs = set(zip(got["id_a"], got["id_b"]))
    # every exact duplicate pair has hamming 0 and must be found
    pdf = docs.toPandas()
    dup_pairs = {
        (int(i), int(i) + 100000) for i in pdf["doc_id"] if i % 10 == 0 and i < 100000
    }
    assert dup_pairs <= pairs
    assert (got["hamming"] <= 3).all()


def test_embedding_neardup(spark, emb):
    # append exact-duplicate vectors → cosine 1.0 pairs must surface
    dup = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(dup)
    got = dedup.embedding_neardup_pairs(both, threshold=0.99).toPandas()
    want = {(int(i), int(i) + 10000) for i in
            emb.toPandas()["vec_id"] if i % 50 == 0}
    assert want <= set(zip(got["id_a"], got["id_b"]))


def test_cosine_topk_vs_numpy(emb):
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray))
    q = mat[0]
    scores = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(zip(pdf["vec_id"], scores), key=lambda t: (-t[1], t[0]))
    want = [int(i) for i, _ in order if i != 0][:10]
    got = similarity.cosine_topk(emb, [float(x) for x in q], k=10,
                                 exclude_id=0).toPandas()
    assert list(got["vec_id"]) == want
    np_scores = dict(zip(pdf["vec_id"], scores))
    for i, s in zip(got["vec_id"], got["score"]):
        assert abs(np_scores[i] - s) < 1e-4


def test_lsh_topk_recall(emb):
    pdf = emb.toPandas()
    q = [float(x) for x in pdf["embedding"][0]]
    exact = similarity.cosine_topk(emb, q, k=10, exclude_id=0).toPandas()
    approx = similarity.lsh_topk(emb, q, k=10, num_planes=8,
                                 probe_hamming=3, exclude_id=0).toPandas()
    overlap = len(set(exact["vec_id"]) & set(approx["vec_id"]))
    assert overlap >= 5  # recall@10 ≥ 0.5 with 8 planes / probe 3


def test_textstats_oracle(docs):
    out = docs.select(
        "doc_id",
        textstats.token_count_ws(F.col("text")).alias("tok_ws"),
        textstats.token_count_bpe(F.col("text")).alias("tok_bpe"),
        textstats.lang_id(F.col("text")).alias("lang_guess"),
        textstats.quality_score(F.col("text")).alias("q"),
        textstats.rolling_fingerprint(F.col("text")).alias("fp"),
    ).toPandas()
    pdf = docs.toPandas().set_index("doc_id")
    import re
    for _, r in out.head(100).iterrows():
        text = pdf.loc[r["doc_id"], "text"]
        assert r["tok_ws"] == len(text.split())
        assert r["tok_bpe"] == len(re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", text))
        assert 0.0 <= r["q"] <= 1.0
        assert 0 <= r["fp"] < 2_147_483_647
    # same text → same fingerprint; different texts overwhelmingly differ
    fp = out.set_index("doc_id")["fp"]
    texts = pdf["text"]
    for i in texts.index[texts.index % 10 == 0]:
        if i < 100000 and (i + 100000) in fp.index:
            assert fp[i] == fp[i + 100000]


def test_multimodal_features_and_frames(spark):
    media = multimodal.synthesize_media(spark, 60)
    feats = multimodal.extract_features(media).toPandas()
    assert len(feats) == 60
    assert feats["decode_ok"].all()
    assert feats["feature"].map(len).eq(multimodal.FEATURE_DIM).all()
    # deterministic: same payload → same feature
    f2 = multimodal.extract_features(media).toPandas()
    a = feats.sort_values("media_id")["feature"].map(tuple).tolist()
    b = f2.sort_values("media_id")["feature"].map(tuple).tolist()
    assert a == b
    # real decoder path is explicitly stubbed
    with pytest.raises(Exception):
        multimodal.extract_features(media, decoder="real").collect()


def test_multimodal_features_repartition_by_byte_budget(spark):
    media = multimodal.synthesize_media(spark, 60).coalesce(2)
    total = media.select(F.sum(F.length("payload"))).collect()[0][0]
    budget = -(-total // 7)  # seven partitions' worth of bytes
    assert multimodal.extract_features(media, batch_bytes=budget).rdd.getNumPartitions() == 7
    # a budget the input already meets keeps its partitioning
    assert multimodal.extract_features(media, batch_bytes=total).rdd.getNumPartitions() == 2


def test_multimodal_poly_payload_mode(spark):
    """payload_mode='poly' (the DuckDB-oracle-portable payload synthesis)
    keeps the exact same downstream contract as 'xx'; against an independent
    numpy re-derivation of the payload text and byte-fold."""
    import numpy as np

    media = multimodal.synthesize_media(spark, 30, payload_mode="poly")
    feats = multimodal.extract_features(media).toPandas().sort_values("media_id")
    for mid, feat in zip(feats["media_id"], feats["feature"]):
        h1 = (mid * 2654435761) % 2147483647
        h2 = ((mid + 13) * 1103515245 + 12345) % 2147483647
        p = f"blob:{h1}:" + str(h2) * 8
        want = multimodal._fake_feature(p.encode())
        assert np.allclose(np.array(feat, dtype=np.float32), want)
    with pytest.raises(ValueError, match="payload_mode"):
        multimodal.synthesize_media(spark, 5, payload_mode="nope")


@pytest.mark.parametrize("hash_mode", ["poly"])
def test_minhash_lsh_poly_mode(docs, hash_mode):
    """hash='poly' (the DuckDB-oracle-portable permutation family) keeps
    exact precision and high recall, like the xxhash64 default."""
    pdf = docs.toPandas()
    want = _jaccard_pairs_oracle(pdf, 0.8)
    got = dedup.minhash_lsh_pairs(
        docs, jaccard_threshold=0.8, hash=hash_mode).toPandas()
    got_pairs = set(zip(got["id_a"], got["id_b"]))
    assert got_pairs <= want
    assert len(got_pairs) >= 0.9 * len(want)


def test_simhash_poly_mode(docs):
    """poly mode: exact-duplicate pairs still collide at hamming 0, and the
    per-bit universal-hash votes keep the pair volume in the same regime as
    xxhash64 bit votes (bit-sliced polynomial hashes would not)."""
    got = dedup.simhash_pairs(docs, max_hamming=3, hash="poly").toPandas()
    pairs = set(zip(got["id_a"], got["id_b"]))
    pdf = docs.toPandas()
    dup_pairs = {
        (int(i), int(i) + 100000) for i in pdf["doc_id"] if i % 10 == 0 and i < 100000
    }
    assert dup_pairs <= pairs
    n_xx = len(dedup.simhash_pairs(docs, max_hamming=3).toPandas())
    assert len(got) <= 5 * max(n_xx, 1)


def test_lsh_topk_poly_mode(emb):
    """poly plane coefficients: probed ANN still recalls most of the exact
    brute-force top-10."""
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = similarity.cosine_topk(emb, q, k=10, exclude_id=0).toPandas()
    approx = similarity.lsh_topk(emb, q, k=10, probe_hamming=3,
                                 exclude_id=0, coef_hash="poly").toPandas()
    overlap = len(set(exact["vec_id"]) & set(approx["vec_id"]))
    assert overlap >= 6


def test_simhash_perm_recall_exact_vs_brute_force(docs):
    """The permutation-table candidate generation is recall-EXACT by
    pigeonhole: at max_hamming=12 (B=15 blocks, 3-block combo keys) the
    pair set must EQUAL the brute-force pair set — no bucket-miss losses,
    unlike prefix bucketing."""
    import itertools

    sims = docs.select(
        "doc_id", dedup_reference.simhash(F.col("text")).alias("sim")).toPandas()
    by_id = dict(zip(sims["doc_id"], sims["sim"]))
    want = set()
    for a, b in itertools.combinations(sorted(by_id), 2):
        if bin((by_id[a] ^ by_id[b]) & ((1 << 64) - 1)).count("1") <= 12:
            want.add((a, b))
    got = dedup.simhash_pairs(docs, max_hamming=12).toPandas()
    assert set(zip(got["id_a"], got["id_b"])) == want
    assert len(want) > 0
    # prefix mode on the same input loses pairs or at best ties
    pre = dedup.simhash_pairs(docs, max_hamming=12, candidates="prefix",
                              prefix_bits=16).toPandas()
    assert set(zip(pre["id_a"], pre["id_b"])) <= want


def test_simhash_perm_invalid_config(docs):
    with pytest.raises(ValueError, match="n_blocks"):
        dedup.simhash_pairs(docs, max_hamming=8, n_blocks=8)
    with pytest.raises(ValueError, match="candidates"):
        dedup.simhash_pairs(docs, candidates="nope")


def test_simhash_perm_wide_key_no_overflow(docs):
    """max_hamming=0 packs ALL 64 signature bits into one combo key; the
    hash-based join key must not hit int64 overflow under ANSI mode, and
    the result must equal brute-force at hamming 0."""
    import itertools

    got = dedup.simhash_pairs(docs, max_hamming=0).toPandas()
    sims = docs.select(
        "doc_id", dedup_reference.simhash(F.col("text")).alias("sim")).toPandas()
    by_id = dict(zip(sims["doc_id"], sims["sim"]))
    want = {(a, b) for a, b in itertools.combinations(sorted(by_id), 2)
            if by_id[a] == by_id[b]}
    assert set(zip(got["id_a"], got["id_b"])) == want


def _buckets(df, num_planes: int, coef_hash: str = "xx"):
    """(__id, __bkt) of every row: the bucket pass that ``lsh_topk`` and
    ``dedup.embedding_neardup_pairs`` run."""
    base = similarity._base(df, "embedding", "vec_id")
    return similarity._bucket_projs(base, num_planes,
                                    coef_hash).select("__id", "__bkt")


def test_hyperplane_buckets_relational_plan_and_parity(emb):
    """Corpus bucket pass must be codegen aggregates (no interpreted
    higher-order functions) and must equal the Column form bit-for-bit."""
    rel = _buckets(emb, 8)
    plan = rel._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert "zip_with" not in plan.lower() and "transform(" not in plan.lower()
    col = emb.select(
        F.col("vec_id").alias("__id"),
        similarity_reference.hyperplane_bucket(
            F.col("embedding").cast("array<double>"), 8).alias("__bkt"))
    a = {r["__id"]: r["__bkt"] for r in rel.collect()}
    b = {r["__id"]: r["__bkt"] for r in col.collect()}
    assert a == b


def test_hyperplane_buckets_null_and_empty_vectors(spark):
    """NULL array, empty array, and a NULL ELEMENT must all yield bucket 0
    in the relational pass, in query_bucket and in the Column form (the
    Column fold nullifies the projection; a bare sum() would silently skip
    the NULL element and diverge)."""
    rows = [(1, [1.0, 2.0, -3.0]), (2, None), (3, []), (4, [1.0, None, -2.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    for ch in ("xx", "poly"):
        rel = {r["__id"]: r["__bkt"]
               for r in _buckets(df, 4, ch).collect()}
        col = {r["vec_id"]: r["b"] for r in df.select(
            "vec_id",
            similarity_reference.hyperplane_bucket(
                F.col("embedding").cast("array<double>"), 4, ch
            ).alias("b")).collect()}
        col = {k: (0 if v is None else v) for k, v in col.items()}
        assert rel == col, (ch, rel, col)
        assert rel == {i: similarity.query_bucket(v, 4, ch) for i, v in rows}
        assert rel[2] == 0 and rel[3] == 0 and rel[4] == 0


def test_embedding_neardup_degenerate_vectors(spark):
    """NULL array, empty array, NULL element, and zero-norm vectors must
    never emit a pair: Spark orders NaN ABOVE every value, so an unguarded
    `cosine >= threshold` filter lets 0/0 pairs through, and ANSI mode
    aborts on double division by zero without try_divide."""
    d = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0]), (3, None), (4, []),
         (5, [1.0, None]), (6, [0.0, 0.0])],
        "vec_id bigint, embedding array<double>")
    got = dedup.embedding_neardup_pairs(d, threshold=0.5, num_planes=2)
    assert {(r["id_a"], r["id_b"]) for r in got.collect()} == {(1, 2)}


# ---------------------------------------------------------------------------
# MinHash / SimHash against the previous interpreted-lambda operators
# ---------------------------------------------------------------------------

# whitespace edge cases beside the sf0.001 corpus: NULL, empty and blank
# documents, tab/newline separators, leading and trailing blanks, fewer
# than and exactly three tokens, and repeated shingles
EDGE_TEXTS = [None, "", "   ", "\t\n", "a b c", "\ta  b\nc ", " a b c d ",
              "a b", "b", "a b c a b c a b c", "a\tb\tc\ta\tb\tc",
              "x y z x y z w", "x  y z x y z w"]


@pytest.fixture(scope="module")
def edge_docs(spark, docs):
    edge = spark.createDataFrame(
        [(900_000 + i, t) for i, t in enumerate(EDGE_TEXTS)],
        "doc_id long, text string")
    return docs.select("doc_id", "text").unionByName(edge)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("hash_mode", ["xx", "poly"])
@pytest.mark.parametrize("threshold,bands", [(0.3, 32), (0.8, 16)])
def test_minhash_lsh_equals_reference(edge_docs, hash_mode, threshold, bands):
    """The codegen shingle hashing and the one persisted per-document frame
    emit exactly the rows of the previous operator (same pairs, same
    rounded Jaccard)."""
    kw = dict(jaccard_threshold=threshold, bands=bands, hash=hash_mode)
    want = _rows(dedup_reference.minhash_lsh_pairs(edge_docs, **kw))
    got = _rows(dedup.minhash_lsh_pairs(edge_docs, **kw))
    assert len(want) > 0
    assert got == want


@pytest.mark.parametrize("hash_mode", ["xx", "poly"])
@pytest.mark.parametrize("candidates", ["perm", "prefix"])
def test_simhash_pairs_equals_reference(edge_docs, hash_mode, candidates):
    """One read with a zero-vote row for token-less documents emits exactly
    the rows of the previous spine left join; the NULL, empty and blank
    documents keep signature 0 and so pair with each other."""
    kw = dict(max_hamming=3, hash=hash_mode, candidates=candidates)
    want = _rows(dedup_reference.simhash_pairs(edge_docs, **kw))
    got = _rows(dedup.simhash_pairs(edge_docs, **kw))
    assert (900_000, 900_001, 0) in want
    assert got == want


def _scans(spark, op, path: str = f"{SF_DIR}/documents.parquet") -> float:
    """How many times ``op`` reads its input: an accumulator counts every
    row that crosses a pass-through stage at the source."""
    rows_seen = spark.sparkContext.accumulator(0)
    src = spark.read.parquet(path)

    def passthrough(it):
        for pdf in it:
            rows_seen.add(len(pdf))
            yield pdf

    op(src.mapInPandas(passthrough, src.schema)).write.format(
        "noop").mode("overwrite").save()
    return rows_seen.value / src.count()


def test_minhash_lsh_reads_input_once(spark):
    assert _scans(spark, lambda d: dedup.minhash_lsh_pairs(
        d, jaccard_threshold=0.3, bands=32)) == 1


def test_simhash_pairs_reads_input_once(spark):
    assert _scans(spark, lambda d: dedup.simhash_pairs(d, max_hamming=3)) == 1


def test_words_has_no_lambda(spark):
    """Tokenizing is a plain expression (whole-stage codegen), not an
    interpreted ``filter`` lambda."""
    df = spark.createDataFrame([(" a\tb  c ",)], "text string")
    out = df.select(dedup.words(F.col("text")).alias("t"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan
    assert out.first()["t"] == ["a", "b", "c"]


# ---------------------------------------------------------------------------
# hyperplane buckets, LSH top-k and embedding pairs against the previous forms
# ---------------------------------------------------------------------------

# edge vectors beside the sf0.001 corpus and its duplicated vectors: NULL
# array, empty array, a NULL element and a zero vector
EDGE_VECS = [None, [], [1.0, None] + [0.5] * 62, [0.0] * 64]
# query vectors by id; 20_002 holds the NULL element
QUERIES = [0, 7, 123, 311, 20_002]


@pytest.fixture(scope="module")
def edge_emb(spark, emb):
    dup = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label")
    edge = spark.createDataFrame(
        [(20_000 + i, v, 0) for i, v in enumerate(EDGE_VECS)],
        "vec_id bigint, embedding array<float>, label int")
    return emb.unionByName(dup).unionByName(edge).cache()


@pytest.mark.parametrize("coef_hash", ["xx", "poly"])
@pytest.mark.parametrize("planes", [4, 6, 8])
def test_hyperplane_buckets_equal_reference(edge_emb, coef_hash, planes):
    """The one-aggregate bucket pass (no id spine) and the Python query
    bucket give every vector the bucket of the previous forms."""
    kw = dict(num_planes=planes, coef_hash=coef_hash)
    want = _rows(similarity_reference.hyperplane_buckets(edge_emb, **kw))
    assert _rows(_buckets(edge_emb, planes, coef_hash)) == want
    col = edge_emb.select("vec_id", "embedding", similarity_reference
                          .hyperplane_bucket(F.col("embedding").cast(
                              "array<double>"), planes, coef_hash)
                          .alias("b")).collect()
    assert {r["vec_id"]: similarity.query_bucket(r["embedding"], **kw)
            for r in col} == {r["vec_id"]: r["b"] or 0 for r in col}
    assert {b for _, b in want} != {0}


@pytest.mark.parametrize("coef_hash", ["xx", "poly"])
@pytest.mark.parametrize("planes,hamming", [(8, 3), (6, 2)])
def test_lsh_topk_equals_reference(edge_emb, coef_hash, planes, hamming):
    """lsh_topk returns the previous lsh_topk's rows, in order, for every
    query. The previous form aborted on a zero norm (ANSI division) and
    kept rows without a score, so its side runs over the corpus without
    the zero-norm (empty and all-zero) vectors and drops its NULL
    scores."""
    nonzero = edge_emb.filter(F.coalesce(F.exists(
        "embedding", lambda x: x != 0), F.lit(True)))
    vecs = {r["vec_id"]: r["embedding"] for r in
            edge_emb.filter(F.col("vec_id").isin(QUERIES)).collect()}
    full = 0
    for qid in QUERIES:
        kw = dict(k=10, num_planes=planes, probe_hamming=hamming,
                  exclude_id=qid, coef_hash=coef_hash)
        want = [r for r in similarity_reference.lsh_topk(
            nonzero, vecs[qid], **kw).collect() if r["score"] is not None]
        assert similarity.lsh_topk(edge_emb, vecs[qid], **kw).collect() == want
        full += len(want) == 10
    assert full >= 3


def test_topk_skips_zero_norm_vectors(spark, emb):
    """A zero corpus vector is never scored and a zero query scores
    nothing: every top-k entry point returns the rows it returns without
    the zero vector, and no row for a zero query, instead of aborting on a
    division by a zero norm."""
    zero = spark.createDataFrame([(30_000, [0.0] * 64, -1)],
                                 "vec_id bigint, embedding array<float>, "
                                 "label int")
    both = emb.unionByName(zero)
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    lsh = dict(num_planes=6, probe_hamming=6)  # every bucket, bucket 0 too

    def entry_points(corpus):
        return {
            "cosine_topk": lambda v: similarity.cosine_topk(corpus, v),
            "lsh_topk": lambda v: similarity.lsh_topk(corpus, v, **lsh),
        }

    with_zero, without = entry_points(both), entry_points(emb)
    for name, topk in with_zero.items():
        assert topk([0.0] * 64).collect() == [], name
        got = topk(q).collect()
        assert len(got) == 10 and got == without[name](q).collect(), name


@pytest.mark.parametrize("coef_hash", ["xx", "poly"])
@pytest.mark.parametrize("threshold,planes", [(0.35, 6), (0.9, 8)])
def test_embedding_neardup_equals_reference(edge_emb, coef_hash, threshold,
                                            planes):
    """Norms from the bucket aggregate emit exactly the previous rows."""
    kw = dict(threshold=threshold, num_planes=planes, coef_hash=coef_hash)
    want = _rows(similarity_reference.embedding_neardup_pairs(edge_emb, **kw))
    assert len(want) > 0
    assert _rows(dedup.embedding_neardup_pairs(edge_emb, **kw)) == want


def _jobs(spark, build) -> int:
    """Spark jobs that ``build`` starts, counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4()}"
    sc.setJobGroup(group, "plan build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lsh_topk_builds_without_a_job(spark, emb):
    """The query bucket is computed in Python: building lsh_topk runs no
    job."""
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    for coef_hash in ("xx", "poly"):
        assert _jobs(spark, lambda: similarity.lsh_topk(
            emb, q, probe_hamming=3, coef_hash=coef_hash)) == 0, coef_hash


def test_embedding_neardup_reads_input_4_times(spark, tmp_path):
    """One bucket-and-norm aggregate, the id scan and the two vector
    sides of the verification join: four reads of the input."""
    path = str(tmp_path / "embeddings")
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").write.parquet(path)
    assert _scans(spark, lambda d: dedup.embedding_neardup_pairs(
        d, threshold=0.35, num_planes=6), path) == 4


def test_embedding_neardup_keeps_the_id_scan_outer_join(emb):
    """The coalesced bucket keeps the id scan a LEFT OUTER join: as an
    inner join AQE broadcasts the id scan and the candidate join runs
    behind the bucket aggregate's one coalesced partition."""
    got = dedup.embedding_neardup_pairs(emb, threshold=0.35, num_planes=6)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LeftOuter" in plan, plan
