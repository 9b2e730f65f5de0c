"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with a typed metadata struct, processed by Arrow-batched
``mapInPandas`` stages.

The decode libraries (PIL/ffmpeg/torchaudio) are not in this container, so
the actual byte→pixels/samples decode is STUBBED: ``decoder="fake"``
(default) derives deterministic features from the bytes themselves so the
whole Spark-side contract — schema, batch shape, partition sizing, UDF
signature — is real and testable; ``decoder="real"`` raises
NotImplementedError at the exact point a decode library would be called.

Scale notes: binary payloads dominate row size, so these stages
``repartition`` by byte budget, not row count; metadata-only transformations
(filtering by width/duration) never touch the blob column thanks to parquet
column pruning.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from beats_spark.ml.dedup import POLY_P

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),       # image|audio|video
        T.StructField("payload", T.BinaryType(), True),     # opaque bytes
        T.StructField("meta", T.StructType([
            T.StructField("mime", T.StringType(), True),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("duration_ms", T.IntegerType(), True),
        ]), True),
    ]
)

FEATURE_DIM = 16

_FEATURES_FIELDS = "media_id long, kind string, feature array<float>, decode_ok boolean"


def synthesize_media(spark: SparkSession, n: int = 200,
                     payload_mode: str = "xx") -> DataFrame:
    """Deterministic fake media table: payload bytes are a hash-seeded
    byte string; metadata is consistent with the kind.

    ``payload_mode='xx'`` (default) seeds the payload with xxhash64;
    ``'poly'`` uses modular integer arithmetic instead, so the payload —
    and therefore the byte-fold feature downstream — is reproducible in
    ANSI SQL / DuckDB and the feature extraction gets a value-level oracle
    (the same playbook as ml.dedup's hash='poly' modes)."""
    df = spark.range(n)
    kind = (
        F.when(F.col("id") % 3 == 0, "image")
        .when(F.col("id") % 3 == 1, "audio")
        .otherwise("video")
    )
    if payload_mode == "poly":
        h1 = F.pmod(F.col("id") * F.lit(2654435761), F.lit(POLY_P))
        h2 = F.pmod((F.col("id") + 13) * F.lit(1103515245) + 12345,
                    F.lit(POLY_P))
        payload = F.encode(
            F.concat(F.lit("blob:"), h1.cast("string"), F.lit(":"),
                     F.repeat(h2.cast("string"), 8)),
            "utf-8",
        )
    elif payload_mode == "xx":
        payload = F.encode(
            F.concat(F.lit("blob:"), F.hex(F.xxhash64("id")), F.lit(":"),
                     F.repeat(F.hex(F.xxhash64("id", F.lit(7))), 8)),
            "utf-8",
        )
    else:
        raise ValueError(f"synthesize_media: unknown payload_mode {payload_mode!r}")
    return df.select(
        F.col("id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.when(kind == "image", "image/png")
            .when(kind == "audio", "audio/wav")
            .otherwise("video/mp4").alias("mime"),
            F.when(kind != "audio", (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1920)) + 1).cast("int")).alias("width"),
            F.when(kind != "audio", (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1080)) + 1).cast("int")).alias("height"),
            F.when(kind != "image", (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(60000)) + 1).cast("int")).alias("duration_ms"),
        ).alias("meta"),
    )


def _fake_feature(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for a real encoder: fold the bytes into
    FEATURE_DIM buckets and normalize."""
    if payload is None:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    pad = (-len(arr)) % FEATURE_DIM
    if pad:
        arr = np.concatenate([arr, np.zeros(pad, dtype=np.uint8)])
    folded = arr.reshape(-1, FEATURE_DIM).sum(axis=0).astype(np.float64)
    n = np.linalg.norm(folded)
    return (folded / n if n else folded).astype(np.float32)


def extract_features(df: DataFrame, decoder: str = "fake",
                     batch_bytes: int = 64 << 20) -> DataFrame:
    """media table → (media_id, kind, feature array<float>, decode_ok).

    Binary payloads dominate row size, so the input is repartitioned by a
    BYTE budget (one cheap length-sum aggregate over the payload column),
    not a row count — a skewed media table with a few huge blobs per
    partition would otherwise OOM the Arrow transfer. The same aggregate
    reads the input's partition count (up to its last non-empty partition).
    """
    row = df.select(
        F.coalesce(F.length("payload"), F.lit(0)).alias("b"),
        F.spark_partition_id().alias("p"),
    ).agg(F.sum("b").alias("b"), (F.max("p") + 1).alias("p")).collect()[0]
    n_parts = max(1, min(100_000, -(-int(row["b"] or 0) // int(batch_bytes))))
    if n_parts > (row["p"] or 0):
        df = df.repartition(n_parts)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder == "real":
                # the import/decode point a production build would fill in:
                # PIL.Image.open(io.BytesIO(b)) / soundfile.read / pyav
                raise NotImplementedError(
                    "real media decode requires PIL/ffmpeg (not in container)"
                )
            feats = [ _fake_feature(b) for b in pdf["payload"] ]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "feature": [f.tolist() for f in feats],
                "decode_ok": [b is not None for b in pdf["payload"]],
            })

    return df.mapInPandas(run, schema=_FEATURES_FIELDS)
