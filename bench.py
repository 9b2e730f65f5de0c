"""Bench harness.

Prints ONE JSON line on stdout:
  {"metric": "end_to_end_pipeline_sec", "value": <sec>, "unit": "sec",
   "queries": {<name>: <sec>, ...}, "sf": <sf>, "e2e_rows": <rows>,
   "throughput_turns_per_sec": <turns/s>, "host": <fingerprint>,
   "scaling": {"cores_n", "cores_4n", "turns", "sec_n", "sec_4n",
               "throughput_n", "throughput_4n", "efficiency", "levels"}}

Every timed item goes through ``timed``: one untimed warm-up, then three
timed reps, reporting the median. A DataFrame is materialized by writing
it to the ``noop`` sink, so every row of every column is computed; a
``count()`` would let Catalyst prune the processors away.

1. Headline queries (``__spark_entry__``) at $SPARK_GRAFT_SF_DIR on
   local[$SPARK_GRAFT_CPUS] (default ``os.cpu_count()``, like
   ``get_spark()``).
2. End to end (``value``): one ``Pipeline.run`` of the fixture chain plus
   the enrich lookup over the transcripts derived from the events table,
   into a throwaway ``ParquetCatalog``: scan → chain → route → partitioned
   write → per-sink adopt → metrics and lineage commit.
3. ML scale curve for the near-dup candidate generators (stderr only):
   the sf0.01 sibling of the sf dir when there is one, the sf dir, and an
   8× synthesized copy of it.
4. Scaling: the same end-to-end run over a fixed synthesized input in a
   cold JVM per level (CPUS/4, CPUS/2, CPUS) with ``get_spark()``
   defaults; efficiency = (throughput_4n / throughput_n) / (cores_4n /
   cores_n).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
SCALING_TURNS = 1_000_000
CURVE_MULT = 8
WARMUPS, REPS = 1, 3

HEADLINE = [
    "transcripts_derive",
    "dissect_parse",
    "grok_parse",
    "route_counts",
    "fingerprint",
    "multiline_merge",
    "rate_limit",
    "enrich_lookup",
    "user_agent",
    "enrich_cidr",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_topk",
    "text_quality",
    "doc_fingerprint",
]


def _bench_minhash_xx(spark, sf_dir: str):
    """The PRODUCTION MinHash configuration (xxhash64 permutations — one
    JVM intrinsic per value). The entry query of the same name runs
    hash='poly' so the driver's DuckDB oracle can replicate it value-level;
    poly's per-character polynomial hashing is the oracle-portability tax,
    not the deployed path, so the bench times the deployed one."""
    from beats_spark.ml.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism)
    return minhash_lsh_pairs(docs, jaccard_threshold=0.3, bands=32)


HEADLINE_OVERRIDES = {"dedup_minhash_lsh": _bench_minhash_xx}


def timed(work):
    """Median wall seconds of ``REPS`` calls of ``work`` after ``WARMUPS``
    untimed ones, and the last call's result. A DataFrame result is
    written to the ``noop`` sink inside the clock."""
    def once():
        out = work()
        if isinstance(out, DataFrame):
            out.write.format("noop").mode("overwrite").save()
        return out

    for _ in range(WARMUPS):
        once()
    secs = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        out = once()
        secs.append(time.perf_counter() - t0)
    return round(statistics.median(secs), 3), out


def headline(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entry

    qs = entry.queries()
    times = {}
    for name in HEADLINE:
        query = HEADLINE_OVERRIDES.get(name, qs[name])
        times[name], _ = timed(lambda: query(spark, sf_dir))
        print(f"# {name}: {times[name]}s", file=sys.stderr)
    return times


def e2e_run(spark, src):
    """One ``Pipeline.run`` of the fixture chain plus the enrich lookup
    over ``src`` into a throwaway ``ParquetCatalog``; its ``RunResult``."""
    from beats_spark.catalog import ParquetCatalog
    from beats_spark.pipeline import Pipeline, fixture_config
    from beats_spark.processors.enrich import register_lookup
    from beats_spark.testdata import tools_lookup_df

    register_lookup("tools", lambda: tools_lookup_df(spark))
    cfg = fixture_config()
    cfg.processors.append(
        {"enrich": {"lookup": "tools", "on": "tool", "target": "tool_meta",
                    "default": {"tool_family": "unknown"}}}
    )
    with tempfile.TemporaryDirectory(prefix="bench_wh_") as wh:
        return Pipeline(spark, cfg, catalog=ParquetCatalog(spark, wh)).run(src)


def _synth_curve_point(spark, sf_hi: str, mult: int, out_dir: str) -> None:
    """Synthesize a curve point ``mult``× larger than sf_hi by unioning
    deterministically PERTURBED copies of its documents/embeddings tables.
    Every token of copy i gets an ``-ci`` suffix (one regexp_replace pass):
    WITHIN a copy the doc-vs-doc shingle structure is exactly preserved
    (all tokens shift identically), while ACROSS copies every shingle
    differs — so near-dup density per row stays that of the real table
    instead of degenerating into mult-way near-duplicate cliques (a
    character rotation fails this: word shingles are preserved across the
    seam and each doc's copies all collide). Embeddings get a per-copy
    deterministic SIGN-FLIP mask — an exact isometry within a copy (dot
    products and norms preserved, so the copy's near-dup structure is
    identical) while cross-copy cosines decorrelate regardless of vector
    smoothness; an element ROTATION fails that at high mult (rotations of
    smooth clustered vectors stay correlated at small lags — the 64× point
    measured 4113× pair growth instead of 64×, r4)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_hi}/documents.parquet") \
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    embs = spark.read.parquet(f"{sf_hi}/embeddings.parquet") \
        .withColumn("vec_id", F.col("vec_id").cast("string"))
    d_parts, e_parts = [docs], [embs]
    for i in range(1, mult):
        d_parts.append(
            docs.withColumn(
                "doc_id", F.concat(F.col("doc_id"), F.lit(f"_c{i}"))
            ).withColumn(
                "text", F.regexp_replace(F.col("text"), r"(\S+)",
                                         rf"$1-c{i}")))
        emb = F.col("embedding")
        seed = i * 1_000_003
        flipped = F.zip_with(
            emb, F.sequence(F.lit(0), F.size(emb) - 1),
            lambda v, idx: v * (F.lit(1.0) - 2.0 * F.pmod(
                F.xxhash64(idx + F.lit(seed)), F.lit(2)).cast("double")))
        e_parts.append(
            embs.withColumn(
                "vec_id", F.concat(F.col("vec_id"), F.lit(f"_c{i}"))
            ).withColumn("embedding", flipped.cast("array<float>")))
    par = spark.sparkContext.defaultParallelism
    for name, parts in (("documents", d_parts), ("embeddings", e_parts)):
        base = parts[0]
        for p in parts[1:]:
            base = base.unionByName(p)
        base.repartition(par).write.mode("overwrite") \
            .parquet(f"{out_dir}/{name}.parquet")


def _scale_curve(spark, dirs: list[str]) -> None:
    """Seconds per point for the candidate-generation ml ops in their
    PRODUCTION (xx-hash) configuration, with the log-log slope between
    consecutive points. Banded/bucketed plans keep time ratios near the
    data ratio; a quadratic candidate phase would approach its square. The
    last slope, between the two largest points, is the one of record: at
    the small points fixed plan/JIT cost dominates."""
    from beats_spark.ml.dedup import (embedding_neardup_pairs,
                                      minhash_lsh_pairs, simhash_pairs)

    par = spark.sparkContext.defaultParallelism

    def docs(d):
        return spark.read.parquet(f"{d}/documents.parquet").repartition(par)

    ops = {
        "minhash_lsh": ("documents", lambda d: minhash_lsh_pairs(
            docs(d), jaccard_threshold=0.3, bands=32)),
        "simhash": ("documents", lambda d: simhash_pairs(
            docs(d), max_hamming=3)),
        "embedding_neardup": ("embeddings", lambda d: embedding_neardup_pairs(
            spark.read.parquet(f"{d}/embeddings.parquet"),
            threshold=0.35, num_planes=6)),
    }
    for name, (table, fn) in ops.items():
        pts = [(spark.read.parquet(f"{d}/{table}.parquet").count(),
                timed(lambda: fn(d))[0]) for d in dirs]
        exps = [round(math.log(t2 / t1) / math.log(n2 / n1), 2)
                for (n1, t1), (n2, t2) in zip(pts, pts[1:])
                if n2 > n1 and t1 > 0 < t2]
        print(f"# curve {name}: (rows_in, sec) {pts} exponents {exps}",
              file=sys.stderr)


def _worker(cores: int, src: str) -> None:
    """Time the end-to-end run over ``src`` at local[cores] in this (cold)
    JVM; print one JSON line."""
    from beats_spark.session import get_spark

    spark = get_spark(f"bench_scale_{cores}", master=f"local[{cores}]")
    sec, _ = timed(lambda: e2e_run(spark, spark.read.parquet(src)))
    print(json.dumps({"cores": cores, "sec": sec,
                      "throughput": SCALING_TURNS / sec}))
    spark.stop()


def scaling(src: str) -> dict:
    """One cold worker JVM per level over the same input at ``src``."""
    levels = sorted({max(1, CPUS // 4), max(1, CPUS // 2), CPUS})
    got = {}
    for cores in levels:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             str(cores), src],
            stdout=subprocess.PIPE, text=True, check=True,
            cwd=os.path.dirname(os.path.abspath(__file__)))
        got[cores] = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"# scale local[{cores}]: {got[cores]}", file=sys.stderr)
    lo, hi = got[levels[0]], got[levels[-1]]
    return {
        "cores_n": lo["cores"], "cores_4n": hi["cores"],
        "turns": SCALING_TURNS,
        "sec_n": lo["sec"], "sec_4n": hi["sec"],
        "throughput_n": round(lo["throughput"], 1),
        "throughput_4n": round(hi["throughput"], 1),
        "efficiency": round((hi["throughput"] / lo["throughput"])
                            / (hi["cores"] / lo["cores"]), 3),
        "levels": {str(c): {"sec": g["sec"],
                            "throughput": round(g["throughput"], 1)}
                   for c, g in got.items()},
    }


def final_line(times: dict, e2e_sec: float, e2e_rows: int, sf: str,
               host: str, scale: dict) -> str:
    return json.dumps({
        "metric": "end_to_end_pipeline_sec",
        "value": e2e_sec,
        "unit": "sec",
        "queries": {**times, "pipeline_e2e_fanout": e2e_sec},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "e2e_rows": e2e_rows,
        "throughput_turns_per_sec": scale["throughput_4n"],
        "host": host,
        "scaling": scale,
    })


def main() -> None:
    if len(sys.argv) > 3 and sys.argv[1] == "--worker":
        _worker(int(sys.argv[2]), sys.argv[3])
        return

    from beats_spark.session import get_spark
    from beats_spark.testdata import (synthesize_transcripts,
                                      transcripts_from_events)
    from perfbench.jvm import host_fingerprint, stop

    spark = get_spark("bench", master=f"local[{CPUS}]")
    host = host_fingerprint(spark)
    times = headline(spark, SF_DIR)
    e2e_sec, res = timed(
        lambda: e2e_run(spark, transcripts_from_events(spark, SF_DIR)))
    print(f"# pipeline_e2e_fanout: {e2e_sec}s {res}", file=sys.stderr)

    with tempfile.TemporaryDirectory(prefix="bench_") as tmp:
        lo = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
        dirs = [lo] if os.path.isdir(lo) and lo != SF_DIR.rstrip("/") else []
        synth = os.path.join(tmp, "curve_hi")
        _synth_curve_point(spark, SF_DIR, CURVE_MULT, synth)
        _scale_curve(spark, dirs + [SF_DIR, synth])

        src = os.path.join(tmp, "scaling_src")
        synthesize_transcripts(
            spark, SCALING_TURNS, max(1000, SCALING_TURNS // 200),
            partitions=4 * CPUS).write.parquet(src)
        stop(spark)  # the driver JVM too: the workers get the whole host
        scale = scaling(src)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(final_line(times, e2e_sec, sum(res.sinks.values()), sf, host, scale))


if __name__ == "__main__":
    main()
