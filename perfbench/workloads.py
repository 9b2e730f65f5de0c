"""The workloads. Each one generates its inputs from the seed
(``prepare``), builds what a user would build before the first result
(``setup``, ending with one untimed operation), then runs timed operations
(``op``) and checks every output (``verify``)."""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import chain
import check
import gen

SOURCE_TABLE = "transcripts"


@dataclass
class Op:
    items: int
    seconds: float
    errors: list[str]
    detail: dict = field(default_factory=dict)


def noop_write(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def no_span(*_a, **_k):
    return contextlib.nullcontext()


class MicrobatchIncremental:
    """Closed loop, one driver: append a snapshot to the source table, then
    ``run_incremental``; the next append starts when the run returns."""

    name = "microbatch_incremental"
    unit = "turns"
    batch_turns = 20_000
    warm_turns = 20_000
    nominal_op_s = 8.0
    # path text that identifies a scan of the source table
    source_fragment = f"/{SOURCE_TABLE}/data/"

    def __init__(self, work: str, seed: int, span=no_span):
        self.work, self.seed, self.span = work, seed, span
        self.warm = os.path.join(work, "warm")
        self.wh = os.path.join(work, "wh")
        self.batches: list[str] = []
        self.expected: list[dict[str, int]] = []

    def prepare(self) -> None:
        # the warm-up input comes from the same seed but rows no op reads
        gen.write_transcripts(self.warm, self.seed, self.warm_turns, files=4,
                              row_offset=10**8)
        self.dims = gen.write_dims(self.work)

    def setup(self, spark) -> None:
        from beats_spark.catalog import ParquetCatalog
        from beats_spark.pipeline import Pipeline, PipelineConfig
        from beats_spark.processors.enrich import register_lookup

        self.spark = spark
        register_lookup(chain.GEO_LOOKUP, lambda: spark.read.parquet(self.dims["geo"]))
        register_lookup(chain.TOOLS_LOOKUP, lambda: spark.read.parquet(self.dims["tools"]))
        self.cfg = PipelineConfig.from_dict(chain.config())
        self.cat = ParquetCatalog(spark, self.wh)
        self.pipe = Pipeline(spark, self.cfg, self.cat)
        # the warm-up takes the ops' path, recovery included, so that the
        # first timed op is not the first to run it
        self._crash("warm")
        self.cat.append(spark.read.parquet(self.warm), SOURCE_TABLE)
        self.warm_result = self.pipe.run_incremental(SOURCE_TABLE)

    def _crash(self, tag: str) -> None:
        """Leave behind what a run that died after its first commit leaves:
        a metrics snapshot with no lineage row. The next ``run_incremental``
        must find it and roll it back."""
        from beats_spark.pipeline import METRICS_TABLE

        run_id = f"crashed-{tag}"
        debris = self.spark.createDataFrame(
            [(run_id, -1, None, 0, 0, 0)],
            "run_id string, partition_id int, sink string, "
            "events_in long, events_dropped long, events_routed long")
        self.cat.append(debris, METRICS_TABLE, run_id=run_id)

    def before_op(self, i: int) -> None:
        """Generate batch ``i`` and its reference routing, and leave a
        crashed run behind."""
        path = os.path.join(self.work, "batches", f"b{i:03d}")
        gen.write_transcripts(path, self.seed, self.batch_turns, files=1,
                              row_offset=i * self.batch_turns)
        self.batches.append(path)
        self.expected.append(check.expected_routing(path))
        self._crash(str(i))

    def op(self, i: int) -> Op:
        t0 = time.perf_counter()
        self.cat.append(self.spark.read.parquet(self.batches[i]), SOURCE_TABLE)
        r = self.pipe.run_incremental(SOURCE_TABLE)
        dt = time.perf_counter() - t0
        errs = check.compare_run(r, self.expected[i])
        if len(r.snapshot_ids) != 1:
            errs.append(f"batch {i} consumed snapshots {r.snapshot_ids}")
        return Op(self.batch_turns, dt, errs, {"result": r})

    def verify(self, ops: list[Op]) -> list[str]:
        from beats_spark.pipeline import LINEAGE_TABLE, METRICS_TABLE

        errs = []
        totals: dict[str, int] = dict(self.warm_result.sinks)
        for o in ops:
            for s, n in o.detail["result"].sinks.items():
                totals[s] = totals.get(s, 0) + n
        for s, n in totals.items():
            if (landed := check.landed_rows(self.wh, s)) != n:
                errs.append(f"{s}: {landed} rows landed, runs reported {n}")
        if len(self.cat.snapshots(LINEAGE_TABLE)) != len(ops) + 1:
            errs.append("lineage does not hold one commit per batch")
        if any((s.run_id or "").startswith("crashed")
               for s in self.cat.snapshots(METRICS_TABLE)):
            errs.append("a crashed run's snapshot survived recovery")
        return errs

    def decompose(self) -> dict[str, float]:
        """Driver and executor time of each layer on the warm-up input:
        scan only, then each stage prefix of the chain, then the routed
        frame, each written to a ``noop`` sink (which forces execution)."""
        from beats_spark.pipeline import Pipeline
        from beats_spark.processors import apply_chain
        from spans import stage_key

        spark = self.spark
        df = spark.read.parquet(self.warm)
        pipe = Pipeline(spark, self.cfg)
        out = {"exec.scan_s": noop_write(df)}
        prev = out["exec.scan_s"]
        for k, st in enumerate(pipe.stages):
            cum = noop_write(apply_chain(df, pipe.stages[:k + 1]))
            out[f"processors.stage.{stage_key(k, st.name)}.exec_s"] = cum - prev
            prev = cum
        out["processors.exec_s"] = prev - out["exec.scan_s"]
        routed = pipe.transform(df)
        t0 = time.perf_counter()
        routed._jdf.queryExecution().executedPlan()
        out["pipeline.optimize_s"] = time.perf_counter() - t0
        out["selector.exec_s"] = noop_write(routed) - prev
        return out


class NeardupCorpus:
    """The three near-duplicate ops, each written to a ``noop`` sink."""

    name = "neardup_corpus"
    unit = "docs"
    mult = 2
    nominal_op_s = 8.0
    # op → its similarity threshold (Jaccard, Hamming bits, cosine), as
    # bench.py's scale curve runs them
    THRESHOLDS = {"minhash_lsh": 0.3, "simhash": 3, "embedding_neardup": 0.35}

    def __init__(self, work: str, seed: int, span=no_span):
        self.work, self.seed, self.span = work, seed, span

    def prepare(self) -> None:
        self.paths = gen.write_corpus(os.path.join(self.work, "corpus"),
                                      self.seed, self.mult, files=4)
        docs = pq.read_table(self.paths["documents"])
        vecs = pq.read_table(self.paths["embeddings"])
        self.docs = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        self.vecs = dict(zip(vecs["vec_id"].to_pylist(), vecs["embedding"].to_pylist()))
        self.items = len(self.docs) + len(self.vecs)

    def _frame(self, op: str):
        from beats_spark.ml import dedup

        read, paths, t = self.spark.read.parquet, self.paths, self.THRESHOLDS[op]
        if op == "minhash_lsh":
            return dedup.minhash_lsh_pairs(read(paths["documents"]),
                                           jaccard_threshold=t, bands=32)
        if op == "simhash":
            return dedup.simhash_pairs(read(paths["documents"]), max_hamming=t)
        return dedup.embedding_neardup_pairs(read(paths["embeddings"]),
                                             threshold=t, num_planes=6)

    def setup(self, spark) -> None:
        """The untimed first operation collects every op's pairs, which
        ``verify`` checks."""
        self.spark = spark
        self.pairs = {op: [tuple(r) for r in self._frame(op).collect()]
                      for op in self.THRESHOLDS}

    def before_op(self, i: int) -> None:
        pass

    def op(self, i: int) -> Op:
        from pyspark.sql import Observation, functions as F

        seconds, pairs_out = {}, {}
        for op in self.THRESHOLDS:
            with self.span(f"ml.{op}"):
                t0 = time.perf_counter()
                obs = Observation()
                noop_write(self._frame(op).observe(obs, F.count(F.lit(1)).alias("n")))
                seconds[op] = time.perf_counter() - t0
                pairs_out[op] = int(obs.get["n"])
        errs = [f"{op}: {n} pairs, the first run found {len(self.pairs[op])}"
                for op, n in pairs_out.items() if n != len(self.pairs[op])]
        return Op(self.items, sum(seconds.values()), errs, {"pairs_out": pairs_out})

    def verify(self, ops: list[Op]) -> list[str]:
        errs = []
        for op, threshold in self.THRESHOLDS.items():
            if not self.pairs[op]:
                errs.append(f"{op}: no pairs found")
            errs += check.verify_pairs(op, self.pairs[op], self.docs, self.vecs, threshold)
        return errs

    def decompose(self) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (MicrobatchIncremental, NeardupCorpus)}
