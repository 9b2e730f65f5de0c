"""Benchmark of the beats_spark pipeline, run from the root of a checkout:

    python3 perfbench/run.py --workload microbatch_incremental --seed 1 --seconds 15 --trace 0

Workloads (see workloads.py): ``microbatch_incremental``, ``neardup_corpus``.
The run generates its inputs from ``--seed``, starts a local[4] Spark
driver, sets up (``setup_s``), runs as many timed operations as fill about
``--seconds`` seconds at the workload's nominal op time, checks every output
against an independent reference, and prints one line per metric followed
by one JSON object.

End-to-end metrics (``--trace 0``), the same names on every workload:

- ``op_s_p50``: median wall time of one operation. On
  ``microbatch_incremental`` this is freshness: from the start of the source
  append to the return of ``run_incremental``, commits included. On
  ``neardup_corpus`` it is one pass of the three near-dup ops;
- ``setup_s``: ``get_spark``, pipeline construction and the first, untimed
  operation (JIT and codegen warm-up).

``--trace 1`` runs the same operations with a span around each call into the
library and Spark's event log on, and reports the per-layer metrics instead.
The exit code is 1 when any output check fails, 2 when the program cannot be
imported.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END = {"op_s_p50": "s", "setup_s": "s"}
FALLBACK_LINE = "Whole-stage codegen disabled"
# a traced run alternates traced and untraced ops; after the warm-up op 0
# this leaves two of each to compare
TRACED_OPS = 5


def _log(msg: str) -> None:
    print(msg, flush=True)


def measure(wl, seconds: float, min_ops: int, tracer=None) -> list:
    """Run as many ops as fill about ``seconds`` at the workload's nominal op
    time. The count does not depend on how fast this run's ops happen to
    be: later ops run warmer, so a speed-dependent count would move the
    figures by more than the speed itself."""
    n = max(min_ops, round(seconds / wl.nominal_op_s))
    ops = []
    for i in range(n):
        wl.before_op(i)
        if tracer:
            tracer.op = i
            # in the traced run every other op is untraced: the difference
            # is the recorder's overhead, as every op does the same work
            tracer.enabled = i % 2 == 0
        try:
            ops.append(wl.op(i))
        finally:
            if tracer:
                tracer.op, tracer.enabled = None, True
    return ops


def end_to_end(ops, setup_s: float) -> dict[str, float]:
    return {
        "op_s_p50": statistics.median(o.seconds for o in ops),
        "setup_s": setup_s,
    }


def _median_per_op(values: dict[int, float], op_ids) -> float:
    return statistics.median(values.get(i, 0.0) for i in op_ids) if op_ids else 0.0


def per_layer(wl, ops, tracer, log, fallbacks: int, get_spark_s: float,
              rss_mb: float, decomposed: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics from the spans of the traced ops and the event log.
    Timings are medians over traced ops of each op's total."""
    import eventlog
    from spans import ancestors, self_times, span_id_of

    spans = tracer.spans
    traced = sorted({s.op for s in spans if s.op is not None})
    selft = self_times(spans)
    # peak RSS rides along here, without a bound: the driver JVM's heap grows
    # when its collector decides to, which spreads the figure by 10-20 %
    # between runs of the same code
    out: dict[str, float] = {"session.get_spark_s": get_spark_s,
                             "session.peak_rss_mb": rss_mb}

    def per_op(name: str, value=lambda s: s.duration):
        acc: dict[int, float] = {}
        for s in spans:
            if s.op is not None and s.name == name:
                acc[s.op] = acc.get(s.op, 0.0) + value(s)
        return acc

    for metric, name in (("processors.plan_s", "processors.apply_chain"),
                         ("selector.plan_s", "selector.compile"),
                         ("pipeline.transform_s", "pipeline.transform"),
                         ("pipeline.run_s", "pipeline.run"),
                         ("pipeline.run_incremental_s", "pipeline.run_incremental")):
        out[metric] = _median_per_op(per_op(name), traced)
    out["pipeline.run.self_s"] = _median_per_op(
        per_op("pipeline.run", lambda s: selft[s.id]), traced)
    for s in {s.name for s in spans if s.name.startswith("processors.stage.")}:
        out[f"{s}.plan_s"] = _median_per_op(per_op(s), traced)
    for kind in ("append", "adopt", "read", "snapshots", "incomplete_runs", "rollback"):
        out[f"catalog.{kind}_s"] = _median_per_op(per_op(f"catalog.{kind}"), traced)
        out[f"catalog.{kind}.calls"] = _median_per_op(
            per_op(f"catalog.{kind}", lambda s: 1), traced)
    for op in ("minhash_lsh", "simhash", "embedding_neardup"):
        out[f"ml.{op}_s"] = _median_per_op(per_op(f"ml.{op}"), traced)
        out[f"ml.{op}.pairs_out"] = (ops[0].detail["pairs_out"][op]
                                     if "pairs_out" in ops[0].detail else 0)

    # jobs → the span that started them → op and phase
    runs = [s for s in spans if s.op is not None and s.name == "pipeline.run"]
    jobs_by_op: dict[int, list] = {}
    phase_s: dict[str, dict[int, float]] = {}
    run_jobs, run_execs, writes = 0, set(), set()
    for job in log.jobs:
        sid = span_id_of(job.description)
        if sid is None or spans[sid].op is None:
            continue
        op, chain = spans[sid].op, list(ancestors(spans, sid))
        jobs_by_op.setdefault(op, []).append(job)
        plan = log.plans.get(job.execution_id, "")
        if any(s.name == "pipeline.run" for s in chain):
            run_jobs += 1
            if job.execution_id is not None:
                run_execs.add(job.execution_id)
        phase = _phase(chain[0], plan)
        if phase == "staging_write":
            writes.add(job.execution_id)
        run_s = eventlog.totals(log, [job])["executor_run_s"]
        phase_s.setdefault(phase, {})
        phase_s[phase][op] = phase_s[phase].get(op, 0.0) + run_s
    out["pipeline.jobs_per_run"] = run_jobs / len(runs) if runs else 0.0
    out["pipeline.source_scans_per_run"] = (
        sum(eventlog.scans(log.plans.get(x, ""), wl.source_fragment) for x in run_execs)
        / len(runs) if runs else 0.0)
    # plan health of the routed frame, as the staging write executed it
    health = [eventlog.plan_health(log.plans[x]) for x in writes]
    for k in ("codegen_stages", "python_nodes", "broadcast_joins", "exchanges"):
        out[f"pipeline.plan.{k}"] = statistics.median(h[k] for h in health) if health else 0
    for phase in PHASES:
        out[f"exec.phase.{phase}_s"] = _median_per_op(phase_s.get(phase, {}), traced)
    tot = [eventlog.totals(log, jobs_by_op.get(i, [])) for i in traced]
    for k in tot[0] if tot else []:
        out[f"exec.{k}"] = statistics.median(t[k] for t in tot)

    out["pipeline.plan.codegen_fallbacks"] = fallbacks / len(ops)
    out.update(decomposed)

    # op 0 still carries warm-up, so it is left out of the comparison, which
    # takes at least two ops a side (TRACED_OPS)
    on = [o for i, o in enumerate(ops) if i % 2 == 0 and i > 0]
    off = [o for i, o in enumerate(ops) if i % 2 == 1]
    rate = lambda xs: sum(o.items for o in xs) / sum(o.seconds for o in xs)  # noqa: E731
    out["trace.overhead_per_s"] = rate(on) - rate(off) if on and off else 0.0
    return out


PHASES = ("staging_write", "reaggregate", "metrics_append", "lineage_append",
          "ingest_append", "lineage_read", "plan_time", "ml")


def _phase(innermost, plan: str) -> str:
    """Which step of a run a job belongs to, from the span that started it."""
    name = innermost.name
    if name == "catalog.append":
        table = innermost.attrs.get("table")
        return {"pipeline_metrics": "metrics_append",
                "lineage": "lineage_append"}.get(table, "ingest_append")
    if name == "pipeline.run":
        return ("staging_write" if "InsertIntoHadoopFsRelationCommand" in plan
                else "reaggregate")
    if name == "pipeline.run_incremental":
        return "lineage_read"
    if name.startswith("ml."):
        return "ml"
    return "plan_time"


def _count_lines(path: str, start: int, end: int, needle: str) -> int:
    with open(path, "rb") as f:
        f.seek(start)
        return f.read(end - start).decode(errors="replace").count(needle)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import beats_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    import jvm
    from spans import Tracer, instrument
    from workloads import WORKLOADS, no_span

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    driver_log = os.path.join(work, "driver.log")
    # the JVM inherits fd 2: its log lands in driver_log, which the traced
    # run reads for codegen fallbacks
    saved_stderr = os.dup(2)
    log_fd = os.open(driver_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    spark, code = None, 1
    try:
        tracer, eventlog_dir = None, None
        if args.trace:
            from pyspark import SparkContext

            def describe(label):
                sc = SparkContext._active_spark_context
                if sc is not None:
                    sc.setLocalProperty("spark.job.description", label)
            tracer = Tracer(describe)
            eventlog_dir = os.path.join(work, "eventlog")
        wl = WORKLOADS[args.workload](work, args.seed,
                                      tracer.span if tracer else no_span)
        wl.prepare()
        with instrument(tracer) if tracer else contextlib.nullcontext():
            t0 = time.perf_counter()
            spark = jvm.start(work, eventlog_dir)
            get_spark_s = time.perf_counter() - t0
            wl.setup(spark)
            setup_s = time.perf_counter() - t0
            host = jvm.host_fingerprint(spark)
            log_start = os.path.getsize(driver_log)
            ops = measure(wl, args.seconds, TRACED_OPS if args.trace else 1, tracer)
            fallbacks = _count_lines(driver_log, log_start,
                                     os.path.getsize(driver_log), FALLBACK_LINE)
            rss_mb = jvm.peak_rss_mb()
            errors = [e for o in ops for e in o.errors] + wl.verify(ops)
            decomposed = wl.decompose() if tracer else {}
        jvm.stop(spark)
        spark = None

        failed = sum(1 for o in ops if o.errors)
        if errors and not failed:
            failed = 1   # a check over the whole run failed
        if tracer:
            import eventlog

            # the run's scratch directory goes away; the spans stay beside it
            tracer.dump(os.path.join(os.path.dirname(work),
                                     f"spans-{args.workload}-seed{args.seed}.jsonl"))
            (log_file,) = os.listdir(eventlog_dir)
            layers = per_layer(wl, ops, tracer,
                               eventlog.read(os.path.join(eventlog_dir, log_file)),
                               fallbacks, get_spark_s, rss_mb, decomposed)
            metrics = {k: float(layers.get(k, 0.0)) for k in per_layer_names()}
            units = {k: _unit(k) for k in metrics}
        else:
            metrics = end_to_end(ops, setup_s)
            units = END_TO_END
        for e in errors:
            _log(f"CHECK FAILED: {e}")
        _log(f"workload {args.workload} seed {args.seed}: {len(ops)} ops "
             f"of {ops[0].items} {wl.unit} taking "
             f"{', '.join(f'{o.seconds:.2f}' for o in ops)} s, "
             f"failed_ratio {failed / len(ops):.3f}")
        _log(f"host: {host}")
        for k in sorted(metrics):
            _log(f"{k} = {metrics[k]:.6g} {units[k]}")
        print(json.dumps({
            "correct": not errors,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in metrics},
        }), flush=True)
        code = 0 if not errors else 1
    except Exception:
        import traceback

        os.write(saved_stderr, traceback.format_exc().encode())
        code = 1
    finally:
        if spark is not None:
            jvm.stop(spark)
        os.dup2(saved_stderr, 2)
        os.close(saved_stderr)
        if code == 0:
            shutil.rmtree(work, ignore_errors=True)
        else:
            print(f"logs kept in {work}", file=sys.stderr)
    return code


def _unit(metric: str) -> str:
    if metric.endswith("_per_s"):
        return "1/s"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("task_skew"):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    """Every per-layer metric, in a fixed order; a workload that does not
    touch a layer reports 0 for it."""
    import chain
    from beats_spark.processors import build_chain
    from spans import stage_key

    names = ["session.get_spark_s", "session.peak_rss_mb", "processors.plan_s",
             "processors.exec_s"]
    for k, st in enumerate(build_chain(chain.processors())):
        names += [f"processors.stage.{stage_key(k, st.name)}.{m}" for m in ("plan_s", "exec_s")]
    names += ["selector.plan_s", "selector.exec_s", "pipeline.transform_s",
              "pipeline.optimize_s", "pipeline.run_s", "pipeline.run.self_s",
              "pipeline.run_incremental_s", "pipeline.jobs_per_run",
              "pipeline.source_scans_per_run", "pipeline.plan.codegen_stages",
              "pipeline.plan.codegen_fallbacks", "pipeline.plan.python_nodes",
              "pipeline.plan.broadcast_joins", "pipeline.plan.exchanges"]
    for kind in ("append", "adopt", "read", "snapshots", "incomplete_runs", "rollback"):
        names += [f"catalog.{kind}_s", f"catalog.{kind}.calls"]
    for op in ("minhash_lsh", "simhash", "embedding_neardup"):
        names += [f"ml.{op}_s", f"ml.{op}.pairs_out"]
    names += [f"exec.{k}" for k in (
        "scan_s", "executor_run_s", "executor_cpu_s", "gc_s", "tasks", "task_skew",
        "input_bytes", "output_bytes", "shuffle_write_bytes", "spill_bytes")]
    names += [f"exec.phase.{p}_s" for p in PHASES]
    names.append("trace.overhead_per_s")
    return names


if __name__ == "__main__":
    sys.exit(main())
